package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.ops.ExportOps
import graft.geotab.GeotabPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** HTTP sink tests against a local stub server (the same fixture treatment
  * the Geotab source gets from InMemoryGeotabClient): payload shape, retry
  * on 5xx, fail-fast on 4xx, and the DEBUG/console fallback (task.ts:76). */
class HttpFeatureSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Stub server: every request body lands in `bodies`; `failFirst` requests
    * return `failStatus` before it starts returning 200. */
  private class Stub(failFirst: Int = 0, failStatus: Int = 503) {
    val bodies = new ConcurrentLinkedQueue[String]()
    val headers = new ConcurrentLinkedQueue[String]()
    val requests = new AtomicInteger(0)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/submit", (x: HttpExchange) => {
      val n = requests.incrementAndGet()
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val status = if (n <= failFirst) failStatus else 200
      if (status == 200) {
        bodies.add(body)
        headers.add(x.getRequestHeaders.getFirst("X-Graft-Batch"))
      }
      x.sendResponseHeaders(status, -1) // no response body
      x.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/submit"
    def stop(): Unit = server.stop(0)
  }

  private def flatFeatures = Seq(
    ("geotab-d1", "Truck One", 90.0, java.sql.Timestamp.valueOf("2026-01-01 11:30:00"),
      27.7778, -104.9, 39.7, "V1", "CO", "P1", "Truck One", "g1",
      "jdoe", "John", "Doe", "555", "Sr", "c"),
    ("geotab-d2", "CO-P2", 180.0, java.sql.Timestamp.valueOf("2026-01-01 11:40:00"),
      0.0, -105.1, 40.1, "V2", "CO", "P2", "No Name", "g2",
      null, null, null, null, null, null))
    .toDF("id", "callsign", "course", "start_ts", "speed_ms", "longitude",
      "latitude", "vin", "license_state", "license_plate", "vehicle_name",
      "groups", "driver_username", "driver_first_name", "driver_last_name",
      "driver_phone", "driver_designation", "driver_comment")

  test("posts FeatureCollection payloads with idempotency headers") {
    val stub = new Stub()
    try {
      val sink = new FeatureCollectionHttpSink(stub.url, nBuckets = 1)
      sink.submit(flatFeatures, batchId = 7L)
      assert(stub.bodies.size === 1, s"one bucket -> one POST, got ${stub.bodies.size}")
      val body = stub.bodies.peek()
      assert(body.contains("\"type\":\"FeatureCollection\""), body)
      assert(body.contains("\"geotab-d1\"") && body.contains("\"geotab-d2\""), body)
      assert(body.contains("\"coordinates\":[-104.9,39.7]"), s"lon-first pair: $body")
      assert(stub.headers.peek() === "7/0", s"batch/bucket header: ${stub.headers.peek()}")
    } finally stub.stop()
  }

  test("retries 5xx with backoff until the endpoint recovers") {
    val stub = new Stub(failFirst = 2)
    try {
      val sink = new FeatureCollectionHttpSink(stub.url, nBuckets = 1, backoffMs = 1)
      sink.submit(flatFeatures, batchId = 1L)
      assert(stub.requests.get() === 3, s"2 x 503 then 200: ${stub.requests.get()} requests")
      assert(stub.bodies.size === 1)
    } finally stub.stop()
  }

  test("gives up after maxRetries of persistent 5xx and fails the task") {
    val stub = new Stub(failFirst = Int.MaxValue)
    try {
      val sink = new FeatureCollectionHttpSink(stub.url, nBuckets = 1,
        maxRetries = 2, backoffMs = 1)
      val e = intercept[org.apache.spark.SparkException] {
        sink.submit(flatFeatures, batchId = 1L)
      }
      assert(e.getMessage.contains("feature sink") ||
        e.getCause != null, s"sink failure must surface: ${e.getMessage}")
      assert(stub.requests.get() >= 3, "initial attempt + 2 retries")
    } finally stub.stop()
  }

  test("4xx fails fast without retry") {
    val stub = new Stub(failFirst = Int.MaxValue, failStatus = 400)
    try {
      val sink = new FeatureCollectionHttpSink(stub.url, nBuckets = 1,
        maxRetries = 5, backoffMs = 1)
      intercept[org.apache.spark.SparkException] {
        sink.submit(flatFeatures, batchId = 1L)
      }
      assert(stub.requests.get() === 1,
        s"client errors must not retry: ${stub.requests.get()} requests")
    } finally stub.stop()
  }

  test("empty url = console-only DEBUG mode, no HTTP traffic") {
    // task.ts:76: DEBUG prints GeoJSON features to the log; with no TAK
    // endpoint configured the sink is print-only and must not error
    val sink = new FeatureCollectionHttpSink("", nBuckets = 1, debug = true)
    sink.submit(flatFeatures, batchId = 0L) // would throw if it tried to POST
  }

  test("streaming end-to-end: readStream features POST per micro-batch") {
    implicit val sql = spark.sqlContext
    val stub = new Stub()
    try {
      val devices = Seq(("d1", "V1", "CO", "P1", "Truck One"))
        .toDF("id", "vehicleIdentificationNumber", "licenseState", "licensePlate", "name")
      val drivers = Seq(("drv1", "jdoe", "John", "Doe", "555", "Sr", "c"))
        .toDF("id", "name", "firstName", "lastName", "phoneNumber", "designation", "comment")
      val in = MemoryStream[Info]
      val cfg = GeotabPipeline.Config(
        prefix = "", now = lit(java.sql.Timestamp.valueOf("2026-01-01 12:00:00")))
      val features = GeotabPipeline.featuresFlat(devices, in.toDF(), drivers, cfg)
      val sink = new FeatureCollectionHttpSink(stub.url, nBuckets = 1)
      ExportOps.withScratch("graft_http_ckpt", "spec") { ckpt =>
        val dir = ckpt.toString
        val q = EventStreams.start(EventStreams.featureWriter(features, sink), dir)
        try {
          in.addData(Info("d1", java.sql.Timestamp.valueOf("2026-01-01 11:30:00"),
            39.7, -104.9, 100.0, 90.0, "drv1", true, "g1"))
          q.processAllAvailable()
          in.addData(Info("d1", java.sql.Timestamp.valueOf("2026-01-01 11:45:00"),
            39.8, -104.8, 50.0, 91.0, "drv1", true, "g1"))
          q.processAllAvailable()
          assert(stub.bodies.size === 2, s"one POST per micro-batch: ${stub.bodies.size}")
          assert(stub.bodies.asScala.forall(_.contains("\"type\":\"FeatureCollection\"")))
          assert(stub.headers.asScala.toSet.size === 2, "distinct batch ids in headers")
        } finally q.stop()
      }
    } finally stub.stop()
  }

  private implicit class QueueOps(q: ConcurrentLinkedQueue[String]) {
    def asScala: Iterator[String] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala
    }
  }
}
