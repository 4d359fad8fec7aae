package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.ops.ExportOps
import graft.geotab.GeotabPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class EvId(ts: Timestamp, event_id: Long, user_id: Long, value: Double)
case class EvFull(ts: Timestamp, event_id: Long, user_id: Long, event_type: String)
case class Info(device_id: String, dateTime: Timestamp, latitude: Double,
                longitude: Double, speed: Double, bearing: Double,
                driverId: String, driverIsObject: Boolean, groups: String)

/** Streaming tests (SURVEY.md §5.4): watermark late-drop, windowed aggs,
  * session windows, and the Geotab pipeline running unchanged on a stream
  * (stream-static joins) into the pluggable FeatureSink. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling windows with watermark drop late rows") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.tumblingCounts(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    try {
      in.addData(
        Ev(ts("2026-01-01 10:00:10"), 1, "click", 1.0),
        Ev(ts("2026-01-01 10:01:00"), 1, "click", 2.0),
        Ev(ts("2026-01-01 10:07:00"), 2, "view", 3.0))
      q.processAllAvailable()
      // advance event time far enough that the 10:00 window finalizes
      in.addData(Ev(ts("2026-01-01 10:30:00"), 3, "click", 4.0))
      q.processAllAvailable()
      // this row is far behind the watermark -> must be dropped
      in.addData(Ev(ts("2026-01-01 10:00:30"), 9, "click", 99.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2026-01-01 11:00:00"), 3, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select($"win_start", $"event_type", $"n", $"sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts("2026-01-01 10:00:00"), "click", 2L, 3.0)),
        s"expected finalized 10:00 click window without the late row, got $rows")
      assert(rows.contains((ts("2026-01-01 10:05:00"), "view", 1L, 3.0)))
      assert(!rows.exists { case (_, _, _, s) => s == 102.0 || s == 99.0 },
        "late row leaked into a window")
    } finally q.stop()
  }

  test("streaming dedup drops redelivered ids across micro-batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[EvId]
    val q = EventStreams.dedupedEvents(in.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      in.addData(
        EvId(ts("2026-01-01 10:00:00"), 1, 7, 1.0),
        EvId(ts("2026-01-01 10:00:05"), 2, 7, 2.0),
        EvId(ts("2026-01-01 10:00:05"), 2, 7, 2.0)) // same-batch duplicate
      q.processAllAvailable()
      // redelivery in a later micro-batch, still inside the watermark
      in.addData(EvId(ts("2026-01-01 10:00:06"), 1, 7, 1.0),
        EvId(ts("2026-01-01 10:01:00"), 3, 8, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id")
        .as[Long].collect().toList.sorted
      assert(ids === List(1L, 2L, 3L),
        s"each id must survive exactly once, got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join: purchases pick up in-horizon clicks only") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[EvFull]
    val q = EventStreams.purchasesWithClicks(in.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_out").start()
    try {
      in.addData(
        EvFull(ts("2026-01-01 10:00:00"), 1, 7, "click"),
        EvFull(ts("2026-01-01 10:20:00"), 2, 7, "click"),
        EvFull(ts("2026-01-01 10:25:00"), 3, 7, "purchase"),
        EvFull(ts("2026-01-01 09:00:00"), 4, 8, "click"),
        EvFull(ts("2026-01-01 10:30:00"), 5, 8, "purchase"))
      q.processAllAvailable()
      // advance both watermarks so all joinable state finalizes
      in.addData(EvFull(ts("2026-01-01 12:00:00"), 6, 9, "click"),
        EvFull(ts("2026-01-01 12:00:00"), 7, 9, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_out")
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(rows.contains((3L, 1L)) && rows.contains((3L, 2L)),
        s"purchase 3 must join both in-horizon clicks, got $rows")
      assert(!rows.exists(_._1 == 5L),
        s"user 8's 90-minute-old click is outside the horizon: $rows")
      assert(rows.contains((7L, 6L)), s"same-instant click joins: $rows")
    } finally q.stop()
  }

  test("session windows merge events within gap") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionCounts(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_out").start()
    try {
      in.addData(
        Ev(ts("2026-01-01 09:00:00"), 1, "click", 1.0),
        Ev(ts("2026-01-01 09:03:00"), 1, "click", 1.0), // same session
        Ev(ts("2026-01-01 09:20:00"), 1, "click", 1.0)) // new session
      q.processAllAvailable()
      in.addData(Ev(ts("2026-01-01 10:00:00"), 2, "view", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toList
      assert(rows.count(_ == (1L, 2L)) === 1, s"merged session missing: $rows")
      assert(rows.count(_ == (1L, 1L)) === 1, s"singleton session missing: $rows")
    } finally q.stop()
  }

  test("file-streaming the real events table matches the batch aggregation") {
    // stream the driver-provided parquet as a file source: same transform
    // code, same results as batch — the batch/stream duality SURVEY §1.4
    // requires. Stage the NORMALIZED graft.Tables view (ts: TimestampType)
    // so the stream is independent of the fixture's physical ts encoding.
    val d = "/root/testdata/sf0.001"
    val batchDf = graft.Tables(spark, d, "events")
    // file-stream source wants a directory; stage as one parquet file
    ExportOps.withScratch("graft_events_stream", "spec") { scratch =>
      val dir = new java.io.File(scratch, "stream").toPath
      val stage = new java.io.File(scratch, "stage").toString
      batchDf.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
      val streamDf = spark.readStream
        .schema(batchDf.schema)
        .parquet(dir.toString)
      val q = EventStreams.tumblingCounts(streamDf, "1 hour", "0 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("file_stream_out").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("file_stream_out")
          .agg(sum($"n")).head().getLong(0)
        // append mode emits only watermark-closed windows; the final
        // (unclosed) hour stays in state — compare against batch minus it
        val batchByHour = batchDf
          .groupBy(date_trunc("hour", $"ts").as("h")).count()
        val lastHour = batchByHour.agg(max($"h")).head().getTimestamp(0)
        val expected = batchByHour.filter($"h" < lastHour)
          .agg(sum($"count")).head().getLong(0)
        assert(streamed === expected,
          s"file-streamed total $streamed != batch total $expected")
      } finally q.stop()
    }
  }

  test("geotab pipeline runs unchanged on a stream with stream-static joins") {
    implicit val sql = spark.sqlContext
    val devices = Seq(("d1", "V1", "CO", "P1", "Truck One"))
      .toDF("id", "vehicleIdentificationNumber", "licenseState", "licensePlate", "name")
    val drivers = Seq(("drv1", "jdoe", "John", "Doe", "555", "Sr", "c"))
      .toDF("id", "name", "firstName", "lastName", "phoneNumber", "designation", "comment")
    val in = MemoryStream[Info]
    val cfg = GeotabPipeline.Config(
      prefix = "", now = lit(ts("2026-01-01 12:00:00")))
    val features = GeotabPipeline.featuresFlat(devices, in.toDF(), drivers, cfg)
    val sink = new EventStreams.MemorySink
    ExportOps.withScratch("graft_ckpt", "spec") { ckpt =>
      val dir = ckpt.toString
      val q = EventStreams.start(EventStreams.featureWriter(features, sink), dir)
      try {
        in.addData(
          Info("d1", ts("2026-01-01 11:30:00"), 39.7, -104.9, 100.0, 90.0, "drv1", true, "g1"),
          Info("dX", ts("2026-01-01 11:30:00"), 0, 0, 0, 0, "drv1", true, "g1"), // no device
          Info("d1", ts("2026-01-01 09:00:00"), 1, 1, 1, 1, "drv1", true, "g1")) // stale
        q.processAllAvailable()
        val rows = sink.batches.flatten
        assert(rows.length === 1, s"expected exactly the fresh d1 feature, got ${rows.length}")
        val r = rows.head
        assert(r.getAs[String]("id") === "geotab-d1")
        assert(r.getAs[String]("driver_username") === "jdoe")
        assert(math.abs(r.getAs[Double]("speed_ms") - 27.7778) < 1e-9)
      } finally q.stop()
    }
  }

  test("streaming CoT XML sink emits byte-identical events to the batch conversion") {
    // cotXml is pure per-row expressions, so it composes directly onto the
    // stream; this pins the S8 streaming submit path end-to-end (stream →
    // CoT event XML → FeatureSink) against the batch conversion's bytes.
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp, Double, Double, String, Double, Double, String)]
    val cols = Seq("id", "start_ts", "latitude", "longitude", "callsign",
      "speed_ms", "course", "vin")
    val flatStream = in.toDS().toDF(cols: _*)
    val sink = new EventStreams.MemorySink
    ExportOps.withScratch("graft_cot_ckpt", "spec") { ckpt =>
      val dir = ckpt.toString
      val q = EventStreams.start(
        EventStreams.featureWriter(GeotabPipeline.cotXml(flatStream), sink), dir)
      val data = Seq(
        ("geotab-d1", ts("2026-01-01 11:30:00"), 39.7, -104.9, "Truck <One> & \"Co\"", 27.7778, 90.0, "V1"),
        ("geotab-d2", ts("2026-01-01 11:45:00"), 40.0, -105.3, "Plain", 0.0, 359.9, "V2"))
      try {
        in.addData(data: _*)
        q.processAllAvailable()
        val streamed = sink.batches.flatten
          .map(r => r.getAs[String]("id") -> r.getAs[String]("cot_xml")).toMap
        val batch = GeotabPipeline.cotXml(data.toDF(cols: _*))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(streamed === batch, "stream and batch CoT XML must be byte-identical")
        assert(streamed("geotab-d1").contains("callsign=\"Truck &lt;One&gt; &amp; &quot;Co&quot;\""))
        assert(streamed("geotab-d1").contains("stale=\"2026-01-01T12:30:00Z\""))
      } finally q.stop()
    }
  }
}
