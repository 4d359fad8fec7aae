package graft.geotab

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.streaming.StreamGate

/** Deterministic Geotab-shaped entity tables synthesized from the driver's
  * TPC-H-ish fixtures, so the full reference pipeline (joins, union-driver
  * guard, JS-coalesce defaults, freshness + prefix filters) can be verified
  * against a DuckDB oracle running the equivalent SQL over the same parquet.
  *
  * Mapping: customer -> device registry, latest order per customer -> device
  * status info, supplier -> drivers. All derived values are integer/string
  * arithmetic — bit-exact across engines.
  */
object GeotabSynth {

  /** Device registry (reference schema task.ts:49-55), incl. rows with NULL
    * and empty-string licenseState / licensePlate / name to exercise the
    * JS `||` vs `??` default-fill semantics (task.ts:241-244, 261-263). */
  def devices(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    c.select(
      concat(lit("dev-"), col("c_custkey")).as("id"),
      concat(lit("VIN"), col("c_custkey")).as("vehicleIdentificationNumber"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 5 === 1, lit(""))
        .otherwise(concat(lit("S"), col("c_nationkey"))).as("licenseState"),
      when(col("c_custkey") % 7 === 0, lit(""))
        .when(col("c_custkey") % 7 === 1, lit(null).cast("string"))
        .otherwise(concat(lit("P"), col("c_custkey"))).as("licensePlate"),
      when(col("c_custkey") % 11 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 11 === 1, lit(""))
        .otherwise(col("c_name")).as("name"))
  }

  /** DeviceStatusInfo (task.ts:12-36): the latest order per customer becomes
    * that device's current status row (latest-per-key window dedup). The
    * union-typed driver field is synthesized in all three variants: string
    * ("UnknownDriverId", must not join), object joining a real supplier, and
    * object with an unknown id (left-join miss). */
  def info(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // project before the window so the custkey shuffle carries 3 columns,
    // not the full orders row
    val o = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        concat(lit("dev-"), col("o_custkey")).as("device_id"),
        col("o_orderdate").as("dateTime"),
        ((col("o_orderkey") % 180) - 90 + 0.5).as("latitude"),
        ((col("o_orderkey") % 360) - 180 + 0.25).as("longitude"),
        (col("o_orderkey") % 200).cast("double").as("speed"),
        (col("o_orderkey") % 360).cast("double").as("bearing"),
        when(col("o_orderkey") % 3 === 1, concat(lit("s"), col("o_orderkey") % 100))
          .when(col("o_orderkey") % 3 === 2, concat(lit("sX-"), col("o_orderkey")))
          .otherwise(lit("UnknownDriverId")).as("driverId"),
        (col("o_orderkey") % 3 =!= 0).as("driverIsObject"),
        concat(lit("g"), col("o_custkey") % 5).as("groups"))
  }

  /** Drivers (task.ts:39-47) from the supplier table. */
  def drivers(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables(spark, sfDir, "supplier")
    s.select(
      concat(lit("s"), col("s_suppkey")).as("id"),
      col("s_name").as("name"),
      concat(lit("c"), col("s_suppkey")).as("comment"),
      concat(lit("555-"), col("s_suppkey")).as("phoneNumber"),
      concat(lit("F"), col("s_suppkey")).as("firstName"),
      concat(lit("L"), col("s_suppkey")).as("lastName"),
      concat(lit("D"), col("s_suppkey") % 3).as("designation"))
  }

  /** The flagship end-to-end query: full reference pipeline over the
    * synthesized entities, freshness boundary = max(o_orderdate) (a
    * parameterized "now", per SURVEY.md §5 determinism rules), 365-day
    * horizon, prefix filter "C". Flat projection, ordered for the oracle. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    // scalar "now" boundary (o_orderdate may read as TIMESTAMP_NTZ →
    // LocalDateTime; lit() handles either)
    val maxDate = Tables(spark, sfDir, "orders")
      .agg(max(col("o_orderdate"))).head().get(0)
    val cfg = GeotabPipeline.Config(
      prefix = "C", now = lit(maxDate), freshness = "INTERVAL 365 DAYS")
    GeotabPipeline.featuresFlat(
        devices(spark, sfDir), info(spark, sfDir), drivers(spark, sfDir), cfg)
      .orderBy("id")
  }

  /** g02: the same flagship pipeline, but ingesting all three entities
    * through the DSv2 `geotab` connector (scan → isDriver pushdown →
    * FAILFAST deserialize → session cache) against a fixture-backed client
    * whose payloads are generated from the same parquet-derived entities —
    * so [[flagshipOracleSql]] applies unchanged and the connector path is
    * inside the DuckDB correctness gate, not just spec-tested.
    *
    * Scale note: the driver-side materialization here builds the API
    * fixtures, not the pipeline input — the real API returns one bounded
    * fleet per call (the reference's shape, task.ts:145-218); everything
    * downstream of the reads is the same distributed plan as g01. */
  def connectorFlagship(spark: SparkSession, sfDir: String): DataFrame =
    connectorFlagship(spark, sfDir, _ => ())

  /** `arm` receives the freshly registered fixture client before any scan
    * runs — the fault-injection seam for the connector-recovery spec
    * (planted 503s / validated-then-expired sessions mid-scan). */
  def connectorFlagship(spark: SparkSession, sfDir: String,
      arm: graft.sources.geotab.InMemoryGeotabClient => Unit): DataFrame = {
    val clientName = "g02-" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "-" + java.util.UUID.randomUUID().toString.take(8)
    arm(registerFixtureClient(spark, sfDir, clientName))
    try {
      val infoDf = normalizeInfo(connectorRead(spark, clientName, "deviceInfo"))
      val features = GeotabPipeline.featuresFlat(
          connectorDevices(spark, clientName), infoDf,
          connectorDrivers(spark, clientName), flagshipConfig(spark, sfDir))
      // materialize before unregistering: the plan is lazy, and the
      // per-invocation UUID name means a leaked registration (one fixture
      // client per bench rep) is never reclaimed by a later overwrite —
      // localize (fleet-sized, within the documented contract) so the
      // finally can evict the client like the other connector gates do
      graft.ops.ExportOps.localize(features, "id")
    } finally graft.sources.geotab.GeotabClients.unregister(clientName)
  }

  /** g18: the flagship pipeline ingested through the PRODUCTION transport —
    * [[graft.sources.geotab.HttpGeotabClient]] speaking real JSON-RPC over
    * HTTP to a local facade ([[graft.sources.geotab.GeotabRpcFacade]])
    * fronting the same fixture entities as g02. The scan's `client` option
    * is the facade's URL, so resolution runs the production fallback in
    * [[graft.sources.geotab.GeotabClients.apply]] (construct-from-URL, the
    * deployment path, task.ts:326-355's login → Get loop): Authenticate,
    * the validate-on-use session probe, the typed `search` payloads
    * (isDriver / excludeUntrackedAssets booleans), bounded 503
    * retry/backoff (one planted 503 per run), and FAILFAST deserialize all
    * execute over the wire inside this gate — and the result hash-matches
    * the same DuckDB oracle as g01/g02. */
  def httpConnectorFlagship(spark: SparkSession, sfDir: String): DataFrame =
    httpConnectorFlagship(spark, sfDir, _ => ())

  /** `inspect` receives the live facade after the read completes (before
    * teardown) — the seam the transport-gate spec uses to assert the
    * planted 503 was actually served and retried through. */
  def httpConnectorFlagship(spark: SparkSession, sfDir: String,
      inspect: graft.sources.geotab.GeotabRpcFacade => Unit): DataFrame = {
    import graft.sources.geotab.{GeotabClients, GeotabRpcFacade}
    val facade = new GeotabRpcFacade(buildFixtureClient(spark, sfDir))
    facade.start()
    // the FIRST wire request 503s, so every gate run rides the transport's
    // bounded-retry/backoff path (the g09 submit-sink treatment applied to
    // the ingest side)
    facade.failNextRequests(1)
    try {
      val url = facade.url
      val infoDf = normalizeInfo(connectorRead(spark, url, "deviceInfo"))
      val features = GeotabPipeline.featuresFlat(
        connectorDevices(spark, url), infoDf,
        connectorDrivers(spark, url), flagshipConfig(spark, sfDir))
      // materialize while the facade is up (the plan is lazy); fleet-sized
      val out = graft.ops.ExportOps.localize(features, "id")
      inspect(facade)
      out
    } finally {
      facade.stop()
      // drop the memoized per-URL HttpGeotabClient — the port is
      // per-invocation, so a leaked entry is never reclaimed by reuse
      GeotabClients.unregister(facade.url)
    }
  }

  /** Build and register the fixture-backed API client whose payloads are
    * generated from the same parquet-derived entities as [[flagship]]. The
    * driver-side collects here construct the **test double's API payloads**,
    * not pipeline input — the real API returns one bounded fleet per call
    * (task.ts:145-218). */
  def registerFixtureClient(spark: SparkSession, sfDir: String,
                            clientName: String): graft.sources.geotab.InMemoryGeotabClient = {
    val client = buildFixtureClient(spark, sfDir)
    graft.sources.geotab.GeotabClients.register(clientName, client)
    client
  }

  /** The fixture client WITHOUT registry registration — the g18 HTTP gate
    * fronts it with [[graft.sources.geotab.GeotabRpcFacade]] instead, so
    * only the facade's URL (resolving to a real [[graft.sources.geotab.HttpGeotabClient]])
    * is ever visible to the scan. */
  def buildFixtureClient(spark: SparkSession,
                         sfDir: String): graft.sources.geotab.InMemoryGeotabClient = {
    import graft.sources.geotab.InMemoryGeotabClient
    val users = drivers(spark, sfDir).collect().toSeq.map { r =>
      Map[String, Any](
        "id" -> r.getAs[String]("id"), "name" -> r.getAs[String]("name"),
        "comment" -> r.getAs[String]("comment"),
        "phoneNumber" -> r.getAs[String]("phoneNumber"),
        "firstName" -> r.getAs[String]("firstName"),
        "lastName" -> r.getAs[String]("lastName"),
        "designation" -> r.getAs[String]("designation"),
        "isDriver" -> true)
    }
    val devs = devices(spark, sfDir).collect().toSeq.map { r =>
      Map[String, Any](
        "id" -> r.getAs[String]("id"),
        "vehicleIdentificationNumber" -> r.getAs[String]("vehicleIdentificationNumber"),
        "licenseState" -> r.getAs[String]("licenseState"),
        "licensePlate" -> r.getAs[String]("licensePlate"),
        "name" -> r.getAs[String]("name"))
    }
    new InMemoryGeotabClient(users, devs, infoPayloads(info(spark, sfDir)))
  }

  /** Raw DeviceStatusInfo API payloads from an info frame: ISO dateTime,
    * nested device id, the union-typed driver (string variant | object
    * variant), groups array. Factored out so multi-run gates (g10) can
    * synthesize a SECOND snapshot and swap it into the fixture client
    * mid-stream. */
  def infoPayloads(infoDf: DataFrame): Seq[String] =
    infoDf.select(to_json(struct(
      col("bearing"), col("latitude"), col("longitude"), col("speed"),
      date_format(col("dateTime"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("dateTime"),
      struct(col("device_id").as("id")).as("device"),
      when(col("driverIsObject"),
        concat(lit("{\"id\":\""), col("driverId"), lit("\"}")))
        .otherwise(col("driverId")).as("driver"),
      array(struct(col("groups").as("id"))).as("groups"))).as("j"))
      .collect().toSeq.map(_.getString(0))

  private def connectorRead(spark: SparkSession, clientName: String,
                            entity: String): DataFrame =
    spark.read.format("geotab")
      .option("entity", entity).option("client", clientName)
      .option("database", "fleetdb").option("user", "svc").option("password", "pw")
      .load()

  /** Device registry through the connector (group column only exists for
    * pushdown; the pipeline doesn't read it). */
  def connectorDevices(spark: SparkSession, clientName: String): DataFrame =
    connectorRead(spark, clientName, "device").drop("group")

  /** Drivers through the connector — the isDriver predicate pushes into the
    * API search payload (task.ts:175-177). */
  def connectorDrivers(spark: SparkSession, clientName: String): DataFrame =
    connectorRead(spark, clientName, "user")
      .filter(col("isDriver") === true).drop("isDriver")

  /** Raw DeviceStatusInfo rows → the pipeline's input contract: nested
    * device id flattened, ISO dateTime parsed (NTZ to match the
    * parquet-sourced flagship's start_ts type exactly), union-typed driver
    * discriminated, first group id extracted. Stateless projection — works
    * identically on a batch read and a micro-batch stream. */
  def normalizeInfo(raw: DataFrame): DataFrame =
    raw.withColumn("n", GeotabSchemas.normalizeDriver(col("driver")))
      .select(col("device.id").as("device_id"),
        to_timestamp(col("dateTime")).cast("timestamp_ntz").as("dateTime"),
        col("latitude"), col("longitude"), col("speed"), col("bearing"),
        col("n.driverId").as("driverId"),
        col("n.driverIsObject").as("driverIsObject"),
        col("groups").getItem(0).getField("id").as("groups"))

  private def flagshipConfig(spark: SparkSession, sfDir: String): GeotabPipeline.Config = {
    val maxDate = Tables(spark, sfDir, "orders")
      .agg(max(col("o_orderdate"))).head().get(0)
    GeotabPipeline.Config(
      prefix = "C", now = lit(maxDate), freshness = "INTERVAL 365 DAYS")
  }

  /** The flagship's feature stream: DeviceStatusInfo arrives through the
    * connector's MicroBatchStream (the reference's scheduled-run cadence,
    * task.ts:106-107, under engine-managed triggers); the device and driver
    * dimensions join stream-static. Identical transform code to [[flagship]]
    * — the batch/stream duality SURVEY §1.4 promises. */
  def connectorFlatStream(spark: SparkSession, sfDir: String,
                          clientName: String): DataFrame = {
    registerFixtureClient(spark, sfDir, clientName)
    val infoStream = normalizeInfo(
      spark.readStream.format("geotab")
        .option("entity", "deviceInfo").option("client", clientName)
        .option("database", "fleetdb").option("user", "svc").option("password", "pw")
        .load())
    GeotabPipeline.featuresFlat(
      connectorDevices(spark, clientName), infoStream,
      connectorDrivers(spark, clientName), flagshipConfig(spark, sfDir))
  }

  /** g05: the flagship under Structured Streaming, end-to-end — micro-batch
    * source → stream-static joins → freshness/prefix filters → parquet sink,
    * drained with Trigger.AvailableNow (one scheduled run), then read back
    * from the sink's files. Hash-matches the *batch* flagship oracle, so the
    * stream/batch equivalence is inside the correctness gate, not argued.
    * The sink directory is the query's output table — exactly how a
    * production deployment lands each run's features in storage. */
  def streamFlagship(spark: SparkSession, sfDir: String): DataFrame = {
    val clientName = "g05-" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "-" + java.util.UUID.randomUUID().toString.take(8)
    val flat = connectorFlatStream(spark, sfDir, clientName)
    try StreamGate(spark, "graft-g05", sfDir) { g =>
      g.drainParquet(flat, shards = None)
      // localize the bounded fleet snapshot before the scope drops the
      // scratch dir — repeated gate/bench runs must not accumulate tempdirs
      graft.ops.ExportOps.localize(Tables.readParquet(spark, g.data), "id")
    } finally graft.sources.geotab.GeotabClients.unregister(clientName)
  }

  /** g06: the S8 submit path under streaming — per micro-batch, features
    * convert to CoT event XML and go through the pluggable FeatureSink seam
    * ([[graft.streaming.EventStreams.cotWriter]], the reference's per-run
    * `this.submit(...)`, task.ts:294). The gate reads the sink's JSON files
    * back and hash-matches the batch CoT oracle byte-for-byte. */
  def streamCot(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.EventStreams
    val clientName = "g06-" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "-" + java.util.UUID.randomUUID().toString.take(8)
    val flat = connectorFlatStream(spark, sfDir, clientName)
    try StreamGate(spark, "graft-g06", sfDir) { g =>
      g.drain(EventStreams.cotWriter(flat, new EventStreams.FileSink(g.data)),
        shards = None)(_.processAllAvailable())
      // list the sink's batch dirs explicitly: a bare glob read fails with
      // an opaque PATH_NOT_FOUND when the sink produced nothing, and THAT
      // failure should name the gate
      val batchDirs = Option(new java.io.File(g.data).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      require(batchDirs.nonEmpty,
        s"g06 streaming CoT sink produced no batches under ${g.data}")
      graft.ops.ExportOps.localize(
        spark.read.schema("id STRING, cot_xml STRING")
          .json(batchDirs.map(_.getPath).toIndexedSeq: _*), "id")
    } finally graft.sources.geotab.GeotabClients.unregister(clientName)
  }

  /** g09: the reference's ACTUAL output boundary under streaming — the
    * whole `readStream → featuresFlat → FeatureCollection assembly → HTTP
    * POST` loop (task.ts:233-294: one FeatureCollection submitted per
    * scheduled run to the CloudTAK layer endpoint, task.ts:294 via the ETL
    * base's `this.submit`). A local stub HTTP server stands in for CloudTAK
    * (the same fixture treatment the source gets from InMemoryGeotabClient);
    * the payloads it RECEIVES are parsed back to flat feature columns and
    * must hash-match the batch flagship oracle — so serialization, bucket
    * assembly, retry, and delivery are all inside the correctness gate, not
    * just spec-tested. The stub 503s the first request, so the gate result
    * additionally rides the sink's transient-retry path every run (a 4xx
    * fail-fast twin lives in HttpFeatureSinkSpec).
    *
    * Scale shape: POSTs run in `foreachPartition` on executors (bounded
    * payloads, nBuckets=4 here); the driver-side parse of received bodies
    * is the TEST HARNESS reading its stub server's inbox, not a pipeline
    * stage — production payloads terminate at the receiver. */
  def streamHttpSubmit(spark: SparkSession, sfDir: String): DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.nio.charset.StandardCharsets
    import graft.streaming.{EventStreams, FeatureCollectionHttpSink}
    val clientName = "g09-" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "-" + java.util.UUID.randomUUID().toString.take(8)
    val flat = connectorFlatStream(spark, sfDir, clientName)
    // keyed by the X-Graft-Batch idempotency header: the sink documents
    // at-least-once delivery under task retry, so a receiver MUST dedup on
    // the header — recording raw bodies would make the gate flake if a
    // POSTed partition's task ever retried
    val received =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/submit", (x: HttpExchange) => {
      val n = requests.incrementAndGet()
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val batchKey = x.getRequestHeaders.getFirst("X-Graft-Batch")
      // a missing idempotency header is a sink regression: answer 400 (the
      // sink's 4xx fail-fast path) so the gate fails with a readable error
      // instead of an NPE swallowed inside the handler thread surfacing as
      // opaque retry exhaustion
      val status =
        if (batchKey == null) 400
        else if (n == 1) 503 // first request always retries
        else 200
      if (status == 200) received.put(batchKey, body)
      x.sendResponseHeaders(status, -1)
      x.close()
    })
    server.start()
    try StreamGate(spark, "graft-g09", sfDir) { g =>
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/submit"
      val sink = new FeatureCollectionHttpSink(url, nBuckets = 4, backoffMs = 1)
      g.drain(EventStreams.featureWriter(flat, sink), shards = None)(
        _.processAllAvailable())
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      val payloads = received.values().iterator().asScala.toSeq.toDF("payload")
      val fcSchema =
        """type STRING, features ARRAY<STRUCT<
          |  id STRING, type STRING,
          |  properties STRUCT<callsign STRING, course DOUBLE, start STRING,
          |    speed DOUBLE,
          |    metadata STRUCT<vin STRING, name STRING, licenseState STRING,
          |      licensePlate STRING, groups STRING, driverUsername STRING,
          |      firstName STRING, lastName STRING, driverPhone STRING,
          |      designation STRING, comment STRING>>,
          |  geometry STRUCT<type STRING, coordinates ARRAY<DOUBLE>>>>""".stripMargin
      val landed = payloads
        .select(explode(from_json(col("payload"), fcSchema, Map.empty[String, String])
          .getField("features")).as("f"))
        .select(
          col("f.id").as("id"),
          col("f.properties.callsign").as("callsign"),
          col("f.properties.course").as("course"),
          to_timestamp_ntz(col("f.properties.start"),
            lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).as("start_ts"),
          col("f.properties.speed").as("speed_ms"),
          col("f.geometry.coordinates").getItem(0).as("longitude"),
          col("f.geometry.coordinates").getItem(1).as("latitude"),
          col("f.properties.metadata.vin").as("vin"),
          col("f.properties.metadata.licenseState").as("license_state"),
          col("f.properties.metadata.licensePlate").as("license_plate"),
          col("f.properties.metadata.name").as("vehicle_name"),
          col("f.properties.metadata.groups").as("groups"),
          col("f.properties.metadata.driverUsername").as("driver_username"),
          col("f.properties.metadata.firstName").as("driver_first_name"),
          col("f.properties.metadata.lastName").as("driver_last_name"),
          col("f.properties.metadata.driverPhone").as("driver_phone"),
          col("f.properties.metadata.designation").as("driver_designation"),
          col("f.properties.metadata.comment").as("driver_comment"))
      graft.ops.ExportOps.localize(landed, "id")
    } finally {
      server.stop(0)
      graft.sources.geotab.GeotabClients.unregister(clientName)
    }
  }

  /** g10: TWO scheduled runs through the connector — the reference's
    * actual operating mode (a Lambda on a schedule, task.ts:106-107,
    * CHANGELOG "parallel requests" era: every invocation pulls the
    * CURRENT fleet snapshot). All other streaming gates drain one
    * snapshot; here the fixture client's telemetry CHANGES between
    * micro-batches (every device +7 km/h — a moving fleet), the
    * connector's version-based offsets fire a second micro-batch for the
    * new snapshot, and the sink must land BOTH runs' features. The oracle
    * is the union of the two flagship computations — so snapshot
    * versioning, offset advancement, and per-run recomputation of the
    * stream-static joins are all inside the correctness gate. */
  def streamTwoRuns(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.geotab.{GeotabClients, InMemoryGeotabClient}
    val clientName = "g10-" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "-" + java.util.UUID.randomUUID().toString.take(8)
    // the SAME wiring g05/g06/g09 use — a divergence here would silently
    // gate a different pipeline; the registered fixture client comes back
    // out of the registry for the mid-stream snapshot swap
    val flat = connectorFlatStream(spark, sfDir, clientName)
    val client = GeotabClients(clientName).asInstanceOf[InMemoryGeotabClient]
    // not a StreamGate drain: the snapshot swap happens between two
    // micro-batches of ONE running query, which needs the default trigger
    // (AvailableNow stops once the first snapshot is in)
    try graft.ops.ExportOps.withScratch("graft_g10", sfDir) { out =>
      val q = flat.writeStream.format("parquet")
        .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
        .start() // default trigger: fires whenever the snapshot version advances
      try {
        q.processAllAvailable() // run 1: the base snapshot
        client.setDeviceInfo(infoPayloads(
          info(spark, sfDir).withColumn("speed", col("speed") + 7)))
        q.processAllAvailable() // run 2: the moved fleet
      } finally q.stop()
      graft.ops.ExportOps.localize(
        Tables.readParquet(spark, s"$out/data"), "id", "speed_ms")
    } finally graft.sources.geotab.GeotabClients.unregister(clientName)
  }

  /** g03: haversine distance from every device's current position to the
    * fleet operations center (the reference operator's home coordinates) —
    * the geo query SURVEY.md §2.7 lists as optional, over the same
    * synthesized DeviceStatusInfo positions as the flagship. Pure per-row
    * arithmetic on top of the latest-per-key window: no extra shuffle. */
  def haversineQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (opsLat, opsLon) = (39.7392, -104.9903)
    info(spark, sfDir)
      .select(col("device_id"),
        round(graft.functions.GeoFunctions.haversineKm(
          col("latitude"), col("longitude"), lit(opsLat), lit(opsLon)), 4)
          .as("dist_km"))
      .orderBy("device_id")
  }

  /** g11: fleet density map — every device's current position aggregated
    * to a 5° grid cell with device count and mean speed, the heat-map /
    * coverage query a fleet dashboard runs over the same
    * DeviceStatusInfo snapshot the flagship reads. The cell id floors
    * latitude/longitude over 5.0; synthesized coordinates sit at .5/.25
    * offsets, ≥0.05 from any cell boundary after division, so the float
    * floor is engine-exact. Speeds are integer-valued doubles, so the sum
    * is exact and addition-order-free.
    *
    * Scale shape: per-row cell projection + one map-side-combined hash
    * aggregation onto at most 36×72 cells — the post-window cost is one
    * tiny shuffle regardless of fleet size. */
  def gridDensityQuery(spark: SparkSession, sfDir: String): DataFrame =
    info(spark, sfDir)
      .select(col("speed"),
        floor(col("latitude") / 5.0).cast("long").as("cell_lat"),
        floor(col("longitude") / 5.0).cast("long").as("cell_lon"))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(count(lit(1)).as("n_devices"),
        graft.ops.StableAgg.intAvg(col("speed")).as("avg_speed"))
      .orderBy("cell_lat", "cell_lon")

  /** DuckDB twin of [[gridDensityQuery]], same synth CTE. */
  val gridDensityOracleSql: String =
    """WITH latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), info AS (
      |  SELECT (o_orderkey % 180) - 90 + 0.5 AS latitude,
      |         (o_orderkey % 360) - 180 + 0.25 AS longitude,
      |         o_orderkey % 200 AS speed
      |  FROM latest WHERE rn = 1
      |)
      |SELECT CAST(floor(latitude / 5.0) AS BIGINT) AS cell_lat,
      |  CAST(floor(longitude / 5.0) AS BIGINT) AS cell_lon,
      |  count(1) AS n_devices,
      |  CAST(sum(speed) AS DOUBLE) / count(1) AS avg_speed
      |FROM info GROUP BY cell_lat, cell_lon
      |ORDER BY cell_lat, cell_lon""".stripMargin

  /** g12: geofence assignment — each device's current position mapped to
    * the named rectangular zone containing it (or `none`), the alerting /
    * dispatch primitive every fleet platform runs per snapshot. Zones are
    * a 4-row literal dimension BROADCAST onto one scan (a range join on
    * a corpus-sized zone table would bucket by grid cell first — g11's
    * cells are exactly that coarse index); zones are disjoint, so each
    * device matches at most once and a left join + coalesce lands the
    * `none` rows without a second pass. Pure comparisons on the
    * synthesized .5/.25-offset coordinates — engine-exact. */
  /** The 4-zone literal dimension shared by g12 and g13. */
  private def fenceZones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("north_america", 15.0, 72.0, -170.0, -50.0),
      ("europe", 35.0, 72.0, -10.0, 40.0),
      ("south_cone", -60.0, -15.0, -90.0, -30.0),
      ("oceania", -50.0, -10.0, 110.0, 180.0)
    ).toDF("zone", "lat_min", "lat_max", "lon_min", "lon_max")
  }

  def geofenceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val zones = fenceZones(spark)
    info(spark, sfDir)
      .join(broadcast(zones),
        col("latitude") >= col("lat_min") && col("latitude") < col("lat_max") &&
          col("longitude") >= col("lon_min") && col("longitude") < col("lon_max"),
        "left")
      .select(col("device_id"), coalesce(col("zone"), lit("none")).as("zone"),
        col("latitude"), col("longitude"))
      .orderBy("device_id")
  }

  /** The 2-polygon dim for g17: real polygon fences (a triangle and a
    * pentagon), disjoint by construction. Edges precompute driver-side
    * from the vertex rings — the polygon table is metadata-sized; at a
    * corpus-sized fence table the g11 grid cells coarse-index candidates
    * first, exactly like g12's note. */
  private def polygonZones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def ring(vs: Seq[(Double, Double)]) =
      vs.zip(vs.tail :+ vs.head).map { case ((x1, y1), (x2, y2)) =>
        (x1, y1, x2, y2) }
    Seq(
      ("atlantic_triangle",
        ring(Seq((-85.0, 45.0), (-80.0, 5.0), (-45.0, 45.0)))),
      ("east_pentagon",
        ring(Seq((80.0, -30.0), (120.0, -40.0), (140.0, 0.0),
          (120.0, 30.0), (90.0, 20.0))))
    ).toDF("zone", "edges")
  }

  /** g17: point-in-POLYGON geofencing — g12's rectangles upgraded to the
    * fences real deployments draw (ports, depots, districts are never
    * axis-aligned boxes). Containment is one ray cast per (ping, zone):
    * count the polygon edges a horizontal ray to +∞ crosses — odd means
    * inside — as a `filter` over the broadcast edge array, entirely
    * inside codegen (no UDF, no geometry lib). The crossing test and its
    * division are written in the IDENTICAL operand order in the oracle,
    * so every boundary tie resolves the same way in both engines — the
    * cross-engine discipline that makes float geometry gateable.
    * Scale shape: pings × 2-row broadcast polygon dim, then a device_id
    * left join for the `none` rows — the g12 topology with a richer
    * predicate; nothing grows but the ping scan. */
  def polygonFenceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = info(spark, sfDir)
      .select(col("device_id"), col("latitude"), col("longitude"))
    val matched = pings.crossJoin(broadcast(polygonZones(spark)))
      .withColumn("crossings", size(filter(col("edges"), e =>
        ((e.getField("_2") > col("latitude")) =!=
          (e.getField("_4") > col("latitude"))) &&
          col("longitude") < (e.getField("_3") - e.getField("_1")) *
            (col("latitude") - e.getField("_2")) /
            (e.getField("_4") - e.getField("_2")) + e.getField("_1"))))
      .filter(col("crossings") % 2 === 1)
      .select(col("device_id"), col("zone"))
    pings.join(matched, Seq("device_id"), "left")
      .select(col("device_id"), coalesce(col("zone"), lit("none")).as("zone"),
        col("latitude"), col("longitude"))
      .orderBy("device_id")
  }

  /** DuckDB twin of [[polygonFenceQuery]]: the same edges as VALUES rows
    * and the same crossing expression, operand for operand. */
  val polygonFenceOracleSql: String =
    """WITH latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), info AS (
      |  SELECT 'dev-' || o_custkey AS device_id,
      |         (o_orderkey % 180) - 90 + 0.5 AS latitude,
      |         (o_orderkey % 360) - 180 + 0.25 AS longitude
      |  FROM latest WHERE rn = 1
      |), edges(zone, x1, y1, x2, y2) AS (
      |  VALUES ('atlantic_triangle', -85.0, 45.0, -80.0, 5.0),
      |         ('atlantic_triangle', -80.0, 5.0, -45.0, 45.0),
      |         ('atlantic_triangle', -45.0, 45.0, -85.0, 45.0),
      |         ('east_pentagon', 80.0, -30.0, 120.0, -40.0),
      |         ('east_pentagon', 120.0, -40.0, 140.0, 0.0),
      |         ('east_pentagon', 140.0, 0.0, 120.0, 30.0),
      |         ('east_pentagon', 120.0, 30.0, 90.0, 20.0),
      |         ('east_pentagon', 90.0, 20.0, 80.0, -30.0)
      |), crossings AS (
      |  SELECT i.device_id, e.zone,
      |    count(1) FILTER (WHERE (y1 > latitude) <> (y2 > latitude)
      |      AND longitude <
      |        (x2 - x1) * (latitude - y1) / (y2 - y1) + x1) AS c
      |  FROM info i CROSS JOIN edges e GROUP BY i.device_id, e.zone
      |), matched AS (
      |  SELECT device_id, zone FROM crossings WHERE c % 2 = 1
      |)
      |SELECT i.device_id, coalesce(m.zone, 'none') AS zone,
      |       latitude, longitude
      |FROM info i LEFT JOIN matched m USING (device_id)
      |ORDER BY device_id""".stripMargin

  /** DuckDB twin of [[geofenceQuery]], same synth CTE and zone rows. */
  val geofenceOracleSql: String =
    """WITH latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), info AS (
      |  SELECT 'dev-' || o_custkey AS device_id,
      |         (o_orderkey % 180) - 90 + 0.5 AS latitude,
      |         (o_orderkey % 360) - 180 + 0.25 AS longitude
      |  FROM latest WHERE rn = 1
      |), zones(zone, lat_min, lat_max, lon_min, lon_max) AS (
      |  VALUES ('north_america', 15.0, 72.0, -170.0, -50.0),
      |         ('europe', 35.0, 72.0, -10.0, 40.0),
      |         ('south_cone', -60.0, -15.0, -90.0, -30.0),
      |         ('oceania', -50.0, -10.0, 110.0, 180.0)
      |)
      |SELECT device_id, coalesce(z.zone, 'none') AS zone,
      |       latitude, longitude
      |FROM info LEFT JOIN zones z
      |  ON latitude >= lat_min AND latitude < lat_max
      | AND longitude >= lon_min AND longitude < lon_max
      |ORDER BY device_id""".stripMargin

  /** g13: stop/dwell detection with zone attribution — the delivery-stop
    * report a fleet platform derives from the same ping history g07
    * segments into trips: maximal runs of consecutive speed-0 pings per
    * device (gaps-and-islands via the two-row_number difference — both
    * windows ride ONE device_id hash shuffle), each dwell located at its
    * first ping and assigned to the g12 geofence dimension by broadcast
    * range join. Positions are pure functions of the ping second, so the
    * dwell location is arithmetic on `min(t)` — no join back to the ping
    * table. Per-device windows + a 4-row broadcast: nothing in the plan
    * grows faster than the ping count at 100 TB. */
  def stopZonesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = Tables(spark, sfDir, "orders").select(
      concat(lit("dev-"), col("o_custkey")).as("device_id"),
      col("o_orderkey").cast("long").as("t"),
      ((col("o_orderkey") % 5) * 10).cast("double").as("speed"))
    val w = Window.partitionBy(col("device_id")).orderBy(col("t"))
    val dwells = pings.withColumn("rn", row_number().over(w))
      .filter(col("speed") === 0)
      .withColumn("grp", col("rn") - row_number().over(w))
      .groupBy(col("device_id"), col("grp"))
      .agg(min(col("t")).as("dwell_start"), max(col("t")).as("dwell_end"),
        count(lit(1)).as("n_pings"))
      .select(col("device_id"), col("dwell_start"), col("dwell_end"),
        col("n_pings"),
        ((col("dwell_start") % 180) - 90 + 0.5).as("latitude"),
        ((col("dwell_start") % 360) - 180 + 0.25).as("longitude"))
    dwells.join(broadcast(fenceZones(spark)),
        col("latitude") >= col("lat_min") && col("latitude") < col("lat_max") &&
          col("longitude") >= col("lon_min") && col("longitude") < col("lon_max"),
        "left")
      .select(col("device_id"), col("dwell_start"), col("dwell_end"),
        col("n_pings"), coalesce(col("zone"), lit("none")).as("zone"))
      .orderBy("device_id", "dwell_start")
  }

  /** DuckDB twin of [[stopZonesQuery]]: same ping synth, same islands. */
  val stopZonesOracleSql: String =
    """WITH pings AS (
      |  SELECT 'dev-' || o_custkey AS device_id, o_orderkey AS t,
      |         (o_orderkey % 5) * 10 AS speed
      |  FROM orders
      |), numbered AS (
      |  SELECT *, row_number() OVER (PARTITION BY device_id ORDER BY t) AS rn
      |  FROM pings
      |), stop_runs AS (
      |  SELECT *, rn - row_number() OVER (PARTITION BY device_id ORDER BY t)
      |    AS grp
      |  FROM numbered WHERE speed = 0
      |), dwells AS (
      |  SELECT device_id, min(t) AS dwell_start, max(t) AS dwell_end,
      |         count(1) AS n_pings,
      |         (min(t) % 180) - 90 + 0.5 AS latitude,
      |         (min(t) % 360) - 180 + 0.25 AS longitude
      |  FROM stop_runs GROUP BY device_id, grp
      |), zones(zone, lat_min, lat_max, lon_min, lon_max) AS (
      |  VALUES ('north_america', 15.0, 72.0, -170.0, -50.0),
      |         ('europe', 35.0, 72.0, -10.0, 40.0),
      |         ('south_cone', -60.0, -15.0, -90.0, -30.0),
      |         ('oceania', -50.0, -10.0, 110.0, 180.0)
      |)
      |SELECT device_id, dwell_start, dwell_end, n_pings,
      |       coalesce(z.zone, 'none') AS zone
      |FROM dwells LEFT JOIN zones z
      |  ON latitude >= lat_min AND latitude < lat_max
      | AND longitude >= lon_min AND longitude < lon_max
      |ORDER BY device_id, dwell_start""".stripMargin

  /** g14: harsh-driving event detection — the safety report every fleet
    * platform derives from consecutive speed readings: a speed jump of
    * ≥ 30 km/h between adjacent pings of a device flags as harsh
    * acceleration, a drop of ≥ 30 as harsh braking. One `lag` window per
    * device — the same single device_id hash shuffle as g07/g13; the
    * event rows are a filter over it, so nothing in the plan outgrows the
    * ping count. Speeds are integer-derived in both engines (emitted as
    * BIGINT), making the gate hash-exact. */
  def harshEventsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = Tables(spark, sfDir, "orders").select(
      concat(lit("dev-"), col("o_custkey")).as("device_id"),
      col("o_orderkey").cast("long").as("t"),
      ((col("o_orderkey") % 5) * 10).cast("long").as("speed"))
    val w = Window.partitionBy(col("device_id")).orderBy(col("t"))
    pings
      .withColumn("prev_t", lag(col("t"), 1).over(w))
      .withColumn("prev_speed", lag(col("speed"), 1).over(w))
      .withColumn("dspeed", col("speed") - col("prev_speed"))
      .filter(abs(col("dspeed")) >= 30)
      .select(col("device_id"), col("t"), col("prev_t"),
        col("prev_speed"), col("speed"), col("dspeed"),
        when(col("dspeed") > 0, lit("harsh_accel"))
          .otherwise(lit("harsh_brake")).as("kind"))
      .orderBy("device_id", "t")
  }

  /** DuckDB twin of [[harshEventsQuery]]: same ping synth, same lag. */
  val harshEventsOracleSql: String =
    """WITH pings AS (
      |  SELECT 'dev-' || o_custkey AS device_id, o_orderkey AS t,
      |         (o_orderkey % 5) * 10 AS speed
      |  FROM orders
      |), lagged AS (
      |  SELECT device_id, t,
      |    lag(t, 1) OVER w AS prev_t,
      |    lag(speed, 1) OVER w AS prev_speed,
      |    speed, speed - lag(speed, 1) OVER w AS dspeed
      |  FROM pings WINDOW w AS (PARTITION BY device_id ORDER BY t))
      |SELECT device_id, t, prev_t, prev_speed, speed, dspeed,
      |  CASE WHEN dspeed > 0 THEN 'harsh_accel' ELSE 'harsh_brake' END AS kind
      |FROM lagged WHERE abs(dspeed) >= 30
      |ORDER BY device_id, t""".stripMargin

  /** g15: per-device distance traveled — the odometer/utilization report:
    * consecutive ping positions become haversine legs (g03's formula over
    * the g13 position synth), summed per device. One `lag` window on the
    * same device_id shuffle every ping query rides, then one keyed agg.
    * Float discipline: each leg computes in double with the exact term
    * order g03 hash-matches, rounds to 6dp, and SUMS AS EXACT DECIMALS —
    * so the per-device total is addition-order-free across partitions
    * (a raw double sum would depend on partition merge order). */
  def dailyDistanceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = Tables(spark, sfDir, "orders").select(
      concat(lit("dev-"), col("o_custkey")).as("device_id"),
      col("o_orderkey").cast("long").as("t"),
      ((col("o_orderkey") % 180) - 90 + 0.5).as("lat"),
      ((col("o_orderkey") % 360) - 180 + 0.25).as("lon"))
    val w = Window.partitionBy(col("device_id")).orderBy(col("t"))
    pings
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .filter(col("plat").isNotNull)
      .select(col("device_id"),
        round(graft.functions.GeoFunctions.haversineKm(
          col("plat"), col("plon"), col("lat"), col("lon")), 6).as("leg"))
      .groupBy(col("device_id"))
      .agg(count(lit(1)).as("n_legs"),
        sum(col("leg").cast("decimal(30,6)")).cast("double").as("total_km"))
      .orderBy("device_id")
  }

  /** DuckDB twin of [[dailyDistanceQuery]]: same synth, same lag, same
    * haversine term order, same decimal-sum discipline. */
  val dailyDistanceOracleSql: String =
    """WITH pings AS (
      |  SELECT 'dev-' || o_custkey AS device_id, o_orderkey AS t,
      |    (o_orderkey % 180) - 90 + 0.5 AS lat,
      |    (o_orderkey % 360) - 180 + 0.25 AS lon
      |  FROM orders
      |), lagged AS (
      |  SELECT device_id, lat, lon,
      |    lag(lat, 1) OVER w AS plat, lag(lon, 1) OVER w AS plon
      |  FROM pings WINDOW w AS (PARTITION BY device_id ORDER BY t)
      |), legs AS (
      |  SELECT device_id,
      |    round(2 * 6371.0088 * asin(sqrt(
      |      sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
      |      + cos(radians(plat)) * cos(radians(lat))
      |        * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2))), 6)
      |      AS leg
      |  FROM lagged WHERE plat IS NOT NULL)
      |SELECT device_id, count(1) AS n_legs,
      |  CAST(sum(CAST(leg AS DECIMAL(30,6))) AS DOUBLE) AS total_km
      |FROM legs GROUP BY device_id ORDER BY device_id""".stripMargin

  /** g16: geofence entry/exit transitions — the alerting primitive g12's
    * static assignment implies but never emits: for each device's ping
    * history, the moments its containing zone CHANGES (entered europe,
    * left north_america, …). Zone resolution is the g12 broadcast range
    * join applied to every ping (not just the latest snapshot), then one
    * `lag(zone)` per device on the same single device_id hash shuffle
    * every ping query rides; transitions are a filter over it. At 100 TB
    * the plan is one scan + one broadcast + one keyed window — the zone
    * dimension stays 4 literal rows, so nothing grows with the fleet but
    * the ping scan itself. Zones are disjoint, so the per-ping join
    * matches at most once and cannot fan out. */
  def zoneTransitionsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = Tables(spark, sfDir, "orders").select(
      concat(lit("dev-"), col("o_custkey")).as("device_id"),
      col("o_orderkey").cast("long").as("t"),
      ((col("o_orderkey") % 180) - 90 + 0.5).as("lat"),
      ((col("o_orderkey") % 360) - 180 + 0.25).as("lon"))
    val zoned = pings.join(broadcast(fenceZones(spark)),
        col("lat") >= col("lat_min") && col("lat") < col("lat_max") &&
          col("lon") >= col("lon_min") && col("lon") < col("lon_max"),
        "left")
      .select(col("device_id"), col("t"),
        coalesce(col("zone"), lit("none")).as("zone"))
    val w = Window.partitionBy(col("device_id")).orderBy(col("t"))
    zoned
      .withColumn("prev_zone", lag(col("zone"), 1).over(w))
      .filter(col("prev_zone").isNotNull && col("prev_zone") =!= col("zone"))
      .select(col("device_id"), col("t"),
        col("prev_zone").as("from_zone"), col("zone").as("to_zone"))
      .orderBy("device_id", "t")
  }

  /** DuckDB twin of [[zoneTransitionsQuery]]: same ping synth, same zone
    * rows, same lag. */
  val zoneTransitionsOracleSql: String =
    """WITH pings AS (
      |  SELECT 'dev-' || o_custkey AS device_id, o_orderkey AS t,
      |    (o_orderkey % 180) - 90 + 0.5 AS lat,
      |    (o_orderkey % 360) - 180 + 0.25 AS lon
      |  FROM orders
      |), zones(zone, lat_min, lat_max, lon_min, lon_max) AS (
      |  VALUES ('north_america', 15.0, 72.0, -170.0, -50.0),
      |         ('europe', 35.0, 72.0, -10.0, 40.0),
      |         ('south_cone', -60.0, -15.0, -90.0, -30.0),
      |         ('oceania', -50.0, -10.0, 110.0, 180.0)
      |), zoned AS (
      |  SELECT device_id, t, coalesce(z.zone, 'none') AS zone
      |  FROM pings LEFT JOIN zones z
      |    ON lat >= lat_min AND lat < lat_max
      |   AND lon >= lon_min AND lon < lon_max
      |), lagged AS (
      |  SELECT device_id, t, zone,
      |    lag(zone, 1) OVER (PARTITION BY device_id ORDER BY t) AS prev_zone
      |  FROM zoned)
      |SELECT device_id, t, prev_zone AS from_zone, zone AS to_zone
      |FROM lagged
      |WHERE prev_zone IS NOT NULL AND prev_zone <> zone
      |ORDER BY device_id, t""".stripMargin

  /** DuckDB twin of [[haversineQuery]], same synth CTE and term order. */
  val haversineOracleSql: String =
    """WITH latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), info AS (
      |  SELECT 'dev-' || o_custkey AS device_id,
      |         (o_orderkey % 180) - 90 + 0.5 AS latitude,
      |         (o_orderkey % 360) - 180 + 0.25 AS longitude
      |  FROM latest WHERE rn = 1
      |)
      |SELECT device_id,
      |  round(2 * 6371.0088 * asin(sqrt(
      |    sin(radians(39.7392 - latitude) / 2) * sin(radians(39.7392 - latitude) / 2)
      |    + cos(radians(latitude)) * cos(radians(39.7392))
      |      * sin(radians(-104.9903 - longitude) / 2)
      |      * sin(radians(-104.9903 - longitude) / 2))), 4) AS dist_km
      |FROM info ORDER BY device_id""".stripMargin

  /** g04: Cursor-on-Target XML per fresh feature — the reference's sink
    * conversion (node-cot) as a gated, byte-stable string projection over
    * the flagship pipeline. */
  def cotQuery(spark: SparkSession, sfDir: String): DataFrame =
    GeotabPipeline.cotXml(flagship(spark, sfDir)).orderBy("id")

  /** g07: trip segmentation over a synthesized telemetry history — the
    * per-device analytic the reference's one-snapshot runs imply but can't
    * compute (SURVEY §1.4). Each order is one status ping (event second =
    * the globally-unique orderkey; speed cycles through 0/10/20/30/40 so
    * every 5th ping is a stop that closes a trip). Declarative
    * gaps-and-islands form ([[graft.streaming.TripSegmentation
    * .tripsRelational]]); the custom flatMapGroupsWithState operator is
    * spec-pinned to produce identical trips on the same pings. */
  def tripQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pings = Tables(spark, sfDir, "orders").select(
      concat(lit("dev-"), col("o_custkey")).as("device_id"),
      col("o_orderkey").cast("long").as("t"),
      ((col("o_orderkey") % 5) * 10).cast("double").as("speed"))
    graft.streaming.TripSegmentation.tripsRelational(pings)
      .orderBy("device_id", "trip_start_s")
  }

  /** g08: the custom stateful trip operator
    * ([[graft.streaming.TripSegmentation.trips]],
    * `flatMapGroupsWithState`) under REAL multi-batch streaming: the same
    * pings as g07 arrive as three time-ordered files processed one per
    * micro-batch (`maxFilesPerTrigger 1`), so per-device trip state must
    * survive micro-batch boundaries; the landed trips hash-match the SAME
    * relational oracle as g07. The idle timeout is set beyond the data
    * horizon: the relational twin drops the trailing open run, so no
    * timeout may flush it here either — what is gated is exactly the
    * closed-trip stream. */
  def streamTrips(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.TripSegmentation
    StreamGate(spark, "graft-g08", sfDir) { g =>
      val pings = Tables(spark, sfDir, "orders").select(
        concat(lit("dev-"), col("o_custkey")).as("deviceId"),
        col("o_orderkey").cast("long").as("tsec"),
        ((col("o_orderkey") % 5) * 10).cast("double").as("speed"))
      val maxT = pings.agg(max(col("tsec"))).head().getLong(0)
      val cuts = Seq(
        col("tsec") <= maxT / 3,
        col("tsec") > maxT / 3 && col("tsec") <= 2 * maxT / 3,
        col("tsec") > 2 * maxT / 3)
      // the file source picks up oldest-modified first: arrival order
      g.arriveSlices(cuts.map(c => pings.filter(c)))
      val stream = g.readIn(
          StructType.fromDDL("deviceId STRING, tsec BIGINT, speed DOUBLE"))
        .select(col("deviceId"), timestamp_seconds(col("tsec")).as("ts"),
          col("speed"))
        .as[TripSegmentation.StatusPing]
      val trips = TripSegmentation.trips(spark, stream,
        stopSpeed = 1.0, watermarkDelay = "10 minutes",
        idleTimeoutMs = Long.MaxValue / 4)
      // fixture-scale state-store sizing: one store instance per shuffle
      // partition per micro-batch; see StreamGate.shards
      g.drainParquet(trips.toDF())
      val landed = Tables.readParquet(spark, g.data)
        .select(col("deviceId").as("device_id"),
          (col("startMs") / 1000L).cast("long").as("trip_start_s"),
          (col("endMs") / 1000L).cast("long").as("trip_end_s"),
          col("nPings").cast("long").as("n_pings"),
          col("maxSpeed").as("max_speed"))
      // localize before the scope drops the scratch dir (slices + input +
      // ckpt + sink) — same lifecycle as the d20/q58/e* gates
      graft.ops.ExportOps.localize(landed, "device_id", "trip_start_s")
    }
  }

  /** DuckDB twin of [[tripQuery]]: same islands construction. */
  val tripOracleSql: String =
    """WITH pings AS (
      |  SELECT 'dev-' || o_custkey AS device_id,
      |         CAST(o_orderkey AS BIGINT) AS t,
      |         CAST((o_orderkey % 5) * 10 AS DOUBLE) AS speed
      |  FROM orders
      |), f AS (
      |  SELECT device_id, t, speed,
      |    CASE WHEN speed < 1.0 THEN 1 ELSE 0 END AS is_stop,
      |    SUM(CASE WHEN speed < 1.0 THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY device_id ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp,
      |    SUM(CASE WHEN speed < 1.0 THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY device_id) AS n_stops
      |  FROM pings
      |)
      |SELECT device_id,
      |  min(t) AS trip_start_s, max(t) AS trip_end_s,
      |  CAST(count(1) AS BIGINT) AS n_pings, max(speed) AS max_speed
      |FROM f WHERE is_stop = 0 AND grp < n_stops
      |GROUP BY device_id, grp
      |ORDER BY device_id, trip_start_s""".stripMargin

  /** Shared oracle CTE prefix: the synthesized entities + joined pipeline
    * (devices ⋈ latest-info, guarded driver left join, freshness filter).
    * `speedSql` parameterizes the info CTE's speed expression so the
    * two-scheduled-runs gate (g10) can oracle a SECOND snapshot whose
    * telemetry changed between runs. */
  private def oracleCteFor(speedSql: String): String = {
    val target = "CAST(o_orderkey % 200 AS DOUBLE) AS speed"
    // a silent no-match would union two identical base-speed runs and
    // point the g10 mismatch at the connector instead of this template
    require(oracleCtePrefixRaw.contains(target),
      "oracle prefix was reworded — update oracleCteFor's target")
    oracleCtePrefixRaw.replace(target, s"$speedSql AS speed")
  }

  private val oracleCtePrefix: String = oracleCtePrefixRaw

  private lazy val oracleCtePrefixRaw: String =
    """WITH devices AS (
      |  SELECT 'dev-' || c_custkey AS id,
      |         'VIN' || c_custkey AS vin,
      |         CASE WHEN c_custkey % 5 = 0 THEN NULL
      |              WHEN c_custkey % 5 = 1 THEN ''
      |              ELSE 'S' || c_nationkey END AS license_state_raw,
      |         CASE WHEN c_custkey % 7 = 0 THEN ''
      |              WHEN c_custkey % 7 = 1 THEN NULL
      |              ELSE 'P' || c_custkey END AS license_plate_raw,
      |         CASE WHEN c_custkey % 11 = 0 THEN NULL
      |              WHEN c_custkey % 11 = 1 THEN ''
      |              ELSE c_name END AS name_raw
      |  FROM customer
      |), latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), info AS (
      |  SELECT 'dev-' || o_custkey AS device_id,
      |         o_orderdate AS datetime,
      |         (o_orderkey % 180) - 90 + 0.5 AS latitude,
      |         (o_orderkey % 360) - 180 + 0.25 AS longitude,
      |         CAST(o_orderkey % 200 AS DOUBLE) AS speed,
      |         CAST(o_orderkey % 360 AS DOUBLE) AS bearing,
      |         CASE WHEN o_orderkey % 3 = 1 THEN 's' || (o_orderkey % 100)
      |              WHEN o_orderkey % 3 = 2 THEN 'sX-' || o_orderkey
      |              ELSE 'UnknownDriverId' END AS driver_id,
      |         (o_orderkey % 3 <> 0) AS driver_is_object,
      |         'g' || (o_custkey % 5) AS groups
      |  FROM latest WHERE rn = 1
      |), drivers AS (
      |  SELECT 's' || s_suppkey AS d_id, s_name AS d_name,
      |         'c' || s_suppkey AS d_comment, '555-' || s_suppkey AS d_phone,
      |         'F' || s_suppkey AS d_first, 'L' || s_suppkey AS d_last,
      |         'D' || (s_suppkey % 3) AS d_designation
      |  FROM supplier
      |), joined AS (
      |  SELECT * FROM devices d
      |  JOIN info i ON d.id = i.device_id
      |  LEFT JOIN drivers dr ON i.driver_is_object AND i.driver_id = dr.d_id
      |  WHERE i.datetime > (SELECT max(o_orderdate) FROM orders) - INTERVAL 365 DAY
      |)""".stripMargin

  /** DuckDB oracle mirroring [[flagship]] exactly. */
  val flagshipOracleSql: String =
    oracleCtePrefix + flagshipSelectSql + "\nORDER BY id"

  /** g10: both scheduled runs' landings — run 1 at the base speed, run 2
    * after the fleet's telemetry changed (speed + 7 km/h). */
  val twoRunsOracleSql: String =
    s"""SELECT * FROM (
       |${oracleCtePrefix + flagshipSelectSql}
       |) UNION ALL SELECT * FROM (
       |${oracleCteFor("CAST(o_orderkey % 200 + 7 AS DOUBLE)") + flagshipSelectSql}
       |)
       |ORDER BY id, speed_ms""".stripMargin

  private lazy val flagshipSelectSql: String =
    """
      |SELECT 'geotab-' || device_id AS id,
      |       CASE WHEN name_raw IS NOT NULL AND name_raw <> '' THEN name_raw
      |            ELSE coalesce(license_state_raw, 'US') || '-' ||
      |                 (CASE WHEN license_plate_raw IS NULL OR license_plate_raw = ''
      |                       THEN 'Unknown' ELSE license_plate_raw END) END AS callsign,
      |       bearing AS course,
      |       datetime AS start_ts,
      |       speed * 0.277778 AS speed_ms,
      |       longitude, latitude, vin,
      |       CASE WHEN license_state_raw IS NULL OR license_state_raw = ''
      |            THEN 'US' ELSE license_state_raw END AS license_state,
      |       CASE WHEN license_plate_raw IS NULL OR license_plate_raw = ''
      |            THEN 'Unknown' ELSE license_plate_raw END AS license_plate,
      |       CASE WHEN name_raw IS NULL OR name_raw = ''
      |            THEN 'No Name' ELSE name_raw END AS vehicle_name,
      |       groups,
      |       d_name AS driver_username, d_first AS driver_first_name,
      |       d_last AS driver_last_name, d_phone AS driver_phone,
      |       d_designation AS driver_designation, d_comment AS driver_comment
      |FROM joined
      |WHERE (CASE WHEN name_raw IS NULL OR name_raw = ''
      |            THEN 'No Name' ELSE name_raw END) LIKE 'C%'""".stripMargin

  /** DuckDB twin of [[cotQuery]]: identical CTEs, identical %.4f renders,
    * identical escape chain. */
  val cotOracleSql: String = oracleCtePrefix +
    """
      |SELECT 'geotab-' || device_id AS id,
      |  '<event version="2.0" uid="geotab-' || device_id ||
      |  '" type="a-f-G-E-V-C" how="m-g" time="' ||
      |    strftime(datetime, '%Y-%m-%dT%H:%M:%SZ') ||
      |  '" start="' || strftime(datetime, '%Y-%m-%dT%H:%M:%SZ') ||
      |  '" stale="' || strftime(datetime + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%SZ') ||
      |  '"><point lat="' || printf('%.4f', CAST(latitude AS DOUBLE)) ||
      |  '" lon="' || printf('%.4f', CAST(longitude AS DOUBLE)) ||
      |  '" hae="9999999.0" ce="9999999.0" le="9999999.0"/>' ||
      |  '<detail><contact callsign="' ||
      |    replace(replace(replace(replace(
      |      CASE WHEN name_raw IS NOT NULL AND name_raw <> '' THEN name_raw
      |           ELSE coalesce(license_state_raw, 'US') || '-' ||
      |                (CASE WHEN license_plate_raw IS NULL OR license_plate_raw = ''
      |                      THEN 'Unknown' ELSE license_plate_raw END) END,
      |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
      |  '"/><track speed="' || printf('%.4f', CAST(speed * 0.277778 AS DOUBLE)) ||
      |  '" course="' || printf('%.4f', CAST(bearing AS DOUBLE)) ||
      |  '"/><remarks>vin=' ||
      |    replace(replace(replace(replace(vin,
      |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
      |  '</remarks></detail></event>' AS cot_xml
      |FROM joined
      |WHERE (CASE WHEN name_raw IS NULL OR name_raw = ''
      |            THEN 'No Name' ELSE name_raw END) LIKE 'C%'
      |ORDER BY id""".stripMargin
}
