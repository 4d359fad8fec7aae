package graft.functions

import graft.{BenchMetrics, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pins for the two round-13 native-function additions the driver's hash
  * gates can't check:
  *
  *  - `graft_hist` ([[HistogramAgg]], TypedImperativeAggregate): plans an
  *    ObjectHashAggregate with a PARTIAL stage (map-side combine — the
  *    buffer, not the rows, crosses the shuffle), the result is invariant
  *    under repartitioning (the merge path is exercised and commutative),
  *    the serialize/deserialize pair round-trips, and the SQL surface
  *    serves the same values as the Column surface;
  *  - `graft_normalize` ([[NormalizeText]]): idempotent, handles
  *    composed/decomposed equivalence, null-safe, and available from SQL.
  */
class NativeAggSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def cents = Tables(spark, d, "events")
    .select(col("event_type"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))

  test("graft_hist plans an ObjectHashAggregate with a partial (map-side) stage") {
    GraftFunctions.registerAll(spark)
    val df = cents.groupBy(col("event_type"))
      .agg(call_function("graft_hist", col("cents"), lit(64L)).as("hist"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must ride ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_graft_hist"),
      s"the map side must fold rows into local buffers before the shuffle:\n$plan")
  }

  test("graft_hist is partitioning-invariant (merge is exercised and commutative)") {
    GraftFunctions.registerAll(spark)
    def run(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(call_function("graft_hist", col("cents"), lit(64L)).as("hist"))
      .select(col("event_type"), explode(col("hist")).as("h"))
      .select(col("event_type"), col("h.bin"), col("h.n"))
      .orderBy("event_type", "bin")
      .collect().toSeq
    assert(run(cents) === run(cents.repartition(7)),
      "histogram must not depend on the partition layout")
  }

  test("graft_hist buffer serialization round-trips") {
    val agg = HistogramAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 64L)
    val buf = agg.createAggregationBuffer()
    buf.update(-3L, 7L)
    buf.update(0L, 1L)
    buf.update(123456789L, 42L)
    assert(agg.deserialize(agg.serialize(buf)) === buf)
  }

  test("graft_hist floors negative values toward -inf (floorDiv, both engines' //)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val rows = Seq(-130L, -64L, -1L, 0L, 63L, 64L).toDF("v")
      .agg(call_function("graft_hist", col("v"), lit(64L)).as("h"))
      .select(explode(col("h")).as("e"))
      .select(col("e.bin"), col("e.n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((-3L, 1L), (-1L, 2L), (0L, 2L), (1L, 1L)))
  }

  test("graft_hist SQL surface matches the Column surface") {
    GraftFunctions.registerAll(spark)
    cents.createOrReplaceTempView("hist_in")
    val viaSql = spark.sql(
      """SELECT event_type, graft_hist(cents, 64) AS hist
        |FROM hist_in GROUP BY event_type""".stripMargin)
      .select(col("event_type"), explode(col("hist")).as("h"))
      .orderBy(col("event_type"), col("h.bin"))
      .collect().toSeq
    val viaColumn = cents.groupBy(col("event_type"))
      .agg(call_function("graft_hist", col("cents"), lit(64L)).as("hist"))
      .select(col("event_type"), explode(col("hist")).as("h"))
      .orderBy(col("event_type"), col("h.bin"))
      .collect().toSeq
    assert(viaSql === viaColumn)
  }

  test("graft_topk: buffer keeps the best k under (v DESC, id ASC), merge included") {
    val b = new TopKAgg.Buffer(3)
    Seq((5L, 10L), (7L, 2L), (5L, 3L), (1L, 1L), (7L, 9L), (6L, 4L))
      .foreach { case (v, i) => b.offer(v, i) }
    assert(b.sorted.toSeq === Seq((7L, 2L), (7L, 9L), (6L, 4L)))
    val c = new TopKAgg.Buffer(3)
    Seq((8L, 5L), (2L, 6L)).foreach { case (v, i) => c.offer(v, i) }
    c.foreach((v, i) => b.offer(v, i)) // merge c into b
    assert(b.sorted.toSeq === Seq((8L, 5L), (7L, 2L), (7L, 9L)))
  }

  test("graft_topk shuffles strictly fewer records than the window twin, same answer") {
    GraftFunctions.registerAll(spark)
    val orders = Tables(spark, d, "orders")
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
        col("o_orderkey"))
    def viaAgg = orders.groupBy(col("o_custkey"))
      .agg(call_function("graft_topk",
        col("cents"), col("o_orderkey"), lit(3)).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("o_orderkey"), col("e.v").as("cents"))
    def viaWindow = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("cents").desc, col("o_orderkey").asc)
      orders.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("cents"))
    }
    // the plan shape claim: partial (map-side) ObjectHashAggregate
    val aggPlan = viaAgg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("ObjectHashAggregate") &&
      aggPlan.contains("partial_graft_topk"),
      s"bounded top-k must partial-aggregate before the shuffle:\n$aggPlan")
    // the byte claim: fewer records cross the exchange than the window's
    // shuffle-everything — measured from task metrics on fresh runs
    val m = new BenchMetrics
    spark.sparkContext.addSparkListener(m)
    val (aggRows, winRows) =
      try {
        m.start("agg"); val a = viaAgg.orderBy("o_custkey", "rank").collect(); m.finish()
        m.start("win"); val w0 = viaWindow.orderBy("o_custkey", "rank").collect(); m.finish()
        assert(a.toSeq === w0.toSeq, "aggregate and window answers must agree")
        (m.shuffleRecords("agg"), m.shuffleRecords("win"))
      } finally spark.sparkContext.removeSparkListener(m)
    assert(aggRows < winRows,
      s"bounded buffers must shuffle fewer records: agg=$aggRows window=$winRows")
  }

  test("graft_normalize: idempotent, composed==decomposed, null-safe, SQL-served") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    // composed U+00C9 vs decomposed E + U+0301 vs plain — one canon form
    val composed = "Éclair"
    val decomposed = "E" + "\u0301" + "clair" // E + combining acute
    val rows = Seq(composed, decomposed, "ECLAIR", "eclair")
      .toDF("s")
      .select(NormalizeText.normalizeText(col("s")).as("n"))
      .collect().map(_.getString(0)).toSet
    assert(rows === Set("eclair"),
      s"all four spellings must share one canonical form, got $rows")
    // idempotence: normalize(normalize(x)) == normalize(x)
    val once = NormalizeText.normalize("Crème BRÛLÉE à côté")
    assert(NormalizeText.normalize(once) === once)
    // null-safety through the expression path
    val withNull = Seq(Some("Ünïted"), None).toDF("s")
      .select(NormalizeText.normalizeText(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(withNull === Seq(Some("united"), None))
    // SQL front door
    assert(spark.sql("SELECT graft_normalize('Émigré') AS n")
      .head().getString(0) === "emigre")
  }
}
