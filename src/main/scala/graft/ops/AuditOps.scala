package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality constraint audit (the Deequ/great-expectations shape): a
  * fixed suite of checks evaluated in a handful of full-scan aggregations,
  * emitted as one small (check, metric, passed) table — the gate every
  * production pipeline runs before shipping a snapshot downstream.
  *
  * Scale shape: each check is a partial+final hash aggregation (map-side
  * combined) or an anti-join on the join key; nothing collects until the
  * per-check 1-row results union. At 100 TB the audit costs a bounded
  * number of scans (Spark shares the cached scan across same-source
  * checks) — never a sort, never a cross product.
  */
object AuditOps {

  /** q56: audit the orders table against customer (row volume, null-free
    * keys, primary-key uniqueness, referential integrity, value ranges). */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val orders = Tables(s, d, "orders")
    val customer = Tables(s, d, "customer")

    def check(name: String, metric: DataFrame): DataFrame =
      metric.select(lit(name).as("check_name"),
        col("metric").cast("long").as("metric"),
        (col("metric") === 0L).as("passed"))

    val rowcount = orders.agg(count(lit(1)).as("n"))
      .select(lit("orders_nonempty").as("check_name"), col("n").as("metric"),
        (col("n") > 0L).as("passed"))
    val nullKeys = check("o_custkey_nulls",
      orders.agg(count_if(col("o_custkey").isNull).as("metric")))
    val dupPk = check("o_orderkey_dupes",
      orders.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("metric")))
    val orphans = check("orders_orphaned",
      orders.join(customer, orders("o_custkey") === customer("c_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("metric")))
    val negPrice = check("o_totalprice_negative",
      orders.agg(count_if(col("o_totalprice") < 0).as("metric")))
    val badStatus = check("o_orderstatus_domain",
      orders.agg(count_if(!col("o_orderstatus").isin("O", "F", "P")).as("metric")))

    rowcount.unionByName(nullKeys).unionByName(dupPk).unionByName(orphans)
      .unionByName(negPrice).unionByName(badStatus)
      .orderBy("check_name")
  }

  /** q60: snapshot drift audit — the metric-comparison layer on top of
    * q56's constraints (Deequ "anomaly detection on metrics"): the standing
    * snapshot (l_orderkey % 10 != 0) versus the newly-arrived delta batch
    * (% 10 == 0), compared on volume, mean, distinct cardinality, and the
    * categorical distribution's total-variation distance. A batch that
    * drifts past threshold is quarantined before it pollutes training data.
    *
    * Cross-engine exactness: averages derive from decimal sums; the TVD is
    * computed with an exact-numerator trick — sum |n_old·N_new −
    * n_new·N_old| over flags in DECIMAL(38,0) (the products overflow Long
    * past ~3e9 rows a side), divided once by N_old·N_new — so no
    * double-addition-order can differ between engines. Shape: one
    * conditional-aggregation scan for the scalar metrics plus one grouped
    * scan for the TVD; both map-side combined, nothing collects. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
    val isNew = col("l_orderkey") % 10 === 0
    val one = li.agg(
      count_if(!isNew).as("n_old"), count_if(isNew).as("n_new"),
      sum(when(!isNew, col("l_quantity").cast("decimal(30,2)"))).as("sq_old"),
      sum(when(isNew, col("l_quantity").cast("decimal(30,2)"))).as("sq_new"),
      countDistinct(when(!isNew, col("l_partkey"))).as("dp_old"),
      countDistinct(when(isNew, col("l_partkey"))).as("dp_new"))
    val scalars = one.select(
      struct(lit("row_count").as("metric"),
        col("n_old").cast("double").as("old_value"),
        col("n_new").cast("double").as("new_value"),
        (col("n_new").cast("double") / col("n_old")).as("drift"),
        (col("n_new").cast("double") / col("n_old") > 0.05).as("passed")).as("r1"),
      struct(lit("avg_quantity").as("metric"),
        (col("sq_old").cast("double") / col("n_old")).as("old_value"),
        (col("sq_new").cast("double") / col("n_new")).as("new_value"),
        abs(col("sq_new").cast("double") / col("n_new") -
          col("sq_old").cast("double") / col("n_old")).as("drift"),
        (abs(col("sq_new").cast("double") / col("n_new") -
          col("sq_old").cast("double") / col("n_old")) <= 2.0).as("passed")).as("r2"),
      struct(lit("distinct_partkeys").as("metric"),
        col("dp_old").cast("double").as("old_value"),
        col("dp_new").cast("double").as("new_value"),
        (col("dp_new").cast("double") / col("dp_old")).as("drift"),
        (col("dp_new") > 0L).as("passed")).as("r3"))
      .select(explode(array(col("r1"), col("r2"), col("r3"))).as("r"))
      .select(col("r.*"))
    val flagCounts = li.groupBy(col("l_returnflag"))
      .agg(count_if(!isNew).as("f_old"), count_if(isNew).as("f_new"))
    // the cross products are bounded by n_old*n_new, which overflows Long
    // past ~3e9 rows a side — decimal keeps the numerator exact (and both
    // engines agree bit-for-bit) at any corpus size
    val tvd = flagCounts.crossJoin(broadcast(one.select("n_old", "n_new")))
      .agg(sum(abs(col("f_old").cast("decimal(38,0)") * col("n_new") -
            col("f_new").cast("decimal(38,0)") * col("n_old")))
          .as("num"),
        first(col("n_old")).as("no"), first(col("n_new")).as("nn"))
      .select(lit("returnflag_tvd").as("metric"),
        lit(0.0).as("old_value"), lit(0.0).as("new_value"),
        (col("num").cast("double") /
          (col("no").cast("double") * col("nn"))).as("drift"),
        (col("num").cast("double") /
          (col("no").cast("double") * col("nn")) <= 0.05).as("passed"))
    scalars.unionByName(tvd).orderBy("metric")
  }

  /** q93: IN-FLIGHT observability (`Dataset.observe`) — q56 audits a
    * table with dedicated scans; this gates the metrics a pipeline
    * collects DURING its main pass: named aggregate expressions evaluate
    * as accumulator side-outputs of the export job itself, so at 100 TB
    * the quality numbers cost ZERO extra scans (q56's audit is a bounded
    * but real re-read; this one rides the write the pipeline was doing
    * anyway — the Deequ "profiling while writing" shape). The observed
    * pass is a filtered training-export write; the landed metrics
    * (volume, null count, decimal value sum, ms span) must hash-match
    * the oracle aggregating the same filter — pinning that the
    * side-channel saw exactly the exported rows, no more, no fewer.
    * The export-row-count invariant (parquet rows == n_rows metric) is
    * spec-pinned in AuditObserveSpec.
    *
    * `Observation.get` blocks on the write's QueryExecutionListener
    * callback — no polling; [[StableAgg.moneySum]] keeps the one
    * float-valued metric addition-order-free. Metrics surface as a
    * (metric, value) table in DOUBLE (counts are ≪ 2^53 — exact). */
  private def q93(s: SparkSession, d: String): DataFrame =
    ExportOps.withScratch("graft_observe", d) { out =>
      val obs = org.apache.spark.sql.Observation("export_metrics")
      Tables(s, d, "events")
        .filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_millis(col("ts")).as("ms"))
        .observe(obs,
          count(lit(1)).as("n_rows"),
          count_if(col("value").isNull).as("n_null_value"),
          StableAgg.moneySum(col("value")).as("sum_value"),
          min(col("ms")).as("min_ms"),
          max(col("ms")).as("max_ms"))
        .write.mode("overwrite").parquet(s"$out/data")
      val m = obs.get
      // the metrics are on the driver now; the export served only as the
      // observed pass (the result frame below never reads it)
      def dbl(v: Any): Double = v match {
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case x: Double => x
        case b: java.math.BigDecimal => b.doubleValue
        case other => other.toString.toDouble
      }
      import s.implicits._
      m.toSeq.map { case (k, v) => (k, dbl(v)) }.sortBy(_._1)
        .toDF("metric", "value")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_quality_audit" -> q56 _, "q60_snapshot_drift" -> q60 _,
    "q93_observed_metrics" -> q93 _)

  val oracle: Map[String, String] = Map(
    "q93_observed_metrics" ->
      """SELECT * FROM (
        |  SELECT 'max_ms' AS metric, CAST(max(epoch_ms(ts)) AS DOUBLE) AS value
        |  FROM events WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT 'min_ms', CAST(min(epoch_ms(ts)) AS DOUBLE)
        |  FROM events WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT 'n_null_value', CAST(count_if(value IS NULL) AS DOUBLE)
        |  FROM events WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT 'n_rows', CAST(count(1) AS DOUBLE)
        |  FROM events WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT 'sum_value',
        |    CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE)
        |  FROM events WHERE event_type <> 'error'
        |) ORDER BY metric""".stripMargin,
    "q60_snapshot_drift" ->
      """WITH one AS (
        |  SELECT CAST(count_if(l_orderkey % 10 <> 0) AS BIGINT) AS n_old,
        |         CAST(count_if(l_orderkey % 10 = 0) AS BIGINT) AS n_new,
        |         sum(CASE WHEN l_orderkey % 10 <> 0
        |             THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS sq_old,
        |         sum(CASE WHEN l_orderkey % 10 = 0
        |             THEN CAST(l_quantity AS DECIMAL(30,2)) END) AS sq_new,
        |         CAST(count(DISTINCT CASE WHEN l_orderkey % 10 <> 0
        |             THEN l_partkey END) AS BIGINT) AS dp_old,
        |         CAST(count(DISTINCT CASE WHEN l_orderkey % 10 = 0
        |             THEN l_partkey END) AS BIGINT) AS dp_new
        |  FROM lineitem),
        |fc AS (
        |  SELECT l_returnflag,
        |         CAST(count_if(l_orderkey % 10 <> 0) AS BIGINT) AS f_old,
        |         CAST(count_if(l_orderkey % 10 = 0) AS BIGINT) AS f_new
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (
        |  SELECT sum(abs(CAST(f_old AS DECIMAL(38,0)) * n_new
        |              - CAST(f_new AS DECIMAL(38,0)) * n_old)) AS num,
        |         max(n_old) AS no, max(n_new) AS nn
        |  FROM fc CROSS JOIN one)
        |SELECT * FROM (
        |  SELECT 'row_count' AS metric, CAST(n_old AS DOUBLE) AS old_value,
        |         CAST(n_new AS DOUBLE) AS new_value,
        |         CAST(n_new AS DOUBLE) / n_old AS drift,
        |         CAST(n_new AS DOUBLE) / n_old > 0.05 AS passed FROM one
        |  UNION ALL
        |  SELECT 'avg_quantity', CAST(sq_old AS DOUBLE) / n_old,
        |         CAST(sq_new AS DOUBLE) / n_new,
        |         abs(CAST(sq_new AS DOUBLE) / n_new
        |             - CAST(sq_old AS DOUBLE) / n_old),
        |         abs(CAST(sq_new AS DOUBLE) / n_new
        |             - CAST(sq_old AS DOUBLE) / n_old) <= 2.0 FROM one
        |  UNION ALL
        |  SELECT 'distinct_partkeys', CAST(dp_old AS DOUBLE),
        |         CAST(dp_new AS DOUBLE),
        |         CAST(dp_new AS DOUBLE) / dp_old, dp_new > 0 FROM one
        |  UNION ALL
        |  SELECT 'returnflag_tvd', 0.0, 0.0,
        |         CAST(num AS DOUBLE) / (CAST(no AS DOUBLE) * nn),
        |         CAST(num AS DOUBLE) / (CAST(no AS DOUBLE) * nn) <= 0.05 FROM t
        |) ORDER BY metric""".stripMargin,
    "q56_quality_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders_nonempty' AS check_name, CAST(count(1) AS BIGINT) AS metric,
        |         count(1) > 0 AS passed FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey_nulls', CAST(count_if(o_custkey IS NULL) AS BIGINT),
        |         count_if(o_custkey IS NULL) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey_dupes',
        |         CAST(count(1) - count(DISTINCT o_orderkey) AS BIGINT),
        |         count(1) - count(DISTINCT o_orderkey) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'orders_orphaned', CAST(count(1) AS BIGINT), count(1) = 0
        |  FROM orders o WHERE NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'o_totalprice_negative',
        |         CAST(count_if(o_totalprice < 0) AS BIGINT),
        |         count_if(o_totalprice < 0) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus_domain',
        |         CAST(count_if(o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
        |         count_if(o_orderstatus NOT IN ('O','F','P')) = 0 FROM orders
        |) ORDER BY check_name""".stripMargin)
}
