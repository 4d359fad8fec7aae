package graft.ops

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Property specs for the round-10 second-wave operators — the invariants
  * the DuckDB value gates can't see.
  */
class R10OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q92: every grid instant lies strictly between its two neighbours") {
    val rows = DedupOps.cachedShared(
      SparkEntry.queries("q92_resample_lerp")(spark, sf))
    try {
      assert(rows.count() > 0, "interior grid should be non-empty at sf0.001")
      // t0 <= g < t1 is the no-div-by-zero / both-neighbours-exist
      // guarantee the Scaladoc derives; a violation means the is_grid
      // tie-break or the interior-bounds arithmetic regressed
      val bad = rows.filter(!(col("t0") <= col("grid_ms") &&
        col("grid_ms") < col("t1") && col("value").isNotNull))
      assert(bad.count() === 0L, "grid instant outside its neighbour span")
    } finally rows.unpersist()
  }

  test("q93: the observed metrics equal the export pass's own aggregates") {
    def run(): Map[String, Double] =
      SparkEntry.queries("q93_observed_metrics")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val metrics = run()
    val expected = Tables(spark, sf, "events")
      .filter(col("event_type") =!= "error").count()
    assert(metrics("n_rows") === expected.toDouble,
      "the observe side-channel must see exactly the exported rows")
    assert(metrics("n_null_value") === 0.0)
    assert(metrics("min_ms") <= metrics("max_ms"))
    // a second invocation builds a fresh Observation — bench reps and
    // verify runs replay without listener-name collisions
    assert(run() === metrics)
  }

  // one gate per former scratch lifecycle: a hand delete after the write
  // (q93), a gate scope (e01), a createTempDirectory scope (g10) and a
  // StreamGate (q65)
  Seq("q93_observed_metrics" -> "graft_observe",
      "e01_training_export" -> "graft_export",
      "g10_stream_two_runs" -> "graft_g10",
      "q65_stream_dedup" -> "graft_sdd").foreach { case (gate, prefix) =>
    test(s"${gate.take(3)}: a finished run leaves no $prefix scratch behind") {
      val base = ExportOps.withScratch(prefix, sf)(_.getParentFile)
      val mine = s"_${ProcessHandle.current().pid()}_"
      def scratchDirs() = Option(base.list()).toSeq.flatten
        .filter(n => n.startsWith(prefix + "_") && n.contains(mine)).toSet
      val before = scratchDirs()
      SparkEntry.queries(gate)(spark, sf).collect()
      assert(scratchDirs() -- before === Set.empty[String])
    }
  }

  test("q94: map-surface stats agree with the relational replay") {
    val viaMap = SparkEntry.queries("q94_map_funcs")(spark, sf)
    val relational = Tables(spark, sf, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("int").as("n_types"),
        count_if(col("n") >= 5).cast("int").as("n_heavy"),
        sum(col("n")).as("total"),
        (sum(col("n")) * 2).as("twice_total"),
        coalesce(max(when(col("event_type") === "click", col("n"))), lit(0L))
          .as("n_clicks"))
    assert(viaMap.exceptAll(relational).isEmpty &&
      relational.exceptAll(viaMap).isEmpty,
      "map-typed path diverged from the long-format aggregation")
  }
}
