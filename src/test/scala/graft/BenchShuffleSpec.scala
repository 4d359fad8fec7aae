package graft

/** Shuffle-byte / rows-read regression pins (round-7 verdict item 4).
  *
  * Wall-time on this host is a weak regression signal — BASELINE.md
  * documents 83–137 s same-build swings — so the bench now records
  * per-query {shuffle_bytes, rows} plan fingerprints via [[BenchMetrics]],
  * and this spec pins them for representative cache-free queries at
  * sf0.001 under the test session (local[8], 8 shuffle partitions).
  * Rows read are an exact function of plan + data and pinned exactly;
  * shuffle bytes compress per-partition so they carry small layout
  * jitter, and the gate fails on >20% growth (a regression that adds a
  * shuffle stage or widens shuffled rows is a multiple, not 20%).
  */
class BenchShuffleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // name -> (pinned shuffle bytes, pinned rows read)
  private val pins: Map[String, (Long, Long)] = Map(
    "q01_pricing_summary" -> (442L, 6000L),
    "q03_join_inner" -> (59L, 1650L),
    "q12_window_rank" -> (7511L, 1500L),
    "q24_window_tumbling" -> (9876L, 1000L),
    "t06_tfidf" -> (7371L, 1500L),
    // round-8 additions (measured under the same local[8]/8-partition
    // session): q70's grid join, q71's single user window, t20's two
    // corpus aggs + scored-set joins
    "q70_gap_fill_locf" -> (678L, 1000L),
    "q71_transition_matrix" -> (20484L, 1000L),
    "t20_bm25" -> (46593L, 2500L),
  )

  test("pinned queries: shuffle bytes within +20% of pin, rows read exact") {
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    // the pins are a function of the shuffle partition count (segment
    // overhead scales with map-tasks × partitions), so pin the conf too:
    // the GraftSession front-door test legitimately retunes the shared
    // session to host-sized partitions, and suite order must not leak
    // that into these measurements
    ops.ExportOps.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
    try {
      val measured = pins.keys.toSeq.sorted.map { name =>
        metrics.start(name)
        try SparkEntry.queries(name)(spark, sf).count()
        finally metrics.finish()
        name -> ((metrics.shuffleBytes(name), metrics.rowsRead(name)))
      }
      info(measured.map { case (n, (s, r)) => s"$n shuffle=$s rows=$r" }
        .mkString("; "))
      measured.foreach { case (name, (gotShuffle, gotRows)) =>
        val (pinShuffle, pinRows) = pins(name)
        assert(gotRows === pinRows, s"$name rows read drifted from pin")
        assert(gotShuffle <= pinShuffle * 12L / 10L,
          s"$name shuffle bytes grew >20% over pin $pinShuffle: $gotShuffle")
        assert(gotShuffle >= pinShuffle * 8L / 10L,
          s"$name shuffle bytes shrank >20% under pin $pinShuffle " +
            s"(stale pin?): $gotShuffle")
      }
    } finally spark.sparkContext.removeSparkListener(metrics)
    }
  }
}
