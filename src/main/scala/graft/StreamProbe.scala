package graft

/** Local iteration harness for the streaming-gate cost diet: times each
  * named gate N times warm in one JVM so harness-overhead changes are
  * measurable without bench noise. Each gate first runs once untimed, so
  * its staging memo and JIT cost land in no timed rep; that warm rep
  * prints no `[progress]` lines. Not part of the Bench/Verify artifact
  * contract. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q62_stream_interval_join", "q99_stream_full_outer_join",
      "q106_stream_join_agg", "q89_stream_session_timers",
      "q103_late_redelivery_screen", "q105_stream_observe",
      "q67_stream_outer_join", "q95_stream_semi_join",
      "g08_stream_trips", "q85_stream_chained_agg")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // queries started while `warming` is set are the warm reps'; started
    // events reach listeners synchronously, progress events later
    @volatile var warming = false
    val warmRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    // GRAFT_PROBE_PROGRESS=1: dump each micro-batch's duration breakdown
    if (sys.env.contains("GRAFT_PROBE_PROGRESS"))
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryStartedEvent): Unit =
            if (warming) { warmRuns.add(e.runId); () }
          override def onQueryProgress(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            if (!warmRuns.contains(p.runId)) {
              val so = p.stateOperators.map(s =>
                s"${s.operatorName}{upd=${s.allUpdatesTimeMs}, rm=${s.allRemovalsTimeMs}, commit=${s.commitTimeMs}, rows=${s.numRowsTotal}, shards=${s.numShufflePartitions}}").mkString(" ")
              println(s"[progress] batch=${p.batchId} rows=${p.numInputRows} " +
                s"durations=${p.durationMs} state=[$so]")
            }
          }
          override def onQueryTerminated(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
    SparkEntry.queries("g05_stream_flagship")(spark, sfDir).count() // warm
    // GRAFT_PROBE_SHARDS="2,8": interleave the state-shard override within
    // one JVM (rep1@2, rep1@8, rep2@2, ...) so A/B comparisons are immune
    // to the load drift that order-separated runs pick up.
    val shardsList = sys.env.get("GRAFT_PROBE_SHARDS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val shardsProp = streaming.StreamGate.ShardsProp
    names.foreach { n =>
      warming = true
      try {
        shardsList.headOption.foreach(sys.props(shardsProp) = _)
        SparkEntry.queries(n)(spark, sfDir).count()
      } finally { warming = false; sys.props.remove(shardsProp) }
      if (shardsList.nonEmpty) {
        val reps = 3
        val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
          .withDefaultValue(Vector.empty)
        try for (_ <- 1 to reps; sh <- shardsList) {
          sys.props(shardsProp) = sh
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          times(sh) = times(sh) :+ (System.nanoTime() - t0) / 1e9
        } finally sys.props.remove(shardsProp)
        shardsList.foreach { sh =>
          val ts = times(sh)
          println(f"$n%-32s shards=$sh%-3s ${ts.map(t => f"$t%.2f").mkString(" ")} median=${ts.sorted.apply(reps / 2)}%.2f")
        }
      } else {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$n%-32s ${ts.map(t => f"$t%.2f").mkString(" ")} median=${ts.sorted.apply(1)}%.2f")
      }
    }
    spark.stop()
  }
}
