package graft

/** Micro-timing for single queries: runs each named query twice (cold+warm)
  * at the given sfDir. Usage: runMain graft.TimeQuery <sfDir> <name> [name...] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        metrics.start(s"$name#$i")
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        metrics.finish()
        println(f"[time] $name run$i: $dt%.2fs rows=$n " +
          s"shuffle_bytes=${metrics.shuffleBytes(s"$name#$i")} " +
          s"shuffle_recs=${metrics.shuffleRecords(s"$name#$i")} " +
          s"rows_read=${metrics.rowsRead(s"$name#$i")}")
      }
    }
    spark.stop()
  }
}
