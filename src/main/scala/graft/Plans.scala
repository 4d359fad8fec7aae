package graft

/** Physical-plan audit: prints the formatted plan for representative
  * queries so scan pushdown (PushedFilters), column pruning (ReadSchema),
  * join strategies and codegen spans can be inspected per round.
  * Usage: sbt "runMain graft.Plans [queryName ...]"  (default: a curated set)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_filter_project", "q04_join_multiway",
        "q16_latest_per_key", "v01_knn_brute", "g01_geotab_flagship")
    val out = new StringBuilder
    names.foreach { n =>
      out.append(s"\n=================== $n ===================\n")
      out.append(SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    println(out)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_plans.txt"), out.toString)
    spark.stop()
  }
}
