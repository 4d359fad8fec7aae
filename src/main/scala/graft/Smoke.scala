package graft

/** Mirrors the driver's t1 smoke: run SparkEntry.entry on sf0.001 and
  * assert rows > 0. Usage: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(3, truncate = 120)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString.take(200)}")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
