package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger

/** The session's generated-class cache holds more than Spark's default 100
  * entries ([[GraftSession.CodegenCacheEntries]]). 150 distinct one-line
  * projections, each compiled on the driver and again under the executor's
  * classloader, all compile in a first round and are all reused by a second
  * one. At 100 entries the first round's classes are evicted before the
  * second round reaches them, and every one compiles again. A streaming
  * query started again reuses its classes too: with Spark's artifact
  * isolation on, its tasks ran under a fresh classloader per run and
  * compiled every task-side class again. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session carries the cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second round over 150 distinct projections compiles nothing") {
    def round(): Long = {
      val before = compiles()
      // each literal is inlined into the generated source, so each i is a
      // class of its own
      (1 to 150).foreach(i => spark.range(4).selectExpr(s"id * $i + 1").collect())
      compiles() - before
    }
    val first = round()
    assert(first >= 150, s"each projection compiles its own class: $first")
    assert(round() == 0)
  }

  test("a streaming query started again compiles nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toFile
    try {
      val in = spark.range(8).selectExpr("id", "id * 13 + 5 as v")
      in.write.parquet(s"$dir/in")
      def run(n: Int): Long = {
        val before = compiles()
        val q = spark.readStream.schema(in.schema).parquet(s"$dir/in")
          .selectExpr("v * 17 + 3 as w").writeStream.format("noop")
          .option("checkpointLocation", s"$dir/ckpt$n")
          .trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
        compiles() - before
      }
      assert(run(1) > 0)
      assert(run(2) == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
