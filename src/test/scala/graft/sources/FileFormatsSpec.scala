package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** File-source coverage beyond parquet: the engine's tables round-trip
  * through JSON and CSV with schema preserved (the source layer SURVEY.md
  * §2.1 "engine additions" names). */
class FileFormatsSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def withOut(body: String => Unit): Unit =
    graft.ops.ExportOps.withScratch("graft_fmt", "spec")(dir => body(dir.toString))

  test("documents round-trip via JSON lines") {
    val docs = Tables(spark, d, "documents")
    withOut { out =>
      docs.write.mode("overwrite").json(out)
      val back = spark.read.schema(docs.schema).json(out)
      assert(back.count() === docs.count())
      assert(back.agg(sum(length(col("text")))).head().getLong(0) ===
        docs.agg(sum(length(col("text")))).head().getLong(0))
    }
  }

  test("customer round-trips via CSV with header") {
    val c = Tables(spark, d, "customer")
    withOut { out =>
      c.write.mode("overwrite").option("header", "true").csv(out)
      val back = spark.read.schema(c.schema).option("header", "true").csv(out)
      assert(back.count() === c.count())
      assert(back.agg(round(sum(col("c_acctbal").cast("decimal(30,2)")), 2)).head().get(0) ===
        c.agg(round(sum(col("c_acctbal").cast("decimal(30,2)")), 2)).head().get(0))
    }
  }

  test("CSV scan pushes filters like parquet (source-agnostic pipeline)") {
    val c = Tables(spark, d, "customer")
    withOut { out =>
      c.write.mode("overwrite").option("header", "true").csv(out)
      val back = spark.read.schema(c.schema).option("header", "true").csv(out)
        .filter(col("c_custkey") < 10).select("c_custkey", "c_name")
      assert(back.count() === 10)
      val plan = back.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("LessThan(c_custkey,10)"), plan)
    }
  }
}
