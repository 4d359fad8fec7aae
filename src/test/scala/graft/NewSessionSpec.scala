package graft

import graft.plans.{AsOfJoin, AsOfJoinExec, MatviewCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Sum}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Everything graft adds to Spark binds at session construction
  * ([[GraftExtensions]]), so `spark.newSession()` — a fresh SessionState
  * on the same context, as a scoped gate or a streaming run's clone gets
  * — parses, resolves, optimizes and plans exactly like the session it
  * came from, with no gate registering anything first. */
class NewSessionSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private lazy val fresh = spark.newSession()

  test("a new session parses DEDUP") {
    fresh.range(10).selectExpr("id", "id % 3 AS k").createOrReplaceTempView("ns_t")
    val kept = fresh.sql("DEDUP ns_t BY k KEEP MIN id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L))
  }

  test("a new session resolves graft_ngrams and graft_hist in SQL") {
    val grams = fresh.sql(
      """SELECT pos, gram FROM (SELECT 'a b c d' AS text)
        |LATERAL VIEW graft_ngrams(text, 3) g AS pos, gram""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(grams.map(_._2) == Seq("a b c", "b c d"), s"got $grams")
    val hist = fresh.sql("SELECT graft_hist(id, 10) AS h FROM range(100)").collect()
    assert(hist.length == 1 && !hist.head.isNullAt(0))
  }

  test("a new session rewrites a covered aggregate onto a registered view") {
    val lineitem = Tables(fresh, d, "lineitem")
    ops.ExportOps.withScratch("graft_ns_mv", "spec") { out =>
      val mvPath = s"$out/mv"
      lineitem.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(30,2)")).as("qty_dec"))
        .write.parquet(mvPath)
      MatviewCatalog.register(MatviewCatalog.define("ns_cube",
        base = lineitem, mv = Tables.readParquet(fresh, mvPath),
        dims = Set("l_returnflag", "l_linestatus"),
        partialOf = {
          case Count(Seq(Literal(1, _))) => Some("n")
          case Sum(Cast(a: AttributeReference, dt: DecimalType, _, _), _)
              if a.name == "l_quantity" && dt == DecimalType(30, 2) =>
            Some("qty_dec")
          case _ => None
        }))
      try {
        val covered = lineitem.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(30,2)")).as("sq"))
        val roots = covered.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten
        assert(roots.nonEmpty && roots.forall(_.contains("graft_ns_mv")),
          s"the covered aggregate must scan only the view, scanned: $roots")
      } finally MatviewCatalog.unregister("ns_cube")
    }
  }

  test("a new session plans AsOfJoin as the native exec") {
    val l = fresh.range(4).selectExpr("id", "id % 2 AS key", "id * 10 AS t")
    val r = fresh.range(4).selectExpr("id AS rid", "id % 2 AS rkey", "id * 10 AS rt")
    val df = AsOfJoin(l, r, "key", "rkey", "t", "rt")
    assert(df.queryExecution.sparkPlan.collectFirst { case j: AsOfJoinExec => j }.nonEmpty,
      s"expected AsOfJoinExec:\n${df.queryExecution.sparkPlan}")
    assert(df.count() == 4)
  }

  /** Rows rendered column-name-sorted, the multiset sorted, one hash (the
    * driver_compare canonicalization, as in PartitionInvarianceSpec). */
  private def digest(df: DataFrame): String = {
    val rows = df.select(df.columns.sorted.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def norm(p: String) = p.replaceAll("#\\d+", "#")

  for (gate <- Seq("c13_parser_extension", "c08_sql_pipe_pipeline",
      "q109_matview_rewrite", "q121_asof_native", "t35_ngram_generator",
      "q125_native_hist_agg")) {
    test(s"$gate: a new session gives the base session's optimized plan and rows") {
      val base = SparkEntry.queries(gate)(spark, d)
      val other = SparkEntry.queries(gate)(fresh, d)
      assert(norm(other.queryExecution.optimizedPlan.toString) ==
        norm(base.queryExecution.optimizedPlan.toString))
      assert(digest(other) == digest(base))
    }
  }
}
