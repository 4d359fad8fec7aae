package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.NamedParameterContext
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.functions._

/** c13's parser-injection pins: the custom DEDUP statement equals its
  * desugared standard SQL on the SAME session, and ordinary SQL parses
  * identically through the wrapped parser and through its delegate, the
  * stock parser (passthrough — the extension owns only its own grammar).
  * Every graft session carries the parser ([[graft.GraftExtensions]]), so
  * the comparison point is a stock `SparkSqlParser`, not another session. */
class ParserExtensionSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** What [[GraftSqlParser]] delegates to: Spark's own SQL parser. */
  private val stock = new SparkSqlParser()

  test("DEDUP statement equals its hand-written desugared SQL") {
    val s = spark
    // plant duplicates: the raw fixture texts are all distinct at this SF
    graft.Tables(s, d, "documents")
      .select(col("doc_id"), col("source"),
        concat(col("source"), lit("-"), (col("doc_id") % 50).cast("string"))
          .as("text"))
      .createOrReplaceTempView("pe_docs")
    val custom = s.sql("DEDUP pe_docs BY md5(text) KEEP MIN doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val manual = s.sql(
      """SELECT doc_id FROM pe_docs WHERE doc_id IN
        |  (SELECT min(doc_id) FROM pe_docs GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(custom == manual && custom.nonEmpty)
    // and it genuinely deduplicates: strictly fewer rows than the corpus
    // (the fixture plants identical texts)
    val total = s.table("pe_docs").count()
    assert(custom.size < total,
      s"dedup must drop something: kept ${custom.size} of $total")
  }

  test("passthrough: ordinary SQL parses identically through the wrapped parser") {
    graft.Tables(spark, d, "lineitem").createOrReplaceTempView("pe_li")
    graft.Tables(spark, d, "documents").createOrReplaceTempView("documents")
    val q = """SELECT l_returnflag, count(1) AS n FROM pe_li
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    // c08's pipe syntax with a named parameter: `sql(text, args)` parses
    // through parsePlanWithParameters, which must reach the delegate with
    // its parameters
    val inputs = Seq(q -> Map.empty[String, Any],
      graft.ops.TextOps.c08PipeSql -> Map[String, Any]("minChars" -> 50))
    for ((text, args) <- inputs) {
      val params = NamedParameterContext(args.map { case (k, v) => k -> Literal(v) })
      val a = spark.sql(text, args).collect().map(_.toSeq).toSeq
      val b = GraftColumnBridge.ofRows(spark,
        stock.parsePlanWithParameters(text, params)).collect().map(_.toSeq).toSeq
      assert(a == b && a.nonEmpty, "the wrapped parser must be transparent to stock SQL")
      // parse-tree identity, not just value identity: strip exprIds (fresh
      // per parse) and compare the parsed (unresolved) plans
      def norm(p: String) = p.replaceAll("#\\d+", "#")
      val pExt = norm(spark.sessionState.sqlParser.parsePlanWithParameters(text, params).toString)
      val pStock = norm(stock.parsePlanWithParameters(text, params).toString)
      assert(pExt == pStock,
        s"parsed plans must match:\n$pExt\nvs\n$pStock")
    }
  }

  test("engine functions resolve; the stock parser rejects DEDUP") {
    // functions injected at construction (not registerAll): usable in SQL
    assert(spark.sql("SELECT graft_normalize('Éclair') AS x")
      .collect()(0).getString(0) == "eclair")
    // the grammar is the extension's own: its delegate must NOT parse it
    val thrown = intercept[Exception] {
      stock.parsePlan("DEDUP pe_docs2 BY md5(text) KEEP MIN doc_id")
    }
    assert(thrown.getMessage.contains("DEDUP"),
      "the stock parser must reject the extension grammar")
  }
}
