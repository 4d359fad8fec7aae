package graft.plans

import graft.{GraftSession, Jobs, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** [[LocalSort]] pins: a global sort over a driver-local relation returns
  * the rows Spark's own range sort returns (with the rule excluded) for
  * every order shape — asc/desc, nulls first/last, NaN, ±0.0, strings,
  * collations, several keys; streaming relations are left alone and the
  * rule is idempotent; a `localize`d gate result runs its action as one
  * job with no exchange in its plan. */
class LocalSortSpec extends SparkSpec {

  private val ruleName = LocalSort(spark).ruleName

  private lazy val ruleOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      s"${GraftSession.ExcludedOptimizerRules},$ruleName")
    s
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("x", DoubleType), StructField("s", StringType), StructField("k", IntegerType)))

  private val rows: Seq[Row] = {
    val xs = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null, Double.NegativeInfinity,
      Double.PositiveInfinity, 1.5, -2.25, Double.MinPositiveValue, Double.NaN)
    val ss = Seq("b", "B", "a", null, "", "é", "Z", "ab", "a", "zz", "A")
    (0 until 60).map { i =>
      Row(i.toLong, xs(i % xs.size), ss(i * 7 % ss.size),
        if (i % 9 == 0) null else Integer.valueOf(i % 4))
    }
  }

  private def local(s: SparkSession): DataFrame = s.createDataFrame(rows.asJava, schema)

  /** A row's sort key as the ordering sees it: -0.0 and 0.0 are one key,
    * as are all NaNs, and under UTF8_LCASE "a" and "A" are one key. */
  private def norm(v: Any): String = v match {
    case x: java.lang.Double if x == 0.0 => "0.0"
    case v => String.valueOf(v)
  }
  private def x(r: Row): Any = r.get(1)
  private def str(r: Row): Any = r.get(2)
  private def k(r: Row): Any = r.get(3)

  private val orders: Seq[(String, Seq[Column], Row => Seq[Any])] = Seq(
    ("x asc", Seq(col("x").asc), r => Seq(x(r))),
    ("x desc", Seq(col("x").desc), r => Seq(x(r))),
    ("x asc nulls last", Seq(col("x").asc_nulls_last), r => Seq(x(r))),
    ("x desc nulls first", Seq(col("x").desc_nulls_first), r => Seq(x(r))),
    ("s asc", Seq(col("s").asc), r => Seq(str(r))),
    ("s desc nulls last", Seq(col("s").desc_nulls_last), r => Seq(str(r))),
    ("s UTF8_LCASE", Seq(collate(col("s"), "UTF8_LCASE").asc),
      r => Seq(Option(r.getString(2)).map(_.toLowerCase).orNull)),
    ("k, x desc, s", Seq(col("k").asc_nulls_last, col("x").desc, col("s").asc),
      r => Seq(k(r), x(r), str(r))),
    ("x + k", Seq((col("x") + col("k")).asc),
      r => Seq(if (r.isNullAt(1) || r.isNullAt(3)) null else r.getDouble(1) + r.getInt(3))))

  for ((name, order, keyOf) <- orders)
    test(s"(a) $name: the rows of Spark's range sort") {
      val got = local(spark).orderBy(order: _*)
      val want = local(ruleOff).orderBy(order: _*)
      assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        got.queryExecution.optimizedPlan.treeString)
      assert(!want.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])

      // with id as the last key the order is total: the same rows in the same order
      val total = order :+ col("id").asc
      assert(local(spark).orderBy(total: _*).collect().toSeq ==
        local(ruleOff).orderBy(total: _*).collect().toSeq)
      // without it, the same key sequence and the same multiset of rows
      val g = got.collect().toSeq
      val w = want.collect().toSeq
      assert(g.map(keyOf(_).map(norm)) == w.map(keyOf(_).map(norm)))
      assert(g.sortBy(_.getLong(0)) == w.sortBy(_.getLong(0)))
    }

  test("(b) a streaming relation is left alone; the rule is idempotent") {
    val rel = local(spark).queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    val order = Seq(SortOrder(rel.output(1), Ascending))
    val rule = LocalSort(spark)

    val streaming = Sort(order, global = true, rel.copy(isStreaming = true))
    assert(rule(streaming) eq streaming)
    val local2 = Sort(order, global = false, rel)
    assert(rule(local2) eq local2, "a per-partition sort is not a global order")

    val once = rule(Sort(order, global = true, rel))
    assert(once.isInstanceOf[LocalRelation])
    assert(rule(once) == once)
    // a non-deterministic key is not sorted on the driver
    val random = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, rel)
    assert(rule(random) eq random)
  }

  test("(c) a localized frame's noop write runs one job and plans no exchange") {
    def gateResult(s: SparkSession): DataFrame =
      graft.ops.ExportOps.localize(
        s.range(0, 50, 1, 4).select((col("id") * 37 % 50).as("k"), col("id")), "k")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val df = gateResult(spark)
    assert(Jobs.count(spark)(noop(df)) == 1)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst { case e: Exchange => e }.isEmpty, plan.toString)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 50L))

    // the control: Spark's range sort pays a sampling and a shuffle job more
    val control = gateResult(ruleOff)
    assert(Jobs.count(ruleOff)(noop(control)) >= 3)
  }
}
