package graft.plans

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, LogicalQueryStage, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** [[SingleTaskSort]] pins: a small global sort over materialized shuffle
  * stages plans no range exchange and returns the same rows in the same
  * order; an input above `minPartitionSize`, a sort over a fresh scan and
  * a sort whose input is already range-partitioned keep their plans; the
  * rewrite is idempotent. Conf changes go on `newSession()` sessions
  * (same context and extensions, own SQLConf), never on the shared one. */
class SingleTaskSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // the sf0.01 fixture copy the benchmark reads, inside the checkout
  private val d = new java.io.File("perfbench/fixtures/sf0.01").getAbsolutePath
  private val ruleName = SingleTaskSort(spark).ruleName

  private def scoped(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs `df`, then returns its rows and its runtime-final physical plan. */
  private def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], SparkPlan) = {
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan,
      s"read the plan of the executed DataFrame:\n$plan")
    (rows, plan)
  }

  private def rangeExchanges(p: SparkPlan) = collect(p) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }
  private def coalesces(p: SparkPlan) = collect(p) { case c: CoalesceExec => c }
  private def globalSorts(p: SparkPlan) = collect(p) { case s: SortExec if s.global => s }

  for (gate <- Seq("q27_case_when", "q75_scd2_intervals"))
    test(s"(a) $gate: no range exchange, same rows in the same order as with the rule off") {
      val (got, plan) = run(SparkEntry.queries(gate)(spark, d))
      assert(globalSorts(plan).nonEmpty, s"$gate lost its global sort:\n$plan")
      assert(rangeExchanges(plan).isEmpty, s"$gate still range-shuffles:\n$plan")
      assert(coalesces(plan).size == 1, s"$gate: expected one CoalesceExec(1):\n$plan")

      val off = scoped("spark.sql.adaptive.optimizer.excludedRules" -> ruleName)
      val (want, control) = run(SparkEntry.queries(gate)(off, d))
      assert(rangeExchanges(control).nonEmpty,
        s"$gate: with the rule excluded the range exchange must come back:\n$control")
      assert(got.nonEmpty && got == want, s"$gate rows differ from the rule-off control")
    }

  test("(b) an input above minPartitionSize keeps the range exchange") {
    // 400k distinct keys after a hash aggregation: several MB of map
    // output against the 1 MB default bound
    val agg = spark.range(0, 400000, 1, 4)
      .groupBy((col("id") % 400000).as("k")).agg(sum("id").as("v"))
    val (rows, plan) = run(agg.orderBy(col("k").desc))
    val shuffled = collect(plan) {
      case e: ShuffleExchangeLike if !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(shuffled.nonEmpty)
    assert(rangeExchanges(plan).nonEmpty, s"large input lost its range sort:\n$plan")
    assert(coalesces(plan).isEmpty, plan.toString)
    assert(rows.map(_.getLong(0)) == (399999L to 0L by -1L))

    // the same small query fires by default and not once the bound is
    // below its map output
    def small(s: SparkSession) = Tables(s, d, "orders")
      .groupBy(col("o_orderpriority")).count().orderBy("o_orderpriority")
    assert(rangeExchanges(run(small(spark))._2).isEmpty)
    val tight = scoped("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16")
    assert(rangeExchanges(run(small(tight))._2).nonEmpty)
  }

  test("(c) a scan-only sort and a sort over a range-partitioned input are untouched") {
    val (nations, scanPlan) = run(Tables(spark, d, "nation").orderBy(col("n_name")))
    assert(rangeExchanges(scanPlan).nonEmpty && coalesces(scanPlan).isEmpty,
      s"a sort over a fresh scan must keep its plan:\n$scanPlan")
    assert(nations.map(_.getAs[String]("n_name")) ==
      nations.map(_.getAs[String]("n_name")).sorted)

    val byPriority = Tables(spark, d, "orders")
      .groupBy(col("o_orderpriority")).count()
      .repartitionByRange(4, col("o_orderpriority"))
      .orderBy("o_orderpriority")
    val (_, rangePlan) = run(byPriority)
    assert(rangeExchanges(rangePlan).size == 1 && coalesces(rangePlan).isEmpty,
      s"a range-partitioned input must keep its plan:\n$rangePlan")

    // and at the rule level: a sort over an un-shuffled scan is not matched
    val scanSort = Tables(spark, d, "nation").orderBy(col("n_name"))
      .queryExecution.optimizedPlan
    assert(SingleTaskSort(spark)(scanSort) eq scanSort)
  }

  test("(d) applying the rule twice gives the same plan as applying it once") {
    // a materialized shuffle stage, wrapped the way AQE's re-optimization
    // hands it to runtime rules
    val agg = Tables(spark, d, "orders").groupBy(col("o_orderpriority")).count()
    val (_, aggPlan) = run(agg)
    val physical = aggPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan match {
      case r: ResultQueryStageExec => r.plan
      case p => p
    }
    val stage = LogicalQueryStage(agg.queryExecution.optimizedPlan, physical)
    assert(stage.isMaterialized)
    val sorted: LogicalPlan =
      Sort(Seq(SortOrder(stage.output.head, Ascending)), global = true, stage)

    val rule = SingleTaskSort(spark)
    val once = rule(sorted)
    assert(once != sorted, "the rule must fire on a small materialized stage")
    assert(once.collectFirst { case Repartition(1, false, _) => true }.nonEmpty, once.treeString)
    assert(rule(once) == once)
  }
}
