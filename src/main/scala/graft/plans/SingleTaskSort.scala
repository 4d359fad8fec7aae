package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, EnsureRequirements, Exchange, REBALANCE_PARTITIONS_BY_COL, REBALANCE_PARTITIONS_BY_NONE, REPARTITION_BY_COL, ShuffleOrigin}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: run a small global sort as ONE local sort.
  *
  * A global `Sort` normally plans a range exchange under it, which costs
  * two jobs before the sort runs: the `RangePartitioner` sampling job and
  * the range-shuffle map job. When the sort's input is small, AQE then
  * coalesces the range-shuffle read back into a single partition anyway,
  * so the two jobs buy nothing. Almost every gate here ends in
  * `orderBy(...)` over a few KB of aggregated rows, so this is a fixed
  * per-query cost paid on every gate.
  *
  * The rule runs in AQE's re-optimization (`injectRuntimeOptimizerRule`),
  * where materialized stages appear as [[LogicalQueryStage]] leaves with
  * their runtime map-output statistics. It rewrites
  * `Sort(global, child)` to `Sort(global, Repartition(1, shuffle = false,
  * child))` only when all of these hold:
  *  - every input of the sort's stage is a materialized shuffle or
  *    broadcast query stage: `child` has only such leaves, and planning it
  *    the way AQE will adds no exchange (an exchange that is not
  *    materialized yet has no size). No fresh scan, no cached relation;
  *  - at least one input is a shuffle with more than one partition (else
  *    no range exchange is planned anyway), each is one AQE's partition
  *    coalescer may coalesce (not a user `repartition(n)`), and none is
  *    already range-partitioned (the range shuffle was then paid);
  *  - partition coalescing is enabled and the shuffles' summed map-output
  *    bytes are ≤ `spark.sql.adaptive.coalescePartitions.minPartitionSize`.
  *    Under that bound the coalescer's target size is at least the whole
  *    input, so it would read the input in one task anyway.
  *
  * `Repartition(1, shuffle = false)` plans as `CoalesceExec(1)`, whose
  * `SinglePartition` satisfies the sort's ordered distribution, so
  * `EnsureRequirements` plans no range exchange and the sort runs in the
  * task that already produced its input. The operators between the
  * shuffle read and the sort ran in one task before too; what becomes
  * serial is only the sort itself, over an input that is at most
  * `minPartitionSize` bytes of shuffled rows (more if an operator in the
  * stage, such as an explode or a broadcast join, multiplies rows). Large
  * inputs keep the distributed range sort. The rule adds no conf: the
  * bound is AQE's own, and
  * `spark.sql.adaptive.optimizer.excludedRules=graft.plans.SingleTaskSort`
  * turns it off. Idempotent: a sort over `Repartition(1, false, _)` is not
  * matched again.
  *
  * Injected into every session by [[graft.GraftExtensions]], which
  * [[graft.GraftSession.builder]] applies. */
case class SingleTaskSort(session: SparkSession) extends Rule[LogicalPlan] {

  /** The shuffle origins AQE's `CoalesceShufflePartitions` coalesces. */
  private val coalescible: Set[ShuffleOrigin] =
    Set(ENSURE_REQUIREMENTS, REPARTITION_BY_COL, REBALANCE_PARTITIONS_BY_NONE,
      REBALANCE_PARTITIONS_BY_COL)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformDown {
      case s @ Sort(_, true, child, _) if runsOnSmallStages(child) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }

  private def runsOnSmallStages(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => false
    case _ if !child.collectLeaves().forall {
          case q: LogicalQueryStage => q.isMaterialized
          case _ => false
        } => false
    case _ =>
      val stage = EnsureRequirements()(session.sessionState.planner.plan(child).next())
      val inputs = stage.collectLeaves()
      val shuffles = inputs.collect { case s: ShuffleQueryStageExec => s }
      !stage.exists(_.isInstanceOf[Exchange]) &&
        inputs.forall {
          case _: ShuffleQueryStageExec | _: BroadcastQueryStageExec => true
          case _ => false
        } &&
        shuffles.exists(_.shuffle.numPartitions > 1) &&
        shuffles.forall { s =>
          coalescible(s.shuffle.shuffleOrigin) &&
            !s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
        } &&
        shuffles.map(_.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)).sum <=
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
