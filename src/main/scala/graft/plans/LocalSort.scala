package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{RowOrdering, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Logical optimizer rule: sort a driver-local relation on the driver.
  *
  * A global `Sort` over a `LocalRelation` (a frame built from rows the
  * driver already holds, such as every [[graft.ops.ExportOps.localize]]d
  * gate result) otherwise plans a range exchange over the local table
  * scan: a `RangePartitioner` sampling job and a range-shuffle map job
  * before the rows come back in order. [[SingleTaskSort]] cannot catch
  * it, because the sampling runs before any AQE stage materializes. This
  * rule rewrites `Sort(order, global = true, LocalRelation)` into a
  * `LocalRelation` holding the same rows sorted with
  * `RowOrdering.create(order, output)`, the interpreted form of the
  * ordering `SortExec` uses: null ordering, NaN, ±0.0 and collations are
  * Spark's own. Rows with equal keys may come out in another order than
  * the distributed sort's, which a global sort never fixes either.
  *
  * Left alone: streaming relations, and orders with a non-deterministic
  * or non-orderable key or a subquery. Idempotent: its output has no
  * `Sort`. Runs in the operator optimization batch next to Spark's
  * `ConvertToLocalRelation`, which folds projections and filters over a
  * `LocalRelation` first. The rule adds no conf:
  * `spark.sql.optimizer.excludedRules=graft.plans.LocalSort` turns it off.
  *
  * Injected into every session by [[graft.GraftExtensions]], which
  * [[graft.GraftSession.builder]] applies. */
case class LocalSort(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Sort(order, true, r: LocalRelation, _)
        if !r.isStreaming && order.forall(o => o.deterministic &&
          RowOrdering.isOrderable(o.dataType) && !SubqueryExpression.hasSubquery(o)) =>
      r.copy(data = r.data.sorted(RowOrdering.create(order, r.output)))
  }
}
