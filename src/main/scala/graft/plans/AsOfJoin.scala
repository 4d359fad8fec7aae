package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a NATIVE operator — the whole-operator extension rung
  * (SURVEY §7.4's case (c): custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`), used where composition genuinely loses: the q33 as-of
  * COMPOSITION (union both sides, window-fill, filter back) pays a window
  * over the union of both tables and materializes carried columns through
  * it; this operator is a co-partitioned MERGE — each side shuffles once
  * on its key, sorts within partitions by (key, time), and a single
  * forward scan pairs every left row with the LATEST right row at-or-
  * before its timestamp (pandas merge_asof / QuestDB ASOF JOIN
  * semantics, left-outer: unmatched lefts null-extend).
  *
  * The planner contract does the heavy lifting: `requiredChildDistribution`
  * (ClusteredDistribution per side) and `requiredChildOrdering` make
  * EnsureRequirements insert the exchanges and in-partition sorts — the
  * operator itself never shuffles or sorts, so at 100 TB it prices
  * exactly like one sort-merge join, and pre-bucketed inputs drop the
  * exchanges entirely. State during the merge is ONE buffered right row
  * per partition — O(1), the reason as-of engines scale on tick data.
  *
  * Determinism contract: ties on (key, time) across sides match
  * INCLUSIVELY (right at the same instant is visible); duplicate right
  * rows at the same (key, time) resolve to the LAST in sort order —
  * callers needing total determinism add a tiebreak column to the right
  * sort time. NULL keys and NULL times never match (3VL), on either side.
  */
final case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

final case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Left rows pass through in place: the operator adds no partitioning
    * or ordering of its own on top of what it required. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val (lk, rk, lt, rt) = (leftKey, rightKey, leftTime, rightTime)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyEval = BindReferences.bindReference(lk, lOut)
      val lTimeEval = BindReferences.bindReference(lt, lOut)
      val rKeyEval = BindReferences.bindReference(rk, rOut)
      val rTimeEval = BindReferences.bindReference(rt, rOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      // the whole merge state: the next unconsumed right row and the
      // last right row consumed for the current key (copies — shuffle
      // iterators reuse their row objects)
      var rHead: InternalRow = if (rIter.hasNext) rIter.next().copy() else null
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null
      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lkv = lKeyEval.eval(l)
          val ltv = lTimeEval.eval(l)
          if (lkv != null && ltv != null) {
            // consume right rows at-or-before (lkv, ltv); rows of earlier
            // keys can never match a later left (keys ascend) and drop
            var advance = true
            while (advance && rHead != null) {
              val rkv = rKeyEval.eval(rHead)
              val rtv = rTimeEval.eval(rHead)
              val consume =
                if (rkv == null || rtv == null) true // 3VL: never matches
                else {
                  val kc = keyOrd.compare(rkv, lkv)
                  kc < 0 || (kc == 0 && timeOrd.compare(rtv, ltv) <= 0)
                }
              if (consume) {
                if (rkv != null && rtv != null &&
                    keyOrd.compare(rkv, lkv) == 0) {
                  lastMatch = rHead
                  lastMatchKey = rkv
                }
                rHead = if (rIter.hasNext) rIter.next().copy() else null
              } else advance = false
            }
          }
          val m =
            if (lkv != null && lastMatch != null &&
                keyOrd.compare(lastMatchKey, lkv) == 0) lastMatch
            else nullRight
          resultProj(joined(l, m))
        }
      }
    }
  }
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; injected into every session
  * by [[graft.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {

  /** `left` as-of-joined to `right`: every left row paired with the
    * latest right row whose `rightTime <= leftTime` on the same key
    * (left outer). Output = left columns ++ right columns (nullable). */
  def apply(left: DataFrame, right: DataFrame,
            leftKey: String, rightKey: String,
            leftTime: String, rightTime: String): DataFrame = {
    val s = left.sparkSession
    val lp = left.queryExecution.analyzed
    // self-join hygiene: both sides of a same-source as-of share
    // expression ids; re-aliasing the right side mints fresh ones so the
    // custom node's output stays conflict-free (the analyzer's Join
    // dedup never sees a library-defined node)
    val rp0 = right.queryExecution.analyzed
    val rp: LogicalPlan =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: no column '$n' on the $side side " +
          s"(has ${p.output.map(_.name).mkString(", ")})"))
    GraftColumnBridge.ofRows(s, AsOfJoinPlan(lp, rp,
      attr(lp, leftKey, "left"), attr(rp, rightKey, "right"),
      attr(lp, leftTime, "left"), attr(rp, rightTime, "right")))
  }
}
