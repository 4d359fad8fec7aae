package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.DataFrame

/** One registered materialized view: queries against `baseRoots` whose
  * grouping keys are a subset of `dims` and whose aggregate calls all map
  * to a partial column (via `partialOf`) can be answered by MERGING the
  * view's partials instead of re-scanning the base table.
  *
  * `mvScan` is the analyzed scan of the view artifact, captured once at
  * registration; every rewrite stamps a fresh instance (new expression
  * ids), so several rewritten aggregates can coexist in one query plan.
  *
  * The partial algebra is the caller's contract: `partialOf` must only
  * claim aggregate calls whose base-table result equals `sum(partialCol)`
  * over the view EXACTLY — count(*) against a count partial, sum against
  * a sum partial of the same (decimal-canonicalized, order-free) type.
  * Re-associating float sums is NOT exact; that is why the q83/q109
  * artifacts store decimal partials. */
final case class MatviewDef(
    name: String,
    baseRoots: Seq[String],
    dims: Set[String],
    mvScan: LogicalRelation,
    partialOf: AggregateFunction => Option[String])

/** Registry the optimizer rule consults. Registration is explicitly
  * scoped (register → run → unregister) because a view definition is a
  * CLAIM about the base table — the rule can check shapes, not staleness.
  * A production deployment would tie registration to the refresh job
  * (q77's matview-delta maintenance keeps the artifact current). */
object MatviewCatalog {
  @volatile private var defs: List[MatviewDef] = Nil

  def register(d: MatviewDef): Unit =
    synchronized { defs = d :: defs.filterNot(_.name == d.name) }
  def unregister(name: String): Unit =
    synchronized { defs = defs.filterNot(_.name == name) }
  def registered: List[MatviewDef] = defs

  /** Builds a definition by capturing the file-source scans of the base
    * and view DataFrames (v1 parquet relations). */
  def define(name: String, base: DataFrame, mv: DataFrame, dims: Set[String],
             partialOf: AggregateFunction => Option[String]): MatviewDef = {
    def scanOf(df: DataFrame, what: String): LogicalRelation =
      df.queryExecution.analyzed.collectFirst { case lr: LogicalRelation => lr }
        .getOrElse(throw new IllegalArgumentException(
          s"$what of matview $name is not a file-source scan"))
    MatviewDef(name, rootsOf(scanOf(base, "base table")), dims,
      scanOf(mv, "view"), partialOf)
  }

  private[plans] def rootsOf(lr: LogicalRelation): Seq[String] =
    lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
}

/** Aggregate navigation as a Catalyst optimizer rule — the rewrite that
  * makes dashboard-grain queries affordable at 100 TB: an aggregate whose
  * grouping keys and aggregate calls are covered by a registered
  * materialized view (q83's partial-aggregate artifact) is transparently
  * redirected from the fact-table scan to the KB-scale view, merging
  * partials (sum-of-counts, sum-of-decimal-sums). The user writes the
  * query against the RAW table; the plan never touches it.
  *
  * Injection: [[graft.GraftExtensions]] binds it into every session with
  * `injectPreCBORule`, so it runs ONCE per optimization, in the pre-CBO
  * batch right after the fixed-point operator-optimization batches —
  * AFTER column pruning, so the matched shape is Aggregate over
  * attribute-only Project/Filter over the scan, and BEFORE physical
  * planning, so the injected Project still prunes the view scan's
  * ReadSchema.
  *
  * Scope guards (each bails to the original plan): grouping keys must be
  * plain dim attributes; filters between the aggregate and the scan must
  * reference dims only (they re-apply to the view — partials are additive
  * under dim-predicate slicing); every aggregate call must map to a
  * partial, with no DISTINCT and no FILTER clause. Output expressions may
  * wrap aggregates and dims in any expression and carry literals — the
  * optimizer folds a `select(lit(...), cast(sum(...)))` above the
  * aggregate into its output list before this rule runs. Output attribute ids
  * and data types are preserved exactly, so parent operators (and result
  * schemas) are untouched. The rule is idempotent: a rewritten aggregate
  * scans the view's root, which no definition claims as a base. */
object MatviewRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MatviewCatalog.registered.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        MatviewCatalog.registered.iterator
          .flatMap(d => rewrite(agg, d)).nextOption().getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, d: MatviewDef): Option[Aggregate] = {
    // Unwrap the column-pruned chain down to the base scan, collecting
    // filter conditions on the way. Anything else in between → not ours.
    def unwrap(p: LogicalPlan,
               conds: List[Expression]): Option[List[Expression]] = p match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, conds)
      case Filter(c, child) => unwrap(child, c :: conds)
      case lr: LogicalRelation if MatviewCatalog.rootsOf(lr) == d.baseRoots =>
        Some(conds)
      case _ => None
    }
    for {
      conds <- unwrap(agg.child, Nil)
      if conds.forall(_.references.forall(a => d.dims(a.name)))
      if agg.groupingExpressions.forall {
        case a: AttributeReference => d.dims(a.name)
        case _ => false
      }
      mv = d.mvScan.newInstance()
      mvAttr = (n: String) => mv.output.find(_.name == n)
      newAggs <- traverse(agg.aggregateExpressions)(translate(_, d, mvAttr))
    } yield {
      val newGrouping = agg.groupingExpressions.map {
        case a: AttributeReference => mvAttr(a.name).get
      }
      val newConds = conds.map(_.transform {
        case a: AttributeReference => mvAttr(a.name).get
      })
      val filtered = newConds.foldLeft(mv: LogicalPlan)((p, c) => Filter(c, p))
      val needed = (newGrouping ++ newConds.flatMap(_.references) ++
        newAggs.flatMap(_.references)).map(_.asInstanceOf[NamedExpression])
        .groupBy(_.exprId).map(_._2.head).toSeq
      agg.copy(groupingExpressions = newGrouping,
        aggregateExpressions = newAggs,
        child = Project(needed, filtered))
    }
  }

  /** Translates one output expression of the aggregate; None → the whole
    * rewrite bails. Output names, exprIds and data types are preserved so
    * the rewrite is invisible above the Aggregate. */
  private def translate(ne: NamedExpression, d: MatviewDef,
                        mvAttr: String => Option[Attribute]): Option[NamedExpression] =
    ne match {
      // a grouping key passed through: the view's column under its id
      case a: AttributeReference =>
        onView(a, d, mvAttr).map(m => Alias(m, a.name)(exprId = a.exprId))
      case _ => onView(ne, d, mvAttr).map(_.asInstanceOf[NamedExpression])
    }

  /** `e` over the view's rows, or None if the view cannot answer it: a
    * covered aggregate becomes the merge of its partial, a dim attribute
    * the view's column, a literal stays, and every other expression is
    * rebuilt over its translated children. Any other attribute, or an
    * aggregate no partial covers, bails. */
  private def onView(e: Expression, d: MatviewDef,
                     mvAttr: String => Option[Attribute]): Option[Expression] =
    e match {
      case ae: AggregateExpression =>
        if (ae.isDistinct || ae.filter.nonEmpty) None
        else d.partialOf(ae.aggregateFunction).flatMap(mvAttr).map { p =>
          val sum = ae.copy(aggregateFunction = Sum(p))
          val typed = if (sum.dataType == ae.dataType) sum else Cast(sum, ae.dataType)
          // over no partial rows `sum` is NULL; the base aggregate's own
          // empty-input result (count's 0) must come back instead
          ae.aggregateFunction.defaultResult.fold(typed: Expression)(z =>
            Coalesce(Seq(typed, z)))
        }
      case a: AttributeReference =>
        if (d.dims(a.name)) mvAttr(a.name) else None
      case l: Literal => Some(l)
      case leaf if leaf.children.isEmpty && leaf.references.nonEmpty => None
      case other =>
        traverse(other.children)(onView(_, d, mvAttr)).map(other.withNewChildren)
    }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Vector.empty[B])) { (acc, x) =>
      acc.flatMap(v => f(x).map(v :+ _))
    }
}
