package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for graft's native expressions: their
  * Column entry points and FunctionRegistry builders.
  *
  * Spark 4's Column wraps a ColumnNode rather than an Expression, and the
  * classic converter (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]` — so a library registering SQL functions that reuse its
  * Column-level kernels needs this one-file shim in the sql package, the
  * standard extension-library pattern. Nothing else in the repo reaches
  * into Spark internals this way.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** EAGER conversion (ColumnNodeToExpressionConverter), not
    * `ExpressionUtils.expression` — the latter returns a lazy
    * ColumnNodeExpression wrapper whose dataType is VOID until a Dataset
    * operation converts it, which never happens for an expression returned
    * from a FunctionRegistry builder. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a custom LogicalPlan (`classic.Dataset.ofRows` is
    * `private[sql]`) — the front door for library-defined logical
    * operators like [[graft.plans.AsOfJoinPlan]], planned by a strategy
    * that [[graft.GraftExtensions]] injects. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable`: a file relation's data schema is nullable
    * all the way down, as `DataSource` makes it. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
