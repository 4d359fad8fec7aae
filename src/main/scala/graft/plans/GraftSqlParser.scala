package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL syntax extension via `SparkSessionExtensions.injectParser` — the
  * parser rung of the extension-point matrix (next to the DSv2 source,
  * the codegen'd Expressions, the TypedImperativeAggregates, the
  * optimizer Rule, the SparkStrategy+SparkPlan, the SQL UDFs, and the
  * Generator): a delegating [[ParserInterface]] that adds ONE engine
  * statement,
  *
  * {{{ DEDUP <table> BY <keyExpr> KEEP MIN <idCol> }}}
  *
  * — the keep-lowest-id exact-dedup idiom the d-family runs everywhere,
  * as first-class syntax. The statement DESUGARS to standard SQL
  * (`WHERE id IN (SELECT min(id) ... GROUP BY key)`) and hands the
  * result to the delegate parser, so analysis, optimization, and
  * planning are entirely stock — the extension owns only the grammar.
  * Every other entry point delegates verbatim: a session with this
  * parser injected parses ordinary SQL bit-identically to a stock
  * session (passthrough pinned in ParserExtensionSpec).
  *
  * Desugar-and-delegate is the honest scale posture for syntax sugar:
  * the custom statement can never plan worse than the SQL a user would
  * have written by hand, because it IS that SQL. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // Table/id accept backtick-quoted identifiers. The key group is GREEDY
  // (.+), so the ` KEEP MIN ` anchor binds at its LAST occurrence — a key
  // expression containing that token sequence (e.g. inside a string
  // literal) stays inside the key instead of truncating it; only a
  // pathological key ENDING in ` KEEP MIN <id>` would need parentheses.
  private val Dedup =
    """(?is)\s*DEDUP\s+([\w.]+|`[^`]+`)\s+BY\s+(.+)\s+KEEP\s+MIN\s+([\w.]+|`[^`]+`)\s*;?\s*""".r

  /** A DEDUP statement as the standard SQL it stands for; any other text
    * unchanged. */
  private def desugar(sqlText: String): String = sqlText match {
    case Dedup(table, key, id) =>
      s"""SELECT * FROM $table WHERE $id IN
         |  (SELECT min($id) FROM $table GROUP BY $key)""".stripMargin
    case _ => sqlText
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(desugar(sqlText))

  // `SparkSession.sql(text, args)` parses through this method; the
  // interface's default would call parsePlan and drop the parameters
  override def parsePlanWithParameters(sqlText: String,
                                       paramContext: ParameterContext): LogicalPlan =
    delegate.parsePlanWithParameters(desugar(sqlText), paramContext)

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(desugar(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
