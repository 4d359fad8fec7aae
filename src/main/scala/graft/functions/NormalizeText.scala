package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text canonicalization for dedup keys: NFD decomposition, strip
  * combining marks (accent removal), then ROOT-locale lowercase — so
  * `"Éclair"`, `"éclair"` and `"eclair"` share one normalized form. This
  * is the standard pre-pass before exact/near dedup on web text, where
  * the same title arrives in composed, decomposed, and accent-dropped
  * spellings; without it, hash-grain dedup (d01) treats them as three
  * distinct documents.
  *
  * A native Catalyst `Expression` with `doGenCode` (one static call, no
  * Scala UDF) so it stays inside whole-stage codegen. The t34 oracle
  * re-implements the semantics independently as DuckDB's
  * `lower(strip_accents(x))` (utf8proc) — two codebases, one definition
  * of "same text".
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    require(child.dataType == StringType,
      s"graft_normalize requires string, got ${child.dataType}")
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def prettyName: String = "graft_normalize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      NormalizeText.normalize(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.NormalizeText.normalize($in.toString()));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {

  /** NFD → drop non-spacing marks → lowercase(ROOT). Pure JDK Unicode
    * tables; deterministic across JVMs (the Unicode NFD decomposition and
    * the Mn category are stable standard data, not locale data). */
  def normalize(s: String): String = {
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    sb.toString.toLowerCase(java.util.Locale.ROOT)
  }

  /** Column-level entry point (SQL: `graft_normalize`). */
  def normalizeText(text: Column): Column =
    column(NormalizeText(expression(text)))
}
