package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One-pass squared euclidean distance over two `array<double>` columns —
  * the native kernel behind the PQ family's sub-vector encode/serve
  * (`SimilarityOps.pqL2sq`, hot in v14/v19/v21's corpus-wide encode).
  *
  * Bit-identical to the compositional fold
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0d,
  *   (acc, e) -> acc + e)` — the form the DuckDB oracles replay —
  * including its null semantics: zip_with pads unequal lengths with
  * null, and one null term poisons the running sum, so ANY length
  * mismatch or null element yields NULL (mirrored here exactly). The
  * fold accumulates left-to-right in element order; so does this loop,
  * so the IEEE sums agree to the bit. The compositional form evaluates
  * on the interpreted higher-order path with a boxed lambda frame per
  * element; this is one fused loop inside whole-stage codegen. */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"squared_l2 requires array<double>, got $l / $r")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val e = a.getDouble(i) - b.getDouble(i)
      acc += e * e
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val e = ctx.freshName("e")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $e = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $e * $e;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object SquaredL2 {
  def apply(a: Column, b: Column): Column =
    column(SquaredL2(expression(a), expression(b)))
}
