package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Native kernel for the ORACLE-PORTABLE hyperplane signature
  * ([[VectorFunctions.hyperplaneSignatureExact]]) — bit i of the result
  * is the sign of an exact DECIMAL(·,9) sum of 9dp-HALF_UP-rounded
  * per-dimension contributions (plane entries are ±1, so contribution j
  * is ±round(x_j, 9)).
  *
  * Bit-identical to the compositional zip_with/aggregate decimal form
  * (pinned by `HyperplaneSigSpec`), which DuckDB replays as
  * `sum(CAST(round(x*sgn, 9) AS DECIMAL(38,9)))` — but evaluated as 64
  * `BigDecimal.valueOf(x).setScale(9, HALF_UP)` roundings per row (the
  * exact semantics of Spark's `round` on DOUBLE followed by the decimal
  * cast: a 9dp value of magnitude < 10⁴ has ≤ 14 significant digits, so
  * the double round-trip the composed form takes is lossless) and
  * integer adds on the unscaled longs (|sum| < 10¹⁵ — exact in a long,
  * like the DECIMAL(20,9) accumulator it replaces). The composed form
  * costs planes × dims interpreted lambda evaluations with decimal
  * allocations per row — the r15 closing bench measured the v02/v03/v05
  * candidate-generation re-key at 3-4.6× their float-path cost; this
  * kernel removes that regression while keeping the oracle exactness.
  *
  * Rows containing a non-finite value produce signature 0, mirroring
  * the composed form (NaN rounds to a null decimal, nulls poison every
  * plane's sum, and `when(null >= 0)` falls to the 0 branch).
  */
case class HyperplaneSigExact(child: Expression, planes: Int, dim: Int,
                              seed: Long)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_hyperplane_sig"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires array<float|double>, got $dt")
  }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val signs: Array[Array[Byte]] =
    HyperplaneSigExact.signMatrix(planes, dim, seed)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // a length mismatch null-pads the composed zip_with, poisoning every
    // plane's sum -> all bits fall to the 0 branch; mirror that exactly
    if (arr.numElements() != dim) return 0L
    val n = dim
    val r = new Array[Long](n)
    var j = 0
    while (j < n) {
      // a null element null-poisons every plane's sum in the composed
      // zip_with form -> all bits fall to the 0 branch
      if (arr.isNullAt(j)) return 0L
      val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
        return 0L
      // The composed form's DECIMAL(13,9) term cast overflows (nulls,
      // poisoning the sums) when the HALF_UP-ROUNDED value needs > 13
      // digits of precision — which doubles in [10⁴ − 5e-10, 10⁴) also
      // hit, rounding UP to 10000.000000000. So the guard must test the
      // rounded decimal, not the raw double (r15 ADVICE; the raw-|x|
      // form diverged on exactly that half-ulp band). 10^13 unscaled ==
      // |rounded| >= 10⁴ at scale 9; below it longValueExact is safe.
      val bd = java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)
      if (bd.unscaledValue().abs()
          .compareTo(HyperplaneSigExact.MaxUnscaled13) >= 0) return 0L
      r(j) = bd.unscaledValue().longValueExact()
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < planes) {
      val sgn = signs(i)
      var sum = 0L
      var k = 0
      while (k < n) { sum += sgn(k) * r(k); k += 1 }
      if (sum >= 0L) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HyperplaneSigExact {

  /** DECIMAL(13,9) capacity as an unscaled bound: 10^13. */
  private[functions] val MaxUnscaled13 =
    java.math.BigInteger.TEN.pow(13)

  private val matrices =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Byte]]]

  private[functions] def signMatrix(planes: Int, dim: Int,
                                    seed: Long): Array[Array[Byte]] =
    matrices.computeIfAbsent((planes, dim, seed), { case (p, d, s) =>
      Array.tabulate(p)(i => VectorFunctions.plane(i, d, s)
        .map(v => if (v < 0) (-1).toByte else 1.toByte).toArray)
    })

  /** Column form at one (planes, dim, seed) operating point. */
  def hyperplaneSig(v: Column, planes: Int = 16, dim: Int = 64,
                    seed: Long = 42L): Column =
    column(HyperplaneSigExact(expression(v), planes, dim, seed))
}
