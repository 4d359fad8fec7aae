package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over a pre-hashed token array (`array<bigint>`).
  *
  * For each input hash, each of the 64 bit positions votes +1 / -1 according
  * to the corresponding bit; the output sets bit i when the vote total is
  * positive. Near-duplicate documents differ in few bits, so Hamming
  * distance on the output (e.g. `bit_count(a ^ b)`) approximates edit-level
  * similarity — the classic Charikar sketch used for web-scale dedup.
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` (not a
  * Scala UDF) so it participates in whole-stage codegen; the per-row work is
  * a tight primitive loop with a stack-allocated vote table.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    require(child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType,
      s"simhash64 requires array<bigint>, got ${child.dataType}")
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    java.lang.Long.valueOf(SimHash64.eval(arr.toLongArray()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def eval(hashes: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column-level entry point (SQL: `graft_simhash64`). */
  def simhash64(tokenHashes: Column): Column =
    column(SimHash64(expression(tokenHashes)))
}
