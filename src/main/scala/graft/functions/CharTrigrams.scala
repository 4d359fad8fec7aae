package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass character-trigram extraction — the native kernel behind
  * t31's language-ID profile (`graft.ops.TextOps`).
  *
  * Bit-identical to the compositional form
  * `if(length(text) < 3, array(), transform(sequence(1, length(text)-2),
  *    i -> concat(cs[i-1], cs[i], cs[i+1])))` over `cs = split(text, "")`
  * — the form the DuckDB oracle replays — but computed as one scan over
  * the UTF-8 bytes: code-point start offsets in one pass, then each
  * trigram is a single byte-slice (`UTF8String.fromBytes`), where the
  * compositional form allocated a one-char UTF8String per CODE POINT
  * plus a three-way concat per POSITION, all on the interpreted
  * higher-order-function path. Characters are code points exactly as
  * `split("")`/`length()` count them (Java's empty-pattern split
  * advances by code point, so surrogate pairs stay intact in both
  * forms). */
case class CharTrigrams(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_char_trigrams"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"char_trigrams requires string, got $dt")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    // code-point start offsets (UTF-8 continuation bytes are 10xxxxxx)
    var n = 0
    var i = 0
    val offs = new Array[Int](bytes.length + 1)
    while (i < bytes.length) {
      offs(n) = i
      val b = bytes(i) & 0xff
      i += (if (b < 0x80) 1 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else 4)
      n += 1
    }
    offs(n) = bytes.length
    if (n < 3) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n - 2)
      var j = 0
      while (j < n - 2) {
        out(j) = UTF8String.fromBytes(bytes, offs(j), offs(j + 3) - offs(j))
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object CharTrigrams {
  def apply(text: Column): Column = column(CharTrigrams(expression(text)))
}
