package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the RAG slot-embedding hot path (t24/t25/t30, the
  * m-family towers through `docSlotEmbed`).
  *
  * The compositional forms they replace are higher-order-function trees —
  * `transform(split(text, " ", -1), t -> conv(substring(md5(t),1,15),16,10)
  * % slots)` and the 16-slot histogram fold — which Spark evaluates on the
  * interpreted path (higher-order lambdas are CodegenFallback), allocating
  * a 32-char hex string + substring + radix parse per TOKEN and a fresh
  * 16-element array per TOKEN of every chunk. These kernels compute the
  * SAME bits in one straight JVM pass per row ([[Md5ShingleHashes]]'
  * discipline: the DuckDB oracles replay the compositional SQL, the engine
  * runs the native twin, and a corpus-sweep spec pins bit-identity).
  */

/** Per-token md5 slot hashes, `split(text, " ", -1)` semantics (single
  * space separator, empty tokens KEPT — the `tokenize(_, "space-raw")`
  * mode): for each token, the top 15 hex digits of its md5 as a long
  * (`conv(substring(md5(t), 1, 15), 16, 10)`) mod `slots`. Order
  * preserved, duplicates kept — the chunk slicer downstream depends on
  * position. */
case class Md5TokenSlotHashes(child: Expression, slots: Int)
    extends UnaryExpression with CodegenFallback {

  require(slots > 0, s"slots must be positive, got $slots")

  override def prettyName: String = "graft_md5_token_slots"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"md5_token_slots requires string, got $dt")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(Md5TokenSlotHashes.compute(bytes, slots))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Md5TokenSlotHashes {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top-15 hex digits of the md5 digest as a long — exactly
    * `conv(substring(hex(md5), 1, 15), 16, 10)` (60 bits, no sign). */
  @inline private def prefix60(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)

  def compute(bytes: Array[Byte], slots: Int): Array[Long] = {
    // split(text, " ", -1): one token per inter-space run, empties kept
    // (leading/trailing/consecutive spaces all produce empty tokens) —
    // n_tokens = n_spaces + 1 always. The space byte 0x20 never occurs
    // inside a multi-byte UTF-8 sequence, so the byte scan is exact.
    var nTokens = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTokens += 1; i += 1 }
    val out = new Array[Long](nTokens)
    val md = digest.get()
    var w = 0
    var start = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, start, i - start)
        out(w) = prefix60(md.digest()) % slots
        w += 1
        start = i + 1
      }
      i += 1
    }
    out
  }

  def apply(text: Column, slots: Int): Column =
    column(Md5TokenSlotHashes(expression(text), slots))
}

/** Fixed-width histogram of an `array<long>` of slot ids: element `j` of
  * the result counts occurrences of value `j` in the input. Bit-identical
  * to the fold `aggregate(hs, array_repeat(0L, slots),
  * (acc, h) -> transform(acc, (v, j) -> IF(j = h, v + 1, v)))` — values
  * outside [0, slots) (and null elements) increment nothing, exactly as
  * the fold's `when(j === h)` matches no slot for them. */
case class SlotHistogram(child: Expression, slots: Int)
    extends UnaryExpression with CodegenFallback {

  require(slots > 0, s"slots must be positive, got $slots")

  override def prettyName: String = "graft_slot_histogram"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"slot_histogram requires array<long>, got $dt")
  }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Long](slots)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        if (h >= 0L && h < slots) counts(h.toInt) += 1L
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object SlotHistogram {
  def apply(hs: Column, slots: Int): Column =
    column(SlotHistogram(expression(hs), slots))
}
