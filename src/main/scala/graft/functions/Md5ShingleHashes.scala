package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass md5 shingle hashing — the native kernel behind the
  * ORACLE-PORTABLE dedup path (`TextFunctions.md5ShingleHashes`, d04's
  * 60-bit SimHash feed, d05's 4-gram grain).
  *
  * Produces BIT-IDENTICAL output to the compositional form
  * `transform(array_distinct(shingles(text, k)),
  *   x -> conv(substring(md5(x), 1, hexChars), 16, 10))`
  * — the form DuckDB replays verbatim, so every md5-family oracle stays
  * valid — but evaluates as straight JVM code instead of a six-deep
  * interpreted lambda tree (regex split → sequence → slice → concat_ws →
  * md5 hex string → substring → conv radix parse, each allocating arrays
  * and strings per shingle). Measured at the sf1 amplified corpus the
  * tree form costs ~2 ms/doc on ~54-token docs; this kernel is the
  * difference between the md5 portability tax being a constant and it
  * dominating the dedup family's scan stage.
  *
  * Semantics mirrored exactly:
  *  - tokens: maximal runs of non-[ \t\n\x0B\f\r] bytes (Java `\s+`
  *    split with empties dropped — ASCII-only, so the byte scan is exact
  *    on any UTF-8 input);
  *  - shingle string: k consecutive tokens joined with a single space;
  *    shorter-than-k documents (including empty) produce ONE shingle of
  *    all tokens joined (the `TextFunctions.shingles` degradation rule —
  *    an empty document hashes md5(""));
  *  - distinct: on the shingle STRING bytes (array_distinct semantics,
  *    first-occurrence order preserved) — not on the hash, so two
  *    distinct shingles sharing a 28-bit prefix still emit twice exactly
  *    like the compositional form;
  *  - hash: the top `hexChars` hex digits of the md5 as a long (the
  *    `conv(substring(hex, 1, n), 16, 10)` value, read straight from the
  *    digest bytes — no hex string ever exists).
  */
case class Md5ShingleHashes(child: Expression, k: Int, hexChars: Int)
    extends UnaryExpression with CodegenFallback {

  require(hexChars == 7 || hexChars == 15,
    s"supported prefixes: 7 (28-bit) or 15 (60-bit) hex chars, got $hexChars")

  override def prettyName: String = "graft_md5_shingle_hashes"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"md5_shingle_hashes requires string, got $dt")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(Md5ShingleHashes.compute(bytes, k, hexChars))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Md5ShingleHashes {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0b

  /** Top-`hexChars` hex digits of an md5 digest as a long — exactly
    * `conv(substring(hex(md5), 1, hexChars), 16, 10)`. */
  @inline private def prefixValue(d: Array[Byte], hexChars: Int): Long =
    if (hexChars == 7)
      ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >>> 4)
    else
      ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
        ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
        ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
        ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)

  def compute(bytes: Array[Byte], k: Int, hexChars: Int): Array[Long] = {
    // 1. token ranges in one scan
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTokens = 0
    var i = 0
    while (i < bytes.length) {
      if (!isSpace(bytes(i))) {
        val s = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        if (nTokens == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTokens * 2)
          ends = java.util.Arrays.copyOf(ends, nTokens * 2)
        }
        starts(nTokens) = s; ends(nTokens) = i; nTokens += 1
      } else i += 1
    }
    val md = digest.get()
    val nShingles = if (nTokens >= k) nTokens - k + 1 else 1
    val width = if (nTokens >= k) k else nTokens
    // 2. per shingle: join k token ranges with ' ', md5, string-dedupe
    val seen = new java.util.HashSet[java.nio.ByteBuffer](nShingles * 2)
    val out = new Array[Long](nShingles)
    var w = 0
    var s = 0
    while (s < nShingles) {
      var len = if (width == 0) 0 else width - 1
      var j = 0
      while (j < width) { len += ends(s + j) - starts(s + j); j += 1 }
      val sh = new Array[Byte](len)
      var p = 0
      j = 0
      while (j < width) {
        if (j > 0) { sh(p) = ' '; p += 1 }
        val tl = ends(s + j) - starts(s + j)
        System.arraycopy(bytes, starts(s + j), sh, p, tl)
        p += tl
        j += 1
      }
      if (seen.add(java.nio.ByteBuffer.wrap(sh))) {
        md.reset()
        out(w) = prefixValue(md.digest(sh), hexChars)
        w += 1
      }
      s += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** Column form at one (k, hexChars) operating point. */
  def md5ShingleHashes(text: Column, k: Int = 3, hexChars: Int = 7): Column =
    column(Md5ShingleHashes(expression(text), k, hexChars))
}
