package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct k-word shingle hashing for MinHash dedup.
  *
  * The compositional form (regex split → transform(sequence) → slice →
  * concat_ws → xxhash64) allocates a token array, an index array, and a
  * string per shingle for every row — it was the remaining multi-second
  * cost in the sf0.1 dedup bench. This expression scans the UTF-8 bytes
  * once: hashes each whitespace-delimited token incrementally (FNV-1a over
  * bytes), combines k consecutive token hashes with a splitmix64 chain, and
  * deduplicates via a primitive sort — no strings are ever materialized.
  *
  * Shorter-than-k documents produce one shingle combining all tokens,
  * mirroring TextFunctions.shingles' degradation rule.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires string, got $dt")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(ShingleHashes.compute(bytes, k))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ShingleHashes {

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0b

  /** Distinct hashes of the k-token shingles of the whitespace-tokenized
    * byte string. */
  def compute(bytes: Array[Byte], k: Int): Array[Long] = {
    // 1. token hashes in one scan (FNV-1a per token)
    var tokenHashes = new Array[Long](16)
    var nTokens = 0
    var h = 0xcbf29ce484222325L
    var inToken = false
    var i = 0
    while (i <= bytes.length) {
      val atEnd = i == bytes.length
      val b = if (atEnd) ' '.toByte else bytes(i)
      if (isSpace(b) || atEnd) {
        if (inToken) {
          if (nTokens == tokenHashes.length)
            tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
          tokenHashes(nTokens) = h
          nTokens += 1
          h = 0xcbf29ce484222325L
          inToken = false
        }
      } else {
        h = (h ^ (b & 0xffL)) * 0x100000001b3L
        inToken = true
      }
      i += 1
    }
    // 2. rolling k-gram combine
    val nShingles = if (nTokens >= k) nTokens - k + 1 else 1
    val out = new Array[Long](nShingles)
    if (nTokens < k) {
      var acc = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < nTokens) { acc = mix(acc ^ tokenHashes(j)); j += 1 }
      out(0) = acc
    } else {
      var s = 0
      while (s < nShingles) {
        var acc = 0x9E3779B97F4A7C15L
        var j = 0
        while (j < k) { acc = mix(acc ^ tokenHashes(s + j)); j += 1 }
        out(s) = acc
        s += 1
      }
    }
    // 3. distinct via sort (set semantics for jaccard)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  def shingleHashes(text: Column, k: Int = 3): Column =
    column(ShingleHashes(expression(text), k))
}
