package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native RAG slot kernels must be BIT-IDENTICAL to the compositional
  * forms the DuckDB oracles replay:
  *  - [[Md5TokenSlotHashes]] vs `transform(split(text, " ", -1),
  *    t -> conv(substring(md5(t), 1, 15), 16, 10) % slots)` — per-token,
  *    ORDER PRESERVED, duplicates AND empty tokens kept (the
  *    `tokenize(_, "space-raw")` mode the chunk slicer depends on);
  *  - [[SlotHistogram]] vs the `aggregate`/`transform` histogram fold.
  * Any divergence silently invalidates the whole t24/t25/t30 + m-family
  * oracle chain, so the pin runs over the full fixture corpus plus
  * hand-picked degenerate shapes. */
class RagSlotKernelsSpec extends SparkSpec {

  private val slots = 16

  private def composedHashes(text: org.apache.spark.sql.Column) =
    transform(split(text, " ", -1),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long") % slots)

  private def composedHistogram(hs: org.apache.spark.sql.Column) =
    aggregate(hs, expr(s"array_repeat(0L, $slots)"),
      (acc, h) => transform(acc,
        (v, j) => when(j.cast("long") === h, v + 1L).otherwise(v)))

  private def checkFrame(df: org.apache.spark.sql.DataFrame): Unit = {
    val badH = df.select(
        composedHashes(col("text")).as("want"),
        Md5TokenSlotHashes(col("text"), slots).as("got"))
      .filter(not(col("want") <=> col("got")))
    assert(badH.count() === 0L,
      s"token slot hashes diverged, e.g. ${badH.take(1).mkString}")
    val badC = df.select(
        composedHistogram(composedHashes(col("text"))).as("want"),
        SlotHistogram(Md5TokenSlotHashes(col("text"), slots), slots).as("got"))
      .filter(not(col("want") <=> col("got")))
    assert(badC.count() === 0L,
      s"slot histogram diverged, e.g. ${badC.take(1).mkString}")
  }

  test("bit-identical to the compositional forms on the corpus") {
    checkFrame(spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").select("text"))
  }

  test("bit-identical on degenerate shapes") {
    import spark.implicits._
    checkFrame(Seq(
      "",                       // one empty token -> [md5("") % slots]
      " ",                      // two empty tokens
      "  a  ",                  // leading/trailing/consecutive spaces
      "one",
      "a b c a b c",            // duplicates kept, order preserved
      "a\tb\nc",                // tabs/newlines are NOT separators here
      "héllo wörld ｗ ideographic　space", // multi-byte UTF-8 tokens;
        // U+3000 must not split (space-raw splits on 0x20 only)
      (1 to 100).map(i => s"tok$i").mkString(" ") // growth past one buffer
    ).toDF("text"))
    // null text -> null array in both forms
    val nulls = Seq[Option[String]](None, Some("a b")).toDF("text")
    checkFrame(nulls)
  }

  test("histogram ignores out-of-range and null elements like the fold") {
    import spark.implicits._
    val hs = Seq(Seq[java.lang.Long](0L, 15L, 16L, -1L, null, 3L, 3L))
      .toDF("hs")
    val bad = hs.select(
        composedHistogram(col("hs")).as("want"),
        SlotHistogram(col("hs"), slots).as("got"))
      .filter(not(col("want") <=> col("got")))
    assert(bad.count() === 0L, s"diverged: ${bad.take(1).mkString}")
  }
}
