package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native md5-shingle kernel must be BIT-IDENTICAL to the
  * compositional form the DuckDB oracles replay
  * (`transform(array_distinct(shingles(text, k)),
  *    x -> conv(substring(md5(x), 1, hexChars), 16, 10))`)
  * — element order included (first-occurrence distinct). Any divergence
  * silently invalidates every md5-family dedup oracle, so the pin runs
  * over the full fixture corpus at every operating point the dedup gates
  * use, plus the hand-picked degenerate shapes. */
class Md5ShingleHashesSpec extends SparkSpec {

  private def composed(text: org.apache.spark.sql.Column,
                       k: Int, hexChars: Int) =
    transform(array_distinct(TextFunctions.shingles(text, k)),
      x => conv(substring(md5(x), 1, hexChars), 16, 10).cast("long"))

  private def checkFrame(df: org.apache.spark.sql.DataFrame): Unit =
    for ((k, hex) <- Seq((3, 7), (4, 7), (3, 15))) {
      val bad = df.select(
          composed(col("text"), k, hex).as("want"),
          Md5ShingleHashes.md5ShingleHashes(col("text"), k, hex)
            .as("got"))
        .filter(not(col("want") === col("got")))
      assert(bad.count() === 0L,
        s"(k=$k, hex=$hex) diverged, e.g. ${bad.take(1).mkString}")
    }

  test("bit-identical to the compositional oracle form on the corpus") {
    checkFrame(spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").select("text"))
  }

  test("bit-identical on degenerate shapes") {
    import spark.implicits._
    checkFrame(Seq(
      "",                      // empty doc -> one md5("") shingle
      "   ",                   // whitespace only -> also md5("")
      "one",                   // single token, n < k
      "a b",                   // n < k multi-token join
      "a b c",                 // exactly k (k=3)
      "a  b\tc\nd\re\ff",      // every \s separator, runs collapse
      " leading and trailing ",
      "héllo wörld ｗ ideographic　space", // multi-byte UTF-8 tokens;
        // U+3000 is NOT Java \s so it must fuse, not split
      "a b c a b c a b c a b c", // repeated shingles -> distinct collapses
      "x y z x y z q"          // partial repetition, order preserved
    ).toDF("text"))
  }

  test("distinct is on the shingle string, order is first occurrence") {
    import spark.implicits._
    val got = Seq("a b c a b c d").toDF("text")
      .select(Md5ShingleHashes.md5ShingleHashes(col("text"), 3, 7)
        .as("hv"))
      .head().getSeq[Long](0)
    val want = Seq("a b c a b c d").toDF("text")
      .select(composed(col("text"), 3, 7).as("hv"))
      .head().getSeq[Long](0)
    assert(got === want)
    // shingles: "a b c","b c a","c a b","a b c","b c d" -> 4 distinct
    assert(got.length === 4)
  }
}
