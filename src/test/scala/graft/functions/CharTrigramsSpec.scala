package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native char-trigram kernel must be BIT-IDENTICAL to the
  * compositional form the t31 DuckDB oracle replays:
  * `if(length(text) < 3, array(), transform(sequence(1, length(text)-2),
  *    i -> concat(cs[i-1], cs[i], cs[i+1])))` over `cs = split(text, "")`
  * — element order and code-point (not byte) indexing included. */
class CharTrigramsSpec extends SparkSpec {

  private def composed(c: org.apache.spark.sql.Column) = {
    val cs = split(c, "")
    when(length(c) < 3, expr("cast(array() as array<string>)"))
      .otherwise(transform(sequence(lit(1), length(c) - 2),
        i => concat(element_at(cs, i), element_at(cs, i + 1),
          element_at(cs, i + 2))))
  }

  private def checkFrame(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.select(
        composed(col("text")).as("want"),
        CharTrigrams(col("text")).as("got"))
      .filter(not(col("want") <=> col("got")))
    assert(bad.count() === 0L,
      s"trigrams diverged, e.g. ${bad.take(1).mkString}")
  }

  test("bit-identical to the compositional form on the corpus") {
    checkFrame(spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").select("text"))
  }

  test("bit-identical on degenerate shapes") {
    import spark.implicits._
    checkFrame(Seq(
      "", "a", "ab",            // under 3 chars -> empty array
      "abc",                    // exactly one trigram
      "abcd",
      "a b  c",                 // spaces are characters here
      "héllo wörld",            // 2-byte UTF-8 code points
      "日本語テキスト",          // 3-byte code points
      "𝄞x𝄞yz" // astral (4-byte) code points:
        // split("") advances by code point, surrogate pairs stay whole
    ).toDF("text"))
    val nulls = Seq[Option[String]](None, Some("abc")).toDF("text")
    checkFrame(nulls)
  }
}
