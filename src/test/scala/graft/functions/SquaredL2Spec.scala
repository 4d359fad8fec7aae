package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native squared-L2 kernel must be BIT-IDENTICAL to the
  * compositional fold the PQ-family DuckDB oracles replay:
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0d,
  *    (acc, e) -> acc + e)`
  * — left-to-right element order (IEEE sums must agree to the bit) AND
  * the fold's null semantics: zip_with pads unequal lengths with null
  * and one null term poisons the sum, so any length mismatch or null
  * element yields NULL. Pinned over the fixture embeddings (the real
  * v14/v19/v21 sub-vector/centroid shapes) plus degenerate frames. */
class SquaredL2Spec extends SparkSpec {

  private def composed(a: org.apache.spark.sql.Column,
                       b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)

  private def checkFrame(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.select(
        composed(col("a"), col("b")).as("want"),
        SquaredL2(col("a"), col("b")).as("got"))
      .filter(not(col("want") <=> col("got")))
    assert(bad.count() === 0L, s"diverged, e.g. ${bad.take(1).mkString}")
  }

  test("bit-identical on the fixture embedding pairs") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    // adjacent-id pairs: real 64-dim magnitudes, the rerank shape
    val pairs = emb.alias("x").join(emb.alias("y"),
        col("x.vec_id") + 1 === col("y.vec_id"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    checkFrame(pairs)
    // 8-dim sub-vector slices: the encode shape
    checkFrame(pairs.select(
      slice(col("a"), 1, 8).as("a"), slice(col("b"), 9, 8).as("b")))
  }

  test("bit-identical on degenerate shapes") {
    import spark.implicits._
    val rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq[java.lang.Double](), Seq[java.lang.Double]()),          // empty -> 0.0
      (Seq[java.lang.Double](1.0), Seq[java.lang.Double]()),       // length mismatch -> null
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)), // null elem -> null
      (Seq[java.lang.Double](0.1, -2.5e300, 3.0),
        Seq[java.lang.Double](-0.1, 2.5e300, 3.0)),                // overflow -> Infinity both
      (Seq[java.lang.Double](Double.NaN, 1.0),
        Seq[java.lang.Double](0.0, 1.0))                           // NaN propagates identically
    )
    checkFrame(rows.toDF("a", "b"))
    // null array input -> null in both forms
    checkFrame(Seq((null, Seq[java.lang.Double](1.0)))
      .toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"), col("b")))
  }
}
