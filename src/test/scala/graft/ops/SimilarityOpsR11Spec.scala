package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** v19 property specs: serving from the persisted PQ artifacts must equal
  * the in-memory v14 path bit-for-bit (training and encoding are
  * deterministic), and the answer must actually COME from the artifacts —
  * doctoring the persisted codes changes the serve. */
class SimilarityOpsR11Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("v19: artifact serve equals in-memory v14; doctored codes change the serve") {
    ExportOps.withScratch("graft_pqidx_spec", "spec") { out =>
      val root = out.getAbsolutePath
      val vecs = DedupOps.cachedShared(
        spark.read.parquet(s"$d/embeddings.parquet").select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")))
      val codebook = SimilarityOps.pqCodebook(spark, vecs)
      codebook.write.parquet(s"$root/codebook")
      SimilarityOps.pqEncode(vecs, codebook).write.parquet(s"$root/codes")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf(_))).toSet
      val fromArtifact = rows(SimilarityOps.pqAdcServe(vecs,
        spark.read.parquet(s"$root/codebook"),
        spark.read.parquet(s"$root/codes")))
      val inMemory = rows(SimilarityOps.pqAdcTopK(spark,
        spark.read.parquet(s"$d/embeddings.parquet")))
      assert(fromArtifact === inMemory,
        "reloaded codebook+codes must serve exactly what the in-memory " +
          "path computes — the artifact IS the index")
      // serve twice from the same artifacts: bit-stable
      assert(rows(SimilarityOps.pqAdcServe(vecs,
        spark.read.parquet(s"$root/codebook"),
        spark.read.parquet(s"$root/codes"))) === fromArtifact)
      // doctored artifact: flip every code of one non-query vector — the
      // ADC shortlist for at least one query must move, so the serve
      // output changes; an unchanged serve would mean the path silently
      // re-encodes from raw vectors instead of reading the index
      val victim = spark.read.parquet(s"$root/codes")
        .filter(col("vec_id") >= SimilarityOps.NumQueries)
        .agg(min(col("vec_id"))).head().getLong(0)
      spark.read.parquet(s"$root/codes")
        .withColumn("code",
          when(col("vec_id") === victim, (col("code") + 1) % 16)
            .otherwise(col("code")))
        .write.parquet(s"$root/codes2")
      val doctored = rows(SimilarityOps.pqAdcServe(vecs,
        spark.read.parquet(s"$root/codebook"),
        spark.read.parquet(s"$root/codes2")))
      assert(doctored !== fromArtifact,
        s"re-coding vector $victim did not change the serve — the result " +
          "is not coming from the codes artifact")
    }
  }

  test("PQ trains a smaller codebook on a degenerate corpus instead of throwing") {
    // r15 advice: < k distinct subvectors must degrade deterministically
    // (the DuckDB replay's QUALIFY code < 16 builds the same smaller
    // codebook and answers) — the engine crashing where the oracle
    // proceeds is an alignment bug, not safety
    import spark.implicits._
    // 3 distinct vectors repeated: every 8-dim subspace has ≤ 3 distinct
    // subvectors, far under k=16
    val base = Seq(
      Array.fill(64)(1.0), Array.fill(64)(2.0),
      Array.tabulate(64)(j => (j % 4).toDouble))
    val vecs = (0L until 30L).map(i => (i, base((i % 3).toInt)))
      .toDF("vec_id", "v")
    val codebook = SimilarityOps.pqCodebook(spark, vecs)
    val sizes = codebook.groupBy("sub").count().collect()
      .map(r => r.getLong(1))
    assert(sizes.nonEmpty && sizes.forall(n => n >= 1 && n < 16),
      s"degenerate corpus must train < 16 codes per subspace: ${sizes.toSeq}")
    // and the full encode+serve path runs on it: a codebook of ALL the
    // distinct subvectors is lossless, so every vector encodes exactly
    val codes = SimilarityOps.pqEncode(vecs, codebook)
    assert(codes.select("vec_id").distinct().count() === 30L)
  }
}
