package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** e24 pins the driver's hash gate can't check: the Bloom manifest must
  * actually SKIP files on the hash-scattered layout where zone maps
  * can't, include the true file for every present key, and prove absence
  * without opening anything. */
class BloomIndexSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def withIndex[A](body: (String, org.apache.spark.sql.DataFrame)
      => A): A = {
    ExportOps.withScratch("graft_bloomspec", "spec") { out =>
      val dataDir = s"$out/data"
      graft.Tables(spark, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8, col("doc_id"))
        .write.parquet(dataDir)
      val manifest = ExportOps.bloomManifest(spark, dataDir, "doc_id")
      body(dataDir, ExportOps.localize(manifest))
    }
  }

  private def engineHash(k: Long): Long = {
    import spark.implicits._
    Seq(k).toDF("doc_id").select(xxhash64(col("doc_id"))).head().getLong(0)
  }

  test("e24: blooms skip where zone maps are blind, and never skip the true file") {
    withIndex { (dataDir, manifest) =>
      val nFiles = manifest.count()
      assert(nFiles === 8L, s"hash layout must produce 8 files, got $nFiles")
      val bounds = spark.read.parquet(dataDir)
        .agg(min(col("doc_id")), max(col("doc_id"))).head()
      val midKey = (bounds.getLong(0) + bounds.getLong(1)) / 2
      // the present key nearest the midpoint (the grid probe's shape)
      val probe = spark.read.parquet(dataDir)
        .orderBy(abs(col("doc_id") - midKey)).select("doc_id")
        .head().getLong(0)
      // zone maps: on the hash-scattered layout, [min,max] per file spans
      // (nearly) the whole domain — count how many files a min/max
      // manifest would have to keep for this key
      val zones = spark.read.parquet(dataDir)
        .withColumn("file", input_file_name())
        .groupBy("file")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .collect()
      val zoneKeeps = zones.count(r =>
        r.getLong(1) <= probe && probe <= r.getLong(2))
      val candidates = ExportOps.bloomCandidates(manifest,
        Seq(engineHash(probe)))
      assert(candidates.length < nFiles,
        s"bloom must prune some of the $nFiles files for one key")
      assert(candidates.length < zoneKeeps,
        s"bloom (${candidates.length}) must beat zone maps ($zoneKeeps) " +
          "on the scattered layout")
      // and the file that really holds the key is among the candidates
      val trueFile = spark.read.parquet(dataDir)
        .withColumn("file", input_file_name())
        .filter(col("doc_id") === probe).select("file").head().getString(0)
      assert(candidates.contains(trueFile),
        "a Bloom candidate list may over-approximate but never drop the true file")
    }
  }

  test("e24: the candidate probe is a distributed semi-join — bloom bytes never reach the driver") {
    withIndex { (_, manifest) =>
      val frame = ExportOps.bloomCandidateFrame(manifest, Seq(engineHash(1L)))
      assert(frame.columns === Array("file"),
        "the probe result must carry file paths only, never filter bytes")
      val p = frame.queryExecution.executedPlan.toString
      assert(p.contains("graft_bloom_probe"),
        s"probe must ride the per-row bloom expression:\n$p")
      assert(p.contains("LeftSemi"),
        s"candidates must form via a semi-join:\n$p")
    }
  }

  test("e24: an absent key proves absence without opening any file") {
    withIndex { (dataDir, manifest) =>
      val mx = spark.read.parquet(dataDir).agg(max(col("doc_id")))
        .head().getLong(0)
      val absent = mx + 1234567L
      val candidates = ExportOps.bloomCandidates(manifest,
        Seq(engineHash(absent)))
      // fpp 1% per file over 8 files: a false positive is possible but a
      // full candidate list means the index is broken
      assert(candidates.length < 8,
        s"absent key must prune files, kept: ${candidates.length}")
      val res = ExportOps.bloomProbe(spark, dataDir, manifest, "doc_id",
        Seq(absent))
      assert(res.count() === 0L, "absent key must return no rows")
    }
  }
}
