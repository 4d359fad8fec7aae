package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** v22 pins the hash gate can't check:
  *
  *  - serving under tombstones equals REBUILDING the index without the
  *    deleted vectors, bit-for-bit (the deletion semantics are exact,
  *    not approximate);
  *  - the delete itself moves NO code files (O(deletes) tombstone write
  *    — the whole reason tombstones beat rebuilds);
  *  - no deleted id ever appears in a result;
  *  - compaction folds the tombstones in (serve unchanged, tombstone
  *    set empty, deleted codes physically gone). */
class TombstoneDeleteSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def fileState(dir: java.io.File): Map[String, (Long, String)] =
    dir.listFiles().filter(_.getName.startsWith("part-")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap

  private def emb = Tables(spark, d, "embeddings")

  test("v22: tombstoned serve == rebuilt-without-deleted serve, and no deleted id surfaces") {
    ExportOps.withScratch("graft_tsspec", "spec") { out =>
      val root = out.getAbsolutePath
      SimilarityOps.signCodes(emb).write.parquet(s"$root/codes")
      val codesBefore = fileState(new java.io.File(out, "codes"))
      SimilarityOps.v22Tombstones(spark, d).write.parquet(s"$root/tombstones")
      // the delete wrote only tombstones — code files untouched
      assert(fileState(new java.io.File(out, "codes")) === codesBefore,
        "a tombstone delete must not rewrite the code files")
      val served = SimilarityOps.v22ServeFrom(spark, root, d)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      // no deleted id in any result
      val deleted = SimilarityOps.v22Tombstones(spark, d)
        .collect().map(_.getLong(0)).toSet
      assert(served.forall(r => !deleted.contains(r._3)),
        s"deleted ids surfaced: ${served.filter(r => deleted.contains(r._3))}")
      // equal to the from-scratch rebuild over the filtered corpus
      val rebuiltRoot = s"$root/rebuilt"
      val live = emb.join(SimilarityOps.v22Tombstones(spark, d),
        Seq("vec_id"), "left_anti")
      SimilarityOps.signCodes(live).write.parquet(s"$rebuiltRoot/codes")
      live.limit(0).select(col("vec_id")).write.parquet(s"$rebuiltRoot/tombstones")
      val rebuilt = SimilarityOps.v22ServeFrom(spark, rebuiltRoot, d)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      assert(served === rebuilt,
        "tombstoned serve must be bit-identical to the rebuild")
    }
  }

  test("v22: compaction folds tombstones in — serve unchanged, set empty, codes shrunk") {
    ExportOps.withScratch("graft_tsspec2", "spec") { out =>
      val root = out.getAbsolutePath
      SimilarityOps.signCodes(emb).write.parquet(s"$root/codes")
      SimilarityOps.v22Tombstones(spark, d).write.parquet(s"$root/tombstones")
      val before = SimilarityOps.v22ServeFrom(spark, root, d)
        .collect().map(_.toString).toSeq
      val nDeleted = SimilarityOps.v22Tombstones(spark, d).count()
      val nCodesBefore = spark.read.parquet(s"$root/codes").count()
      SimilarityOps.v22Compact(spark, root)
      assert(spark.read.parquet(s"$root/tombstones").count() === 0L,
        "compaction must empty the tombstone set")
      assert(spark.read.parquet(s"$root/codes").count() ===
        nCodesBefore - nDeleted,
        "compaction must physically drop the deleted codes")
      val after = SimilarityOps.v22ServeFrom(spark, root, d)
        .collect().map(_.toString).toSeq
      assert(after === before, "compaction must not change the serve")
      // idempotent re-run (empty tombstones fold to a no-op rewrite),
      // including the sweep of a stale trash dir from a simulated crash
      new java.io.File(out, "codes.trash").mkdirs()
      SimilarityOps.v22Compact(spark, root)
      assert(!new java.io.File(out, "codes.trash").exists(),
        "compaction must sweep a previous crash's trash")
      val again = SimilarityOps.v22ServeFrom(spark, root, d)
        .collect().map(_.toString).toSeq
      assert(again === before, "re-compaction must be a no-op on the serve")
    }
  }
}
