package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** e27/e28 property pins: a shallow clone copies ZERO data (manifest
  * only) and never perturbs its source; a restore is a NEW commit that
  * serves the old version while keeping the rolled-back history
  * resolvable. */
class CloneRestoreSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def fileMd5s(root: String): Map[String, String] =
    TxTable.liveFiles(spark, root).map { rel =>
      val f = new java.io.File(root, rel)
      val md = java.security.MessageDigest.getInstance("MD5")
      rel -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }.toMap

  test("e27: the clone is manifest-only; the source is never perturbed") {
    ExportOps.withScratch("graft_clone_spec", d) { out =>
      val src = s"$out/src"; val cln = s"$out/clone"
      graft.Tables(spark, d, "customer")
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
          col("c_nationkey").as("p"))
        .write.parquet(src)
      TxTable.bootstrapIfNeeded(spark, src)
      val srcBefore = fileMd5s(src)
      val srcRows = TxTable.read(spark, src).count()
      TxTable.shallowClone(spark, src, cln)
      // 1) zero-copy: NO data file lives under the clone root
      assert(TxTable.listDataFiles(spark, cln).isEmpty,
        "a shallow clone must copy no data files")
      // 2) the clone serves the source's rows
      assert(TxTable.read(spark, cln).count() == srcRows)
      // 3) appending to the clone touches neither source bytes nor reads
      val extra = TxTable.read(spark, src).limit(5)
        .select((col("k") + 900000L).as("k"), col("bal"), col("p"))
      TxTable.stageAndCommit(extra, cln, append = true, vacuumNow = false)
      assert(TxTable.read(spark, cln).count() == srcRows + 5)
      assert(TxTable.read(spark, src).count() == srcRows,
        "the source must not see the clone's append")
      assert(fileMd5s(src) == srcBefore,
        "the clone's append must leave every source file byte-identical")
      // 4) vacuuming the CLONE can never delete source files (they are
      //    outside its root)
      TxTable.vacuum(spark, cln)
      assert(fileMd5s(src) == srcBefore,
        "vacuum on the clone must not reach outside its root")
    }
    ()
  }

  test("e28: restore serves the old version as a NEW commit, history intact") {
    ExportOps.withScratch("graft_restore_spec", d) { out =>
      val snap = s"$out/snap"
      graft.Tables(spark, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snap)
      TxTable.bootstrapIfNeeded(spark, snap) // v1
      def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
        // bit_xor: order-independent and can't overflow under ANSI
        df.agg(expr(
          "bit_xor(xxhash64(k, CAST(floor(bal * 100 + 0.5) AS BIGINT)))"))
          .collect()(0).getLong(0)
      val v1fp = fingerprint(TxTable.read(spark, snap))
      Relational.mergePartitioned(spark, snap,
        Relational.q68Changes(spark, d), Seq("name", "bal"),
        vacuumNow = false) // v2
      val v2fp = fingerprint(TxTable.read(spark, snap))
      assert(v2fp != v1fp, "the corrupting merge must change the table")
      val v3 = TxTable.restore(spark, snap, 1L)
      assert(v3 == 3L, "restore must be a NEW version")
      // the head serves v1's contents again
      assert(fingerprint(TxTable.read(spark, snap)) == v1fp)
      // and the rolled-back v2 stays resolvable history
      assert(fingerprint(TxTable.readVersion(spark, snap, 2L)) == v2fp,
        "restore must not erase the rolled-back version")
    }
    ()
  }
}
