package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** c11 property pins: the incremental refresh is append-only (the change
  * feed carries inserts and nothing else), never rewrites day-1 files,
  * and re-running the same arrivals inserts zero rows. */
class CdfRefreshSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def keepMin(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("doc_id"),
        expr("min_by(source, doc_id)").as("source"),
        expr("min_by(n_chars, doc_id)").as("n_chars"))
      .select(col("doc_id"), col("sig"), col("source"), col("n_chars"))

  test("c11: append-only CDF, day-1 byte-identity, idempotent re-run") {
    ExportOps.withScratch("graft_refresh_spec", d) { out =>
      val dir = s"$out/corpus"
      val docsT = graft.Tables(spark, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text")).as("sig"))
      val day1 = docsT.filter(col("doc_id") % 5 =!= 0)
      val day2 = docsT.filter(col("doc_id") % 5 === 0)
      TxTable.stageAndCommit(keepMin(day1), dir, append = false,
        vacuumNow = false)
      val v1 = TxTable.currentVersion(spark, dir)
      // fingerprint every live day-1 data file before the append
      def fileMd5s(): Map[String, String] = {
        val (fs, root) = (new java.io.File(dir), dir)
        TxTable.liveFiles(spark, root).map { rel =>
          val f = new java.io.File(fs, rel)
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val md = java.security.MessageDigest.getInstance("MD5")
          rel -> md.digest(bytes).map("%02x".format(_)).mkString
        }.toMap
      }
      val before = fileMd5s()
      val inserts = keepMin(day2)
        .join(TxTable.read(spark, dir).select(col("sig")), Seq("sig"),
          "left_anti")
      TxTable.stageAndCommit(inserts, dir, append = true, vacuumNow = false)
      val v2 = TxTable.currentVersion(spark, dir)
      // 1) the feed is inserts ONLY — no deletes, no update images
      val types = ExportOps.tableChanges(spark, dir, v1, v2, Seq("doc_id"))
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(types.keySet == Set("insert"),
        s"an append-only refresh must feed inserts only, got $types")
      assert(types("insert") > 0, "the arrival batch must insert something")
      // 2) every day-1 file is byte-identical after the append
      val after = fileMd5s()
      before.foreach { case (rel, h) =>
        assert(after.get(rel).contains(h),
          s"append must never rewrite a pre-existing file: $rel")
      }
      // 3) re-running the same arrivals against the refreshed table
      //    screens everything — zero inserts, an empty v2->v3 feed
      val rerun = keepMin(day2)
        .join(TxTable.read(spark, dir).select(col("sig")), Seq("sig"),
          "left_anti")
      assert(rerun.count() == 0L,
        "a re-delivered arrival batch must fully screen against the " +
          "refreshed signatures")
    }
    ()
  }
}
