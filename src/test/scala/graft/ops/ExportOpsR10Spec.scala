package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The [[TxTable]] invariants e17, e18 and e20's value gates can't see:
  * a FAILED audit leaves the committed version (and therefore every
  * reader) where it was, with the rejected candidate on disk but never
  * served; an increment is exactly the files one version added; vacuum
  * deletes exactly the unreferenced files. */
class ExportOpsR10Spec extends SparkSpec {

  test("e17: a failed audit never commits; the candidate stays on disk, unserved") {
    import spark.implicits._
    ExportOps.withScratch("graft_wap_spec", "spec") { out =>
      val root = s"$out/table"
      val violation = col("n_docs") <= 0
      // e17's write-audit-publish: stage, audit the staged files, commit
      // only when zero rows violate
      def publishIfClean(df: org.apache.spark.sql.DataFrame): Boolean = {
        val staged = TxTable.stage(df, root)
        val clean = spark.read.parquet(staged.map(f => s"$root/$f"): _*)
          .filter(violation).count() == 0L
        if (clean) TxTable.commit(spark, root, staged)
        clean
      }
      def served() = TxTable.read(spark, root).as[(String, Long)].collect().toSet
      assert(publishIfClean(Seq(("en", 10L), ("fr", 7L)).toDF("lang", "n_docs")))
      val v1 = TxTable.currentVersion(spark, root)
      val served1 = served()
      // the poisoned candidate: a negative count the audit must reject
      val v2 = Seq(("en", 12L), ("fr", -3L)).toDF("lang", "n_docs")
      val before = TxTable.listDataFiles(spark, root).toSet
      assert(!publishIfClean(v2))
      // no commit: readers still resolve v1, row for row
      assert(TxTable.currentVersion(spark, root) === v1,
        "a failed audit must not commit a version")
      assert(served() === served1)
      // the rejected files are on disk (debuggable) but in no manifest
      val rejected = TxTable.listDataFiles(spark, root).toSet -- before
      assert(rejected.nonEmpty, "rejected candidate should stay on disk for debugging")
      assert(rejected.intersect(TxTable.liveFiles(spark, root).toSet).isEmpty,
        "rejected files must not be live")
      // a corrected v3 publishes over the top
      assert(publishIfClean(Seq(("en", 12L), ("fr", 3L)).toDF("lang", "n_docs")))
      assert(TxTable.currentVersion(spark, root) === v1 + 1L)
      assert(served() === Set(("en", 12L), ("fr", 3L)))
    }
  }

  test("e18: manifest diff hands the consumer ONLY the newly-added files") {
    import spark.implicits._
    ExportOps.withScratch("graft_incr_spec", "spec") { out =>
      val root = s"$out/table"
      def append(df: org.apache.spark.sql.DataFrame): Seq[String] =
        TxTable.filesOfVersion(spark, root,
          TxTable.stageAndCommit(df, root, append = true, vacuumNow = false))
      val first = append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val all2 = append(Seq((3L, "c")).toDF("k", "v"))
      val fresh = all2.diff(first)
      assert(first.nonEmpty && fresh.nonEmpty)
      assert(fresh.toSet.intersect(first.toSet).isEmpty,
        "increment re-delivered files from the previous snapshot")
      assert(first.toSet.union(fresh.toSet) === all2.toSet,
        "version 2 must be exactly old files + new files")
      // the increment's data is exactly the appended batch — the
      // consumer never re-reads (and never misses) anything
      assert(spark.read.parquet(fresh.map(f => s"$root/$f"): _*)
        .as[(Long, String)].collect().toSet === Set((3L, "c")))
    }
  }

  test("e20: vacuum removes only unreferenced files and is idempotent") {
    import spark.implicits._
    ExportOps.withScratch("graft_vac_spec", "spec") { out =>
      val root = s"$out/table"
      TxTable.stageAndCommit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root,
        append = true, vacuumNow = false)
      TxTable.stageAndCommit(Seq((3L, "c")).toDF("k", "v"), root,
        append = true, vacuumNow = false)
      // debris: a crashed retry, on disk but in no manifest
      Seq((99L, "zz")).toDF("k", "v").write.mode("append").parquet(root)
      def dataFiles(): Map[String, (Long, Long)] =
        new java.io.File(root).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      val live = TxTable.liveFiles(spark, root).toSet
      val before = dataFiles()
      val removed = TxTable.vacuum(spark, root)
      // exactly the debris went; every referenced file is byte-untouched
      assert(removed.nonEmpty)
      assert(removed.toSet === before.keySet -- live,
        "vacuum must delete exactly the orphans")
      assert(dataFiles() === before.filter { case (n, _) => live(n) },
        "referenced files must survive vacuum byte-untouched")
      // a second vacuum finds nothing — idempotent maintenance
      assert(TxTable.vacuum(spark, root).isEmpty)
      assert(spark.read.parquet(root).as[(Long, String)]
        .collect().toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("e20: vacuum tolerates non-numeric v= manifest debris") {
    import spark.implicits._
    ExportOps.withScratch("graft_vac_tmp", "spec") { out =>
      val root = s"$out/table"
      TxTable.stageAndCommit(Seq((1L, "a")).toDF("k", "v"), root,
        append = true, vacuumNow = false)
      TxTable.stageAndCommit(Seq((2L, "b")).toDF("k", "v"), root,
        append = true, vacuumNow = false)
      // a writer's leftovers in the manifest log: names that start like a
      // version but are not one. The parse must skip them — an abort here
      // would strand maintenance half-applied (orphan deletes durable,
      // manifest trimming not run)
      val tmpDir = new java.io.File(root, "_tx/manifest-v1.tmp")
      tmpDir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(tmpDir, "marker").toPath, "in-flight")
      val junk = new java.io.File(root, "_tx/manifest-vjunk.txt")
      java.nio.file.Files.writeString(junk.toPath, "part-in-flight.parquet")
      val v = TxTable.currentVersion(spark, root)
      assert(v >= 2L)
      val removed = TxTable.vacuum(spark, root, keepManifests = 1)
      assert(removed.isEmpty)
      // the unparseable entries are neither fatal nor deleted; the trim
      // pass still ran past them
      assert(new java.io.File(tmpDir, "marker").exists())
      assert(junk.exists())
      assert(new java.io.File(root, s"_tx/manifest-v$v.txt").exists())
      assert(!new java.io.File(root, s"_tx/manifest-v${v - 1}.txt").exists(),
        "manifest trimming must still run past the debris")
      assert(TxTable.currentVersion(spark, root) === v)
      assert(TxTable.read(spark, root).as[(Long, String)]
        .collect().toSet === Set((1L, "a"), (2L, "b")))
    }
  }
}
