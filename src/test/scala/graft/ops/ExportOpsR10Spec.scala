package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** e17 property spec — the invariant the value gate can't see: a FAILED
  * audit leaves the pointer (and therefore every reader) on the previous
  * version, with the rejected candidate quarantined on disk. */
class ExportOpsR10Spec extends SparkSpec {

  test("e17: a failed audit never flips LATEST; the candidate stays quarantined") {
    import spark.implicits._
    ExportOps.withScratch("graft_wap_spec", "spec") { out =>
      val root = out.getAbsolutePath
      val v1 = Seq(("en", 10L), ("fr", 7L)).toDF("lang", "n_docs")
      val violation = col("n_docs") <= 0
      assert(ExportOps.auditedPublish(v1, root, 1L, violation))
      val served1 = ExportOps.readPublished(spark, root)
        .as[(String, Long)].collect().toSet
      // the poisoned candidate: a negative count the audit must reject
      val v2 = Seq(("en", 12L), ("fr", -3L)).toDF("lang", "n_docs")
      assert(!ExportOps.auditedPublish(v2, root, 1L + 1L, violation))
      // pointer untouched: readers still resolve v1, byte-for-byte
      val latest = {
        val src = scala.io.Source.fromFile(s"$root/LATEST", "UTF-8")
        try src.mkString.trim finally src.close()
      }
      assert(latest === "1", s"failed audit moved LATEST to $latest")
      assert(ExportOps.readPublished(spark, root)
        .as[(String, Long)].collect().toSet === served1)
      // the rejected version is quarantined on disk (debuggable), but
      // invisible to pointer-resolving readers
      assert(new java.io.File(root, "v=2").exists(),
        "rejected candidate should stay staged for debugging")
      // a corrected v3 publishes over the top
      val v3 = Seq(("en", 12L), ("fr", 3L)).toDF("lang", "n_docs")
      assert(ExportOps.auditedPublish(v3, root, 3L, violation))
      assert(ExportOps.readPublished(spark, root)
        .as[(String, Long)].collect().toSet ===
        Set(("en", 12L), ("fr", 3L)))
    }
  }

  test("e18: manifest diff hands the consumer ONLY the newly-added files") {
    import spark.implicits._
    ExportOps.withScratch("graft_incr_spec", "spec") { out =>
      val root = out.getAbsolutePath
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.mode("append").parquet(s"$root/data")
      ExportOps.commitSnapshot(spark, root, 1L)
      val first = ExportOps.newFilesSince(spark, root, 0L, 1L)
      Seq((3L, "c")).toDF("k", "v")
        .write.mode("append").parquet(s"$root/data")
      ExportOps.commitSnapshot(spark, root, 2L)
      val fresh = ExportOps.newFilesSince(spark, root, 1L, 2L)
      val all2 = spark.read.parquet(s"$root/manifest/v=2")
        .collect().map(_.getString(0)).toSet
      assert(first.nonEmpty && fresh.nonEmpty)
      assert(fresh.toSet.intersect(first.toSet).isEmpty,
        "increment re-delivered files from the previous snapshot")
      assert(first.toSet.union(fresh.toSet) === all2,
        "snapshot-2 manifest must be exactly old files + new files")
      // the increment's data is exactly the appended batch — the
      // consumer never re-reads (and never misses) anything
      assert(spark.read.parquet(fresh: _*).as[(Long, String)]
        .collect().toSet === Set((3L, "c")))
    }
  }

  test("e20: vacuum removes only unreferenced files and is idempotent") {
    import spark.implicits._
    ExportOps.withScratch("graft_vac_spec", "spec") { out =>
      val root = out.getAbsolutePath
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.mode("append").parquet(s"$root/data")
      ExportOps.commitSnapshot(spark, root, 1L)
      Seq((3L, "c")).toDF("k", "v")
        .write.mode("append").parquet(s"$root/data")
      ExportOps.commitSnapshot(spark, root, 2L)
      // debris: a crashed retry, on disk but in no manifest
      Seq((99L, "zz")).toDF("k", "v")
        .write.mode("append").parquet(s"$root/data")
      def dataFiles(): Map[String, (Long, Long)] =
        new java.io.File(root, "data").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      val live = spark.read.parquet(s"$root/manifest/v=2")
        .collect().map(r => new java.io.File(r.getString(0)).getName).toSet
      val before = dataFiles()
      val removed = ExportOps.vacuum(spark, root, Seq(2L))
      // exactly the debris went; every referenced file is byte-untouched
      assert(removed.nonEmpty)
      assert(removed.map(p => new java.io.File(p).getName).toSet ===
        before.keySet -- live, "vacuum must delete exactly the orphans")
      assert(dataFiles() === before.filter { case (n, _) => live(n) },
        "referenced files must survive vacuum byte-untouched")
      // expired snapshot 1's manifest is gone; retained 2 remains
      assert(!new java.io.File(root, "manifest/v=1").exists())
      assert(new java.io.File(root, "manifest/v=2").exists())
      // a second vacuum finds nothing — idempotent maintenance
      assert(ExportOps.vacuum(spark, root, Seq(2L)).isEmpty)
      assert(spark.read.parquet(s"$root/data").as[(Long, String)]
        .collect().toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("e20: vacuum tolerates non-numeric v= manifest debris") {
    import spark.implicits._
    ExportOps.withScratch("graft_vac_tmp", "spec") { out =>
      val root = out.getAbsolutePath
      Seq((1L, "a")).toDF("k", "v").write.mode("append").parquet(s"$root/data")
      ExportOps.commitSnapshot(spark, root, 1L)
      // a writer's leftover temp dir: starts with v= but is not a version;
      // the parse must skip it — an abort here would strand maintenance
      // half-applied (data deletes durable, manifest expiry not run)
      val tmp = new java.io.File(root, "manifest/v=1.tmp")
      tmp.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "marker").toPath, "in-flight")
      val removed = ExportOps.vacuum(spark, root, Seq(1L))
      assert(removed.isEmpty)
      // the unparseable entry is neither fatal nor deleted
      assert(new java.io.File(root, "manifest/v=1.tmp/marker").exists())
      assert(new java.io.File(root, "manifest/v=1").exists())
    }
  }
}
