package graft.ops

import graft.SparkSpec
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._

/** Unit pins for the [[TxTable]] protocol pieces CrashSafeSwapSpec's
  * end-to-end scenarios don't isolate: manifest-log trimming, hidden-name
  * filtering in the data-file walk, the loud failure modes of version
  * resolution, and the manifest-served read path (one scan per distinct
  * file, no listing). */
class TxTableSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** A nation-partitioned customer snapshot at v1 and the q68 merge at
    * v2, vacuum deferred: e22's two-version table. */
  private def withMergedSnapshot[A](body: String => A): A = {
    ExportOps.withScratch("graft_txunit_tt", "spec") { out =>
      val root = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      Relational.mergePartitioned(spark, root, Relational.q68Changes(spark, d),
        Seq("name", "bal"), vacuumNow = false)
      assert(TxTable.currentVersion(spark, root) === 2L)
      body(root)
    }
  }

  private def relations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("readVersions equals the union of the per-version reads, each tagged") {
    withMergedSnapshot { root =>
      val both = TxTable.readVersions(spark, root, Seq(1L, 2L))
      val union = TxTable.readVersion(spark, root, 1L)
        .withColumn(TxTable.VersionCol, lit(1L))
        .unionByName(TxTable.readVersion(spark, root, 2L)
          .withColumn(TxTable.VersionCol, lit(2L)))
      assert(both.columns.toSeq === union.columns.toSeq)
      assert(both.schema.map(f => f.name -> f.dataType) ===
        union.schema.map(f => f.name -> f.dataType))
      assert(rows(both) === rows(union))
      // a single version is the plain read plus a constant tag
      assert(rows(TxTable.readVersions(spark, root, Seq(2L))) ===
        rows(TxTable.readVersion(spark, root, 2L)
          .withColumn(TxTable.VersionCol, lit(2L))))
    }
  }

  test("readVersions scans each distinct file once") {
    withMergedSnapshot { root =>
      val both = TxTable.readVersions(spark, root, Seq(1L, 2L))
      val rels = relations(both)
      assert(rels.size === 1, s"one scan for both versions, got ${rels.size}")
      val served = rels.head.location.inputFiles.toSeq
      val listed = (TxTable.filesOfVersion(spark, root, 1L) ++
        TxTable.filesOfVersion(spark, root, 2L)).distinct
      assert(served.size === listed.size && served.distinct.size === served.size,
        s"each distinct manifest file once: $served")
      assert(served.map(_.stripPrefix("file:").replaceAll("^/+", "/")).toSet ===
        listed.map(f => s"$root/$f").toSet)
      // the two versions share all but the merged partitions' files
      assert(listed.size < TxTable.filesOfVersion(spark, root, 1L).size +
        TxTable.filesOfVersion(spark, root, 2L).size)
    }
  }

  test("a manifest read lists no directory and resolves no data source") {
    withMergedSnapshot { root =>
      def discovered(body: => Unit): Long = {
        val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
        body
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
      }
      // the control: a path read lists (and checks and globs) its paths
      assert(discovered(spark.read.parquet(root).collect()) > 0)
      for (df <- Seq(() => TxTable.read(spark, root),
                     () => TxTable.readVersions(spark, root, Seq(1L, 2L)))) {
        var built: DataFrame = null
        assert(discovered { built = df(); built.collect() } === 0L,
          "a manifest read must not list files")
        // DataSource's path resolution (its checkPathsExist and globPath
        // pools) builds an InMemoryFileIndex; the manifest read never does
        assert(relations(built).forall(r => !r.location.isInstanceOf[InMemoryFileIndex]))
      }
    }
  }

  test("readVersions keeps the vacuum, no-manifest and out-of-root errors") {
    withMergedSnapshot { root =>
      TxTable.vacuum(spark, root)
      val vacuumed = intercept[IllegalStateException] {
        TxTable.readVersions(spark, root, Seq(1L, 2L))
      }
      assert(vacuumed.getMessage.startsWith(s"version 1 of $root is no longer readable"),
        vacuumed.getMessage)
      assert(vacuumed.getMessage.contains("deleted by vacuum"))
      val never = intercept[IllegalArgumentException] {
        TxTable.readVersions(spark, root, Seq(2L, 9L))
      }
      assert(never.getMessage.contains("vacuumed or never committed"))
    }
    import spark.implicits._
    ExportOps.withScratch("graft_txunit7", "spec") { out =>
      val src = s"$out/src"
      Seq((1L, 0), (2L, 1)).toDF("k", "p").write.partitionBy("p").parquet(src)
      val cln = s"$out/cln"
      assert(intercept[IllegalArgumentException] {
        TxTable.read(spark, cln)
      }.getMessage.contains("bootstrap first"))
      // a hand-committed clone whose references leave its root AND carry
      // partition directories: served without the root as base path it
      // would silently lose `p`, so the read refuses it
      TxTable.bootstrapIfNeeded(spark, src)
      new java.io.File(cln).mkdirs()
      TxTable.commit(spark, cln, TxTable.liveFiles(spark, src).map(f => s"../src/$f"))
      val mixed = intercept[IllegalStateException] { TxTable.read(spark, cln) }
      assert(mixed.getMessage.contains("mixes out-of-root manifest references"),
        mixed.getMessage)
    }
  }

  test("vacuum trims the manifest log to keepManifests, never the latest") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit", "spec") { out =>
      val root = s"$out/t"
      Seq((1L, "a")).toDF("k", "v").write.parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      val live = TxTable.liveFiles(spark, root)
      (2 to 15).foreach { _ => TxTable.commit(spark, root, live) }
      assert(TxTable.currentVersion(spark, root) === 15L)
      TxTable.vacuum(spark, root, keepManifests = 3)
      val txFiles = new java.io.File(root, "_tx").listFiles()
        .map(_.getName).filter(_.startsWith("manifest-")).sorted.toSeq
      assert(txFiles === Seq("manifest-v13.txt", "manifest-v14.txt",
        "manifest-v15.txt"),
        s"log must keep exactly the last 3 manifests: $txFiles")
      // the latest still resolves; a trimmed version fails loudly
      assert(TxTable.read(spark, root).count() === 1L)
      val ex = intercept[IllegalArgumentException] {
        TxTable.readVersion(spark, root, 2L)
      }
      assert(ex.getMessage.contains("vacuumed or never committed"))
    }
  }

  test("listDataFiles skips hidden names at every level; vacuum leaves them alone") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit2", "spec") { out =>
      val root = s"$out/t"
      Seq((1L, 0), (2L, 1)).toDF("k", "p")
        .repartition(col("p")).write.partitionBy("p").parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      // plant hidden debris a crashed writer could leave: a dot-staged
      // dir with a parquet inside, and an underscore marker file
      val hiddenDir = new java.io.File(root, ".stage_crashed/p=0")
      hiddenDir.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(hiddenDir, "part-x.parquet").toPath,
        Array[Byte](1, 2, 3))
      java.nio.file.Files.write(
        new java.io.File(root, "_marker").toPath, Array[Byte](0))
      val listed = TxTable.listDataFiles(spark, root)
      assert(listed.forall(f => !f.contains(".stage_crashed")),
        s"hidden dirs must not be listed as data: $listed")
      assert(listed.toSet === TxTable.liveFiles(spark, root).toSet)
      TxTable.vacuum(spark, root)
      // vacuum reasons over VISIBLE files only — hidden debris is not its
      // jurisdiction (Spark never reads it either), and must survive
      assert(new java.io.File(hiddenDir, "part-x.parquet").exists())
      assert(new java.io.File(root, "_marker").exists())
      assert(TxTable.read(spark, root).count() === 2L)
    }
  }

  test("read/liveFiles on an unregistered table fail loudly, not empty") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit3", "spec") { out =>
      val root = s"$out/t"
      Seq((1L, "a")).toDF("k", "v").write.parquet(root)
      val ex = intercept[IllegalArgumentException] {
        TxTable.read(spark, root)
      }
      assert(ex.getMessage.contains("bootstrap first"))
    }
  }

  test("an empty-but-legal manifest serves an empty frame via the schema sidecar") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit4", "spec") { out =>
      val root = s"$out/t"
      // stageAndCommit records the schema sidecar; then a maintenance
      // step (e.g. a retention erasure expiring every partition) commits
      // ZERO files — the table must serve empty with the schema, not die
      // in parquet's "Unable to infer schema"
      TxTable.stageAndCommit(Seq((1L, "a")).toDF("k", "v"), root,
        append = false)
      TxTable.commit(spark, root, Nil)
      val served = TxTable.read(spark, root)
      assert(served.count() === 0L)
      assert(served.columns.toSeq === Seq("k", "v"))
      // the zero-file VERSION also time-travels as empty
      assert(TxTable.readVersion(spark, root,
        TxTable.currentVersion(spark, root)).count() === 0L)
    }
  }

  test("a zero-file manifest without a schema sidecar fails with the TxTable story") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit5", "spec") { out =>
      val root = s"$out/t"
      Seq((1L, "a")).toDF("k", "v").write.parquet(root)
      TxTable.bootstrapIfNeeded(spark, root) // no sidecar written this path
      TxTable.commit(spark, root, Nil)
      val ex = intercept[IllegalStateException] { TxTable.read(spark, root) }
      assert(ex.getMessage.contains("zero data files"),
        s"must explain the empty snapshot, got: ${ex.getMessage}")
    }
  }

  test("readVersion after vacuum reports the retention contract, not file-not-found") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit6", "spec") { out =>
      val root = s"$out/t"
      // v1 = one row; v2 = a full replacement (new files) — then vacuum
      // deletes v1's data but RETAINS its manifest as commit history
      TxTable.stageAndCommit(Seq((1L, "a")).toDF("k", "v"), root,
        append = false, vacuumNow = false)
      val vOld = TxTable.currentVersion(spark, root)
      TxTable.stageAndCommit(Seq((2L, "b")).toDF("k", "v"), root,
        append = false, vacuumNow = false)
      // both versions readable pre-vacuum (the e22 time-travel window)
      assert(TxTable.readVersion(spark, root, vOld).count() === 1L)
      TxTable.vacuum(spark, root)
      assert(TxTable.read(spark, root).as[(Long, String)].collect()
        .toSeq === Seq((2L, "b")))
      // the old manifest still resolves (history) but its read tells the
      // accurate vacuum story instead of parquet's missing-file error
      val ex = intercept[IllegalStateException] {
        TxTable.readVersion(spark, root, vOld)
      }
      assert(ex.getMessage.contains("deleted by vacuum"),
        s"got: ${ex.getMessage}")
    }
  }

  test("stage lands files at their partition paths, invisible until commit") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit7", "spec") { out =>
      val root = s"$out/t"
      Seq((1L, 0), (2L, 1)).toDF("k", "p").write.partitionBy("p").parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      // a crashed earlier attempt's stage: overwritten, never promoted
      val crashed = new java.io.File(s"$root.stage/p=9")
      crashed.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(crashed, "part-crashed.parquet").toPath, Array[Byte](1))
      val staged = TxTable.stage(Seq((3L, 1), (4L, 2)).toDF("k", "p"), root, "p")
      assert(staged.map(_.takeWhile(_ != '/')).toSet === Set("p=1", "p=2"))
      assert(staged.forall(f => new java.io.File(root, f).isFile), staged)
      assert(!new java.io.File(s"$root.stage").exists(), "the stage must be deleted")
      assert(!new java.io.File(root, "p=9").exists(), "crashed leftovers must not be promoted")
      // staged-but-uncommitted files are on disk, never served
      def keys() = TxTable.read(spark, root).select($"k").as[Long].collect().sorted.toSeq
      assert(keys() === Seq(1L, 2L))
      TxTable.commit(spark, root, TxTable.liveFiles(spark, root) ++ staged)
      assert(keys() === Seq(1L, 2L, 3L, 4L))
    }
  }

  test("a leftover manifest dot-temp breaks neither vacuum nor currentVersion and is kept") {
    import spark.implicits._
    ExportOps.withScratch("graft_txunit8", "spec") { out =>
      val root = s"$out/t"
      TxTable.stageAndCommit(Seq((1L, "a")).toDF("k", "v"), root, append = true)
      val v = TxTable.currentVersion(spark, root)
      // a writer that died between writing its manifest temp and the rename
      val tmp = new java.io.File(root, s"_tx/.manifest-v${v + 1}.deadbeef.tmp")
      java.nio.file.Files.writeString(tmp.toPath, "part-in-flight.parquet")
      assert(TxTable.currentVersion(spark, root) === v)
      assert(TxTable.vacuum(spark, root).isEmpty)
      assert(tmp.exists(), "vacuum must not delete a manifest temp")
      assert(TxTable.read(spark, root).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    }
  }
}
