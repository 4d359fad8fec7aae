package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The partitioned training-data export: directory layout, partition
  * pruning on read-back, and agreement with the q51 split assignment. */
class ExportOpsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val d = "/root/testdata/sf0.001"

  private val scratch = scala.collection.mutable.ListBuffer[String]()
  private def tmp(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    scratch += p
    p
  }

  override def afterAll(): Unit =
    try scratch.foreach(p => ExportOps.deleteRecursively(new java.io.File(p)))
    finally super.afterAll()

  private lazy val out: String =
    ExportOps.trainingExport(spark, d, tmp("graft_export_spec"))

  test("export writes one directory per (split, lang) pair") {
    val splits = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(splits.toSeq === Seq("split=test", "split=train", "split=val"), splits.toSeq)
    splits.foreach { sp =>
      val langs = new java.io.File(out, sp).listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(langs.nonEmpty && langs.forall(_.startsWith("lang=")),
        s"$sp: ${langs.toSeq}")
    }
  }

  test("filesPerDir bounds parquet file count in every partition directory") {
    val bounded = ExportOps.trainingExport(spark, d, tmp("graft_export_bounded"),
      filesPerDir = 2)
    val dirs = for {
      sp <- new java.io.File(bounded).listFiles().toSeq if sp.isDirectory
      lg <- sp.listFiles().toSeq if lg.isDirectory
    } yield lg
    assert(dirs.nonEmpty)
    dirs.foreach { dir =>
      val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 2,
        s"${dir.getPath}: $files files, expected 1..2")
    }
    // routing must not change the data
    assert(spark.read.parquet(bounded).count() ===
      spark.read.parquet(out).count())
  }

  test("WHERE split='val' prunes the scan to the val partitions") {
    val valOnly = spark.read.parquet(out).filter(col("split") === "val")
    val p = valOnly.queryExecution.explainString(FormattedMode)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("split") && pf.contains("= val"),
      s"split filter did not become a partition filter:\n$p")
    // and the pushed-data filter list must NOT contain it (it never reaches
    // row-level filtering — the directories are skipped outright)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushed.contains("split"), s"split leaked into data filters: $pushed")
  }

  test("streaming export lands the same partitioned layout") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val streamOut = tmp("graft_export_stream")
    val ckpt = tmp("graft_export_ckpt")
    val q = ExportOps.streamingTrainingExport(
      in.toDS().toDF("doc_id", "lang", "n_chars"), streamOut, ckpt)
    try {
      in.addData((0 until 200).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", 10L)): _*)
      q.processAllAvailable()
      val back = spark.read.parquet(streamOut)
      assert(back.count() === 200)
      val splits = back.select("split").distinct().as[String].collect().toSet
      assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
      // identical rows replayed into a second batch do not change assignment
      val assignment = back.select("doc_id", "split").as[(Long, String)].collect().toMap
      val expected = ExportOps.withSplit(
        (0 until 200).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", 10L))
          .toDF("doc_id", "lang", "n_chars"))
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      assert(assignment === expected)
    } finally q.stop()
  }

  test("streaming export restarts from its checkpoint exactly-once") {
    import spark.implicits._
    // the real recovery path: file-stream source + sink commit log. Batch 1
    // lands, the query STOPS (a crash/redeploy), a new arrival file appears,
    // and a fresh query instance on the SAME checkpoint must process only
    // the new file — nothing re-lands, nothing is lost.
    val root = tmp("graft_export_recovery")
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val streamOut = s"$root/data"; val ckpt = s"$root/ckpt"
    def docsDf(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", 10L))
      .toDF("doc_id", "lang", "n_chars")
    docsDf(0 until 100).coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def startStream() = ExportOps.streamingTrainingExport(
      spark.readStream.schema(schema).parquet(in), streamOut, ckpt)
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(streamOut).count() === 100)
    docsDf(100 until 200).coalesce(1).write.mode("append").parquet(in)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(streamOut)
    assert(back.count() === 200, "restart lost or re-landed rows")
    assert(back.select("doc_id").distinct().count() === 200,
      "restart re-landed batch-1 rows (exactly-once broken)")
    val assignment = back.select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val expected = ExportOps.withSplit(docsDf(0 until 200))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(assignment === expected)
  }

  test("read-back assignment matches the q51 split exactly") {
    val exported = spark.read.parquet(out)
      .select(col("doc_id"), col("split"))
    val q51 = graft.SparkEntry.queries("q51_split_assign")(spark, d)
      .select(col("doc_id"), col("split"))
    assert(exported.exceptAll(q51).isEmpty && q51.exceptAll(exported).isEmpty,
      "exported split assignment diverges from q51")
  }

  test("compaction folds a fragmented landing into size-targeted files, content intact") {
    val d = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-compact-spec-").toFile
    try {
      graft.Tables(spark, d, "documents").repartition(64)
        .write.parquet(s"$out/frag")
      def parquetFiles(p: String) = new java.io.File(p).listFiles()
        .count(_.getName.endsWith(".parquet"))
      val nFrag = parquetFiles(s"$out/frag")
      assert(nFrag >= 32, s"fragmented landing expected many files, got $nFrag")
      ExportOps.compact(spark, s"$out/frag", s"$out/compacted",
        targetBytes = 4L << 20)
      val nCompact = parquetFiles(s"$out/compacted")
      // sf0.001 documents ≪ 4 MB -> one output file; and never more than
      // the size-derived target
      assert(nCompact === 1, s"expected 1 compacted file, got $nCompact")
      // content invariance row-by-row, not just aggregate
      val before = spark.read.parquet(s"$out/frag")
      val after = spark.read.parquet(s"$out/compacted")
      assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
        "compaction changed content")
    } finally ExportOps.deleteRecursively(out)
  }
  test("e07: centroid append serves from index + arrival only, and appends losslessly") {
    import spark.implicits._
    val base = Seq(
      (1L, "a", Array(1.0f, 0.0f)), (2L, "a", Array(0.0f, 1.0f)),
      (3L, "b", Array(0.5f, 0.5f))).toDF("vec_id", "label", "embedding")
    val arrival = Seq(
      (10L, "a", Array(1.0f, 0.0f)),
      (11L, "c", Array(0.25f, 0.75f))).toDF("vec_id", "label", "embedding")
    val dir = tmp("graft_centapp_spec") + "/idx"
    ExportOps.buildCentroidIndex(spark, base, dir)
    ExportOps.appendToCentroidIndex(spark, arrival, dir)
    // lossless merge: statistics after append == from-scratch build over
    // the union (exact decimal sums — bit-equal, not approximately)
    val fresh = tmp("graft_centfresh_spec") + "/idx"
    ExportOps.buildCentroidIndex(spark, base.unionByName(arrival), fresh)
    def stats(p: String) = spark.read.parquet(p)
      .orderBy("label", "dim")
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    assert(stats(dir) === stats(fresh))
    // the new label c exists only via the append path
    assert(stats(dir).exists(_._1 == "c"))
    // serve consults ONLY the persisted artifact: doctor the index by
    // removing label b; the served routing must stop knowing about b
    val doctored = spark.read.parquet(dir).filter($"label" =!= "b")
    val dir2 = tmp("graft_centdoc_spec") + "/idx"
    doctored.write.parquet(dir2)
    val q = Seq((100L, Array(1.0f, 1.0f))).toDF("q_id", "q_vec")
    val full = ExportOps.serveCentroidRouting(spark, dir, q)
      .select("label").as[String].collect().toSeq
    val doct = ExportOps.serveCentroidRouting(spark, dir2, q)
      .select("label").as[String].collect().toSeq
    assert(full === Seq("b"), s"(1,1) routes to b's parallel centroid: $full")
    assert(doct !== Seq("b"),
      "doctored index must not resurrect label b from any source re-read")
    // staging dir was swapped away
    assert(!new java.io.File(dir + ".stage").exists())
  }

  test("e08: sorted export lays files out in disjoint, internally-sorted score ranges") {
    import spark.implicits._
    val dir = ExportOps.sortedExport(spark, d, tmp("graft_rsort_spec"))
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 2,
      s"range export should spread sf0.001 over >1 file, got ${files.length}")
    // per-file (score, doc_id) sequences, read one file at a time so the
    // in-file parquet row order is observable
    val seqs = files.toSeq.map { f =>
      spark.read.parquet(f).select($"score", $"doc_id")
        .as[(Long, Long)].collect().toSeq
    }
    seqs.foreach { rows =>
      assert(rows.nonEmpty, "range partitioner emitted an empty band file")
      assert(rows === rows.sorted, "rows inside a band file must be sorted")
    }
    // lexicographic file order is the global order: band i's last key
    // precedes band i+1's first key (ranges are disjoint, not just sorted)
    seqs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(implicitly[Ordering[(Long, Long)]].lt(a.last, b.head),
          s"band ranges overlap: ${a.last} !< ${b.head}")
      case _ => ()
    }
    // content invariance: the union of all bands is exactly the corpus
    assert(seqs.map(_.size).sum === spark.read.parquet(s"$d/documents.parquet").count())
  }

  test("e15: erasure rewrites only affected partitions; retention never reads data") {
    import spark.implicits._
    val root = tmp("graft_retention_spec") + "/table"
    // 4 day-partitions; only day 03 contains the target key
    Seq(
      (1L, 10L, "2024-01-01"), (2L, 11L, "2024-01-02"),
      (3L, 12L, "2024-01-03"), (4L, 99L, "2024-01-03"),
      (5L, 13L, "2024-01-04"))
      .toDF("event_id", "user_id", "day")
      .write.partitionBy("day").parquet(root)
    def filesOf(day: String): Map[String, Long] = {
      val d = new java.io.File(root, s"day=$day")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = Seq("2024-01-02", "2024-01-03", "2024-01-04")
      .map(d => d -> filesOf(d)).toMap
    ExportOps.retentionErase(spark, root,
      cutoff = "2024-01-02", isTarget = $"user_id" === 99L)
    // retention: the pre-cutoff partition is gone
    assert(filesOf("2024-01-01").isEmpty, "day < cutoff must be dropped")
    // erasure: the affected partition was rewritten (files changed) and
    // the target row is gone, the co-resident row survives
    assert(filesOf("2024-01-03") !== before("2024-01-03"),
      "the partition holding the target must be rewritten")
    // unaffected partitions keep their EXACT original files: the scale
    // property — a full-table rewrite passes the value check but not this
    Seq("2024-01-02", "2024-01-04").foreach { d =>
      assert(filesOf(d) === before(d),
        s"partition $d has no target rows and must not be touched")
    }
    val survived = spark.read.parquet(root)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(survived === Seq(2L, 3L, 5L))
  }

  test("e16: FAILFAST rejects the whole CSV read on the first corrupt row") {
    val dir = new java.io.File(tmp("graft_csv_failfast"))
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "data.csv").toPath,
      java.util.Arrays.asList(
        "id,n", "1,10", "2,not_a_number", "3,30"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    // PERMISSIVE without a quarantine column silently nulls the bad cell —
    // the posture e16 exists to avoid; FAILFAST is the S7 ingest
    // discipline: reject the batch, never half-load it
    val failed = intercept[Exception] {
      spark.read.schema(schema).option("header", "true")
        .option("mode", "FAILFAST").csv(dir.toString).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(failed).exists(m =>
      m.contains("Malformed") || m.contains("FAILFAST")),
      s"expected a malformed-row failure, got: ${messages(failed)}")
  }

  test("e12: readers never see a landed-but-unflipped version (crash window)") {
    import spark.implicits._
    ExportOps.withScratch("graft_publish_spec", "spec") { out =>
      val root = s"$out/table"
      val v1 = TxTable.stageAndCommit(Seq((1L, "a")).toDF("k", "v"), root,
        append = false, vacuumNow = false)
      // crash simulation: v2's data lands, the manifest commit never happens
      val staged = TxTable.stage(Seq((2L, "b")).toDF("k", "v"), root)
      def served(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, String)].collect().toSeq
      assert(served(TxTable.read(spark, root)) === Seq((1L, "a")),
        "the manifest must still serve v1 after an uncommitted v2 landing")
      // completing the publish makes v2 visible; v1 stays readable (rollback)
      TxTable.commit(spark, root, staged)
      assert(served(TxTable.read(spark, root)) === Seq((2L, "b")))
      assert(served(TxTable.readVersion(spark, root, v1)) === Seq((1L, "a")),
        "old versions stay for rollback")
    }
  }


  test("withScratch: the dir is gone after the body returns") {
    val dir = ExportOps.withScratch("graft_scope_spec", "spec") { dir =>
      assert(dir.mkdirs())
      java.nio.file.Files.write(new java.io.File(dir, "f").toPath, Array[Byte](1))
      dir
    }
    assert(!dir.exists(), s"$dir must be deleted when the body returns")
  }

  test("withScratch: the dir is gone after the body throws, and the exception propagates") {
    var dir: java.io.File = null
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      ExportOps.withScratch("graft_scope_spec", "spec") { d =>
        dir = d
        spark.range(5).write.parquet(s"$d/data")
        throw boom
      }
    }
    assert(e eq boom, "the body's own exception must propagate")
    assert(!dir.exists(), s"$dir must be deleted when the body throws")
  }

  test("withScratch: a localized result still counts after the dir is gone") {
    val (dir, local) = ExportOps.withScratch("graft_scope_spec", "spec") { d =>
      spark.range(7).write.parquet(s"$d/data")
      (d, ExportOps.localize(graft.Tables.readParquet(spark, s"$d/data"), "id"))
    }
    assert(!dir.exists())
    assert(local.count() === 7L)
    assert(local.collect().map(_.getLong(0)).toSeq === (0L until 7L))
  }

  test("withScratch: a lazy frame over the dir fails on its action after the scope") {
    val lazyFrame = ExportOps.withScratch("graft_scope_spec", "spec") { d =>
      spark.range(7).write.parquet(s"$d/data")
      graft.Tables.readParquet(spark, s"$d/data")
    }
    intercept[Exception](lazyFrame.collect())
  }
}
