package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r11 verdict's top two DONE-conditions for the [[TxTable]] commit
  * protocol under the partition-swap kernels:
  *
  *  1. CRASH INJECTION — a failure between stage-complete and promote
  *     (and between promote and vacuum) must leave the table serving ONE
  *     complete version: the old one before the manifest commit, the new
  *     one after. Covers [[Relational.mergePartitioned]] (q68/q98),
  *     [[ExportOps.retentionErase]] (e15), and
  *     [[TextOps.appendRagIndex]] (t30).
  *  2. CONCURRENT READERS — a reader racing an in-flight merge commit
  *     must observe the old or the new version, never a mixture and
  *     never a vanished partition (vacuum deferred by the caller, the
  *     retention-window contract every log-structured table has).
  */
class CrashSafeSwapSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def snapshot0 = spark.read.parquet(s"$d/customer.parquet")
    .select(col("c_custkey").as("k"), col("c_name").as("name"),
      col("c_acctbal").as("bal"), col("c_nationkey").as("p"))

  private def contents(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("k"), col("name"), col("bal"), col("p").cast("int"))
      .collect().map(_.mkString("|")).toSet

  test("merge: crash between stage-complete and manifest commit serves the OLD version; retry lands the new") {
    ExportOps.withScratch("graft_crash_merge", "spec") { out =>
      val snapDir = s"$out/snap"
      snapshot0.write.partitionBy("p").parquet(snapDir)
      // bootstrap the manifest (v1) before planting the crash, so the
      // injected failure hits the MERGE commit, not the bootstrap
      TxTable.bootstrapIfNeeded(spark, snapDir)
      val before = contents(TxTable.read(spark, snapDir))
      TxTable.armedFailpoints = Map("beforeCommit" -> 0)
      try {
        val ex = intercept[TxTable.InjectedCrash] {
          Relational.mergePartitioned(spark, snapDir,
            Relational.q68Changes(spark, d), Seq("name", "bal"))
        }
        assert(ex.getMessage.contains("beforeCommit"))
      } finally TxTable.armedFailpoints = Map.empty
      // the table STILL SERVES the complete pre-merge version — the
      // staged files moved in beside the old ones are invisible until
      // the commit that never happened
      assert(contents(TxTable.read(spark, snapDir)) === before,
        "crash before commit must leave the old version serving")
      // redelivery: the same change batch re-merges cleanly (merges
      // against the still-latest old manifest — idempotent), and the
      // inline vacuum sweeps the crashed attempt's orphan files
      Relational.mergePartitioned(spark, snapDir,
        Relational.q68Changes(spark, d), Seq("name", "bal"))
      val want = contents(Relational.upsertMerge(
        snapshot0.withColumn("p", col("p").cast("int")),
        Relational.q68Changes(spark, d), Seq("name", "bal", "p")))
      assert(contents(TxTable.read(spark, snapDir)) === want)
      // post-vacuum steady state: directory listing and manifest agree
      assert(TxTable.listDataFiles(spark, snapDir).toSet ===
        TxTable.liveFiles(spark, snapDir).toSet,
        "vacuum must sweep the crashed attempt's orphans")
    }
  }

  test("merge: crash between manifest commit and vacuum serves the NEW version; vacuum is re-runnable") {
    ExportOps.withScratch("graft_crash_postcommit", "spec") { out =>
      val snapDir = s"$out/snap"
      snapshot0.write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(spark, snapDir)
      TxTable.armedFailpoints = Map("afterCommit" -> 0)
      try intercept[TxTable.InjectedCrash] {
        Relational.mergePartitioned(spark, snapDir,
          Relational.q68Changes(spark, d), Seq("name", "bal"))
      } finally TxTable.armedFailpoints = Map.empty
      // manifest flipped before the crash: the NEW version serves, with
      // the superseded files still on disk as invisible garbage
      val want = contents(Relational.upsertMerge(
        snapshot0.withColumn("p", col("p").cast("int")),
        Relational.q68Changes(spark, d), Seq("name", "bal", "p")))
      assert(contents(TxTable.read(spark, snapDir)) === want,
        "crash after commit must serve the new version")
      assert(TxTable.listDataFiles(spark, snapDir).size >
        TxTable.liveFiles(spark, snapDir).size,
        "superseded files should still be on disk before the vacuum")
      TxTable.vacuum(spark, snapDir)
      assert(TxTable.listDataFiles(spark, snapDir).toSet ===
        TxTable.liveFiles(spark, snapDir).toSet)
      assert(contents(TxTable.read(spark, snapDir)) === want)
    }
  }

  test("retention/erasure: crash before commit serves the FULL pre-maintenance table; retry completes") {
    import spark.implicits._
    ExportOps.withScratch("graft_crash_retention", "spec") { out =>
      val root = s"$out/table"
      Seq(
        (1L, 10L, "2024-01-01"), (2L, 11L, "2024-01-02"),
        (3L, 12L, "2024-01-03"), (4L, 99L, "2024-01-03"),
        (5L, 13L, "2024-01-04"))
        .toDF("event_id", "user_id", "day")
        .write.partitionBy("day").parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      TxTable.armedFailpoints = Map("beforeCommit" -> 0)
      try intercept[TxTable.InjectedCrash] {
        ExportOps.retentionErase(spark, root,
          cutoff = "2024-01-02", isTarget = $"user_id" === 99L)
      } finally TxTable.armedFailpoints = Map.empty
      // nothing is visible from the aborted maintenance: every row —
      // including the pre-cutoff day and the erasure target — still serves
      assert(TxTable.read(spark, root).select($"event_id").as[Long]
        .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L),
        "aborted maintenance must leave the table fully intact")
      ExportOps.retentionErase(spark, root,
        cutoff = "2024-01-02", isTarget = $"user_id" === 99L)
      assert(TxTable.read(spark, root).select($"event_id").as[Long]
        .collect().sorted.toSeq === Seq(2L, 3L, 5L))
      assert(!new java.io.File(root, "day=2024-01-01").exists(),
        "vacuum must sweep the retention-expired partition directory")
    }
  }

  test("rag append: crash before the postings commit leaves the index serving exactly as built") {
    ExportOps.withScratch("graft_crash_rag", "spec") { out =>
      val root = out.getAbsolutePath
      val documents = spark.read.parquet(s"$d/documents.parquet")
      TextOps.buildRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 === 0)),
        root)
      val qemb = TextOps.ragQueryEmbeddings(spark)
      val servedBefore = TextOps.ragServeFromIndex(spark, root, qemb, 6)
        .collect().map(_.mkString("|")).toSet
      TxTable.armedFailpoints = Map("beforeCommit" -> 0)
      try intercept[TxTable.InjectedCrash] {
        TextOps.appendRagIndex(spark,
          TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 =!= 0)),
          root)
      } finally TxTable.armedFailpoints = Map.empty
      // the half-moved append files are invisible: postings manifest and
      // centroid table are both still the built generation
      val servedAfter = TextOps.ragServeFromIndex(spark, root, qemb, 6)
        .collect().map(_.mkString("|")).toSet
      assert(servedAfter === servedBefore,
        "aborted append must not change what the index serves")
    }
  }

  test("serving bootstrap: a crashed batch-0 leaves NO manifest; redelivery completes it cleanly") {
    import spark.implicits._
    ExportOps.withScratch("graft_crash_boot", "spec") { out =>
      val serving = s"$out/serving"
      val b0 = (0L until 20L).map(k => (k, 1L, k * 10L))
        .toDF("user_id", "n_events", "sum_off_ms")
      TxTable.armedFailpoints = Map("beforeCommit" -> 0)
      try intercept[TxTable.InjectedCrash] {
        Relational.upsertServePartitioned(spark, serving, b0, 0L,
          "user_id", Seq("n_events", "sum_off_ms"), nPart = 4)
      } finally TxTable.armedFailpoints = Map.empty
      // no manifest committed: a reader fails loudly instead of serving
      // (or later registering) the partial bootstrap
      intercept[IllegalArgumentException] { TxTable.read(spark, serving) }
      // foreachBatch redelivery of batch 0 redoes the bootstrap
      Relational.upsertServePartitioned(spark, serving, b0, 0L,
        "user_id", Seq("n_events", "sum_off_ms"), nPart = 4)
      val got = TxTable.read(spark, serving)
        .select($"k", $"n_events", $"sum_off_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got === b0.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
      // and a follow-up merge batch lands on the recovered table
      Relational.upsertServePartitioned(spark, serving,
        Seq((3L, 5L, 999L)).toDF("user_id", "n_events", "sum_off_ms"), 1L,
        "user_id", Seq("n_events", "sum_off_ms"), nPart = 4)
      val after = TxTable.read(spark, serving)
        .filter($"k" === 3L).select($"n_events", $"sum_off_ms")
        .head()
      assert((after.getLong(0), after.getLong(1)) === ((5L, 999L)))
    }
  }

  test("commit race: one winner per version in-process; a foreign mid-window commit fails loudly") {
    import spark.implicits._
    ExportOps.withScratch("graft_occ", "spec") { out =>
      val root = s"$out/table"
      Seq((1L, "a")).toDF("k", "v").write.parquet(root)
      TxTable.bootstrapIfNeeded(spark, root)
      // in-process contention: two threads race 40 commits each; the
      // commit lock serializes them, so EVERY attempt wins a distinct
      // version and each version serves exactly its winner's payload —
      // never a clobber, never two writers believing they won one version
      val wins =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
      def writer(name: String): Thread = new Thread(() => {
        (1 to 40).foreach { i =>
          val payload = s"$name/file-$i.parquet"
          val v = TxTable.commit(spark, root, Seq(payload))
          wins.add((name, v, payload)); ()
        }
      })
      val (a, b) = (writer("A"), writer("B"))
      a.start(); b.start(); a.join(60000); b.join(60000)
      val winList = wins.toArray(Array.empty[(String, Long, String)]).toSeq
      assert(winList.size === 80, s"every serialized commit must land: $winList")
      val byVersion = winList.groupBy(_._2)
      assert(byVersion.size === 80, "two writers claimed the same version")
      byVersion.foreach { case (v, ws) =>
        assert(TxTable.filesOfVersion(spark, root, v) === Seq(ws.head._3),
          s"version $v does not serve its winner's payload")
      }
      // cross-process race, injected deterministically into the window
      // between the version read and the manifest claim: a FOREIGN writer
      // (another process — outside the JVM lock) lands the same version
      // first; our commit must fail loudly and the table must keep
      // serving the foreign winner's snapshot, never our clobber
      val vNext = TxTable.currentVersion(spark, root) + 1L
      val txDir = new java.io.File(root, "_tx")
      TxTable.interleave = () => {
        java.nio.file.Files.write(
          new java.io.File(txDir, s"manifest-v$vNext.txt").toPath,
          "FOREIGN/file.parquet".getBytes("UTF-8"))
        TxTable.interleave = () => () // fire once
      }
      try {
        intercept[java.util.ConcurrentModificationException] {
          TxTable.commit(spark, root, Seq("OURS/file.parquet"))
        }
      } finally TxTable.interleave = () => ()
      assert(TxTable.filesOfVersion(spark, root, vNext) ===
        Seq("FOREIGN/file.parquet"),
        "the foreign winner's manifest must survive our failed commit")
    }
  }

  test("concurrent reader racing merges sees old or new, never a mixture or a missing partition") {
    ExportOps.withScratch("graft_race", "spec") { out =>
      val snapDir = s"$out/snap"
      // 8 partitions, 80 keys; each merge round INSERTS 10 fresh keys into
      // partitions {3, 7}, so every committed version has a distinct count
      val base = spark.range(80).select(col("id").as("k"),
        concat(lit("name-"), col("id")).as("name"),
        (col("id") * 1.5).as("bal"), (col("id") % 8).cast("int").as("p"))
      base.write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(spark, snapDir)
      val rounds = 5
      val legalCounts = (0 to rounds).map(i => 80L + 10L * i).toSet
      @volatile var readerError: Option[Throwable] = None
      val observed =
        java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      @volatile var done = false
      val reader = new Thread(() => {
        try while (!done) {
          val df = TxTable.read(spark, snapDir)
          val row = df.agg(count(lit(1)), countDistinct(col("p"))).head()
          observed.add((row.getLong(0), row.getLong(1)))
        } catch { case t: Throwable => readerError = Some(t) }
      })
      reader.start()
      try (1 to rounds).foreach { i =>
        val inserts = spark.range(10).select(
          (lit(1000L * i) + col("id")).as("k"),
          concat(lit(s"new-$i-"), col("id")).as("name"),
          lit(i.toDouble).as("bal"),
          when(col("id") % 2 === 0, 3).otherwise(7).cast("int").as("p"),
          lit(i.toLong).as("seq"), lit("I").as("op"))
        // vacuum deferred: an in-flight reader may still hold the prior
        // manifest's file list — the retention-window contract
        Relational.mergePartitioned(spark, snapDir, inserts,
          Seq("name", "bal"), vacuumNow = false)
      } finally { done = true; reader.join(30000) }
      assert(readerError.isEmpty,
        s"reader must never fail mid-race: ${readerError.map(_.toString)}")
      val counts = {
        val it = observed.iterator(); val b = Set.newBuilder[(Long, Long)]
        while (it.hasNext) b += it.next(); b.result()
      }
      assert(counts.nonEmpty)
      counts.foreach { case (n, nPart) =>
        assert(legalCounts.contains(n),
          s"reader saw a row count ($n) that matches NO committed version")
        assert(nPart === 8L,
          s"reader saw $nPart partitions — a partition vanished mid-swap")
      }
      TxTable.vacuum(spark, snapDir)
      assert(TxTable.listDataFiles(spark, snapDir).toSet ===
        TxTable.liveFiles(spark, snapDir).toSet)
    }
  }
}
