package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins for [[Relational.upsertServePartitioned]] — the q98 serving sink
  * rebuilt on the q68 partition-grain merge (the r10 verdict's top item):
  * (1) a batch rewrites ONLY the hash partitions its changed keys route
  * to — every other partition's files survive byte-identical (name,
  * length, md5), (2) the upsert content is exact (updated keys replaced,
  * untouched keys carried), and (3) NOTHING serving-table-sized reaches
  * the driver: every execution that scans the serving directory is a
  * write command — no collect/head/toLocalIterator ever materializes the
  * serving table (the one collect in the path is the partition-METADATA
  * collect over the batch's ≤ nPart distinct partition values).
  */
class UpsertServeSpec extends SparkSpec {

  private def batchDf(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "n_events", "sum_off_ms")
  }

  /** (file name → (length, md5)) for every data file under a partition. */
  private def fileState(dir: java.io.File): Map[String, (Long, String)] = {
    val fs = dir.listFiles()
    assert(fs != null && fs.exists(_.getName.startsWith("part-")), s"no data in $dir")
    fs.filter(_.getName.startsWith("part-")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  test("upsertServe: only changed-key partitions rewritten; content exact") {
    ExportOps.withScratch("graft_upsrv", "spec") { out =>
      val serving = s"$out/serving"
      // bootstrap: 40 keys spread over all 8 hash partitions
      val b0 = (0L until 40L).map(k => (k, 1L, k * 10L))
      Relational.upsertServePartitioned(spark, serving, batchDf(b0), 0L,
        "user_id", Seq("n_events", "sum_off_ms"), nPart = 8)
      val before = (0 until 8).map { p =>
        p -> fileState(new java.io.File(serving, s"p=$p"))
      }.toMap
      // batch 1 touches keys {9, 17} (p=1) and {10} (p=2) only
      val b1 = Seq((9L, 2L, 900L), (17L, 3L, 1700L), (10L, 2L, 1000L))
      Relational.upsertServePartitioned(spark, serving, batchDf(b1), 1L,
        "user_id", Seq("n_events", "sum_off_ms"), nPart = 8)
      val after = (0 until 8).map { p =>
        p -> fileState(new java.io.File(serving, s"p=$p"))
      }.toMap
      for (p <- Seq(0, 3, 4, 5, 6, 7))
        assert(after(p) === before(p),
          s"partition p=$p had no changed keys but its files moved")
      for (p <- Seq(1, 2))
        assert(after(p) !== before(p),
          s"partition p=$p carried changed keys but its files are unchanged")
      val got = spark.read.parquet(serving)
        .select(col("k"), col("n_events"), col("sum_off_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val want = b0.map { case (k, n, sm) =>
        b1.find(_._1 == k).getOrElse((k, n, sm))
      }.sortBy(_._1)
      assert(got.toSeq === want)
    }
  }

  test("upsertServe: no execution materializes the serving table to the driver") {
    ExportOps.withScratch("graft_upsrvc", "spec") { out =>
      val serving = s"$out/serving"
      Relational.upsertServePartitioned(spark, serving,
        batchDf((0L until 40L).map(k => (k, 1L, k))), 0L,
        "user_id", Seq("n_events", "sum_off_ms"), nPart = 8)
      val recorded =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
      def scansServing(qe: QueryExecution): Boolean =
        qe.analyzed.collectFirst {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _)
              if h.location.rootPaths.exists(_.toString.contains("/serving")) =>
            true
        }.nonEmpty
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          recorded.add((funcName, scansServing(qe)))
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        Relational.upsertServePartitioned(spark, serving,
          batchDf(Seq((9L, 2L, 90L))), 1L,
          "user_id", Seq("n_events", "sum_off_ms"), nPart = 8)
        // the listener bus is async: wait for the staged-swap write (the
        // one execution that MUST scan the serving dir) to be delivered
        val deadline = System.nanoTime() + 10L * 1000000000L
        while (!recorded.iterator().hasNext ||
               !recorded.toArray(Array.empty[(String, Boolean)]).exists(_._2)) {
          assert(System.nanoTime() < deadline,
            "merge write execution never reached the listener")
          Thread.sleep(25)
        }
        val driverMaterializing =
          Set("collect", "collectAsList", "head", "take", "tail",
            "toLocalIterator", "collectToPython", "collectAsArrowToPython")
        val bad = recorded.toArray(Array.empty[(String, Boolean)])
          .filter { case (fn, scans) => scans && driverMaterializing(fn) }
        assert(bad.isEmpty,
          s"serving table materialized to the driver via: ${bad.map(_._1).toSeq}")
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
