package graft

/** Per-gate drill-down profiler (r20): runs a named gate cold + twice
  * warm and prints a per-JOB time/stage breakdown of the third run, so
  * a gate's wall time decomposes into its actions (the TimeQuery /
  * StreamProbe sibling for job-level attribution). `t30` runs the RAG
  * index lifecycle phase by phase instead. Not part of the driver
  * contract.
  * Usage: sbt "runMain graft.Prof <sfDir> <gateName|t30>" */
object Prof {
  def t[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime(); val r = body
    println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
  }

  def main(args: Array[String]): Unit = {
    val s = GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val script = if (args.length > 1) args(1) else "t30"
    import org.apache.spark.sql.functions._

    graft.Tables(s, d, "documents").limit(1).count()
    script match {
      case "t30" =>
        t("t30 full cold")(SparkEntry.queries("t30_rag_index_append")(s, d).count())
        t("t30 full warm")(SparkEntry.queries("t30_rag_index_append")(s, d).count())
        val out = ops.ExportOps.scratchDir("prof_ragapp", d)
        val root = out.getAbsolutePath
        val all = graft.Tables(s, d, "documents")
        val evenChunks = ops.TextOps.ragChunkEmbeddings(all.filter(col("doc_id") % 2 === 0))
        val oddChunks = ops.TextOps.ragChunkEmbeddings(all.filter(col("doc_id") % 2 =!= 0))
        t("embed even (noop)")(evenChunks.write.format("noop").mode("overwrite").save())
        t("build index")(ops.TextOps.buildRagIndex(s, evenChunks, root))
        t("append index")(ops.TextOps.appendRagIndex(s, oddChunks, root))
        val served = t("serve plan+probes")(
          ops.TextOps.ragServeFromIndex(s, root, ops.TextOps.ragQueryEmbeddings(s), 6))
        t("serve exec")(served.count())
        t("t25 full warm")(SparkEntry.queries("t25_rag_index_serve")(s, d).count())
        println("[prof] postings files: " + java.nio.file.Files.walk(
          java.nio.file.Paths.get(root, "postings"))
          .filter(p => p.toString.endsWith(".parquet")).count())
      case name =>
        t(s"$name cold")(SparkEntry.queries(name)(s, d).count())
        t(s"$name warm")(SparkEntry.queries(name)(s, d).count())
        // per-job breakdown on the third (warm) run
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]
        val listener = new org.apache.spark.scheduler.SparkListener {
          private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
          private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Int]
          val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            starts.put(e.jobId, System.nanoTime()); stages.put(e.jobId, e.stageIds.size)
            sites.put(e.jobId, Option(e.properties)
              .map(p => String.valueOf(p.getProperty("callSite.short")))
              .getOrElse("?"))
          }
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val t0 = starts.getOrDefault(e.jobId, 0L)
            jobs.put(e.jobId, (System.nanoTime() - t0, stages.getOrDefault(e.jobId, 0)))
          }
        }
        s.sparkContext.addSparkListener(listener)
        t(s"$name warm2")(SparkEntry.queries(name)(s, d).count())
        Thread.sleep(500)
        val sorted = jobs.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, (Long, Int)]])
          .sortBy(_.getKey)
        println(s"[prof] jobs=${sorted.length} sum=${sorted.map(_.getValue._1).sum / 1e9}")
        sorted.foreach { e =>
          println(f"[prof]   job ${e.getKey}%3d: ${e.getValue._1 / 1e6}%8.1f ms stages=${e.getValue._2} site=${listener.sites.getOrDefault(e.getKey, "?")}")
        }
    }
    println("[prof] done")
    s.stop()
  }
}
