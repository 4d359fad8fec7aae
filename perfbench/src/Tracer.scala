package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records one traced pass from outside the engine, through Spark's public
  * listener interfaces only:
  *
  *  - `SparkListener`: job intervals, completed stages, and task metrics
  *    summed per stage (run/CPU/GC/deserialize time, input, output,
  *    shuffle, spill);
  *  - `QueryExecutionListener`: the planning-tracker phases of each action
  *    and a walk of its final executed plan (operators inside and outside
  *    whole-stage codegen, graft kernel expressions, `CodegenFallback`s);
  *  - `StreamingQueryListener`: every micro-batch's `durationMs` phases and
  *    state-operator progress.
  *
  * Events carry wall-clock times; `run.py` parents them to the gate that
  * was running when they started. Listeners deliver asynchronously, so
  * [[detach]] first drains the bus (a marker job for the shared queue,
  * started==terminated for the streaming queue) and then unregisters.
  */
final class Tracer private (spark: SparkSession, pass: Int) {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]] // start, end
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageMetrics = mutable.Map.empty[Int, Array[Long]]
  private val stagesDone = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val actions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var markerDone = false
  @volatile private var started = 0
  @volatile private var terminated = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty(GroupKey) == MarkerGroup) return
      jobs(e.jobId) = Array(e.time, -1L)
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId) match {
        case Some(j) => j(1) = e.time
        case None => markerDone = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(j => stagesDone(j) += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stageJob.contains(e.stageId)) {
        val a = stageMetrics.getOrElseUpdate(e.stageId, new Array[Long](TaskFields.size))
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          sw.bytesWritten, sw.recordsWritten, sr.totalBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        var i = 0
        while (i < v.length) { a(i) += v(i); i += 1 }
      }
    }
  }

  private val actionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs, p.endTimeMs) }
    val counts = scala.util.Try(planCounts(qe.executedPlan)).getOrElse(Array(0, 0, 0, 0))
    val now = System.currentTimeMillis()
    synchronized {
      actions += Map("func" -> funcName, "ok" -> ok, "seen_ms" -> now, "phases" -> phases,
        "wscg_ops" -> counts(0), "non_wscg_ops" -> counts(1),
        "native_exprs" -> counts(2), "fallback_exprs" -> counts(3))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { started += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators
      Tracer.this.synchronized {
        progress += Map("start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "duration_ms" -> dur,
          "state_rows_total" -> st.map(_.numRowsTotal).sum,
          "state_rows_updated" -> st.map(_.numRowsUpdated).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { terminated += 1 }
  }

  /** Drains both listener queues, then unregisters every listener. */
  def detach(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "drain listener bus", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while ((!markerDone || started > terminated) && System.nanoTime() < deadline)
      Thread.sleep(2)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
    spark.streams.removeListener(streamListener)
  }

  def toJsonValue: Map[String, Any] = synchronized {
    Map("pass" -> pass,
      "jobs" -> jobs.toSeq.map { case (id, t) =>
        val sums = new Array[Long](TaskFields.size)
        jobStages(id).filter(s => stageJob.get(s).contains(id)).flatMap(stageMetrics.get)
          .foreach(a => a.indices.foreach(i => sums(i) += a(i)))
        Map("id" -> id, "start_ms" -> t(0), "end_ms" -> t(1), "stages" -> stagesDone(id)) ++
          TaskFields.zip(sums)
      },
      "actions" -> actions.toSeq,
      "batches" -> progress.toSeq,
      "queries_started" -> started)
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"
  private val MarkerGroup = "perfbench-marker"
  private val TaskFields = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
    "input_bytes", "input_records", "output_bytes", "output_records",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "fetch_wait_ms", "spill_bytes")

  def attach(spark: SparkSession, pass: Int): Tracer = {
    val t = new Tracer(spark, pass)
    spark.sparkContext.addSparkListener(t.jobListener)
    spark.listenerManager.register(t.actionListener)
    spark.streams.addListener(t.streamListener)
    t
  }

  /** Operators inside / outside whole-stage codegen, graft kernel
    * expressions that generate code, and `CodegenFallback` expressions, in
    * a final executed plan (adaptive stages and subqueries included;
    * a reused exchange is counted where it first appears). */
  def planCounts(root: SparkPlan): Array[Int] = {
    val c = new Array[Int](4)
    def walk(p: SparkPlan, fused: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, fused)
      case s: QueryStageExec => walk(s.plan, fused = false)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => walk(w.child, fused = true)
      case i: InputAdapter => walk(i.child, fused = false)
      case op =>
        c(if (fused) 0 else 1) += 1
        op.expressions.foreach(_.foreach {
          case _: CodegenFallback => c(3) += 1
          case e if e.getClass.getName.startsWith("graft.") => c(2) += 1
          case _ => ()
        })
        op.children.foreach(walk(_, fused))
        op.subqueries.foreach(walk(_, fused = false))
    }
    walk(root, fused = false)
    c
  }

  /** Always-on micro-batch clock for the untraced end-to-end metrics: the
    * `triggerExecution` duration of every micro-batch. */
  final class Microbatches extends StreamingQueryListener {
    private val ms = mutable.ArrayBuffer.empty[Long]
    @volatile private var started = 0
    @volatile private var terminated = 0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { started += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(e.progress.durationMs.get("triggerExecution"))
        .foreach(v => synchronized { ms += v.longValue })
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated += 1 }
    def reset(): Unit = synchronized { ms.clear() }
    def await(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (started > terminated && System.nanoTime() < deadline) Thread.sleep(2)
    }
    def triggerMs: Seq[Long] = synchronized { ms.toSeq }
  }
}
