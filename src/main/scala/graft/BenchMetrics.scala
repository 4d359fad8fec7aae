package graft

import java.util.UUID
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-query physical-plan fingerprints for Bench and Probe: shuffle bytes
  * written and source rows read, accumulated from task metrics by a
  * SparkListener, plus each job's wall time and each micro-batch's
  * progress. The engine's one listener: [[attach]] registers both halves.
  *
  * Wall-time on this co-tenant host swings ±40% on identical code
  * (BASELINE.md), so time alone is a weak regression signal even with
  * medians; bytes-shuffled and rows-read are noise-free functions of the
  * plan + data, and `BenchShuffleSpec` pins them for representative
  * queries. Attribution is by active-query window — Bench runs queries
  * one at a time — which also captures streaming micro-batch jobs that
  * run on non-driver threads where job-group tags don't propagate.
  * The same window counts the query's Janino compiles (driver- and
  * task-side), from Spark's JVM-wide `CodegenMetrics` histogram.
  */
final class BenchMetrics extends SparkListener {
  import BenchMetrics.Job

  private val label = new AtomicReference[String](null)
  private val acc =
    TrieMap.empty[String, (AtomicLong, AtomicLong, AtomicLong, AtomicLong)]
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val compilesAtStart = new AtomicLong
  private val compileCounts = TrieMap.empty[String, Long]
  // running jobs: id -> (label, start ms, stage count, call site)
  private val running = TrieMap.empty[Int, (String, Long, Int, String)]
  private val jobLog = TrieMap.empty[String, Vector[Job]]
  // SQL execution id -> the action's call site, while the execution runs
  private val executionSites = TrieMap.empty[String, String]
  private val progressLog = TrieMap.empty[String, Vector[StreamingQueryProgress]]

  private def append[T](m: TrieMap[String, Vector[T]], name: String, v: T): Unit =
    m.synchronized { m.put(name, m.getOrElse(name, Vector.empty) :+ v); () }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val name = label.get
    if (name != null && t.taskMetrics != null) {
      val (sh, rows, shRec, gc) = acc.getOrElseUpdate(name,
        (new AtomicLong, new AtomicLong, new AtomicLong, new AtomicLong))
      sh.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      rows.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      shRec.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      // summed task-side GC attribution (ms): on a shared-heap local-mode
      // JVM this is the signal that separates "the query got slower" from
      // "the heap got tighter by the time the bench reached it"
      gc.addAndGet(t.taskMetrics.jvmGCTime)
    }
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val name = label.get
    if (name != null) {
      // A job's result stage is named by the short call site of the thread
      // that submitted it; AQE submits from a pool thread, so a job of a
      // SQL action is named by the action's call site instead. A streaming
      // batch's execution has no such site (its description is empty or
      // HTML), and its jobs' stages name the stream's `start`.
      val site = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(executionSites.get)
        .filter(d => d.nonEmpty && !d.contains("<br/>"))
        .getOrElse(j.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
      running.put(j.jobId, (name, j.time, j.stageIds.size, site))
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, s.description); ()
    case s: SparkListenerSQLExecutionEnd =>
      executionSites.remove(s.executionId.toString); ()
    case _ =>
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    running.remove(j.jobId).foreach { case (name, t0, stages, site) =>
      append(jobLog, name, Job(j.jobId, j.time - t0, stages, site))
    }
    jobsEnded.incrementAndGet()
  }

  // The streaming half. A gate that starts any Structured Streaming query
  // during its window is "streaming" — those gates pay multi-micro-batch
  // startup + state-store commit costs the bench artifact's family split
  // exists to separate from batch plans. Started events reach listeners
  // synchronously inside `start()`, so the query's run id is bound to the
  // window it started in; its progress events arrive later and land
  // under that label. A run id leaves `runLabels` when its query ends.
  private val streamingGates = TrieMap.empty[String, Boolean]
  private val runLabels = TrieMap.empty[UUID, String]
  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val n = label.get
      if (n != null) { streamingGates.put(n, true); runLabels.put(e.runId, n); () }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      runLabels.get(e.progress.runId).foreach(append(progressLog, _, e.progress))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      runLabels.remove(e.runId); ()
    }
  }

  /** Registers both halves on `spark`: task/job events from its context,
    * query events from its streaming query manager. */
  def attach(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
    this
  }

  def detach(spark: SparkSession): Unit = {
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Open the attribution window for `name`. Any prior accumulation for
    * the same name is discarded, so under SPARK_GRAFT_BENCH_REPS=N the
    * reported fingerprint is the LAST rep's — steady-state, with shared
    * caches already populated, which is the deterministic one. */
  def start(name: String): Unit = {
    acc.remove(name)
    jobLog.remove(name)
    progressLog.remove(name)
    compilesAtStart.set(compiled())
    label.set(name)
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def isStreaming(name: String): Boolean =
    streamingGates.getOrElse(name, false)

  /** Close the attribution window: the query's action has returned, so
    * every event is already posted to the (FIFO) listener buses — poll
    * until started==ended job counts hold and no streaming query of the
    * window is still unterminated, across two consecutive reads, so
    * late-draining task and progress events land on the query that
    * produced them, not the next one. Runs AFTER the caller captures
    * wall-time, and the fast path costs ~10ms — the bus is normally
    * already drained when the action returns. */
  def finish(): Unit = {
    val n = label.get
    val deadline = System.nanoTime() + 2000000000L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      if (jobsStarted.get == jobsEnded.get &&
          !runLabels.valuesIterator.contains(n)) stable += 1
      else stable = 0
      Thread.sleep(5)
    }
    if (n != null) compileCounts.put(n, compiled() - compilesAtStart.get)
    label.set(null)
  }

  def shuffleBytes(name: String): Long =
    acc.get(name).map(_._1.get).getOrElse(0L)
  def rowsRead(name: String): Long =
    acc.get(name).map(_._2.get).getOrElse(0L)
  def shuffleRecords(name: String): Long =
    acc.get(name).map(_._3.get).getOrElse(0L)
  def gcMs(name: String): Long =
    acc.get(name).map(_._4.get).getOrElse(0L)
  /** Classes generated code compiled in the query's last window. */
  def compiles(name: String): Long = compileCounts.getOrElse(name, 0L)
  /** The jobs of the query's last window, in job-id order. */
  def jobs(name: String): Seq[Job] =
    jobLog.getOrElse(name, Vector.empty).sortBy(_.id)
  /** The micro-batches of the query's last window, in arrival order. */
  def batches(name: String): Seq[StreamingQueryProgress] =
    progressLog.getOrElse(name, Vector.empty)
}

object BenchMetrics {
  /** One job of a window: wall ms between the scheduler's start and end
    * events, stage count and Spark's short call site. */
  final case class Job(id: Int, wallMs: Long, stages: Int, site: String)
}
