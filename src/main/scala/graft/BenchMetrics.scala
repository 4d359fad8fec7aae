package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query physical-plan fingerprints for Bench: shuffle bytes written
  * and source rows read, accumulated from task metrics by a
  * SparkListener.
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
  private val label = new AtomicReference[String](null)
  private val acc =
    TrieMap.empty[String, (AtomicLong, AtomicLong, AtomicLong, AtomicLong)]
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val compilesAtStart = new AtomicLong
  private val compileCounts = TrieMap.empty[String, Long]

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
  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobsStarted.incrementAndGet()
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobsEnded.incrementAndGet()

  /** Open the attribution window for `name`. Any prior accumulation for
    * the same name is discarded, so under SPARK_GRAFT_BENCH_REPS=N the
    * reported fingerprint is the LAST rep's — steady-state, with shared
    * caches already populated, which is the deterministic one. */
  def start(name: String): Unit = {
    acc.remove(name)
    compilesAtStart.set(compiled())
    label.set(name)
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // streaming-harness classification, marked MECHANICALLY by a
  // StreamingQueryListener Bench registers (a gate that starts any
  // Structured Streaming query during its window is "streaming" — those
  // gates pay multi-micro-batch startup + state-store commit costs the
  // bench artifact's family split exists to separate from batch plans)
  private val streamingGates = TrieMap.empty[String, Boolean]
  def markStreaming(): Unit = {
    val n = label.get
    if (n != null) { streamingGates.put(n, true); () }
  }
  def isStreaming(name: String): Boolean =
    streamingGates.getOrElse(name, false)

  /** Close the attribution window: the query's action has returned, so
    * every event is already posted to the (FIFO) listener bus — poll
    * until started==ended job counts hold across two consecutive reads,
    * so late-draining task events land on the query that produced them,
    * not the next one. Runs AFTER the caller captures wall-time, and the
    * fast path costs ~10ms — the bus is normally already drained when the
    * action returns. */
  def finish(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      if (jobsStarted.get == jobsEnded.get) stable += 1 else stable = 0
      Thread.sleep(5)
    }
    val n = label.get
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
}
