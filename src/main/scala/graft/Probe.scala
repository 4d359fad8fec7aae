package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The diagnostic main: where a gate's time goes, one gate at a time.
  *
  * Each named gate runs once untimed (staging memos, codegen and JIT land
  * there), then [[Reps]] timed reps under a [[BenchMetrics]] window. Each
  * rep prints its wall time, result rows and fingerprints (shuffle bytes
  * and records, rows read, task GC ms, Janino compiles); the last rep
  * also prints one line per Spark job (wall ms, stages, call site) and one
  * `[progress]` line per micro-batch (input rows, the `durationMs`
  * breakdown, state-operator metrics). A gate's wall time then splits into
  * its actions: "one hot kernel job" versus "many sequential lifecycle
  * jobs", or per-batch planning versus state commits.
  *
  * `GRAFT_PROBE_SHARDS=a,b` interleaves the streaming state-shard override
  * ([[streaming.StreamGate.ShardsProp]]) within the reps (rep 1 at a,
  * rep 1 at b, rep 2 at a, ...), so an A/B is immune to the load drift that
  * order-separated runs pick up.
  *
  * `--plan` prints each gate's formatted physical plan instead (scan
  * pushdown, column pruning, join strategies, codegen spans).
  *
  * Usage: `runMain graft.Probe [--plan] <sfDir> <gate...>`; the session
  * is sized by `SPARK_GRAFT_CPUS` as in Bench and Verify. */
object Probe {
  val Reps = 3

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.trim.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq).foreach(println) finally spark.stop()
  }

  /** The probe's output lines for `args` (as [[main]] takes them), run on
    * `spark`, which is left running. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val plan = args.headOption.contains("--plan")
    val (sfDir, names) = args.drop(if (plan) 1 else 0) match {
      case d +: ns if ns.nonEmpty => (d, ns)
      case _ => throw new IllegalArgumentException(
        "usage: graft.Probe [--plan] <sfDir> <gate...>")
    }
    val registry = SparkEntry.queries
    val gates = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown gate: $n")))
    if (plan) gates.flatMap { case (n, fn) =>
      Seq(s"\n=================== $n ===================",
        fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    else {
      val metrics = new BenchMetrics().attach(spark)
      try gates.flatMap { case (n, fn) => timed(spark, metrics, sfDir, n, fn) }
      finally metrics.detach(spark)
    }
  }

  private val shards: Seq[Option[String]] =
    sys.env.get("GRAFT_PROBE_SHARDS").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).map(Option(_)) match {
      case Seq() => Seq(None)
      case xs => xs
    }

  private def withShards[T](sh: Option[String])(body: => T): T = sh match {
    case Some(v) =>
      val prop = streaming.StreamGate.ShardsProp
      sys.props(prop) = v
      try body finally sys.props.remove(prop)
    case None => body
  }

  private def timed(spark: SparkSession, metrics: BenchMetrics, sfDir: String,
                    name: String, fn: (SparkSession, String) => DataFrame): Seq[String] = {
    val out = Vector.newBuilder[String]
    withShards(shards.head)(fn(spark, sfDir).count())
    def tagOf(sh: Option[String]) = name + sh.fold("")(" shards=" + _)
    val times = for (rep <- 1 to Reps; sh <- shards) yield {
      val tag = tagOf(sh)
      val label = s"$tag#$rep"
      metrics.start(label)
      val t0 = System.nanoTime()
      val rows = try withShards(sh)(fn(spark, sfDir).count()) finally metrics.finish()
      val dt = (System.nanoTime() - t0) / 1e9
      out += f"[probe] $tag rep$rep: $dt%.3f s rows=$rows " +
        s"shuffle_bytes=${metrics.shuffleBytes(label)} " +
        s"shuffle_recs=${metrics.shuffleRecords(label)} " +
        s"rows_read=${metrics.rowsRead(label)} gc_ms=${metrics.gcMs(label)} " +
        s"compiles=${metrics.compiles(label)}"
      if (rep == Reps) {
        val jobs = metrics.jobs(label)
        out += s"[probe] $tag jobs=${jobs.size} sum_ms=${jobs.map(_.wallMs).sum}"
        jobs.foreach(j => out += f"[probe]   job ${j.id}%4d: ${j.wallMs}%6d ms " +
          s"stages=${j.stages} site=${j.site}")
        metrics.batches(label).foreach { p =>
          val so = p.stateOperators.map(s =>
            s"${s.operatorName}{upd=${s.allUpdatesTimeMs}, rm=${s.allRemovalsTimeMs}, " +
              s"commit=${s.commitTimeMs}, rows=${s.numRowsTotal}, " +
              s"shards=${s.numShufflePartitions}}").mkString(" ")
          out += s"[progress] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs} state=[$so]"
        }
      }
      sh -> dt
    }
    shards.foreach { sh =>
      val ds = times.collect { case (s, t) if s == sh => t }
      out += f"[probe] ${tagOf(sh)}%-40s ${ds.map(t => f"$t%.2f").mkString(" ")} " +
        f"median=${ds.sorted.apply(ds.size / 2)}%.2f"
    }
    out.result()
  }
}
