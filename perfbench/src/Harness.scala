package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One closed-loop client over a pinned set of graft gates.
  *
  * Set-up: JVM, the library session (`GraftSession.builder`), then one
  * untimed warm pass over every gate so codegen, JIT and the engine's
  * in-process memos are filled before timing. Timed window: whole passes,
  * each a seed-derived permutation of the gates, issued one at a time,
  * until `--seconds` have elapsed. A gate is `SparkEntry.queries(name)`
  * (the build) followed by a `noop`-format write (the action), which
  * materializes every output column; `count()` would let Catalyst prune
  * the projections a gate exists to measure.
  *
  * With `--trace 1`, passes alternate untraced/traced. Traced passes attach
  * Spark's public listeners (see [[Tracer]]) and the interleaved untraced
  * passes give the tracing overhead from the same process.
  *
  * After the timed window, every gate runs once more and its output is
  * written to `--check/<gate>` as parquet for the digest check, outside
  * the timed window. Results go to `--out` as JSON; `run.py` reads them.
  */
object Harness {
  type Gate = (SparkSession, String) => DataFrame

  final case class GateRun(name: String, startMs: Long, buildNs: Long,
                           actionNs: Long, error: String)
  final case class Pass(index: Int, traced: Boolean, wallNs: Long,
                        cpuNs: Long, gates: Seq[GateRun])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    if (opt.contains("dump-oracle")) {
      val names = opt("dump-oracle").split(",").toSeq
      Files.writeString(out, json.writeValueAsString(
        names.map(n => n -> SparkEntry.oracleSql.get(n).orNull).toMap))
      return
    }
    val fixture = opt("fixture")
    val names = opt("gates").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val setupOnly = opt.get("setup-only").contains("1")

    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .config("spark.local.dir", opt("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)

    val all = SparkEntry.queries
    val gates: Seq[(String, Gate)] = names.map(n => n -> all(n))
    def order(pass: Int): Seq[(String, Gate)] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(gates)

    def runGate(name: String, g: Gate): GateRun = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val err =
        try {
          val df = g(spark, fixture)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => e.getClass.getSimpleName + ": " + e.getMessage }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      GateRun(name, startMs, t1 - t0, t2 - t1, err)
    }

    val batches = new Tracer.Microbatches
    spark.streams.addListener(batches)

    val warm = order(0).map { case (n, g) => runGate(n, g) }
    val setupDoneMs = System.currentTimeMillis()
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_done_ms" -> setupDoneMs,
      "warm_errors" -> warm.filter(_.error != null).map(r => r.name -> r.error).toMap)
    if (!setupOnly) {
      batches.await()
      batches.reset()
      val passes = ArrayBuffer.empty[Pass]
      val tracers = ArrayBuffer.empty[Tracer]
      val window = (seconds * 1e9).toLong
      val t0 = System.nanoTime()
      var p = 1
      while (passes.isEmpty || (trace && passes.size < 2) || System.nanoTime() - t0 < window) {
        val traced = trace && p % 2 == 0
        val tracer = if (traced) Some(Tracer.attach(spark, p)) else None
        val c0 = cpuNs()
        val w0 = System.nanoTime()
        val runs = order(p).map { case (n, g) => runGate(n, g) }
        val wall = System.nanoTime() - w0
        val cpu = cpuNs() - c0
        tracer.foreach { t => t.detach(); tracers += t }
        passes += Pass(p, traced, wall, cpu, runs)
        p += 1
      }
      val timedNs = System.nanoTime() - t0
      batches.await()
      val microbatchMs = batches.triggerMs
      val checkErrors = opt.get("check").map { dir =>
        gates.sortBy(_._1).flatMap { case (n, g) =>
          try {
            g(spark, fixture).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
            None
          } catch { case e: Throwable => Some(n -> (e.getClass.getSimpleName + ": " + e.getMessage)) }
        }.toMap
      }.getOrElse(Map.empty)
      // heap still reachable after the gates have run: what the engine's
      // memos, caches and session state hold on to. Taken after the check
      // pass, whose fixed order leaves the same gate last in every run. The
      // second collection frees the broadcast and shuffle blocks that
      // Spark's ContextCleaner releases once the first has cleared their
      // driver-side references.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val rt = Runtime.getRuntime
      val liveHeap = rt.totalMemory - rt.freeMemory

      result ++= Seq(
        "timed_s" -> timedNs / 1e9,
        "passes" -> passes.map { ps =>
          Map("index" -> ps.index, "traced" -> ps.traced, "wall_s" -> ps.wallNs / 1e9,
            "cpu_s" -> ps.cpuNs / 1e9,
            "gates" -> ps.gates.map { g =>
              Map("name" -> g.name, "start_ms" -> g.startMs, "build_s" -> g.buildNs / 1e9,
                "action_s" -> g.actionNs / 1e9, "error" -> g.error)
            })
        },
        "microbatch_ms" -> microbatchMs,
        "live_heap_mb" -> liveHeap / (1024.0 * 1024.0),
        "check_errors" -> checkErrors,
        "trace" -> tracers.map(_.toJsonValue))
    }
    result("peak_rss_kb") = peakRssKb()
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    result("cores") = spark.sparkContext.defaultParallelism
    graft.ops.DedupOps.unpersistCaches()
    Files.writeString(out, json.writeValueAsString(result))
    spark.stop()
    // gate fixtures (HTTP facades, stream threads) may leave non-daemon
    // threads behind; the result is on disk, so end the process here
    System.exit(0)
  }

  private def peakRssKb(): Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    }.getOrElse(-1L)
}
