package graft

import org.apache.spark.sql.SparkSession

/** The library's session front door: one place for the conf the engine is
  * designed to run under, locally and on a cluster.
  *
  *  - AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  *    broadcast conversion) — the mechanism that keeps the declarative
  *    plans here honest at 100 TB;
  *  - shuffle partitions sized to the machine locally (a cluster deployment
  *    overrides with cores×executors, or leaves AQE to coalesce);
  *  - UTC session time (oracle parity + sane event-time semantics);
  *  - the AQE runtime rule [[plans.SingleTaskSort]]: a global sort whose
  *    input is materialized shuffle stages of at most
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes runs
  *    as one local sort, without the range-sampling job and range shuffle
  *    (off with `spark.sql.adaptive.optimizer.excludedRules`);
  *  - the optimizer rule [[plans.LocalSort]]: a global sort over a
  *    driver-local relation (a localized gate result) sorts its rows on
  *    the driver instead of planning a range exchange over them (off
  *    with `spark.sql.optimizer.excludedRules`);
  *  - graft native functions registered for SQL use.
  *
  * Session-wide conf side effect to know about: [[Tables]] sets
  * `spark.sql.legacy.parquet.nanosAsLong=true` (and leaves it set) the
  * first time it loads the events table, because the fixture has shipped
  * with parquet TIMESTAMP(NANOS) encoding that Spark's vectorized reader
  * otherwise rejects. Consequence: any OTHER parquet read of a NANOS
  * column in the same session will silently see raw longs instead of
  * failing loudly. Only events.parquet uses NANOS today; a deployment
  * ingesting foreign NANOS parquet should scope the conf per-read instead.
  */
object GraftSession {

  /** `InferFiltersFromGenerate` is excluded engine-wide: it wraps every
    * `Generate` in inferred `size(child) > 0 AND isnotnull(child)`
    * filters that RE-EVALUATE the generator's child expression — and this
    * engine's generate children are derived arrays (tokenizations,
    * shingle/gram hashes), so each row's array gets computed three times,
    * two of them on the interpreted non-codegen Filter path. Measured
    * 1.25-2x per tokenization query (d13 2x). The rule only pays off when
    * the child is a bare source column whose null-filter can push to the
    * scan, which no query here has; results are identical either way
    * (Generate itself skips null/empty inputs). */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Fork-free local checkpoint I/O ([[streaming.LocalCheckpointFileManager]]):
    * without native Hadoop libs, the stock manager's every file create
    * shells out to `chmod` (~40 ms/file measured on tmpfs); this NIO
    * manager makes local `file:` checkpoints ~0.04 ms/write and delegates
    * any non-local scheme to the stock manager untouched. */
  val LocalCheckpointManager: String =
    "graft.streaming.LocalCheckpointFileManager"

  /** Fork-free local DATA file I/O ([[NioLocalFileSystem]]): the same
    * no-native-libs chmod fork hits every local file Hadoop creates
    * (parquet part files, task temps, staged exports) through
    * `RawLocalFileSystem.setPermission`; this binding applies identical
    * mode bits via java.nio. `file` scheme only — cluster storage
    * schemes are untouched. */
  val LocalFsImpl: String = "graft.NioLocalFileSystem"

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.explainMode", "formatted")
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .config("spark.sql.streaming.checkpointFileManagerClass", LocalCheckpointManager)
      .config("spark.hadoop.fs.file.impl", LocalFsImpl)
      .config("spark.ui.enabled", "false")
      .withExtensions { e =>
        e.injectRuntimeOptimizerRule(plans.SingleTaskSort)
        e.injectOptimizerRule(plans.LocalSort)
      }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.registerAll(spark)
    spark
  }

  @volatile private var extCache: SparkSession = _

  /** A SparkSession on the SAME SparkContext as `base` with
    * [[GraftExtensions]] applied (functions + optimizer rule + the
    * GraftSqlParser syntax extension). Extensions bind at session
    * CONSTRUCTION, so a pre-existing session can't gain a parser; this
    * clears the active/default session registration, lets getOrCreate
    * build a fresh session over the existing context, and restores
    * `base` — callers keep their session, the returned one carries the
    * extensions. Cached per JVM (sessions are not free: each holds a
    * SessionState); the cache is re-keyed if the context was stopped.
    * Session-scoped SQL confs do NOT inherit across sessions, so the
    * tuned shuffle/timeZone/excludedRules are copied from `base`.
    *
    * CONCURRENCY CONTRACT: the clear→build→restore window is atomic only
    * against other `extensionSession` callers (this lock). A concurrent
    * thread resolving `SparkSession.active`/`builder().getOrCreate()`
    * during the window can observe a missing or different default
    * session — there is no public API to construct an extension-bearing
    * session without going through the global builder (the constructor
    * is private; `spark.sql.extensions` is static and can't bind to a
    * live context). Callers must therefore not race this against
    * concurrent session resolution; in practice the window opens at most
    * once per JVM (the result is cached) and the gate harness runs
    * queries sequentially. */
  def extensionSession(base: SparkSession): SparkSession = synchronized {
    if (extCache != null && !extCache.sparkContext.isStopped &&
        (extCache.sparkContext eq base.sparkContext)) return extCache
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      // withExtensions, not the spark.sql.extensions conf: the conf is
      // STATIC (read from the SparkContext at session build), so it can't
      // take effect on a pre-existing context — the programmatic hook can
      try SparkSession.builder()
        .withExtensions(new GraftExtensions()(_))
        .config("spark.sql.shuffle.partitions",
          base.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone",
          base.conf.get("spark.sql.session.timeZone"))
        .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
        .getOrCreate()
      finally {
        SparkSession.setDefaultSession(base)
        SparkSession.setActiveSession(base)
      }
    extCache = ext
    ext
  }
}
