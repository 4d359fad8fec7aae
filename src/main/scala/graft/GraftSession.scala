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
  *  - everything graft adds to Spark — native SQL functions, optimizer
  *    rules ([[plans.SingleTaskSort]], [[plans.LocalSort]],
  *    [[plans.MatviewRewrite]]), the as-of join strategy and the DEDUP
  *    parser — applied once at construction from the one list in
  *    [[GraftExtensions]], so `newSession()` and streaming clones carry
  *    them too;
  *  - a generated-class cache sized to the engine's working set
  *    ([[CodegenCacheEntries]] entries instead of Spark's 100), so a gate
  *    that runs again reuses its compiled classes instead of recompiling
  *    them with Janino; Spark's per-session artifact isolation is off
  *    (graft adds no session artifacts), so the tasks of a streaming
  *    query's cloned session reuse those classes too.
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

  /** `spark.sql.codegen.cache.maxEntries`: how many generated classes
    * Spark keeps compiled. `CodeGenerator` keys its LRU by (thread context
    * classloader, source), and one source is compiled once on the driver
    * and again under the executor's classloader, so a workload cycling
    * through more keys than the cache holds recompiles nearly all of them
    * on every pass. Spark's default of 100 is below even a 7-gate loop:
    * the perfbench `batch` gates make 126 keys in one pass, and at 100
    * entries every warm pass Janino-compiled about 115 of them again
    * (14-17 ms each on a C1-only JVM); at this size a warm pass compiles
    * 0-6. One pass over all 317 gates makes 4,616 keys at sf0.01 (plus
    * about 800 per pass while artifact isolation was on, see
    * [[streaming.StreamGate]]) and 3,547 at sf0.1 with Bench's warm-up;
    * 8192 is the smallest power of two above that. The conf is static:
    * `CodeGenerator`'s static initializer reads it once per JVM, from the
    * session that is active when the first class is generated, so every
    * session of the JVM has to come from this builder
    * (`SessionBuilderScanSpec` pins that). Held classes cost memory: after
    * one Bench run over the registry at sf0.1, heap after GC was 224 MB
    * against 134 MB at 100 entries, and metaspace 259 MB against 235 MB. */
  val CodegenCacheEntries: Int = 8192

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // one executor classloader for every session's tasks, so generated
      // classes are reused across streaming runs (see streaming.StreamGate)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
