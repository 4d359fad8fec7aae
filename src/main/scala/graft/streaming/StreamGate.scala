package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.ExportOps

/** One bounded replay of a file-fed streaming gate — the reference's
  * scheduled run as one `Trigger.AvailableNow` drain. A gate's life is
  * always the same five steps, and this harness owns all of them:
  *
  *  1. scratch: a PID- and invocation-suffixed dir with its watched
  *     `in/`, made and deleted by one [[ExportOps.withScratch]] scope
  *     whether the gate returns or throws, plus any per-gate state-store
  *     confs ([[RocksDb]], [[Changelog]], [[AvroState]]) held for the
  *     gate's whole life;
  *  2. staging: each slice is written once per JVM ([[StreamGate.stage]])
  *     and copied into `in/` by [[arrive]] with a strictly increasing
  *     past mtime, so the file source replays arrivals in call order;
  *  3. shards: the state-store partition count from [[StreamGate.shards]];
  *  4. the drain: `spark.sql.shuffle.partitions` scoped to the query,
  *     checkpoint at `ckpt/`, `Trigger.AvailableNow`, `start`, the gate's
  *     await (`processAllAvailable` unless the gate inspects the running
  *     query), `stop` in a `finally`;
  *  5. read-back: the gate reads its sink and [[ExportOps.localize]]s
  *     it, so the result it returns reads nothing the scope deletes.
  *
  * The sink, output mode, shard count, confs and arrival order stay the
  * gate's own; only the lifecycle lives here.
  *
  * Generated code: each started query runs in a clone of the session, and
  * under Spark's default artifact isolation each session's tasks run under
  * an executor classloader of its own. `CodeGenerator` keys its cache by
  * (thread context classloader, source), so with isolation on every run of
  * a streaming gate compiled its task-side classes again from source text
  * identical to the run before: q65 5 and e03 6 classes per run on the
  * sf0.01 fixture, and 629 per registry pass at sf0.01 over the 31
  * streaming gates, led by q106 (57), q100 (50) and q103 (30), which no
  * cache size removed. [[graft.GraftSession.builder]] turns isolation off
  * (graft adds no per-session artifacts), so all tasks share the
  * executor's loader; the same pass then recompiles 2. */
final class StreamGate private (spark: SparkSession, val dir: java.io.File) {
  val in: String = s"$dir/in"
  val data: String = s"$dir/data"
  val ckpt: String = s"$dir/ckpt"

  // past and strictly increasing: the file source sorts by mtime, and a
  // restart gate's later arrival must sort after the files run 1 saw
  private val firstArrival = System.currentTimeMillis() - 3600000L
  private var arrivals = 0

  /** Lands a staged file in `in/` under `name` as the next arrival. */
  def arrive(part: java.io.File, name: String): Unit = {
    require(arrivals < 60, "a gate lands at most 60 arrivals (mtimes stay past)")
    val dst = new java.io.File(dir, s"in/$name.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    dst.setLastModified(firstArrival + arrivals * 60000L)
    arrivals += 1
  }

  /** Stages `df` ([[StreamGate.stage]]) and lands it as the next arrival. */
  def arrive(df: DataFrame, name: String): Unit =
    arrive(StreamGate.stage(df, name), name)

  /** Lands `slices` as arrivals `f0`, `f1`, ... in order. */
  def arriveSlices(slices: Seq[DataFrame]): Unit =
    slices.zipWithIndex.foreach { case (df, i) => arrive(df, s"f$i") }

  /** The watched `in/` dir as a parquet stream of `schema`; one file per
    * micro-batch unless `oneFilePerBatch` is off. */
  def readIn(schema: StructType, oneFilePerBatch: Boolean = true): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (oneFilePerBatch) r.option("maxFilesPerTrigger", "1") else r).parquet(in)
  }

  /** Starts `writer` under `Trigger.AvailableNow` against this gate's
    * checkpoint, runs `await` on the live query and stops it, whatever
    * `await` does. `shards` scopes `spark.sql.shuffle.partitions` to the
    * query (the state-store partition count is pinned at first start);
    * `None` leaves the session's value. */
  def drain[T](writer: DataStreamWriter[Row],
               shards: Option[String] = Some(StreamGate.shards()))
              (await: StreamingQuery => T): T = {
    def run(): T = {
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try await(q) finally q.stop()
    }
    shards.fold(run())(n =>
      ExportOps.withConf(spark, "spark.sql.shuffle.partitions" -> n)(run()))
  }

  /** `df` appended to the parquet sink at `data/`. */
  def parquetSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("parquet").option("path", data).outputMode("append")

  /** The common drain: [[parquetSink]] until all available input is in. */
  def drainParquet(df: DataFrame,
                   shards: Option[String] = Some(StreamGate.shards())): Unit =
    drain(parquetSink(df), shards)(_.processAllAvailable())
}

object StreamGate {

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** The RocksDB state store, the only provider `transformWithState` takes. */
  val RocksDb: Seq[(String, String)] =
    Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
  /** RocksDB plus changelog checkpointing: each commit uploads the batch's
    * delta, not a full snapshot. */
  val Changelog: Seq[(String, String)] = RocksDb :+
    ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
  /** RocksDB plus Avro state encoding, which decodes rows of an older
    * state schema. */
  val AvroState: Seq[(String, String)] = RocksDb :+
    ("spark.sql.streaming.stateStore.encodingFormat" -> "avro")

  /** Runs `body` on a fresh gate scratch named `prefix` for fixture `d`,
    * with `confs` set on the session for the whole body and restored
    * after. */
  def apply[T](s: SparkSession, prefix: String, d: String,
               confs: Seq[(String, String)] = Nil)(body: StreamGate => T): T =
    ExportOps.withConf(s, confs: _*) {
      ExportOps.withScratch(prefix, d) { dir =>
        new java.io.File(dir, "in").mkdirs()
        body(new StreamGate(s, dir))
      }
    }

  /** Sys-prop that overrides every gate's state-store partition count, so
    * the partition-invariance sweep (PartitionInvarianceSpec) and the
    * `graft.Probe` shard A/B can vary the STATE shard count, not just the
    * session default — results are a pure function of the data at any
    * parallelism. */
  val ShardsProp = "graft.stream.shuffle.partitions"

  /** The state-store partition count for a gate's drain: [[ShardsProp]]
    * if set, else `scaleUp` if the gate asks for more, else `base`.
    *
    * Every stateful operator opens one state-store instance PER shuffle
    * partition PER micro-batch, and at gate scale (10³-10⁴ rows) those
    * instance open/commit round-trips — not data — dominate wall time.
    * Two partitions (the default `base`) keep every multi-instance
    * property observable (state is still key-partitioned, co-partitioning
    * still proven, restart recovery still reloads per-partition stores)
    * at a quarter of the prior 8-instance fixed cost; at production scale
    * `spark.sql.shuffle.partitions` is sized to load, exactly as the
    * serving-table `nPart` note on q98 says.
    *
    * A gate whose addBatch is CPU-bound real work asks for more: q89's
    * timer processor pays ~per-event cost over every session in the
    * corpus, so it takes 8 (at sf0.1 its median read 11.7 s on 2
    * partitions, 8.2 s on 8; 16 bought only 0.6 s more against
    * over-sharding the small SFs), and `scaleUp` = 32, the full local[32]
    * width, once the events corpus passes 200k rows (the sf1 point read
    * 27 s of addBatch on 8) — partition count follows the operator's
    * work profile, not a global constant. Results are
    * partition-count-invariant (state is key-partitioned; the output is
    * a deterministic function of the events), so this only moves wall
    * time. The override wins over `scaleUp`, which is by-name and not
    * evaluated when the override is set. */
  def shards(base: Int = 2, scaleUp: => Option[Int] = None): String =
    sys.props.getOrElse(ShardsProp, scaleUp.getOrElse(base).toString)

  /** JVM-wide memo of STAGED INPUT FILES keyed by the frame's plan: every
    * staged frame is a deterministic pure function of the read-only
    * fixture (slices/sentinels of [[graft.Tables]] with literal bounds
    * derived from fixture stats), so re-running the coalesce(1) batch
    * write per gate invocation — every call site × bench reps — is pure
    * recompute, the [[graft.ops.SimilarityOps]] memoLocal discipline
    * applied to fixture staging. The cached artifact is the written
    * parquet FILE; [[StreamGate.arrive]] still COPIES it into each gate's
    * own watched in/ dir with the gate's mtime stamps, so arrival order,
    * checkpoint isolation and scratch cleanup are untouched — only the
    * staging job is shared. Cache lives until JVM exit (shutdown hook
    * removes the files); bounded by the distinct staged frames (~40),
    * each a one-part gate-scale parquet. */
  private val stagedParts =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]
  // unique slice-dir suffix: stage names repeat across gates ("f0",
  // "events") and suites run in parallel — a size()-derived name could
  // collide when two different frames stage concurrently
  private val stagedSeq = new java.util.concurrent.atomic.AtomicLong
  private lazy val stagedBase: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_staged_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }))
    dir
  }

  /** Writes `df` as exactly ONE parquet file and returns it — the arrival
    * unit the file-source gates copy into their input dirs. One file per
    * intended micro-batch: multiple part files would split a batch under
    * `maxFilesPerTrigger=1` and collide on fixed target names. The file
    * lives in a JVM-wide staging dir so it can outlive any single gate's
    * scratch; `name` only names the slice dir. */
  def stage(df: DataFrame, name: String): java.io.File = {
    // canonicalized plans NORMALIZE AWAY the scan path (verified: the
    // events relation canonicalizes identically for every fixture dir),
    // so the key must carry the backing files explicitly or a JVM
    // staging two SFs would serve the first dir's file for the second.
    // semanticHash + schema DDL, not canonicalized.toString (r19 ADVICE):
    // treeString truncates node fields at spark.sql.debug.maxToStringFields
    // (default 25), so two distinct wide-projection plans could RENDER
    // identically and alias to one cached file; the semantic hash sees
    // every field, and the schema DDL guards the (unlikely) hash collision
    // class that matters most — same-shape plans with different columns
    val key = df.inputFiles.sorted.mkString(",") + "|" +
      df.queryExecution.analyzed.canonicalized.semanticHash() + "|" +
      df.schema.toDDL
    stagedParts.computeIfAbsent(key, _ => {
      val slice = new java.io.File(stagedBase,
        s"stage_${name}_${stagedSeq.getAndIncrement()}")
      df.coalesce(1).write.parquet(slice.getPath)
      slice.listFiles().filter(_.getName.endsWith(".parquet")).head
    })
  }
}
