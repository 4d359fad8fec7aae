package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Partitioned training-data export — the terminal stage of the LLM-data
  * pipeline (SURVEY.md §2.6): the deterministic train/val/test assignment
  * (q51's md5-bucket split) applied to the documents table and written as
  * parquet partitioned by (split, lang), so a downstream training job's
  * `WHERE split = 'train' AND lang = 'en'` prunes to one directory and
  * never lists or scans the other splits' files.
  *
  * Scale notes: the split is a per-row expression (no join, no shuffle to
  * assign); partitionBy hash-routes rows to one directory per (split,lang)
  * pair and each task writes its own files — no global sort, no driver
  * collection. At 100 TB, repartition on (split, lang [, salt]) before the
  * write to bound files-per-directory; at test SF the extra shuffle would
  * dominate, so it is left to the caller.
  */
object ExportOps {

  /** q51's deterministic bucket (shared definition — see [[Hashing]]). */
  private def bucket = Hashing.md5Bucket100(col("doc_id"))

  def withSplit(docs: DataFrame): DataFrame =
    docs.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))

  /** Writes the partitioned export; returns the output path.
    *
    * `filesPerDir > 0` turns on small-files control — the 100 TB failure
    * mode of `partitionBy` is every one of N write tasks emitting a file
    * into every (split, lang) directory (N×dirs tiny files). Routing rows
    * by (split, lang, hash(doc_id) % filesPerDir) BEFORE the write
    * concentrates each directory's rows into at most `filesPerDir` tasks,
    * bounding its file count while keeping `filesPerDir`-way write
    * parallelism per directory. Off by default: at test SF the extra
    * shuffle dominates, and the gate's e01 summary is layout-independent. */
  def trainingExport(s: SparkSession, d: String, outDir: String,
                     filesPerDir: Int = 0): String = {
    val assigned = withSplit(Tables(s, d, "documents"))
    val routed =
      if (filesPerDir > 0)
        assigned.repartition(col("split"), col("lang"),
          pmod(xxhash64(col("doc_id")), lit(filesPerDir)))
      else assigned
    routed.write.mode(SaveMode.Overwrite)
      .partitionBy("split", "lang")
      .parquet(outDir)
    outDir
  }

  /** Streaming variant of the export: an unbounded document stream lands
    * in the same split/lang-partitioned layout, exactly-once per file via
    * the checkpoint — continuous training-data ingestion writing the
    * directory structure batch readers prune on. The split expression is
    * per-row and deterministic, so a replayed micro-batch assigns
    * identically. */
  def streamingTrainingExport(docs: DataFrame, outDir: String,
                              checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    withSplit(docs).writeStream
      .partitionBy("split", "lang")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Recursive delete for export scratch dirs. */
  def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  /** Sets a session conf for the duration of `body`, restoring the
    * previous value (or unsetting) afterwards — the save/set/restore
    * pattern every streaming gate needs for `nanosAsLong` /
    * `shuffle.partitions`, centralized so a restore cannot be forgotten
    * (q58 leaked exactly this conf before round 7). "Previous" is the
    * explicitly set value: `getOption` answers a registered conf's
    * default, so testing it would pin the default instead of unsetting. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** PID- and invocation-suffixed gate scratch dir under java.io.tmpdir.
    * The PID isolates concurrent gate/bench JVMs at the same SF; the
    * per-invocation counter isolates concurrent runs of the SAME gate in
    * one JVM — the test suite executes suites in parallel, and with a
    * shared name run B's setup deleted run A's in-flight scratch (the
    * e16 "quarantine caught 0 rows" failure: A read B's half-staged CSV).
    * Success and failure paths both delete the dir (localizeAndDrop /
    * withScratchCleanup), so unique names leak nothing a shared name
    * wouldn't also leak on kill -9. */
  def scratchDir(prefix: String, d: String): java.io.File = {
    // GRAFT_SCRATCH overrides the scratch base; since r15 the DEFAULT is
    // a writable /dev/shm when present (falling back to java.io.tmpdir):
    // gate fixtures and streaming checkpoints are transient per-run
    // artifacts, and on a host whose tmpdir is disk-backed their
    // write/fsync latency is pure fixture overhead — ~25% of the driver
    // bench total was the 31 streaming gates' per-micro-batch state-store
    // and commit-log writes. The gates' semantics (state survival, commit
    // protocol, rename atomicity, plan shape) are byte-identical on any
    // local POSIX filesystem. At cluster scale checkpoints go to durable
    // storage by explicit location anyway — this default only shapes the
    // local single-JVM fixture runs.
    // r15 ADVICE: writability alone is not enough — Docker caps /dev/shm
    // at 64 MB by default, where sf-scale fixtures and streaming
    // checkpoints ENOSPC. Require real headroom (4 GiB covers the largest
    // per-run scratch footprint, the sf1 staged fixtures + checkpoints at
    // ~2 GiB, with margin) before preferring tmpfs; otherwise fall back
    // to the disk-backed tmpdir, which is merely slower, never wrong.
    val base = sys.env.get("GRAFT_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= 4L * 1024 * 1024 * 1024)
        shm.getAbsolutePath
      else System.getProperty("java.io.tmpdir")
    }
    val f = new java.io.File(base,
      prefix + "_" + d.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + ProcessHandle.current().pid() +
        "_" + scratchSeq.incrementAndGet())
    deleteRecursively(f)
    f
  }

  /** Stages a fixture table's parquet bytes into a streaming-source
    * directory. The driver's testdata ships single-file tables, but any
    * Spark/lakehouse-written table is a DIRECTORY of part files (the sf1
    * amplified set, every TxTable snapshot) — a plain `Files.copy` of the
    * directory path copies an empty dir entry and the file stream then
    * fails analysis with nothing to infer. One staged file per part keeps
    * the copy byte-identical either way; callers that need one
    * micro-batch per logical table must not pass `maxFilesPerTrigger=1`
    * with a multi-part source (the d20/e03 gates are batching-invariant:
    * stateless stream-static join / per-row export). */
  def stageTable(d: String, table: String, destDir: java.io.File): Unit = {
    val src = new java.io.File(s"$d/$table.parquet")
    if (src.isDirectory) {
      src.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            destDir.toPath.resolve(s"${table}_$i.parquet"))
        }
    } else {
      java.nio.file.Files.copy(src.toPath,
        destDir.toPath.resolve(s"$table.parquet"))
    }
  }

  /** Runs a gate body, deleting its scratch directory if the body throws.
    * The success path's [[localizeAndDrop]] already deletes the dir; without
    * this, a failed streaming query or read-back leaks the PID-suffixed
    * scratch (input copy + checkpoint + sink), which a later run in a NEW
    * process can never reclaim. Cleanup failures are swallowed so the
    * original error always propagates. */
  def withScratchCleanup[T](scratch: java.io.File)(body: => T): T =
    try body
    catch {
      case t: Throwable =>
        try deleteRecursively(scratch) catch { case _: Throwable => () }
        throw t
    }

  /** Shared tail of every streaming/export gate: materialize the result
    * into a driver-local DataFrame, delete the scratch directory it was
    * read from, and return the localized frame with a deterministic
    * order. One sort, applied to the local relation — the pre-collect sort
    * the call sites used to carry was redundant with it — which
    * [[graft.plans.LocalSort]] runs on the driver, so the sorted frame's
    * action launches no sampling or shuffle job.
    *
    * Caller-side size contract: this collects `df` to the driver, so it is
    * only for gate results that stay small relative to driver memory — the
    * e01/e02 summaries are ≤16 rows, the streaming-gate landings (d20/d22
    * arrival batches, g08 trips, q58 sessions) are fixture-batch-sized.
    * A caller whose result grows with the corpus (not with the batch/
    * summary) must write to durable storage instead of localizing. */
  def localizeAndDrop(df: DataFrame, scratch: java.io.File,
                      sortCols: String*): DataFrame = {
    val local = localize(df)
    deleteRecursively(scratch)
    if (sortCols.nonEmpty) local.orderBy(sortCols.map(col): _*) else local
  }

  /** Pins `df`'s CURRENT contents as a driver-local frame (same size
    * contract as [[localizeAndDrop]]). Gates that mutate an artifact they
    * also read (d25's index append) need this mid-flight: a lazy plan
    * re-lists the artifact directory at execution time, so a result
    * evaluated after the mutation would silently see the post-mutation
    * files. */
  def localize(df: DataFrame): DataFrame = localize(df, LocalizeMaxRows)

  /** The size contract, ENFORCED (it was prose until r15): localized
    * gate results are fixture-batch/summary-sized. A result that grows
    * with the corpus must write to durable storage instead — failing
    * loudly here turns silent driver-heap pressure at a bigger SF into
    * a named contract violation at the offending gate.
    *
    * The probe collects through `limit(maxRows + 1)` (r14 ADVICE: a
    * plain collect-then-check paid the full driver-heap cost of the
    * violation before failing): the driver never materializes more than
    * maxRows + 1 rows — and when the result is within contract, the
    * limited collect IS the complete result. It is not always one job: a
    * limit at the root plans `CollectLimitExec`, whose `executeTake`
    * scans one partition first and, while rows are still missing, runs
    * another job over a scaled-up number of the remaining partitions
    * (q65's read-back runs a 1-task job, then a 2-task one). */
  private[ops] def localize(df: DataFrame, maxRows: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"localize() size contract violated: > $maxRows rows — this " +
          "gate's result scales with the corpus; write it to durable " +
          "storage instead of localizing")
    df.sparkSession.createDataFrame(rows.toList.asJava, df.schema)
  }

  /** [[localize]] for PLAN-EVIDENCE helpers: executes `df`'s OWN
    * QueryExecution (a plain collect, no limit() wrapper), so a caller
    * that reads `df.queryExecution.executedPlan` afterwards sees the
    * runtime-finalized adaptive plan (isFinalPlan=true). [[localize]]'s
    * limit probe is a NEW QueryExecution and leaves `df` itself
    * unexecuted — reading its adaptive plan then shows the INITIAL
    * (pre-runtime) plan, which broke the q120/q123/q132 pins when the
    * probe landed. The size contract is checked only after the collect,
    * so this is strictly for report-grain plan-pinned gates (all six
    * current callers return ≤~1.5k rows); corpus-scaled results must
    * keep using [[localize]]. */
  def localizeExecuted(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = df.collect()
    if (rows.length > LocalizeMaxRows)
      throw new IllegalStateException(
        s"localizeExecuted() size contract violated: ${rows.length} > " +
          s"$LocalizeMaxRows rows — plan-evidence helpers must stay " +
          "report-grain; use localize()/durable storage for data paths")
    df.sparkSession.createDataFrame(rows.toList.asJava, df.schema)
  }

  /** [[localize]]'s enforced ceiling: generous for every fixture-batch
    * result (the largest localized landing at sf1, q65's full-corpus
    * dedup echo, is ~1M rows) while still far below driver-heap risk. */
  private[ops] val LocalizeMaxRows: Int =
    sys.env.get("GRAFT_LOCALIZE_MAX_ROWS").flatMap(v =>
      scala.util.Try(v.trim.toInt).toOption).getOrElse(4_000_000)

  /** e01: export + read-back partition summary. Gates the full
    * write→read cycle (assignment, partition layout, partition-column
    * recovery) against a DuckDB twin computing the same assignment
    * directly from the documents table. */
  private def e01(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_export", d)
    withScratchCleanup(out) {
    trainingExport(s, d, out.getAbsolutePath)
    // Partition-column values come back through directory-name inference:
    // cast both to string so a numeric-looking lang can never be inferred
    // as int and diverge from the oracle's VARCHAR. (A null/empty lang
    // would round-trip as __HIVE_DEFAULT_PARTITION__ → null; the documents
    // fixture guarantees non-empty lang codes.)
    val summary = Tables.readParquet(s, out.getAbsolutePath)
      .groupBy(col("split").cast("string").as("split"),
        col("lang").cast("string").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    // materialize the (tiny: splits × langs) summary, then delete the
    // scratch export so repeated gate/bench runs don't accumulate parquet
    // under java.io.tmpdir without bound
    localizeAndDrop(summary, out, "split", "lang")
    }
  }

  /** e02: vector-index persistence — build per-label centroids
    * distributedly, WRITE the index to parquet, RELOAD it, and serve
    * nearest-centroid routing for the query set from the reloaded copy.
    * This is the build→persist→serve cycle every ANN deployment runs (the
    * index outlives the job that built it); gating it pins that the
    * persisted artifact is bit-faithful, not just the in-memory plan.
    *
    * Centroid means use exact decimal sums ([[StableAgg.scaledSum]]) so the
    * per-dimension average is independent of partition/addition order —
    * the property that makes the index reproducible across cluster sizes
    * (and lets DuckDB agree bit-for-bit). Build: explode dims → one hash
    * aggregation per (label, dim) → reassemble arrays sorted by dim. Serve:
    * the tiny reloaded index broadcasts; the corpus is never re-scanned. */
  private def e02(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = scratchDir("graft_index", d)
    withScratchCleanup(out) {
    val emb = Tables(s, d, "embeddings")
    val dims = emb.select(col("label"),
        posexplode(graft.functions.VectorFunctions.toDouble(col("embedding"))))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "x")
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg((StableAgg.scaledSum(col("x"), 12) / count(lit(1))).as("c"))
    cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        e => e.getField("c")).as("centroid"))
      .write.mode(SaveMode.Overwrite).parquet(out.getAbsolutePath)
    val index = Tables.readParquet(s, out.getAbsolutePath)
    val queries = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("label").asc)
    val served = queries.crossJoin(broadcast(index))
      .select(col("q_id"), col("label"),
        graft.functions.VectorExpressions.cosineSim(
          s, col("q_vec"), col("centroid")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("label"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id")
    // materialize the 16-row routing table, then drop the scratch index
    localizeAndDrop(served, out, "q_id")
    }
  }

  /** e03: the streaming export gated against e01's OWN oracle — documents
    * arrive as a file stream, land through [[streamingTrainingExport]]
    * (same split expression, same partitioned layout, exactly-once via the
    * checkpoint), and the read-back summary must hash-match the batch
    * export's DuckDB twin. Stream/batch duality for the pipeline's
    * terminal stage, gated like g05 does it for the ingest stage. */
  private def e03(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_sexport", d)
    withScratchCleanup(out) {
    new java.io.File(out, "in").mkdirs()
    stageTable(d, "documents", new java.io.File(out, "in"))
    val schema = Tables(s, d, "documents").schema
    val stream = s.readStream.schema(schema).parquet(s"$out/in")
    val q = streamingTrainingExport(stream, s"$out/data", s"$out/ckpt")
    try q.processAllAvailable() finally q.stop()
    val summary = Tables.readParquet(s, s"$out/data")
      .groupBy(col("split").cast("string").as("split"),
        col("lang").cast("string").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    localizeAndDrop(summary, out, "split", "lang")
    }
  }

  /** Compacts a parquet directory into ~`targetBytes`-sized files (the
    * OPTIMIZE/maintenance job every streaming or small-batch landing zone
    * needs: a million 100 KB files kill both the file listing and the
    * scan's task-scheduling overhead at 100 TB). Partition count derives
    * from the actual on-disk bytes; `coalesce` (not repartition) folds
    * input splits together WITHOUT a shuffle — compaction moves every
    * byte once, network-free. Returns the compacted directory. */
  def compact(s: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L << 20): String = {
    // size the input through the Hadoop FileSystem API, not java.io —
    // compaction's natural home is an HDFS/S3 landing zone, and the
    // content-summary call is one namenode round-trip, not a listing walk
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    Tables.readParquet(s, inDir).coalesce(target)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    outDir
  }

  /** e04: the compaction job gated for content invariance — a fragmented
    * landing (64 tiny files, the streaming sink's natural output) compacts
    * to size-targeted files, and the per-language summary of the COMPACTED
    * copy must hash-match the oracle computed from the original table:
    * compaction may change layout, never content. The file-count bound is
    * spec-pinned ([[graft.ops.ExportOpsSpec]]). */
  private def e04(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_compact", d)
    withScratchCleanup(out) {
      Tables(s, d, "documents").repartition(64)
        .write.parquet(s"$out/frag")
      compact(s, s"$out/frag", s"$out/compacted")
      val summary = Tables.readParquet(s, s"$out/compacted")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      localizeAndDrop(summary, out, "lang")
    }
  }

  /** e05: schema-evolution ingest — the lake reality that batches landed
    * last month lack columns added this month. Batch 1 lands the original
    * document schema; batch 2 lands WITH a new `quality` column; a
    * `mergeSchema` read reconciles the union (old rows surface NULL for
    * the new column — never a failure, never silent truncation), gated by
    * a per-language summary the oracle recomputes from the source table
    * with the same batch rule. At scale this is why additive evolution is
    * safe: readers pay one footer-merge pass, no rewrite of history. */
  private def e05(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_evolve", d)
    withScratchCleanup(out) {
      val docsT = Tables(s, d, "documents")
      val old = docsT.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val evolved = docsT.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          // deterministic integer-derived "quality" for the new column
          ((col("doc_id") % 100).cast("double") / 100.0).as("quality"))
      old.write.parquet(s"$out/data/batch=1")
      evolved.write.parquet(s"$out/data/batch=2")
      val merged = s.read.option("mergeSchema", "true").parquet(s"$out/data")
      val summary = merged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_scored"),
          StableAgg.scaledSum(coalesce(col("quality"), lit(0.0)), 2)
            .as("sum_quality"))
      localizeAndDrop(summary, out, "lang")
    }
  }

  // ------------------------------------------------- e07: index maintenance

  /** Per-(label, dim) sufficient statistics for centroid maintenance: the
    * EXACT decimal coordinate sum plus the member count. Means are not
    * mergeable; these are — decimal addition is associative and exact, so
    * an index appended batch-by-batch carries bit-identical statistics to
    * a from-scratch build over the union (the property [[appendToCentroidIndex]]
    * relies on and the e07 oracle verifies). Fixed DECIMAL(38,12) schema so
    * every append writes the same parquet type. */
  private def centroidStats(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(graft.functions.VectorFunctions.toDouble(col("embedding"))))
      .withColumnRenamed("pos", "dim").withColumnRenamed("col", "x")
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x").cast("decimal(30,12)")).cast("decimal(38,12)").as("s"),
        count(lit(1)).as("n"))

  def buildCentroidIndex(s: SparkSession, emb: DataFrame, dir: String): Unit = {
    centroidStats(emb).write.mode(SaveMode.Overwrite).parquet(dir)
    TxTable.bootstrapIfNeeded(s, dir)
  }

  /** The centroid-index maintenance loop (the e02 half of the
    * persisted-index gap d25 closed for signatures): aggregate ONLY the
    * arrival batch's statistics, merge them into the persisted index by
    * (label, dim), and commit by staged swap. The corpus is never
    * rescanned — at 100 TB the append cost is one pass over the arrival
    * batch plus a shuffle of the |labels|×|dims|-row index table. New
    * labels simply appear (no index rebuild); because the statistics are
    * exact decimals, serve results after any append sequence are
    * bit-identical to a from-scratch build. The commit rides the
    * [[TxTable]] manifest protocol (the r12 crash-safety discipline):
    * the merged generation lands beside the old files, one manifest
    * rename flips visibility, vacuum retires the old generation — a
    * crash at any instant serves one complete index version. */
  def appendToCentroidIndex(s: SparkSession, arrival: DataFrame,
                            dir: String): Unit = {
    TxTable.bootstrapIfNeeded(s, dir)
    val merged = TxTable.read(s, dir).unionByName(centroidStats(arrival))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("s")).cast("decimal(38,12)").as("s"), sum(col("n")).as("n"))
    TxTable.stageAndCommit(merged, dir, append = false)
  }

  /** Serve phase: assemble centroids (exact sum / count, the identical
    * division e02 performs) from the persisted statistics and route the
    * query set — the tiny index broadcasts, the corpus is not touched. */
  def serveCentroidRouting(s: SparkSession, dir: String,
                           queries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val index = Tables.readParquet(s, dir)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        (col("s").cast("double") / col("n")).as("c")))),
        e => e.getField("c")).as("centroid"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("label").asc)
    queries.crossJoin(broadcast(index))
      .select(col("q_id"), col("label"),
        graft.functions.VectorExpressions.cosineSim(
          s, col("q_vec"), col("centroid")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("label"), round(col("cos"), 4).as("cos"))
      .orderBy("q_id")
  }

  /** e07: the build→append→serve cycle on the centroid index — e02's
    * missing maintenance half. Two-thirds of the embeddings build the
    * index, the remaining third arrives later and merges in via
    * [[appendToCentroidIndex]]; the routing served from the appended index
    * must hash-match e02's oracle computed over the FULL table in one
    * shot — proof the maintenance loop loses nothing vs a rebuild. */
  private def e07(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_centapp", d)
    withScratchCleanup(out) {
      val emb = Tables(s, d, "embeddings")
      buildCentroidIndex(s, emb.filter(col("vec_id") % 3 =!= 0), s"$out/idx")
      appendToCentroidIndex(s, emb.filter(col("vec_id") % 3 === 0), s"$out/idx")
      val served = serveCentroidRouting(s, s"$out/idx",
        emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
      localizeAndDrop(served, out, "q_id")
    }
  }

  // ------------------------------------------------- e08: sorted export

  /** Globally-sorted export via range partitioning — the curriculum /
    * sorted-scan write path: documents ordered by a score across the WHOLE
    * corpus, laid out so file order IS score order. `repartitionByRange`
    * is the only global sort that scales: a sampled-boundary range
    * exchange routes each row to its score band and every band sorts
    * locally in parallel — versus `orderBy().coalesce(1)`, which funnels
    * 100 TB through one task. Part-file numbering follows partition ids,
    * so lexicographic file order is the global order, and each file's
    * parquet min/max stats cover a disjoint score range — a consumer
    * scanning one score band prunes every other file. The (score, doc_id)
    * composite key makes the order total, so the layout is deterministic
    * even though the sampled band BOUNDARIES are not. */
  def sortedExport(s: SparkSession, d: String, outDir: String,
                   numFiles: Int = 8): String = {
    val scored = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        // non-whitespace char count: integer-derived, so the score (and
        // the oracle's) is exact — no float ordering ambiguity
        length(regexp_replace(col("text"), "\\s", ""))
          .cast("long").as("score"))
    scored.repartitionByRange(numFiles, col("score"), col("doc_id"))
      .sortWithinPartitions(col("score"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    outDir
  }

  /** e08: the sorted export gated for content invariance — the read-back
    * of the range-partitioned layout must carry exactly the source rows
    * with their scores (sorting may change layout, never content). The
    * ordering guarantees themselves (disjoint per-file ranges, in-file
    * sortedness) are spec-pinned in [[graft.ops.ExportOpsSpec]] — the
    * gate's hash compare is order-insensitive by design, so order is a
    * spec property, not an oracle property. */
  private def e08(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_rsort", d)
    withScratchCleanup(out) {
      sortedExport(s, d, out.getAbsolutePath)
      val back = Tables.readParquet(s, out.getAbsolutePath)
        .select(col("doc_id"), col("lang"), col("score"))
      localizeAndDrop(back, out, "doc_id")
    }
  }

  // ------------------------------------------------- e09: JSONL round-trip

  /** e09: JSONL interchange round-trip — the lingua franca of LLM corpus
    * exchange. Documents export as line-delimited JSON and read back with
    * an EXPLICIT schema; the gate hashes the round-tripped text (as md5,
    * to keep the result compact) against the source table, proving the
    * JSON encode/decode is byte-faithful through escapes and unicode.
    * At 100 TB the explicit schema is the point: `spark.read.json`
    * without one runs a full inference pass over every byte before the
    * real scan — twice the I/O of the job itself. JSONL stays splittable
    * (one record per line), so a 100 TB export still parallelizes reads
    * without a manifest. */
  private def e09(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_jsonl", d)
    withScratchCleanup(out) {
      val docsT = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      docsT.write.mode(SaveMode.Overwrite).json(s"$out/jsonl")
      val back = s.read.schema(docsT.schema).json(s"$out/jsonl")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
      localizeAndDrop(back, out, "doc_id")
    }
  }

  /** e16: CSV interchange round-trip with malformed-row handling — the
    * OTHER ubiquitous exchange format, and the one where row corruption is
    * a fact of life (unescaped delimiters, truncated uploads). The gate
    * exports events as quoted CSV, appends a file of deliberately
    * malformed lines, and reads back in PERMISSIVE mode with an explicit
    * schema + `columnNameOfCorruptRecord`: well-formed rows must
    * round-trip exactly (hash vs the source table), corrupt rows must
    * land in the quarantine column — counted, never silently dropped,
    * never poisoning a typed column. The FAILFAST twin (reject the whole
    * read on first corruption — the S7 ingest discipline) is spec-pinned
    * in ExportOpsSpec. At 100 TB PERMISSIVE-with-quarantine is the only
    * viable posture: one bad upload must cost one quarantined partition,
    * not the job. Timestamps round-trip as epoch-µs longs — CSV has no
    * timestamp type, so the export pins the encoding instead of trusting
    * parser locale defaults. */
  private def e16(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_csv", d)
    withScratchCleanup(out) {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("props"))
      ev.write.mode(SaveMode.Overwrite)
        .option("header", "true").option("quoteAll", "true")
        .csv(s"$out/csv")
      // a "truncated upload": lines that cannot parse into the schema
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/csv/part-corrupt.csv"),
        java.util.Arrays.asList(
          "\"event_id\",\"user_id\",\"event_type\",\"ts_us\",\"props\"",
          "\"not_a_number\",\"9\",\"click\",\"12345\",\"{}\"",
          "\"12\",\"also_bad\",\"view\",\"oops\",\"{}\""))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      val back = s.read.schema(schema)
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(s"$out/csv")
      // quarantine accounting rides the same read; cache: two aggregates
      // + the row dump would otherwise re-parse the CSV three times
      val cached = DedupOps.cachedShared(back)
      val nCorrupt = cached.filter(col("_corrupt").isNotNull).count()
      require(nCorrupt == 2L, s"quarantine caught $nCorrupt of 2 bad rows")
      val clean = cached.filter(col("_corrupt").isNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us"), md5(col("props")).as("props_md5"))
      localizeAndDrop(clean, out, "event_id")
    }
  }

  /** e26: the ORC format leg — the last columnar interchange format next
    * to parquet (native), CSV (e16), JSONL (e09) and XML (e19). Some
    * upstream lakes land ORC (classic Hive estates); the engine must
    * read them WITH the same scan economy parquet gets, not via convert-
    * to-parquet-first. The gate exports events as ORC clustered by
    * user_id (repartition + sortWithinPartitions, so ORC's stripe-level
    * min/max indexes are actually selective — the e08 sorted-export
    * discipline applied to the other format), reads it back through a
    * selective predicate + 3-column projection, and aggregates; the
    * oracle computes the same report from the PARQUET source, so a hash
    * match proves the ORC round trip is value-lossless (timestamps
    * carried as epoch-µs longs — ORC timestamp semantics differ from
    * parquet's, so the export pins the encoding exactly as e16 does).
    * PlanAuditR14Spec pins the scan economy: the ORC scan must show the
    * pushed predicate and the pruned 4-column ReadSchema. */
  private def e26(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_orc", d)
    withScratchCleanup(out) {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      ev.repartition(4, col("user_id")).sortWithinPartitions("user_id")
        .write.mode(SaveMode.Overwrite).orc(s"$out/orc")
      val back = s.read.orc(s"$out/orc")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,2)")).cast("double")
            .as("sum_value"),
          min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      localizeAndDrop(back, out, "user_id")
    }
  }

  /** The e26 read-back plan over an existing ORC directory — shared with
    * the PlanAuditR14Spec pushdown pin so the spec audits exactly the
    * gate's plan. */
  private[graft] def orcReadBack(s: SparkSession, dir: String): DataFrame =
    s.read.orc(dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("value"))

  // ------------------------------------------- e10: bucketed co-located join

  /** Writes `df` as a Spark-native bucketed parquet table: rows hash-route
    * into `n` buckets on `key` at WRITE time (sorted within each bucket),
    * so the table's files carry a `HashPartitioning(key, n)` guarantee
    * every later join or aggregation on `key` can consume without an
    * Exchange. Table names are caller-chosen; pass a PID-suffixed name for
    * gate scratch (concurrent processes share one warehouse directory). */
  def writeBucketed(df: DataFrame, table: String, n: Int, key: String): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    // cluster by the bucket key before the write (guide-standard move):
    // repartition(n, key) and bucket id share the same murmur3-pmod hash,
    // so each task holds exactly one bucket's rows — the write
    // parallelizes n-ways and emits ONE file per bucket, where an
    // unclustered write routes every input task to all n buckets (and a
    // single-partition local scan writes them serially). Content is
    // layout-invariant either way (spec-pinned); at scale this is the
    // cluster-before-bucketed-write discipline that avoids
    // files-per-task-per-bucket explosion.
    df.repartition(n, col(key))
      .write.format("parquet").bucketBy(n, key).sortBy(key)
      .mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** The join the bucketed layout pays for: orders ⋈ lineitem on the order
    * key with NO shuffle of either side — both scans already satisfy the
    * join's required distribution, so the only Exchange left in the plan
    * is the tiny final-aggregation hash on `o_orderpriority`
    * (plan-pinned in [[graft.PlanAuditR8Spec]]). This is THE 100 TB fact-
    * to-fact join strategy: a broadcast is impossible (both sides huge)
    * and a shuffle join moves both tables over the network every query —
    * bucketing moves them once, at layout time, and every subsequent
    * keyed join/agg rides it free. */
  def colocatedRevenue(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        StableAgg.scaledSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))

  /** e10: the bucketed-layout cycle gated end-to-end — write both fact
    * tables bucketed on the join key, join them WITHOUT a broadcast
    * (disabled for the query: at real scale neither fact side fits), and
    * hash-match the revenue summary against an oracle joining the raw
    * parquet. Content must be layout-invariant; the zero-shuffle plan
    * shape is what the bucketing buys and the spec pins. */
  private def e10(s: SparkSession, d: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val ordT = s"graft_e10_orders_$pid"
    val liT = s"graft_e10_lineitem_$pid"
    val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      writeBucketed(Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), ordT, 8, "o_orderkey")
      writeBucketed(Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        liT, 8, "l_orderkey")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      localize(colocatedRevenue(s.table(ordT), s.table(liT)))
        .orderBy("o_orderpriority")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      s.sql(s"DROP TABLE IF EXISTS $ordT")
      s.sql(s"DROP TABLE IF EXISTS $liT")
    }
  }

  /** Appends `df` to an existing bucketed table, preserving the bucket
    * spec — Spark validates the (n, key) layout against the catalog and
    * hash-routes the new rows into the same buckets, so the co-location
    * guarantee survives ingestion. The steady-state counterpart of
    * [[writeBucketed]] (d25/e07's append-maintenance pattern applied to
    * the physical layout): batches land bucketed forever, and no query
    * ever pays the shuffle again. */
  def appendBucketed(df: DataFrame, table: String, n: Int, key: String): Unit =
    df.repartition(n, col(key)) // see writeBucketed: one file per bucket
      .write.format("parquet").bucketBy(n, key).sortBy(key)
      .mode(SaveMode.Append).saveAsTable(table)

  /** e11: bucketed-layout APPEND maintenance gated end-to-end — the
    * orders side lands in two batches (even keys, then odd keys appended),
    * lineitem lands once; the co-located join over the appended table
    * must hash-match the oracle joining ALL raw rows, and the plan must
    * still carry zero join-key exchanges (spec-pinned: the append may
    * add files per bucket, never break the layout guarantee). */
  private def e11(s: SparkSession, d: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val ordT = s"graft_e11_orders_$pid"
    val liT = s"graft_e11_lineitem_$pid"
    val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val ord = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      writeBucketed(ord.filter(col("o_orderkey") % 2 === 0), ordT, 8, "o_orderkey")
      appendBucketed(ord.filter(col("o_orderkey") % 2 =!= 0), ordT, 8, "o_orderkey")
      writeBucketed(Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        liT, 8, "l_orderkey")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      localize(colocatedRevenue(s.table(ordT), s.table(liT)))
        .orderBy("o_orderpriority")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      s.sql(s"DROP TABLE IF EXISTS $ordT")
      s.sql(s"DROP TABLE IF EXISTS $liT")
    }
  }

  // ------------------------------------------- e13: Z-order (Morton) layout

  /** Morton (Z-order) interleave of two `bits`-bit bucket columns: bit i
    * of `x` lands at position 2i, bit i of `y` at 2i+1. Pure shift/mask
    * column algebra — stays inside whole-stage codegen, no UDF. */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Linear min/max scaling of `v` onto the `bits`-bit bucket grid —
    * integer arithmetic throughout, so bucket assignment is engine-exact.
    * Production Z-order implementations bucket by sampled quantiles to
    * absorb skew (what `repartitionByRange`'s sampler does); linear
    * scaling keeps the gate deterministic and costs one tiny bounds agg. */
  def zBucket(v: Column, mn: Long, mx: Long, bits: Int): Column = {
    val span = math.max(mx - mn, 1L)
    ((v - mn) * ((1L << bits) - 1) / span).cast("long")
  }

  /** Writes lineitem Z-ordered on (l_partkey, l_suppkey): each row's two
    * dims scale onto a 2^bits grid, interleave into a Morton value, and
    * the table range-partitions + sorts on that value — so each output
    * file owns a contiguous stretch of the Z curve, which is a LOCALIZED
    * rectangle-ish region of (partkey, suppkey) space. That is the
    * multi-dimensional generalization of e08's single-column sort: file
    * min/max stats stay tight on BOTH dims at once, and a scan with a
    * predicate on either dim (or both) skips most files. At 100 TB this
    * is the standard lakehouse clustering move for fact tables queried on
    * several uncorrelated columns. The bounds agg collapses to one row
    * before `head` — gate setup, the same tiny-aggregate pattern every
    * range sampler pays. */
  def zorderExport(s: SparkSession, d: String, outDir: String,
                   numFiles: Int = 16, bits: Int = 8): String = {
    val li = Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    val (pLo, pHi, sLo, sHi) = Tables.fixtureStat(d, "lineitem_zbounds") {
      val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    }
    val z = zValue(
      zBucket(col("l_partkey"), pLo, pHi, bits),
      zBucket(col("l_suppkey"), sLo, sHi, bits), bits)
    li.withColumn("zval", z)
      .repartitionByRange(numFiles, col("zval"), col("l_orderkey"),
        col("l_linenumber"))
      .sortWithinPartitions(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    outDir
  }

  /** e13: the Z-ordered export gated for content invariance — the curve
    * reorders layout, never content. The clustering property it buys
    * (files bounded in BOTH dims; a one-dim box query touches a fraction
    * of the files a single-column sort layout must read) is spec-pinned
    * in [[graft.ops.ZOrderSpec]] against a partkey-sorted control. */
  private def e13(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_zorder", d)
    withScratchCleanup(out) {
      zorderExport(s, d, out.getAbsolutePath + "/z")
      // content invariance at REPORT grain (r15): the read-back aggregates
      // to 1024 bucketed checksums instead of localizing the whole table —
      // the gate result no longer scales with the corpus (the full-row
      // localize tripped the enforced size contract at sf1, where the
      // z-layout read-back is 6M rows). The checksum is a SUM of per-row
      // md5 hashes over ALL FIVE columns concatenated (r14 ADVICE:
      // independent per-column sums admitted compensating corruptions —
      // two same-bucket rows swapping their l_partkey values left every
      // aggregate unchanged); binding the columns per row before the
      // order-free sum closes that. 32-bit per-row values keep the sum
      // exact in a BIGINT in both engines (2^32 · 6M ≈ 2^55).
      val rowck = (conv(substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)"))),
        1, 15), 16, 10).cast("long") % 4294967296L)
      val back = Tables.readParquet(s, out.getAbsolutePath + "/z")
        .groupBy((col("l_orderkey") % 1024).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(rowck).as("row_checksum"))
      localizeAndDrop(back, out, "bucket")
    }
  }

  // --------------------------------- e14: stats manifest + file skipping

  /** File-level statistics manifest over a score-laid-out export: one row
    * per data file with its row count and score min/max. This is the
    * poor-man's table format — the metadata layer Iceberg/Delta keep in
    * manifests — materialized as a queryable parquet table so scan
    * planning can happen WITHOUT touching data files. One pass over the
    * export builds it; at 100 TB the manifest is thousands of rows where
    * the data is billions, and every range-predicate scan consults it
    * first. */
  def statsManifest(s: SparkSession, dataDir: String): DataFrame =
    Tables.readParquet(s, dataDir)
      .withColumn("file", input_file_name())
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("score")).as("score_min"), max(col("score")).as("score_max"))

  /** e14: manifest-driven file skipping gated end-to-end — e08's
    * range-sorted layout + the manifest above, then a top-quartile score
    * query planned FROM THE MANIFEST: only files whose [min, max] range
    * can contain qualifying rows are handed to the reader; the rest are
    * never opened. The pruned read re-applies the predicate (manifest
    * pruning is a superset guarantee, same discipline as every banded
    * candidate join here) and must hash-match the oracle filtering the
    * whole table. The threshold derives from the data (¾ of the max
    * score, integer arithmetic) so the gate holds at any SF; the
    * manifest consult is a manifest-sized collect — the planner-side
    * metadata read every table format performs. The actual skip (pruned
    * file list strictly smaller) is spec-pinned in
    * [[graft.ops.ManifestSpec]]. */
  private def e14(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_manifest", d)
    withScratchCleanup(out) {
      val dataDir = out.getAbsolutePath + "/data"
      sortedExport(s, d, dataDir)
      statsManifest(s, dataDir)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/manifest")
      val manifest = Tables.readParquet(s, s"$out/manifest")
      val thr = Tables.readParquet(s, dataDir)
        .agg(max(col("score"))).head().getLong(0) * 3 / 4
      val keep = manifest.filter(col("score_max") >= thr)
        .select(col("file")).collect().map(_.getString(0))
      require(keep.nonEmpty, "manifest pruned every file")
      val pruned = Tables.readParquet(s, keep.toIndexedSeq)
        .filter(col("score") >= thr)
        .select(col("doc_id"), col("lang"), col("score"))
      localizeAndDrop(pruned, out, "doc_id")
    }
  }

  // ------------------------------------ e24: Bloom-filter file skipping

  /** Per-file Bloom index over a key column: one manifest row per data
    * file with its row count and a Bloom filter of `xxhash64(key)` —
    * built by ONE grouped aggregation (`graft_bloom_agg`, the same
    * Catalyst BloomFilterAggregate the d18 runtime screen uses, here
    * grouped by `input_file_name`). This is the skipping index zone maps
    * can't be: e14's min/max manifest prunes range predicates on a SORTED
    * layout, but a point lookup on a key the layout scatters (hash-
    * partitioned files → every file's [min,max] spans the whole domain)
    * passes every zone check and scans the table. The Bloom answers
    * "might this file contain THIS key" — at 100 TB a point lookup
    * consults KB-sized manifest metadata and opens ~1 file instead of
    * all of them. False positives only ever ADD candidate files (the
    * probe re-filters exactly); absence proofs are exact. */
  def bloomManifest(s: SparkSession, dataDir: String, key: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val data = Tables.readParquet(s, dataDir)
    val files = data.select(input_file_name()).distinct().count()
    val perFile = math.max(64L, data.count() / math.max(files, 1L))
    // optimal bits for fpp=0.01 at the per-file row count
    val nBits = math.max(64L, math.ceil(
      -perFile * math.log(0.01) / (math.log(2) * math.log(2))).toLong)
    data.withColumn("file", input_file_name())
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("graft_bloom_agg", xxhash64(col(key)),
          lit(perFile), lit(nBits)).as("bloom"))
  }

  /** The candidate-file PATHS whose Bloom filter might contain ANY of
    * `hashes`, computed as a DISTRIBUTED probe: manifest ⋈ broadcast
    * probe-hash table on `graft_bloom_probe`, left-semi. The serialized
    * filters never leave the executors — at 10⁶ files × KB filters a
    * driver-side collect of the bloom column is GBs of driver heap (the
    * r13 verdict's watch item); this plan ships only the matching paths,
    * O(candidates). The output frame carries exactly one column (`file`)
    * — BloomManifestPlanSpec pins that no bloom bytes reach the result. */
  def bloomCandidateFrame(manifest: DataFrame, hashes: Seq[Long]): DataFrame = {
    val s = manifest.sparkSession
    graft.functions.GraftFunctions.registerAll(s)
    import s.implicits._
    manifest.join(broadcast(hashes.toDF("h")),
        call_function("graft_bloom_probe", col("bloom"), col("h")),
        "left_semi")
      .select(col("file"))
  }

  /** [[bloomCandidateFrame]] collected — O(candidate paths), the file
    * list the parquet reader needs on the driver anyway. */
  def bloomCandidates(manifest: DataFrame, hashes: Seq[Long]): Array[String] = {
    val s = manifest.sparkSession
    import s.implicits._
    bloomCandidateFrame(manifest, hashes).as[String].collect()
  }

  /** Point-lookup read planned from the Bloom manifest: probes the
    * manifest distributedly, reads ONLY the candidate files, and
    * re-applies the exact predicate. */

  def bloomProbe(s: SparkSession, dataDir: String, manifest: DataFrame,
                 key: String, keys: Seq[Long]): DataFrame = {
    import s.implicits._
    // probe hashes computed by the ENGINE's xxhash64 — the same function
    // the build side aggregated, never a reimplementation
    val hashes = keys.toDF(key).select(xxhash64(col(key))).collect()
      .map(_.getLong(0))
    val candidates = bloomCandidates(manifest, hashes)
    if (candidates.isEmpty)
      // every filter said no: an EXACT absence proof — zero files opened
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Tables.readParquet(s, dataDir).schema)
    else
      Tables.readParquet(s, candidates.toIndexedSeq)
        .filter(col(key).isin(keys: _*))
  }

  /** e24: the Bloom index gated end-to-end — documents exported as a
    * hash-scattered layout (8 files keyed by `hash(doc_id)`, the shape
    * ingest naturally produces and the one zone maps are blind on), a
    * Bloom manifest built over it, then five deterministic probe keys
    * (the quartile grid of the id domain) served through the pruned
    * read. Must hash-match the oracle's plain lookup on the raw table;
    * the actual skip (candidate files ≪ total, zone maps unable to
    * prune) is spec-pinned in [[graft.ops.BloomIndexSpec]]. */
  private def e24(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_bloomidx", d)
    withScratchCleanup(out) {
      val dataDir = s"$out/data"
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(8, col("doc_id"))
        .write.parquet(dataDir)
      bloomManifest(s, dataDir, "doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/manifest")
      // the written table is a projection of documents, so its doc_id
      // bounds ARE the fixture's — served from the stat memo (catalog
      // min/max), not a post-write scan
      val (mn, mx) = Tables.fixtureStat(d, "documents_docid_bounds") {
        val b = Tables(s, d, "documents")
          .agg(min(col("doc_id")), max(col("doc_id"))).head()
        (b.getLong(0), b.getLong(1))
      }
      val keys = (0 to 4).map(i => mn + (mx - mn) * i / 4).distinct
      val hit = bloomProbe(s, dataDir, Tables.readParquet(s, s"$out/manifest"),
        "doc_id", keys)
      localizeAndDrop(hit, out, "doc_id")
    }
  }

  /** e15: retention + targeted erasure maintenance — the two delete
    * shapes every compliant lake runs, gated end-to-end on a day-
    * partitioned events table:
    *
    *  1. RETENTION drops whole partitions older than the cutoff (the day
    *     of the integer mid-timestamp — deterministic at any SF). This is
    *     a metadata-only directory delete: no data file is ever read,
    *     which is why retention at 100 TB is free while row-level
    *     retention (a full rewrite) is not — partition your lake by the
    *     retention key.
    *  2. ERASURE (the GDPR right-to-be-forgotten path) removes every row
    *     of a deterministic user set (user_id ≡ 3 mod 97). Only the
    *     partitions that actually CONTAIN a target user are rewritten
    *     (discovered by a pushdown-filtered scan whose collect is
    *     day-count-bounded); untouched partitions keep their original
    *     files byte-for-byte — spec-pinned in ExportOpsSpec, because
    *     "rewrote the whole table" also passes the value check but is
    *     the difference between minutes and days at scale.
    *
    * The surviving table must hash-match the oracle filtering the raw
    * events by BOTH rules. Rewrite-then-swap per partition rides the same
    * staged-directory discipline as q68's merge. */
  private def e15(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_retention", d)
    withScratchCleanup(out) {
      val root = s"$out/table"
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      // partition-align before the write: without it every task emits a
      // sliver into every day (tasks × days tiny files — e04's compaction
      // disease, created on purpose); aligned, each day lands as one file
      ev.repartition(col("day")).write.partitionBy("day").parquet(root)
      // (min + max) div 2 over immutable fixture timestamps — served from
      // the shared ts-stats memo (one job per JVM, not per invocation);
      // Scala / and SQL div agree on positive longs
      val (tsLo, tsHi, _) = graft.ops.SessionGates.eventTsStats(s, d)
      val mid = (tsLo + tsHi) / 2L
      val cutoff = s.range(1).select(
        date_format(timestamp_micros(lit(mid)), "yyyy-MM-dd"))
        .head().getString(0)
      retentionErase(s, root, cutoff, col("user_id") % 97 === 3)
      // read THROUGH the manifest — the crash-consistent serve path
      val survived = TxTable.read(s, root)
        .select(col("event_id"), col("user_id"),
          col("day").cast("string").as("day"))
      localizeAndDrop(survived, out, "event_id")
    }
  }

  /** The e15 maintenance kernel, public for the spec that pins its ONLY
    * scale property the value check can't see: partitions without a
    * target row keep their original files untouched. `root` must be a
    * `day=`-partitioned parquet table; it may live on any Hadoop
    * filesystem (staging happens under the root, so no cross-FS rename). */
  def retentionErase(s: SparkSession, root: String,
                     cutoff: String,
                     isTarget: org.apache.spark.sql.Column): Unit = {
    // Hadoop FileSystem throughout (not java.io.File): this kernel's whole
    // point is lake maintenance, and the lake lives on HDFS/S3A/ABFS — the
    // same code path flipLatest and q68's staged swap already use. On
    // local[*] the Path resolves to the local FS, so the gate is unchanged.
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    TxTable.bootstrapIfNeeded(s, root)
    // 1. retention: a MANIFEST-ONLY drop of the expired day partitions —
    //    no data read, no file touched; the expired files become invisible
    //    at the single commit below and vacuum sweeps their directories.
    //    (Even cheaper than the old direct directory delete, and crash-
    //    safe: an aborted run leaves the old manifest serving everything.)
    def dayOf(rel: String): Option[String] =
      "day=([^/]+)/".r.findFirstMatchIn(rel).map(_.group(1))
    val retained = TxTable.liveFiles(s, root)
      .filter(f => dayOf(f).forall(_ >= cutoff))
    // 2. erasure: rewrite ONLY the partitions holding a target row
    //    (discovered over the retained live set; pushdown-filtered scan,
    //    day-count-bounded collect)
    val affected = TxTable.read(s, root)
      // typed comparison (no cast on the partition column) so the expired
      // days prune at the directory level even before vacuum removes them
      .filter(col("day") >= lit(cutoff)).filter(isTarget)
      .select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)) // bounded by the day count
    // the per-partition rewrites write disjoint staging dirs — run them as
    // concurrent Spark jobs (the v14-fits pattern); serialized they cost
    // one tiny-job latency PER affected day. The pool is CAPPED (8): an
    // unbounded Future.traverse would submit every affected partition's
    // job at once — fine at day-count cardinality, a scheduler pile-up if
    // a caller ever points this at a finer partition grain
    val moved = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(affected.toSeq) { day => Future {
        val pdir = new Path(rootPath, s"day=$day")
        // stage under the TABLE root, not the scratch dir: rename is
        // same-filesystem-only, and the dot prefix keeps Spark's file
        // listing from ever seeing a half-written staged dir
        val staged = new Path(rootPath, s".rewrite_$day.tmp")
        // prune to this day's live files; the day column is directory-
        // encoded, so the rewrite sees only the data columns
        TxTable.read(s, root).filter(col("day") === lit(day))
          .drop("day").filter(!isTarget)
          .write.mode(SaveMode.Overwrite).parquet(staged.toString)
        // survivors land BESIDE the old files (unique task-UUID names;
        // nothing live is deleted here) — visibility is the commit below
        val rels = fs.listStatus(staged)
          .filter(_.getPath.getName.endsWith(".parquet")).toSeq
          .map { f =>
            val to = new Path(pdir, f.getPath.getName)
            if (!fs.rename(f.getPath, to))
              throw new java.io.IOException(s"staged promote failed for $to")
            s"day=$day/${f.getPath.getName}"
          }
        fs.delete(staged, true)
        rels
      }}, Duration.Inf).flatten
      finally pool.shutdown()
    }
    // ONE atomic commit makes the whole maintenance (retention + every
    // erased partition) visible together — a crash anywhere above serves
    // the untouched pre-maintenance table; vacuum then deletes expired and
    // superseded files and their emptied directories
    val affectedSet = affected.toSet
    TxTable.commit(s, root,
      retained.filterNot(f => dayOf(f).exists(affectedSet.contains)) ++ moved)
    TxTable.vacuum(s, root)
  }

  // --------------------------------------- e12: versioned atomic publish

  /** Lands `df` as `root/v=<version>/` WITHOUT making it visible — the
    * data half of a publish. Visibility is the pointer flip below. */
  def writeVersion(df: DataFrame, root: String, version: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/v=$version")

  /** Atomically flips `root/LATEST` to `version` (temp file + rename —
    * the metadata-only commit primitive q68's staged swap also relies
    * on). Readers resolve the pointer before touching data, so a publish
    * is all-or-nothing: a crash after [[writeVersion]] but before the
    * flip leaves the previous version served, never a half-written mix —
    * snapshot isolation for a parquet directory with no table format. */
  def flipLatest(s: SparkSession, root: String, version: Long): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(root, s".LATEST.tmp.$version")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    val target = new org.apache.hadoop.fs.Path(root, "LATEST")
    fs.delete(target, false) // rename-over is not portable; delete+rename is
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"pointer flip to v=$version failed")
  }

  /** Publish = land the data, then flip the pointer. */
  def publishVersion(df: DataFrame, root: String, version: Long): Unit = {
    writeVersion(df, root, version)
    flipLatest(df.sparkSession, root, version)
  }

  /** Resolves `root/LATEST` and reads that version's parquet. */
  def readPublished(s: SparkSession, root: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(root, "LATEST")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
    Tables.readParquet(s, s"$root/v=$v")
  }

  /** e12: the versioned-publish cycle gated end-to-end — v1 lands a
    * partial summary and publishes; v2 lands the full corpus summary and
    * publishes; the gate reads THROUGH the pointer and must hash-match
    * the v2 oracle. The crash-window invariant (data landed, pointer not
    * yet flipped → v1 still served) is spec-pinned in
    * [[graft.ops.ExportOpsSpec]]. At 100 TB this is the poor-man's
    * snapshot isolation every pointer-based lake publish uses: readers
    * never see a partial version because visibility is one atomic
    * metadata rename, and old versions stay queryable for rollback. */
  private def e12(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_publish", d)
    withScratchCleanup(out) {
      val root = out.getAbsolutePath
      val docsT = Tables(s, d, "documents")
      def summary(df: DataFrame) = df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      publishVersion(summary(docsT.filter(col("doc_id") % 2 === 0)), root, 1L)
      publishVersion(summary(docsT), root, 2L)
      localizeAndDrop(readPublished(s, root), out, "lang")
    }
  }

  /** Write-audit-publish: stage the candidate version's data, audit the
    * STAGED FILES (what readers would actually see — not the input plan,
    * whose re-evaluation could differ), and flip the pointer only when
    * zero rows violate. Returns whether it published. A failed audit
    * leaves `LATEST` untouched and the staged `v=` directory quarantined
    * on disk for debugging — readers resolve the pointer first, so an
    * unflipped version is invisible to them by construction. */
  def auditedPublish(df: DataFrame, root: String, version: Long,
                     violation: org.apache.spark.sql.Column): Boolean = {
    writeVersion(df, root, version)
    val s = df.sparkSession
    val bad = Tables.readParquet(s, s"$root/v=$version").filter(violation).count()
    if (bad == 0L) { flipLatest(s, root, version); true } else false
  }

  /** e17: the WRITE-AUDIT-PUBLISH cycle gated end-to-end — the quality
    * gate between e12's raw publish and production: v1 (a clean partial
    * summary) publishes; v2 (the full summary with a PLANTED null
    * sum_chars — the upstream-bug shape WAP exists to catch) fails its
    * audit and must NOT become visible; v3 (the corrected full summary,
    * now with a long-doc count column) passes and publishes. The gate
    * reads through the pointer and must hash-match v3's oracle — if the
    * poisoned v2 had flipped, or v3's flip had been skipped, the hash
    * moves. The failed-audit pointer invariant (LATEST still serves v1
    * between the v2 rejection and the v3 publish) is spec-pinned in
    * ExportOpsR10Spec. At 100 TB the audit is one pushdown-filtered count
    * over the staged files; the publish/reject decision is metadata-only
    * either way. */
  /** PARTITION-LAYOUT migration (partition evolution): rewrite a table
    * into a new partitioning scheme under a staging path, then publish
    * with one directory rename — the source is never mutated and stays
    * fully readable until the instant the destination appears (the
    * e12/e17 publish discipline applied to re-layout). At 100 TB this is
    * how a `day=` table becomes `day=/region=` when a second pruning
    * dimension starts paying for itself: one full rewrite (the honest,
    * unavoidable cost), zero unreadable windows, and the old layout
    * remains the rollback until it is explicitly retired.
    * ExportOpsR11Spec pins source byte-identity through the migration
    * and two-level directory pruning on the result. */
  def migrateLayout(s: SparkSession, srcDir: String, dstDir: String,
                    partCols: Seq[String]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(dstDir)
    val fs = dst.getFileSystem(conf)
    require(!fs.exists(dst),
      s"migration target $dstDir already exists — retire it explicitly first")
    val stage = new org.apache.hadoop.fs.Path(dstDir + ".stage")
    Tables.readParquet(s, srcDir)
      .write.partitionBy(partCols: _*).parquet(stage.toString)
    if (!fs.rename(stage, dst))
      throw new java.io.IOException(s"layout publish failed for $dstDir")
  }

  /** e21: partition evolution gated end-to-end — the events table lands
    * day-partitioned (v1), migrates to (day, event_type) two-level
    * partitioning (v2) through [[migrateLayout]], and the gate
    * aggregates the MIGRATED table; both partition values come back
    * through directory-name recovery, so the hash also proves the
    * re-layout lost no rows and invented none. The payoff the spec
    * measures: a (day, event_type) point query on v2 prunes to ONE leaf
    * directory. */
  private def e21(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_relayout", d)
    withScratchCleanup(out) {
      val ev = Tables(s, d, "events").select(
        col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      ev.write.partitionBy("day").parquet(s"$out/v1")
      migrateLayout(s, s"$out/v1", s"$out/v2", Seq("day", "event_type"))
      val back = Tables.readParquet(s, s"$out/v2")
        .groupBy(col("day").cast("string").as("day"),
          col("event_type").cast("string").as("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("day", "event_type")
      localizeAndDrop(back, out, "day", "event_type")
    }
  }

  /** e25: NATIVE dynamic partition overwrite —
    * `partitionOverwriteMode=dynamic` makes `INSERT OVERWRITE` replace
    * ONLY the partitions present in the incoming batch; every other
    * partition survives the write untouched. This is Spark's built-in
    * partition-grain recomputation (the Hive-style backfill idiom: "re-
    * run day X, leave the year alone"), complementing q68's ROW-grain
    * merge through TxTable — here whole partitions are recomputed
    * upstream and swapped wholesale, no change log needed. At 100 TB the
    * write's I/O scales with touched partitions, not the table; under
    * the STATIC default the same write would clobber all 25 partitions
    * (the spec pins both the untouched-file byte-identity under dynamic
    * and the clobber under static). The gate recomputes nations {3, 7}
    * with +100 balances, overwrites dynamically, and reads the whole
    * snapshot back against an oracle recomputing it from the source. */
  private def e25(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_dynover", d)
    withScratchCleanup(out) {
      val snap = s"$out/snap"
      val c = Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
      c.write.partitionBy("p").parquet(snap)
      val rewrite = c.filter(col("p").isin(3, 7))
        .withColumn("bal", col("bal") + 100)
      withConf(s, "spark.sql.sources.partitionOverwriteMode", "dynamic") {
        rewrite.write.mode("overwrite").partitionBy("p").parquet(snap)
      }
      val back = Tables.readParquet(s, snap)
        .select(col("k"), col("name"), col("bal"),
          col("p").cast("int").as("p"))
      localizeAndDrop(back, out, "k")
    }
  }

  private def e17(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_wap", d)
    withScratchCleanup(out) {
      val root = out.getAbsolutePath
      val docsT = Tables(s, d, "documents")
      def summary(df: DataFrame) = df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          count(when(col("n_chars") >= 200, 1)).as("n_long_docs"))
      val violation = col("n_docs") <= 0 || col("sum_chars").isNull ||
        col("n_long_docs") > col("n_docs")
      require(auditedPublish(
        summary(docsT.filter(col("doc_id") % 2 === 0)), root, 1L, violation),
        "e17: the clean v1 must publish")
      // the poisoned candidate: one language's sum goes null upstream
      val firstLang = Tables.fixtureStat(d, "documents_min_lang") {
        docsT.agg(min(col("lang"))).head().getString(0)
      }
      val poisoned = summary(docsT).withColumn("sum_chars",
        when(col("lang") === firstLang, lit(null)).otherwise(col("sum_chars")))
      require(!auditedPublish(poisoned, root, 2L, violation),
        "e17: the poisoned v2 must fail its audit")
      require(auditedPublish(summary(docsT), root, 3L, violation),
        "e17: the corrected v3 must publish")
      localizeAndDrop(readPublished(s, root), out, "lang")
    }
  }

  // ----------------- e18: incremental snapshot consumption (table tail)

  /** Records the table's current data files as snapshot `version`'s
    * manifest (one row per file). Runs on the Hadoop FileSystem API (the
    * e15 discipline — portable to HDFS/S3A). Each manifest is a FULL
    * listing; increments are set differences between two manifests —
    * simpler to reason about than delta manifests under concurrent
    * writers, and still metadata-sized: the listing scales with file
    * count, never data volume. */
  def commitSnapshot(s: SparkSession, root: String, version: Long): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val data = new org.apache.hadoop.fs.Path(s"$root/data")
    val fs = data.getFileSystem(conf)
    val files = fs.listStatus(data).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    import s.implicits._
    files.toDF("file").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/manifest/v=$version")
  }

  /** Files present in snapshot `to` but not in snapshot `from` (pass
    * from = 0 for "since the beginning"). The collect is manifest-sized —
    * the planner-side metadata read every incremental consumer performs
    * (e14's argument: thousands of manifest rows vs billions of data
    * rows). */
  def newFilesSince(s: SparkSession, root: String,
                    from: Long, to: Long): Seq[String] = {
    val cur = Tables.readParquet(s, s"$root/manifest/v=$to")
    val prev = if (from <= 0L) cur.limit(0)
               else Tables.readParquet(s, s"$root/manifest/v=$from")
    cur.except(prev).collect().map(_.getString(0)).toIndexedSeq.sorted
  }

  /** e18: INCREMENTAL CONSUMPTION of an append-only table — the
    * downstream half of the lake contract, which no other e-gate covers:
    * e12/e17 publish snapshots, e14 plans scans from file stats; this is
    * the consumer that TAILS the table without streaming infrastructure
    * (the Iceberg incremental-read / Delta startingVersion shape). The
    * producer appends two batches, committing a manifest snapshot after
    * each; the consumer processes each increment's NEW FILES ONLY —
    * discovered by manifest diff, never by re-listing or re-reading data
    * — and folds algebraic partials (counts + DECIMAL sums, so fold
    * order can't move the result) into its running aggregate. The served
    * aggregate must hash-match the full-table oracle: nothing lost,
    * nothing double-counted.
    *
    * At 100 TB this is the difference between an hourly downstream job
    * re-scanning the table (O(table) per run, unbounded growth) and
    * reading just the hour's arrivals (O(increment)): the manifest diff
    * is metadata-sized, and partial-aggregate state replaces re-reads.
    * The new-files-only property is spec-pinned in ExportOpsR10Spec. */
  private def e18(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_increment", d)
    withScratchCleanup(out) {
      val root = out.getAbsolutePath
      val orders = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      def append(df: DataFrame): Unit =
        df.write.mode(SaveMode.Append).parquet(s"$root/data")
      def consume(from: Long, to: Long): Unit = {
        val fresh = newFilesSince(s, root, from, to)
        require(fresh.nonEmpty, s"e18: no new files in snapshot $from -> $to")
        Tables.readParquet(s, fresh)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(30,2)")).as("sum_price"))
          .write.mode(SaveMode.Append).parquet(s"$root/partials")
      }
      append(orders.filter(col("o_orderkey") % 3 =!= 0))
      commitSnapshot(s, root, 1L)
      consume(0L, 1L)
      append(orders.filter(col("o_orderkey") % 3 === 0))
      commitSnapshot(s, root, 2L)
      consume(1L, 2L)
      val served = Tables.readParquet(s, s"$root/partials")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("sum_price")).cast("double").as("sum_price"))
      localizeAndDrop(served, out, "o_orderpriority")
    }
  }

  /** Deletes every data file not referenced by a retained snapshot's
    * manifest, then expires the non-retained manifests themselves. The
    * cleanup half of the e12/e17/e18 snapshot story (Iceberg's
    * expire-snapshots + remove-orphan-files): crashed or retried writers
    * leave committed-to-disk-but-referenced-by-nothing files behind, and
    * at 100 TB that debris is real money AND a correctness trap for any
    * path-globbing reader. Listing and manifest reads are metadata-sized;
    * deletes are bounded by the orphan count. Hadoop FS API throughout
    * (the e15 discipline). Returns the deleted paths (sorted) so callers
    * can log/audit the reclaim. */
  def vacuum(s: SparkSession, root: String, retained: Seq[Long]): Seq[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val data = new org.apache.hadoop.fs.Path(s"$root/data")
    val fs = data.getFileSystem(conf)
    val live = retained.flatMap(v =>
      Tables.readParquet(s, s"$root/manifest/v=$v")
        .collect().map(_.getString(0))).toSet
    val orphans = fs.listStatus(data).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).filterNot(live).sorted
    orphans.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    // tolerate non-numeric v= entries (a writer's leftover temp dir like
    // "v=2.tmp"): a parse abort here would strand maintenance HALF-applied
    // — data-file deletes above are already durable — so unparseable
    // entries are skipped, never fatal and never deleted
    if (fs.exists(mdir)) fs.listStatus(mdir).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .filter(st =>
        scala.util.Try(st.getPath.getName.stripPrefix("v=").toLong)
          .toOption.exists(v => !retained.contains(v)))
      .foreach(st => fs.delete(st.getPath, true))
    orphans
  }

  /** e20: VACUUM gated end-to-end — producer commits two snapshots, then
    * a crashed retry re-writes batch 2's files WITHOUT committing (the
    * debris shape vacuum exists for: present on disk, referenced by no
    * manifest). Vacuum retaining snapshot 2 must delete exactly the
    * debris; the gate then reads the data directory DIRECTLY (the
    * path-globbing reader that debris poisons) and must hash-match the
    * full-table oracle — surviving debris doubles batch 2's rows,
    * over-deletion loses them, and either moves the hash. The
    * referenced-files-untouched and idempotent-second-vacuum invariants
    * are spec-pinned in ExportOpsR10Spec. */
  private def e20(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_vacuum", d)
    withScratchCleanup(out) {
      val root = out.getAbsolutePath
      val orders = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val b1 = orders.filter(col("o_orderkey") % 3 =!= 0)
      val b2 = orders.filter(col("o_orderkey") % 3 === 0)
      b1.write.mode(SaveMode.Append).parquet(s"$root/data")
      commitSnapshot(s, root, 1L)
      b2.write.mode(SaveMode.Append).parquet(s"$root/data")
      commitSnapshot(s, root, 2L)
      b2.write.mode(SaveMode.Append).parquet(s"$root/data")
      val removed = vacuum(s, root, Seq(2L))
      require(removed.nonEmpty, "e20: vacuum found no debris to remove")
      val served = Tables.readParquet(s, s"$root/data")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(30,2)")).cast("double")
            .as("sum_price"))
      localizeAndDrop(served, out, "o_orderpriority")
    }
  }

  /** e19: XML interchange round-trip — the third exchange format next to
    * e09 (JSONL) and e16 (CSV), and the one closest to the reference's
    * own output boundary (g04's CoT XML). Spark 4's native XML source
    * writes one `<event>` row element per record and reads back with an
    * explicit schema (the S7 typed-ingest discipline — no inference);
    * timestamps travel as epoch-µs longs (e16's rule: interchange
    * formats carry no timestamp type worth trusting). The round-tripped
    * table must hash-match the source events exactly — entity escaping
    * (props holds JSON full of quotes/braces) proven lossless on real
    * data, not asserted. */
  private def e19(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_xml", d)
    withScratchCleanup(out) {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("props"))
      ev.write.mode(SaveMode.Overwrite).format("xml")
        .option("rowTag", "event").save(s"$out/xml")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType)))
      val back = s.read.format("xml").option("rowTag", "event")
        // explicit, not default: the reader's default trims surrounding
        // whitespace in string cells, so a ws-padded props/event_type
        // would round-trip changed (md5 divergence from the oracle);
        // FixtureDriftSpec additionally pins the fixtures free of
        // empty/ws-padded values, which the XML element model cannot
        // represent distinctly from null
        .option("ignoreSurroundingSpaces", "false")
        .schema(schema).load(s"$out/xml")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us"), md5(col("props")).as("props_md5"))
      localizeAndDrop(back, out, "event_id")
    }
  }

  /** e22: SNAPSHOT TIME TRAVEL over the [[TxTable]] manifest log — the
    * read-side payoff of the r12 crash-safe commit protocol: because
    * maintenance lands new files beside the old and flips a numbered
    * manifest, every un-vacuumed version remains a readable snapshot.
    * The gate bootstraps a nation-partitioned customer snapshot (v1),
    * applies the q68 change batch through the partition-grain merge
    * (v2, vacuum deferred — the retention-window posture), then
    * aggregates BOTH versions through [[TxTable.readVersion]]: the v1
    * rows must reproduce the pre-merge table (rollback/audit/
    * reproducible-training reads against a moving table) and the v2
    * rows the post-merge state — a time-travel read that leaked files
    * across versions moves either half's hash. Cents-scaled sums keep
    * the double fold order-free. At 100 TB this is Delta/Iceberg's
    * `VERSION AS OF`, priced the same way: old versions cost only the
    * superseded files vacuum hasn't retired. */
  private def e22(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_timetravel", d)
    withScratchCleanup(out) {
      val snapDir = s"$out/snap"
      Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(s, snapDir) // v1
      Relational.mergePartitioned(s, snapDir,
        Relational.q68Changes(s, d), Seq("name", "bal"),
        vacuumNow = false) // v2; v1's files stay readable until vacuum
      def summarize(df: DataFrame, v: Long): DataFrame =
        df.groupBy(col("p").cast("int").as("p"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(bal * 100 + 0.5) AS BIGINT)"))
              .as("sum_bal_cents"))
          .withColumn("version", lit(v))
      val both = summarize(TxTable.readVersion(s, snapDir, 1L), 1L)
        .unionByName(summarize(TxTable.readVersion(s, snapDir, 2L), 2L))
      localizeAndDrop(both, out, "version", "p")
    }
  }

  /** c11: INCREMENTAL CORPUS REFRESH — the daily steady-state composite
    * the lake-maintenance gates exist for, run end-to-end: a corpus
    * table is BUILT (day-1 docs exact-deduped on content signature,
    * committed through [[TxTable]]), a day-2 arrival batch is SCREENED
    * against the served table (intra-batch dedup keep-min-id, then
    * left-anti against the live signatures — the d16/d22 discipline, but
    * against the versioned artifact), survivors APPEND as one manifest
    * commit (old files untouched), and the read-side change feed
    * ([[tableChanges]], e23's kernel) between the two versions drives
    * the refresh report: per source — arrivals, inserts, screened-out,
    * and the post-refresh corpus totals. At 100 TB this is the nightly
    * loop: the corpus is never rescanned (the screen probes the served
    * state), the append moves only new bytes, and downstream consumers
    * read the CDF instead of diffing snapshots. Everything is md5/
    * integer-deterministic, so the WHOLE composite — both dedup tiers,
    * the version diff, the accounting — hash-matches one DuckDB oracle
    * that re-derives both days relationally. CdfRefreshSpec pins the
    * append-only contract (the feed carries inserts ONLY), day-1-file
    * byte-identity across the append, and refresh idempotence (a re-run
    * of the same arrivals inserts zero rows). */
  private def c11(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_refresh", d)
    withScratchCleanup(out) {
      val dir = s"$out/corpus"
      val docsT = graft.Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text")).as("sig"))
      val day1 = docsT.filter(col("doc_id") % 5 =!= 0)
      val day2 = docsT.filter(col("doc_id") % 5 === 0)
      def keepMin(df: DataFrame): DataFrame = df.groupBy(col("sig"))
        .agg(min(col("doc_id")).as("doc_id"),
          expr("min_by(source, doc_id)").as("source"),
          expr("min_by(n_chars, doc_id)").as("n_chars"))
        .select(col("doc_id"), col("sig"), col("source"), col("n_chars"))
      TxTable.stageAndCommit(keepMin(day1), dir, append = false,
        vacuumNow = false)
      val v1 = TxTable.currentVersion(s, dir)
      val inserts = keepMin(day2)
        .join(TxTable.read(s, dir).select(col("sig")), Seq("sig"),
          "left_anti")
      TxTable.stageAndCommit(inserts, dir, append = true,
        vacuumNow = false)
      val v2 = TxTable.currentVersion(s, dir)
      val feed = tableChanges(s, dir, v1, v2, Seq("doc_id"))
      val insCounts = feed.filter(col("_change_type") === "insert")
        .groupBy(col("source")).agg(count(lit(1)).as("n_inserted"))
      val arrivals = day2.groupBy(col("source"))
        .agg(count(lit(1)).as("n_arrived"))
      val state = TxTable.readVersion(s, dir, v2).groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("n_chars")).as("sum_chars"))
      val report = state
        .join(arrivals, Seq("source"), "left")
        .join(insCounts, Seq("source"), "left")
        .select(col("source"),
          coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
          coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
          (coalesce(col("n_arrived"), lit(0L)) -
            coalesce(col("n_inserted"), lit(0L))).as("n_screened"),
          col("n_total"), col("sum_chars"))
      localizeAndDrop(report, out, "source")
    }
  }

  /** c12: SQL DDL/DML front door — the surface a migrated warehouse
    * workload actually arrives through: `CREATE TABLE ... USING parquet
    * LOCATION ...` (external table over an explicit path — no managed
    * warehouse directory, no Hive metastore; the in-memory catalog holds
    * only the mapping), `INSERT INTO` (append), `INSERT OVERWRITE`
    * (replace), then plain SELECT against the catalog name. The gate
    * runs the full lifecycle: CTAS-equivalent seed of purchases, INSERT
    * INTO of the click rows, INSERT OVERWRITE of a small correction
    * slice is deliberately NOT used here (e25 gates overwrite modes) —
    * instead the final SELECT aggregates the appended table and must
    * hash-match an oracle re-deriving the same union from the source.
    * DROP TABLE in finally — catalog entries are session-global and a
    * leaked name would shadow later gates. Scale: the DDL is metadata;
    * every DML plans the same scan/insert as the path-based API. */
  private def c12(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_ddl", d)
    withScratchCleanup(out) {
      val loc = s"$out/events_ext"
      graft.Tables(s, d, "events").createOrReplaceTempView("events_src")
      s.sql("DROP TABLE IF EXISTS graft_c12_events")
      s.sql(
        s"""CREATE TABLE graft_c12_events
           |  (event_id BIGINT, user_id BIGINT, event_type STRING,
           |   cents BIGINT)
           |USING parquet LOCATION '$loc'""".stripMargin)
      try {
        s.sql(
          """INSERT INTO graft_c12_events
            |SELECT event_id, user_id, event_type,
            |  CAST(floor(value * 100 + 0.5) AS BIGINT)
            |FROM events_src WHERE event_type = 'purchase'""".stripMargin)
        s.sql(
          """INSERT INTO graft_c12_events
            |SELECT event_id, user_id, event_type,
            |  CAST(floor(value * 100 + 0.5) AS BIGINT)
            |FROM events_src WHERE event_type = 'click'""".stripMargin)
        val report = s.sql(
          """SELECT event_type, count(1) AS n,
            |  count(DISTINCT user_id) AS n_users,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM graft_c12_events
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
        localizeAndDrop(report, out, "event_type")
      } finally {
        s.sql("DROP TABLE IF EXISTS graft_c12_events"); ()
      }
    }
  }

  /** e27: SHALLOW CLONE — Delta's zero-copy table fork, recovered from
    * the manifest protocol: [[TxTable.shallowClone]] commits ONE manifest
    * at the clone root referencing the source's current data files; the
    * clone then evolves independently (here: a correction batch appends
    * to the CLONE only) while the source never changes. At 100 TB this
    * is how dev/test forks and what-if pipelines exist at all — a fork
    * costs a manifest write, not a corpus copy. The gate reports both
    * tables' per-nation summaries after the divergence; the oracle
    * re-derives each side relationally. CloneRestoreSpec pins the
    * zero-copy facts: no data file exists under the clone root before
    * the append, and the source's files are byte-identical after it. */
  private def e27(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_clone", d)
    withScratchCleanup(out) {
      val src = s"$out/src"; val cln = s"$out/clone"
      graft.Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.parquet(src)
      TxTable.bootstrapIfNeeded(s, src)
      TxTable.shallowClone(s, src, cln)
      val corrections = graft.Tables(s, d, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select((col("c_custkey") + 1000000L).as("k"),
          col("c_name").as("name"), (col("c_acctbal") + lit(1.0)).as("bal"),
          col("c_nationkey").as("p"))
      TxTable.stageAndCommit(corrections, cln, append = true,
        vacuumNow = false)
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.groupBy(col("p").cast("int").as("p"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(bal * 100 + 0.5) AS BIGINT)"))
              .as("sum_bal_cents"))
          .withColumn("side", lit(tag))
      val both = summarize(TxTable.read(s, src), "source")
        .unionByName(summarize(TxTable.read(s, cln), "clone"))
      localizeAndDrop(both, out, "side", "p")
    }
  }

  /** e28: RESTORE — roll the table back to an earlier version AS A NEW
    * COMMIT ([[TxTable.restore]]): the bad deploy's versions stay in
    * history (still resolvable until vacuum — audit needs them), the
    * restore itself is one manifest write referencing the old files,
    * zero data moved. The gate builds v1, applies the q68 correction
    * merge (v2), restores to v1 (v3), and reports the summaries of the
    * corrupted version and the restored head — which must equal v1's.
    * The oracle re-derives both states. */
  private def e28(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_restore", d)
    withScratchCleanup(out) {
      val snap = s"$out/snap"
      graft.Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snap)
      TxTable.bootstrapIfNeeded(s, snap) // v1
      Relational.mergePartitioned(s, snap,
        Relational.q68Changes(s, d), Seq("name", "bal"),
        vacuumNow = false) // v2 — the "bad deploy"
      val v3 = TxTable.restore(s, snap, 1L) // rollback, history intact
      require(v3 == 3L, s"restore must be a NEW version, got $v3")
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.groupBy(col("p").cast("int").as("p"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("CAST(floor(bal * 100 + 0.5) AS BIGINT)"))
              .as("sum_bal_cents"))
          .withColumn("state", lit(tag))
      val both = summarize(TxTable.readVersion(s, snap, 2L), "corrupted")
        .unionByName(summarize(TxTable.read(s, snap), "restored"))
      localizeAndDrop(both, out, "state", "p")
    }
  }

  /** e29: TRANSACTIONAL COMPACTION (OPTIMIZE) — e04's small-file
    * maintenance routed through the manifest protocol, which is how it
    * actually runs against a LIVE table: a 64-fragment landing (the
    * streaming sink's natural output) bin-packs into few coalesced
    * files staged beside the originals, ONE manifest commit flips
    * visibility, and the pre-compaction version stays readable until
    * vacuum — readers concurrent with the compaction see old or new,
    * never a mix (the e12 pointer guarantee, now for layout
    * maintenance). In-gate requires pin the mechanics: ≥32 files
    * before, ≤8 after, both versions serving identical row counts.
    * The oracle pins content invariance — compaction may change layout,
    * never values. Coalesce is shuffle-free: every byte moves once. */
  private def e29(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_optimize", d)
    withScratchCleanup(out) {
      val tbl = s"$out/events"
      val ev = graft.Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      ev.repartition(64).write.parquet(tbl)
      TxTable.bootstrapIfNeeded(s, tbl) // v1: the fragmented landing
      val nBefore = TxTable.liveFiles(s, tbl).size
      require(nBefore >= 32, s"fixture must fragment: $nBefore files")
      val rows = TxTable.read(s, tbl).count()
      // OPTIMIZE: rewrite the live set into few files, commit as v2;
      // vacuumNow=false keeps v1 readable (concurrent readers, e22)
      TxTable.stageAndCommit(TxTable.read(s, tbl).coalesce(4), tbl,
        append = false, vacuumNow = false)
      val nAfter = TxTable.liveFiles(s, tbl).size
      require(nAfter <= 8, s"compaction must shrink the file set: $nAfter")
      require(TxTable.read(s, tbl).count() == rows &&
        TxTable.readVersion(s, tbl, 1L).count() == rows,
        "both versions must serve every row during the maintenance window")
      val report = TxTable.read(s, tbl)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,2)")).cast("double")
            .as("sum_value"),
          min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      localizeAndDrop(report, out, "event_type")
    }
  }

  /** Row-level change feed between two committed [[TxTable]] versions —
    * Delta/Iceberg's `table_changes()` recovered READ-SIDE from the
    * manifest log (no write-time change capture needed): full-outer join
    * the two snapshots on `key` and classify each row `insert` / `delete`
    * / `update_preimage` + `update_postimage` (the Delta CDF contract:
    * updates emit BOTH images, so a consumer can re-derive either
    * snapshot or maintain a downstream aggregate incrementally).
    * Unchanged rows — the overwhelming majority of a 100 TB table — drop
    * before the output. One key shuffle; nothing collects.
    *
    * `_commit_version` stamps the feed with the TO version, so chained
    * feeds (v1→v2, v2→v3) concatenate into a replayable log. */
  def tableChanges(s: SparkSession, root: String, fromVersion: Long,
                   toVersion: Long, key: Seq[String]): DataFrame =
    changeDataFeed(TxTable.readVersion(s, root, fromVersion),
      TxTable.readVersion(s, root, toVersion), key)
      .withColumn("_commit_version", lit(toVersion))

  /** The diff kernel behind [[tableChanges]], public for the CDF
    * round-trip spec (applying the feed to the old snapshot must
    * reproduce the new one). Both inputs must share a schema; `key`
    * identifies rows. */
  def changeDataFeed(oldDf: DataFrame, newDf: DataFrame,
                     key: Seq[String]): DataFrame = {
    val valCols = oldDf.columns.filterNot(key.contains).toSeq
    require(valCols.toSet == newDf.columns.filterNot(key.contains).toSet,
      "changeDataFeed requires both snapshots to share a schema")
    val pre = struct(valCols.map(col): _*)
    val post = struct(valCols.map(col): _*)
    val o = oldDf.select(key.map(col) :+ pre.as("_pre"): _*)
    val n = newDf.select(key.map(col) :+ post.as("_post"): _*)
    val j = o.join(n, key, "full_outer")
    def emit(src: String, tpe: String,
             cond: org.apache.spark.sql.Column) =
      j.where(cond).select(key.map(col) ++
        valCols.map(c => col(s"$src.$c").as(c)) :+
        lit(tpe).as("_change_type"): _*)
    val changed = j("_pre").isNotNull && j("_post").isNotNull &&
      !(j("_pre") <=> j("_post"))
    val inserts = emit("_post", "insert",
      j("_pre").isNull && j("_post").isNotNull)
    val deletes = emit("_pre", "delete",
      j("_post").isNull && j("_pre").isNotNull)
    val updPre = emit("_pre", "update_preimage", changed)
    val updPost = emit("_post", "update_postimage", changed)
    inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
  }

  /** e23: CHANGE DATA FEED over the version log — e22 reads two
    * snapshots; this emits what happened BETWEEN them. Same setup (the
    * customer snapshot bootstraps v1, the q68 change batch merges as v2,
    * vacuum deferred), then [[tableChanges]](v1→v2) serves the row-level
    * feed: inserts are the re-keyed arrivals, deletes the retired keys,
    * updates both images. The oracle re-derives both states from the raw
    * table and diffs them in SQL, so a hash match proves the read-side
    * CDF is exactly the write batch's net effect — including
    * same-key collisions where a later delete beats an earlier update.
    * At 100 TB this is the incremental-consumer feed (e18's consumption
    * pattern) without any write-path instrumentation. */
  private def e23(s: SparkSession, d: String): DataFrame = {
    val out = scratchDir("graft_cdf", d)
    withScratchCleanup(out) {
      val snapDir = s"$out/snap"
      Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(s, snapDir) // v1
      Relational.mergePartitioned(s, snapDir,
        Relational.q68Changes(s, d), Seq("name", "bal"),
        vacuumNow = false) // v2
      val feed = tableChanges(s, snapDir, 1L, 2L, Seq("k"))
        .withColumn("p", col("p").cast("int"))
      localizeAndDrop(feed, out, "k", "_change_type")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e22_tx_time_travel" -> e22 _,
    "e23_change_data_feed" -> e23 _,
    "e24_bloom_skipping" -> e24 _,
    "e25_dynamic_overwrite" -> e25 _,
    "e17_audited_publish" -> e17 _, "e18_incremental_consume" -> e18 _,
    "e19_xml_roundtrip" -> e19 _, "e20_vacuum" -> e20 _,
    "e21_layout_migration" -> e21 _,
    "e01_training_export" -> e01 _, "e02_centroid_index" -> e02 _,
    "e03_stream_export" -> e03 _, "e04_compaction" -> e04 _,
    "e05_schema_evolution" -> e05 _, "e07_centroid_append" -> e07 _,
    "e08_sorted_export" -> e08 _, "e09_jsonl_roundtrip" -> e09 _,
    "e10_bucketed_join" -> e10 _, "e11_bucketed_append" -> e11 _,
    "e12_versioned_publish" -> e12 _, "e13_zorder_layout" -> e13 _,
    "e14_manifest_skipping" -> e14 _, "e15_retention_erasure" -> e15 _,
    "e16_csv_roundtrip" -> e16 _, "e26_orc_roundtrip" -> e26 _,
    "c11_incremental_refresh" -> c11 _, "c12_sql_ddl" -> c12 _,
    "e27_shallow_clone" -> e27 _, "e28_restore" -> e28 _,
    "e29_transactional_optimize" -> e29 _)

  /** e03 shares e01's oracle verbatim: the streaming landing must produce
    * the identical summary the batch export does. */
  private val exportOracleSql =
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT lang, n_chars,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS b
        |      FROM documents) x
        |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  val oracle: Map[String, String] = Map(
    // e25: the post-overwrite snapshot recomputed from the source — the
    // touched nations carry the +100 recompute, every other row is the
    // original (byte-identity of the untouched files is the spec's job)
    "e25_dynamic_overwrite" ->
      """SELECT c_custkey AS k, c_name AS name,
        |  CASE WHEN c_nationkey IN (3, 7) THEN c_acctbal + 100
        |       ELSE c_acctbal END AS bal,
        |  CAST(c_nationkey AS INT) AS p
        |FROM customer ORDER BY k""".stripMargin,
    // e23: both snapshots re-derived from the raw table, diffed in SQL
    // with the same Delta-CDF contract (updates emit both images)
    "e23_change_data_feed" ->
      """WITH v1 AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
        |         CAST(c_nationkey AS INT) AS p
        |  FROM customer),
        |changes AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal + 100 AS bal,
        |         CAST(c_nationkey AS INT) AS p, 1 AS seq, 'U' AS op
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, NULL, NULL, CAST(c_nationkey AS INT), 2, 'D'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 200000, 'new-' || c_name, c_acctbal,
        |         CAST(c_nationkey AS INT), 1, 'I'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 13 = 0),
        |with_base AS (
        |  SELECT k, name, bal, p, 0 AS seq, 'S' AS op FROM v1
        |  UNION ALL SELECT * FROM changes),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM with_base),
        |v2 AS (SELECT k, name, bal, p FROM latest WHERE rn = 1 AND op <> 'D'),
        |feed AS (
        |  SELECT v2.k, v2.name, v2.bal, v2.p, 'insert' AS _change_type
        |  FROM v2 LEFT JOIN v1 ON v2.k = v1.k WHERE v1.k IS NULL
        |  UNION ALL
        |  SELECT v1.k, v1.name, v1.bal, v1.p, 'delete'
        |  FROM v1 LEFT JOIN v2 ON v1.k = v2.k WHERE v2.k IS NULL
        |  UNION ALL
        |  SELECT v1.k, v1.name, v1.bal, v1.p, 'update_preimage'
        |  FROM v1 JOIN v2 ON v1.k = v2.k
        |  WHERE v1.name IS DISTINCT FROM v2.name
        |     OR v1.bal IS DISTINCT FROM v2.bal OR v1.p IS DISTINCT FROM v2.p
        |  UNION ALL
        |  SELECT v2.k, v2.name, v2.bal, v2.p, 'update_postimage'
        |  FROM v1 JOIN v2 ON v1.k = v2.k
        |  WHERE v1.name IS DISTINCT FROM v2.name
        |     OR v1.bal IS DISTINCT FROM v2.bal OR v1.p IS DISTINCT FROM v2.p)
        |SELECT k, name, bal, p, _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM feed ORDER BY k, _change_type""".stripMargin,
    // both snapshots recomputed from the raw table: version 1 is the
    // customer base, version 2 replays the q68 CDC merge (latest-per-key,
    // tombstones drop); a time-travel read that leaked files across
    // versions moves either half
    // e29: compaction may change layout, never values — the served
    // summary must equal the source's
    "e29_transactional_optimize" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // e27: source = the untouched snapshot; clone = snapshot + the
    // correction batch — a hash match proves the fork diverged and the
    // source did not
    "e27_shallow_clone" ->
      """WITH src AS (
        |  SELECT CAST(c_nationkey AS INT) AS p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents, 'source' AS side
        |  FROM customer GROUP BY 1),
        |cl AS (
        |  SELECT CAST(p AS INT) AS p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents, 'clone' AS side
        |  FROM (
        |    SELECT c_acctbal AS bal, c_nationkey AS p FROM customer
        |    UNION ALL
        |    SELECT c_acctbal + 1.0, c_nationkey FROM customer
        |    WHERE c_custkey % 10 = 0) x
        |  GROUP BY 1)
        |SELECT side, p, n_rows, sum_bal_cents FROM src
        |UNION ALL
        |SELECT side, p, n_rows, sum_bal_cents FROM cl
        |ORDER BY side, p""".stripMargin,
    // e28: the corrupted state is e22's v2 merge result; the restored
    // head must equal the pristine v1
    "e28_restore" ->
      """WITH changes AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal,
        |         CAST(c_nationkey AS INT) AS p,
        |         CAST(0 AS BIGINT) AS seq, 'S' AS op
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100, CAST(c_nationkey AS INT), 1, 'U'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, NULL, CAST(c_nationkey AS INT), 2, 'D'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 200000, c_acctbal, CAST(c_nationkey AS INT), 1, 'I'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 13 = 0),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM changes),
        |v2 AS (SELECT bal, p FROM latest WHERE rn = 1 AND op <> 'D'),
        |a2 AS (
        |  SELECT p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents, 'corrupted' AS state
        |  FROM v2 GROUP BY 1),
        |a1 AS (
        |  SELECT CAST(c_nationkey AS INT) AS p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents, 'restored' AS state
        |  FROM customer GROUP BY 1)
        |SELECT state, p, n_rows, sum_bal_cents FROM a2
        |UNION ALL
        |SELECT state, p, n_rows, sum_bal_cents FROM a1
        |ORDER BY state, p""".stripMargin,
    "e22_tx_time_travel" ->
      """WITH changes AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal,
        |         CAST(c_nationkey AS INT) AS p,
        |         CAST(0 AS BIGINT) AS seq, 'S' AS op
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100, CAST(c_nationkey AS INT), 1, 'U'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, NULL, CAST(c_nationkey AS INT), 2, 'D'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 200000, c_acctbal, CAST(c_nationkey AS INT), 1, 'I'
        |  FROM customer WHERE c_nationkey IN (3, 7) AND c_custkey % 13 = 0),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM changes),
        |v2 AS (SELECT bal, p FROM latest WHERE rn = 1 AND op <> 'D'),
        |a1 AS (
        |  SELECT CAST(c_nationkey AS INT) AS p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents,
        |    CAST(1 AS BIGINT) AS version
        |  FROM customer GROUP BY 1),
        |a2 AS (
        |  SELECT p, count(1) AS n_rows,
        |    CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_bal_cents,
        |    CAST(2 AS BIGINT) AS version
        |  FROM v2 GROUP BY 1)
        |SELECT p, n_rows, sum_bal_cents, version FROM a1
        |UNION ALL
        |SELECT p, n_rows, sum_bal_cents, version FROM a2
        |ORDER BY version, p""".stripMargin,
    // what must be served after the WAP cycle is exactly v3's corrected
    // full summary — a flipped v2 or an unflipped v3 both move this hash
    "e17_audited_publish" ->
      """SELECT lang, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(CASE WHEN n_chars >= 200 THEN 1 END) AS BIGINT)
        |    AS n_long_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e03_stream_export" -> exportOracleSql,
    "e01_training_export" -> exportOracleSql,
    // the CSV round-trip must reproduce the source events exactly (the
    // two planted corrupt rows are quarantined engine-side, so the clean
    // set is the whole table)
    "e16_csv_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |  md5(props) AS props_md5
        |FROM events ORDER BY event_id""".stripMargin,
    // c12: the DDL lifecycle's final state re-derived from the source —
    // the catalog table must hold exactly the two inserted slices
    "c12_sql_ddl" ->
      """SELECT event_type, count(1) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events WHERE event_type IN ('purchase', 'click')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // c11: both days re-derived relationally — same signature, same
    // keep-min-id rule on both tiers, same anti-join screen, same
    // per-source accounting; a hash match proves the versioned-artifact
    // path (commit -> serve -> screen -> append -> CDF) computes exactly
    // the set-theoretic refresh
    "c11_incremental_refresh" ->
      """WITH d AS (SELECT doc_id, source, n_chars, md5(text) AS sig
        |           FROM documents),
        |day1 AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |day2 AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |k1 AS (SELECT sig, min(doc_id) AS doc_id,
        |         min_by(source, doc_id) AS source,
        |         min_by(n_chars, doc_id) AS n_chars
        |       FROM day1 GROUP BY sig),
        |k2 AS (SELECT sig, min(doc_id) AS doc_id,
        |         min_by(source, doc_id) AS source,
        |         min_by(n_chars, doc_id) AS n_chars
        |       FROM day2 GROUP BY sig),
        |ins AS (SELECT k2.* FROM k2 LEFT JOIN k1 ON k2.sig = k1.sig
        |        WHERE k1.sig IS NULL),
        |state AS (SELECT * FROM k1 UNION ALL SELECT * FROM ins),
        |arr AS (SELECT source, count(1) AS n_arrived FROM day2
        |        GROUP BY source),
        |insc AS (SELECT source, count(1) AS n_inserted FROM ins
        |         GROUP BY source),
        |st AS (SELECT source, count(1) AS n_total,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |       FROM state GROUP BY source)
        |SELECT st.source, COALESCE(arr.n_arrived, 0) AS n_arrived,
        |  COALESCE(insc.n_inserted, 0) AS n_inserted,
        |  COALESCE(arr.n_arrived, 0) - COALESCE(insc.n_inserted, 0)
        |    AS n_screened,
        |  st.n_total, st.sum_chars
        |FROM st LEFT JOIN arr ON st.source = arr.source
        |LEFT JOIN insc ON st.source = insc.source
        |ORDER BY st.source""".stripMargin,
    // e26: the same report computed from the PARQUET source — a hash
    // match proves the ORC round trip lost no values
    "e26_orc_roundtrip" ->
      """SELECT user_id, count(1) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the migrated (day, event_type) layout must aggregate to exactly
    // the source events — partition values recovered from directories,
    // so a re-layout that lost or invented rows moves this hash
    "e21_layout_migration" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  count(1) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // the XML round-trip must reproduce the source events exactly —
    // same contract as the CSV leg, different format surface
    "e19_xml_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |  md5(props) AS props_md5
        |FROM events ORDER BY event_id""".stripMargin,
    // post-vacuum, the directory-serving read is exactly snapshot 2 —
    // surviving debris doubles batch 2, over-deletion loses it
    "e20_vacuum" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // nothing lost, nothing double-counted across the two increments
    "e18_incremental_consume" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // both delete rules replayed on the raw table: retention keeps days
    // >= the mid-timestamp's day (ISO strings compare as dates), erasure
    // drops user_id ≡ 3 (mod 97)
    "e15_retention_erasure" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m
        |  FROM events),
        |cut AS (SELECT strftime(make_timestamp(m), '%Y-%m-%d') AS cutoff
        |        FROM mid)
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS day
        |FROM events CROSS JOIN cut
        |WHERE strftime(ts, '%Y-%m-%d') >= cutoff AND user_id % 97 <> 3
        |ORDER BY event_id""".stripMargin,
    // layout invariance: the bucketed tables' join must equal the same
    // join computed straight off the raw parquet
    "e10_bucketed_join" ->
      """SELECT o_orderpriority, count(1) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |   AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the append must reconstruct the FULL orders side: same oracle —
    // both batches' rows join as if the table had landed in one write
    "e11_bucketed_append" ->
      """SELECT o_orderpriority, count(1) AS n_items,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |   AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // content invariance: the summary of the fragmented-then-compacted
    // copy must equal the summary of the original table
    "e04_compaction" ->
      """SELECT lang, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the pointer must serve v2 == the full-corpus summary (same shape
    // as e04's content-invariance oracle)
    "e12_versioned_publish" ->
      """SELECT lang, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // old-batch rows (even doc_id) carry no quality column and must read
    // back as NULL through the merged schema
    // content invariance of the range-sorted layout: every source row with
    // its exact integer score, regardless of which band file it landed in
    "e08_sorted_export" ->
      raw"""SELECT doc_id, lang,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    // e24: the Bloom-pruned point lookup must land exactly the rows a
    // full-table IN-filter finds — the probe grid is the id-domain
    // quartiles, derived with the same integer arithmetic
    "e24_bloom_skipping" ->
      """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
        |           FROM documents),
        |k AS (SELECT DISTINCT mn + (mx - mn) * i // 4 AS doc_id
        |      FROM b, range(5) t(i))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the manifest-pruned read must land exactly the rows a full-table
    // filter finds — file skipping may never change the answer
    "e14_manifest_skipping" ->
      raw"""WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS score
        |  FROM documents)
        |SELECT doc_id, lang, score FROM scored
        |WHERE score >= (SELECT max(score) * 3 // 4 FROM scored)
        |ORDER BY doc_id""".stripMargin,
    // content invariance of the Z-ordered layout: the curve may only
    // reorder rows across files, never change them. The per-row md5
    // checksum binds all five columns together (order-free sum, same
    // portable hash family as d09/t13), so compensating same-bucket
    // column swaps can't cancel
    "e13_zorder_layout" ->
      """SELECT l_orderkey % 1024 AS bucket, count(1) AS n,
        |  CAST(sum(('0x' || substr(md5(concat_ws('|', l_orderkey,
        |      l_linenumber, l_partkey, l_suppkey,
        |      CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))), 1, 15))
        |      ::BIGINT % 4294967296) AS BIGINT) AS row_checksum
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    // byte-faithful JSON round-trip: the md5 of the decoded text must match
    // the md5 of the source text for every row
    "e09_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e05_schema_evolution" ->
      """SELECT lang, count(1) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  CAST(sum(CAST(CASE WHEN doc_id % 2 <> 0
        |       THEN CAST(doc_id % 100 AS DOUBLE) / 100.0 ELSE 0.0 END
        |       AS DECIMAL(30,2))) AS DOUBLE) AS sum_quality
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // e07 serves from the appended index what e02 computes in one shot —
    // identical oracle by design (exact-decimal statistics merge losslessly)
    "e07_centroid_append" ->
      """WITH dims AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(1) AS c
        |  FROM dims GROUP BY label, dim
        |), centroids AS (
        |  SELECT label, array_agg(c ORDER BY dim) AS centroid
        |  FROM cent GROUP BY label
        |), q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 16
        |), scored AS (
        |  SELECT q_id, label, list_cosine_similarity(qv, centroid) AS cos
        |  FROM q CROSS JOIN centroids
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, label ASC) AS rn FROM scored)
        |SELECT q_id, label, round(cos, 4) AS cos
        |FROM ranked WHERE rn = 1 ORDER BY q_id""".stripMargin,
    "e02_centroid_index" ->
      """WITH dims AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(1) AS c
        |  FROM dims GROUP BY label, dim
        |), centroids AS (
        |  SELECT label, array_agg(c ORDER BY dim) AS centroid
        |  FROM cent GROUP BY label
        |), q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 16
        |), scored AS (
        |  SELECT q_id, label, list_cosine_similarity(qv, centroid) AS cos
        |  FROM q CROSS JOIN centroids
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, label ASC) AS rn FROM scored)
        |SELECT q_id, label, round(cos, 4) AS cos
        |FROM ranked WHERE rn = 1 ORDER BY q_id""".stripMargin)
}
