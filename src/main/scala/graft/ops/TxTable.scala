package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Versioned-manifest commit protocol for parquet tables maintained by
  * staged swaps — the crash-safety layer under [[Relational.mergePartitioned]]
  * (q68/q98), [[TextOps.appendRagIndex]] (t30), and
  * [[ExportOps.retentionErase]] (e15).
  *
  * The r11 verdict's one `weak`: those kernels committed with
  * `delete(live); rename(staged, live)` per partition — a crash between
  * the delete and the rename loses the partition, a crash mid-loop leaves
  * a mixed-version snapshot, and a reader listing the table mid-swap can
  * see a partition vanish. This object replaces that with the pointer
  * protocol e12/e17 already use for whole-table publishes, applied at
  * FILE grain (the Delta-log/Iceberg shape, rebuilt on nothing but the
  * Hadoop FileSystem API):
  *
  *  - Data files live in their normal partition directories and are
  *    NEVER mutated: maintenance lands NEW files (unique names — Spark's
  *    task-UUID part names) alongside the old ones.
  *  - Visibility is a manifest: `_tx/manifest-v<N>.txt` lists every live
  *    data file (one root-relative path per line). Commit = write the
  *    next-numbered manifest to a dot-temp and rename it into place —
  *    one atomic metadata op. Readers resolve max-N and read exactly
  *    that file set, so they see version N or version N+1, never a
  *    mixture, never a missing partition.
  *  - A crash at ANY point before the manifest rename leaves the old
  *    manifest latest and every old file untouched — the table still
  *    serves the old version. A crash after leaves the new version
  *    serving with superseded files as invisible garbage.
  *  - [[vacuum]] is the e20-style maintenance step: delete data files
  *    the latest manifest no longer references (superseded versions and
  *    aborted-commit orphans) and drop emptied partition directories.
  *    After a vacuum, directory listing and manifest agree, so legacy
  *    `spark.read.parquet(dir)` reads stay equivalent on the happy path;
  *    crash recovery is always through the manifest.
  *
  * Scale shape: the manifest is file-count-sized METADATA (e14's
  * argument — thousands of manifest lines vs billions of data rows; at
  * 100 TB this is the same metadata scale every log-structured table
  * format carries), written and resolved driver-side. Single writer per
  * table, as with every kernel here; concurrent READERS are safe at any
  * point, racing a vacuum at worst hits a deleted file and fails loudly
  * (parquet reads do not ignore missing files by default) — never
  * silently serves a mixture.
  */
object TxTable {

  private val TxDirName = "_tx"
  private val ManifestRe = "manifest-v(\\d+)\\.txt".r

  /** Test-only crash injection: arming a failpoint makes the matching
    * protocol step throw [[InjectedCrash]], simulating a process death at
    * exactly that instant. The value is a countdown: 0 throws on the next
    * hit, n throws on the (n+1)th (to target e.g. the SECOND commit of a
    * multi-table maintenance). Production code never arms these. */
  private[graft] final class InjectedCrash(site: String)
    extends RuntimeException(s"injected crash at $site")
  @volatile private[graft] var armedFailpoints: Map[String, Int] = Map.empty

  /** Test-only interleave hook, invoked between a commit's version read
    * and its claim of the manifest name: lets a spec deterministically
    * inject a foreign (cross-process) commit into the race window the
    * in-process lock cannot cover. No-op in production. */
  @volatile private[graft] var interleave: () => Unit = () => ()
  private[graft] def failpoint(site: String): Unit = synchronized {
    armedFailpoints.get(site).foreach { n =>
      if (n <= 0) { armedFailpoints -= site; throw new InjectedCrash(site) }
      else armedFailpoints += (site -> (n - 1))
    }
  }

  private def fsOf(s: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** Highest committed manifest version, 0 if none. */
  def currentVersion(s: SparkSession, root: String): Long = {
    val (fs, rootPath) = fsOf(s, root)
    val tx = new Path(rootPath, TxDirName)
    if (!fs.exists(tx)) 0L
    else fs.listStatus(tx).flatMap(st => st.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _ => None
    }).foldLeft(0L)(math.max)
  }

  /** Root-relative live data file paths of the latest committed version.
    * Driver-side and manifest-sized — metadata, never data. */
  def liveFiles(s: SparkSession, root: String): Seq[String] =
    filesOfVersion(s, root, currentVersion(s, root))

  /** The file set of a SPECIFIC committed version — the time-travel read
    * the numbered manifests give for free: every version's data files
    * stay on disk until [[vacuum]] retires them, so any un-vacuumed
    * snapshot is re-readable by resolving its manifest instead of the
    * latest. */
  def filesOfVersion(s: SparkSession, root: String, version: Long): Seq[String] = {
    require(version > 0L, s"no committed manifest under $root — bootstrap first")
    val (fs, rootPath) = fsOf(s, root)
    val p = new Path(rootPath, s"$TxDirName/manifest-v$version.txt")
    require(fs.exists(p),
      s"version $version of $root is gone (vacuumed or never committed)")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Commits `files` (root-relative paths) as the next version. The
    * manifest lands under a dot-temp name, then ONE rename makes it the
    * latest — the atomic visibility flip. Returns the new version.
    *
    * Optimistic concurrency: the version number is the write token — if
    * another writer committed the same version first, this commit FAILS
    * with ConcurrentModificationException, never a silent clobber.
    * In-process contention (a multi-threaded driver, racing maintenance
    * jobs in one JVM) is serialized on this object, so the
    * read-version/rename pair is atomic and exactly one thread wins each
    * version. Cross-PROCESS concurrent writers are out of contract —
    * every log-structured table format needs a commit coordinator for
    * that (HDFS gets it from atomic no-overwrite rename; S3 needs an
    * external store even for Delta) — but get best-effort detection: a
    * writer-unique temp, an existence check before the rename, and a
    * read-back verify after it. The loser's data files remain invisible
    * orphans for [[vacuum]]. */
  def commit(s: SparkSession, root: String, files: Seq[String]): Long = {
    failpoint("beforeCommit")
    val (fs, rootPath) = fsOf(s, root)
    val tx = new Path(rootPath, TxDirName)
    if (!fs.exists(tx)) fs.mkdirs(tx)
    val payload = files.sorted.mkString("\n").getBytes("UTF-8")
    val v = synchronized {
      val v = currentVersion(s, root) + 1L
      val tmp = new Path(tx,
        s".manifest-v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(payload) finally out.close()
      interleave()
      val target = new Path(tx, s"manifest-v$v.txt")
      if (fs.exists(target)) {
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"commit race on $root: version $v already committed by another writer")
      }
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"manifest commit v=$v failed for $root")
      // read-back verification closes the cross-process check-then-rename
      // window (POSIX rename overwrites an existing target silently)
      val in = fs.open(target)
      val landed = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
      if (!java.util.Arrays.equals(landed.getBytes("UTF-8"), payload))
        throw new java.util.ConcurrentModificationException(
          s"commit race on $root: version $v was won by another writer")
      v
    }
    failpoint("afterCommit")
    v
  }

  /** Registers a pre-protocol table's current data files as version 1.
    * No-op if the table already has a manifest. */
  def bootstrapIfNeeded(s: SparkSession, root: String): Unit =
    if (currentVersion(s, root) == 0L) {
      commit(s, root, listDataFiles(s, root))
      ()
    }

  /** Recursive listing of the table's visible parquet data files
    * (root-relative), skipping hidden (`_`/`.`) names at every level. */
  def listDataFiles(s: SparkSession, root: String): Seq[String] = {
    val (fs, rootPath) = fsOf(s, root)
    if (!fs.exists(rootPath)) return Nil
    val prefix = rootPath.toUri.getPath.stripSuffix("/") + "/"
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet"))
            Seq(st.getPath.toUri.getPath.stripPrefix(prefix))
          else Nil
        }
    walk(rootPath)
  }

  /** Reads the latest committed version: exactly the manifest's file
    * set, with partition columns recovered from the directory-encoded
    * paths (`basePath`), so the frame is indistinguishable from a
    * directory read of a clean table — but immune to in-flight or
    * crashed maintenance. Partition-column predicates still prune at
    * the file-index level (spec-pinned). */
  def read(s: SparkSession, root: String): DataFrame = {
    val rels = liveFiles(s, root)
    if (rels.isEmpty) return emptySnapshot(s, root, currentVersion(s, root))
    readResolved(s, root, rels)
  }

  /** Resolves manifest lines against the root and reads them. basePath
    * (directory-encoded partition recovery) is only passed when every
    * reference lives UNDER the root: a shallow clone's manifest points
    * outside its root (`../source/...`), which basePath rejects — such
    * tables read their partition columns from the data itself (the e27
    * gate clones an unpartitioned layout; a partitioned clone at scale
    * would use absolute-URI references the same way Delta does).
    *
    * GUARD: if out-of-root references coexist with a directory-ENCODED
    * partition layout (`col=value/` path segments), dropping basePath
    * would silently read the table back WITHOUT its partition columns —
    * a schema change, not a degraded read. That combination fails loudly
    * here (and [[shallowClone]] rejects it at clone time, where the fix
    * — absolute-URI references — belongs). */
  private def readResolved(s: SparkSession, root: String,
                           rels: Seq[String]): DataFrame = {
    val files = rels.map(f => s"$root/$f")
    if (rels.forall(f => !f.contains("..")))
      Tables.readParquet(s, files, Map("basePath" -> root))
    else if (rels.exists(hasPartitionDirs))
      throw new IllegalStateException(
        s"table $root mixes out-of-root manifest references with a " +
          s"directory-encoded partition layout: reading it without " +
          s"basePath would silently drop the partition columns. Re-clone " +
          s"with absolute references or from an unpartitioned source.")
    else Tables.readParquet(s, files)
  }

  /** A hive-style partition directory segment (`col=value/`) anywhere on
    * the file's directory path. */
  private def hasPartitionDirs(rel: String): Boolean =
    rel.split('/').dropRight(1).exists(_.contains("="))

  /** Snapshot-as-of read: the table exactly as version `version` served
    * it. Valid for any version [[vacuum]] has not yet retired —
    * rollback, audit, and reproducible-training reads against a moving
    * table (e22 gates it end-to-end). */
  def readVersion(s: SparkSession, root: String, version: Long): DataFrame = {
    val rels = filesOfVersion(s, root, version)
    val files = rels.map(f => s"$root/$f")
    if (files.isEmpty) return emptySnapshot(s, root, version)
    // A manifest can outlive its data: vacuum keeps the last keepManifests
    // manifests as commit HISTORY but deletes every data file the latest
    // version no longer references. Check up front so a vacuumed snapshot
    // fails with the real story, not parquet's file-not-found.
    val (fs, _) = fsOf(s, root)
    val missing = files.filterNot(f => fs.exists(new Path(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"version $version of $root is no longer readable: ${missing.size} of " +
        s"${files.size} data files were deleted by vacuum (only the latest " +
        s"version's data files survive a vacuum; retained older manifests " +
        s"are commit history, not readable snapshots). First missing: " +
        missing.head)
    readResolved(s, root, rels)
  }

  /** An empty-but-legal snapshot (a manifest that commits zero files —
    * e.g. a retention erasure expiring every partition). Parquet cannot
    * infer a schema from zero files, so serve the schema sidecar
    * [[stageAndCommit]] records; without one, fail with the TxTable-level
    * story instead of Spark's misleading "Unable to infer schema". */
  private def emptySnapshot(s: SparkSession, root: String,
                            version: Long): DataFrame =
    storedSchema(s, root) match {
      case Some(schema) =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      case None => throw new IllegalStateException(
        s"version $version of $root committed zero data files and no schema " +
          s"sidecar is recorded ($TxDirName/$SchemaFileName) — an empty " +
          s"snapshot cannot be served without a schema source")
    }

  private val SchemaFileName = "schema.json"

  /** Latest recorded table schema, if any maintenance recorded one. */
  def storedSchema(s: SparkSession,
                   root: String): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, rootPath) = fsOf(s, root)
    val p = new Path(rootPath, s"$TxDirName/$SchemaFileName")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(text)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Records `schema` as the table's schema sidecar (latest wins — after a
    * schema evolution the latest schema is the one an empty snapshot
    * should serve). Same dot-temp + rename discipline as manifests. */
  def recordSchema(s: SparkSession, root: String,
                   schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, rootPath) = fsOf(s, root)
    val tx = new Path(rootPath, TxDirName)
    if (!fs.exists(tx)) fs.mkdirs(tx)
    val tmp = new Path(tx,
      s".$SchemaFileName.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    val target = new Path(tx, SchemaFileName)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"schema sidecar write failed for $root")
  }

  /** Stage `df` as parquet beside `dir` and commit it through the
    * manifest protocol — the shared shape of every FLAT (unpartitioned)
    * table maintenance here: write to a `.stage` sibling, move the part
    * files in with checked metadata renames (old files untouched), flip
    * one manifest, vacuum. `append = true` keeps the current generation
    * in the manifest (an append); `false` lists only the new files (a
    * full replacement). A crash at any instant serves one complete
    * version. Partitioned tables (cell=/p= layouts) keep their custom
    * moves — their manifests carry per-partition paths. */
  def stageAndCommit(df: DataFrame, dir: String, append: Boolean,
                     vacuumNow: Boolean = true): Unit = {
    val s = df.sparkSession
    val (fs, dirPath) = fsOf(s, dir)
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    bootstrapIfNeeded(s, dir)
    recordSchema(s, dir, df.schema) // lets an empty future version serve
    val stage = new Path(dir + ".stage")
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(stage.toString)
    val moved = fs.listStatus(stage)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .map { f =>
        val to = new Path(dirPath, f.getPath.getName)
        if (!fs.rename(f.getPath, to))
          throw new java.io.IOException(s"staged promote failed for $to")
        f.getPath.getName
      }
    fs.delete(stage, true)
    commit(s, dir, (if (append) liveFiles(s, dir) else Nil) ++ moved)
    if (vacuumNow) vacuum(s, dir)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`): a new table
    * at `cloneRoot` whose v1 manifest REFERENCES the source's current
    * data files — zero bytes copied, the clone is one manifest write.
    * References are stored root-relative to the CLONE (`../source/...`),
    * so the clone root stays relocatable together with its source; a
    * production object store would store absolute URIs instead — the
    * protocol (manifest references outside the table root) is the same.
    * Writes to the clone land under the clone's own root and commit as
    * later clone versions; the source is never touched (its files are
    * outside the clone's [[vacuum]] sweep by construction — vacuum only
    * lists under the table root). Returns the clone's version (1). */
  def shallowClone(s: SparkSession, sourceRoot: String,
                   cloneRoot: String): Long = {
    val (fs, clonePath) = fsOf(s, cloneRoot)
    if (!fs.exists(clonePath)) fs.mkdirs(clonePath)
    require(currentVersion(s, cloneRoot) == 0L,
      s"shallow clone target $cloneRoot already has a committed table")
    val src = new Path(fsOf(s, sourceRoot)._2.toUri.getPath)
    val dst = new Path(clonePath.toUri.getPath)
    val rel = java.nio.file.Paths.get(dst.toString)
      .relativize(java.nio.file.Paths.get(src.toString)).toString
    val srcFiles = liveFiles(s, sourceRoot)
    // A clone's manifest references the source through `../`, which
    // forfeits basePath partition recovery on read — silently changing
    // the schema of a directory-partitioned source. Refuse HERE, where
    // the caller can still choose a different layout (absolute-URI
    // references are the scale fix, as in Delta's shallow clone).
    require(!srcFiles.exists(hasPartitionDirs),
      s"shallow clone of $sourceRoot: source uses a directory-encoded " +
        s"partition layout, which relative clone references cannot " +
        s"preserve (partition columns would vanish on read)")
    commit(s, cloneRoot, srcFiles.map(f => s"$rel/$f"))
  }

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF`): roll the table
    * back to `toVersion` AS A NEW COMMIT — history is preserved (the
    * rolled-back versions stay resolvable until vacuum), and the restore
    * itself is one manifest write referencing the old version's files,
    * zero data copied. Fails with the readVersion story if vacuum
    * already retired the target version's files. */
  def restore(s: SparkSession, root: String, toVersion: Long): Long = {
    val files = filesOfVersion(s, root, toVersion)
    val (fs, rootPath) = fsOf(s, root)
    val missing = files.filterNot(f => fs.exists(new Path(rootPath, f)))
    require(missing.isEmpty,
      s"cannot restore $root to v$toVersion: ${missing.size} data files " +
        s"were vacuumed (first: ${missing.headOption.getOrElse("")})")
    commit(s, root, files)
  }

  /** e20-style maintenance: delete visible parquet files the latest
    * manifest does not reference (superseded versions, aborted-commit
    * orphans), drop partition directories that emptied, and trim all
    * but the last `keepManifests` manifests. Callers run it AFTER a
    * commit (the kernels here vacuum inline, so steady-state directory
    * listings match the manifest); a deployment with long-running
    * concurrent readers would defer it by a retention window instead —
    * the standard log-structured-table contract.
    *
    * Retention contract: only the LATEST version's data files survive a
    * vacuum. The `keepManifests` retained older manifests are commit
    * HISTORY (who committed what, when) — [[readVersion]] against them
    * after a vacuum fails with the accurate story, never parquet's
    * file-not-found. Time travel across versions therefore requires
    * deferring vacuum (e22's flow: commit, commit, read both, THEN
    * vacuum). */
  def vacuum(s: SparkSession, root: String, keepManifests: Int = 10): Unit = {
    val (fs, rootPath) = fsOf(s, root)
    val live = liveFiles(s, root).toSet
    listDataFiles(s, root).filterNot(live.contains).foreach { rel =>
      fs.delete(new Path(rootPath, rel), false)
    }
    // drop partition dirs that now hold nothing visible
    def sweep(p: Path): Boolean = { // returns "directory is empty now"
      var remaining = 0
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) remaining += 1
        else if (st.isDirectory) {
          if (sweep(st.getPath)) fs.delete(st.getPath, true)
          else remaining += 1
        } else remaining += 1
      }
      remaining == 0
    }
    fs.listStatus(rootPath)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .foreach { st => if (sweep(st.getPath)) fs.delete(st.getPath, true) }
    val v = currentVersion(s, root)
    val tx = new Path(rootPath, TxDirName)
    if (fs.exists(tx)) fs.listStatus(tx).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(mv) if mv.toLong <= v - keepManifests =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }
}
