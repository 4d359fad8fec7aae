package graft.ops

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{array, col, explode, lit, when}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.Tables

/** The one commit protocol for graft's parquet tables: every staged
  * write lands its files in a table through [[stage]] and makes them
  * visible through [[commit]]. Its users: the partition-grain merge
  * ([[Relational.mergePartitioned]], q68/q98), the RAG index append
  * ([[TextOps.appendRagIndex]], t30), retention + erasure
  * ([[ExportOps.retentionErase]], e15), whole-table publish (e12),
  * write-audit-publish (e17: stage, audit the staged files, commit only
  * when clean), incremental consumption (e18: the new files are the
  * difference of two versions' manifests) and vacuum (e20), plus the
  * flat maintenance kernels behind [[stageAndCommit]]. One log per table
  * for publish, audit-then-publish, incremental reads and vacuum is the
  * Delta Lake shape, rebuilt on nothing but the Hadoop FileSystem API.
  *
  * A commit that swapped directories (`delete(live); rename(staged,
  * live)` per partition) could lose a partition to a crash between the
  * delete and the rename, serve a mixed-version snapshot after a crash
  * mid-loop, and show a reader listing the table mid-swap a vanished
  * partition. The protocol here works at FILE grain instead:
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
  *  - Reads are served FROM the manifest, never from a listing: every
  *    read ([[read]], [[readVersion]], [[readVersions]]) resolves the
  *    version's manifest, stats each listed file once, and hands Spark a
  *    relation over exactly that file set through a file index of its
  *    own. Spark never globs, lists or checks the paths again, and
  *    partition columns are inferred from the directory-encoded paths
  *    as a `basePath` read infers them. Several versions read together
  *    scan each distinct file once (time travel over a merge rereads no
  *    untouched partition).
  *  - A crash at ANY point before the manifest rename leaves the old
  *    manifest latest and every old file untouched — the table still
  *    serves the old version. A crash after leaves the new version
  *    serving with superseded files as invisible garbage.
  *  - [[vacuum]] (e20) deletes the data files the latest manifest no
  *    longer references (superseded versions, staged-but-uncommitted
  *    files, a crashed writer's debris) and drops emptied partition
  *    directories.
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

  /** Names Spark's file listing skips: markers, temps, stages. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Recursive listing of the table's visible parquet data files
    * (root-relative), skipping hidden (`_`/`.`) names at every level. */
  def listDataFiles(s: SparkSession, root: String): Seq[String] = {
    val (fs, rootPath) = fsOf(s, root)
    if (!fs.exists(rootPath)) return Nil
    val prefix = rootPath.toUri.getPath.stripSuffix("/") + "/"
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

  /** Reads the latest committed version: [[readVersion]] of
    * [[currentVersion]]. */
  def read(s: SparkSession, root: String): DataFrame =
    readVersion(s, root, currentVersion(s, root))

  /** Snapshot-as-of read: the table exactly as version `version` served
    * it. Valid for any version [[vacuum]] has not yet retired —
    * rollback, audit, and reproducible-training reads against a moving
    * table. The frame is indistinguishable from a directory read of a
    * clean table (same schema, partition columns recovered from the
    * directory-encoded paths), but immune to in-flight or crashed
    * maintenance, and partition-column predicates still prune at the
    * file-index level (spec-pinned). */
  def readVersion(s: SparkSession, root: String, version: Long): DataFrame =
    scan(s, root, Seq(version))

  /** The column [[readVersions]] tags each row with. */
  val VersionCol = "version"

  /** Time travel over several versions in ONE scan: the union of the
    * `versions`' snapshots, each row tagged with [[VersionCol]] once per
    * version whose manifest lists its file. A file two versions share
    * (every partition a merge did not touch) is read once and emitted
    * under both tags, so reading v1 and v2 of a table a merge rewrote
    * two partitions of costs one scan of the v1 files plus the two new
    * partitions' files, not two scans of the table (e22). */
  def readVersions(s: SparkSession, root: String, versions: Seq[Long]): DataFrame = {
    require(versions.nonEmpty && versions.size < 64 &&
      versions.distinct.size == versions.size,
      s"readVersions takes 1 to 63 distinct versions, got $versions")
    val df = scan(s, root, versions)
    require(!df.columns.contains(VersionCol),
      s"table $root already has a column named $VersionCol")
    if (versions.size == 1) df.withColumn(VersionCol, lit(versions.head))
    else {
      val tags = versions.zipWithIndex.map { case (v, i) =>
        when(col(MaskCol).bitwiseAND(1L << i) =!= 0L, lit(v)) }
      df.withColumn(VersionCol, explode(array(tags: _*)))
        .filter(col(VersionCol).isNotNull).drop(MaskCol)
    }
  }

  /** Per-file version bitmask of a multi-version [[scan]]: bit i is set
    * when `versions(i)`'s manifest lists the file. It rides as a synthetic
    * partition value, so it costs nothing per row until it is exploded. */
  private val MaskCol = "_tx_version_mask"

  /** The one read path: a parquet relation over exactly the union of the
    * `versions`' manifests, each distinct file stated once. No glob, no
    * directory listing, no Spark data-source resolution: the file set is
    * the manifest's, so nothing is ever re-discovered from the filesystem.
    * With more than one version the frame carries [[MaskCol]].
    *
    * A manifest can outlive its data: vacuum keeps the last keepManifests
    * manifests as commit HISTORY but deletes every data file the latest
    * version no longer references. The one stat per file doubles as the
    * check that fails a vacuumed snapshot with the real story, not
    * parquet's file-not-found.
    *
    * Partition columns come from the directory-encoded paths through
    * Spark's own partition inference, with the table root as the base
    * path — unless a reference lives OUTSIDE the root: a shallow clone's
    * manifest points at `../source/...`, and such tables read their
    * columns from the data itself (the e27 gate clones an unpartitioned
    * layout; a partitioned clone at scale would use absolute-URI
    * references the same way Delta does).
    *
    * GUARD: if out-of-root references coexist with a directory-ENCODED
    * partition layout (`col=value/` path segments), reading without the
    * root as base path would silently drop the partition columns — a
    * schema change, not a degraded read. That combination fails loudly
    * here (and [[shallowClone]] rejects it at clone time, where the fix
    * — absolute-URI references — belongs). */
  private def scan(s: SparkSession, root: String, versions: Seq[Long]): DataFrame = {
    val manifests = versions.map(v => v -> filesOfVersion(s, root, v))
    val masks = mutable.LinkedHashMap.empty[String, Long]
    for (((_, rels), i) <- manifests.zipWithIndex; rel <- rels)
      masks(rel) = masks.getOrElse(rel, 0L) | (1L << i)
    val tagged = versions.size > 1
    if (masks.isEmpty) {
      val empty = emptySnapshot(s, root, versions.head)
      return if (tagged) empty.withColumn(MaskCol, lit(0L)) else empty
    }
    val (fs, rootPath) = fsOf(s, root)
    val stats = masks.keys.map { rel =>
      rel -> (try Some(fs.getFileStatus(new Path(s"$root/$rel")))
              catch { case _: java.io.FileNotFoundException => None })
    }.toMap
    manifests.foreach { case (v, rels) =>
      val missing = rels.filter(stats(_).isEmpty)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"version $v of $root is no longer readable: ${missing.size} of " +
          s"${rels.size} data files were deleted by vacuum (only the latest " +
          s"version's data files survive a vacuum; retained older manifests " +
          s"are commit history, not readable snapshots). First missing: " +
          s"$root/${missing.head}")
    }
    val inRoot = masks.keys.forall(!_.contains(".."))
    if (!inRoot && masks.keys.exists(hasPartitionDirs))
      throw new IllegalStateException(
        s"table $root mixes out-of-root manifest references with a " +
          s"directory-encoded partition layout: reading it without " +
          s"basePath would silently drop the partition columns. Re-clone " +
          s"with absolute references or from an unpartitioned source.")
    val files = masks.toSeq.map { case (rel, mask) => (stats(rel).get, mask) }
    val footer = Tables.footerSchema(s, s.sessionState.newHadoopConf(),
      files.map(_._1).minBy(_.getPath.toString))
    val index =
      if (inRoot) new ManifestIndex(s, Map("basePath" -> root),
        Seq(fs.makeQualified(rootPath)), footer, files, tagged)
      else new ManifestIndex(s, Map.empty, files.map(_._1.getPath), footer, files, tagged)
    val partCols = index.partitionSpec().partitionColumns
    val resolver = s.sessionState.conf.resolver
    val dataSchema = GraftColumnBridge.asNullable(StructType(footer.filterNot(f =>
      partCols.fieldNames.exists(resolver(_, f.name)))))
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(s))
  }

  /** A file index that serves only the files it is given: the
    * manifest-resolved, once-stated data files. Spark's own partition
    * inference runs over their directories (`basePath` and root paths
    * play the roles they play in a path read), so partition columns and
    * their types are exactly a directory read's. Files are served grouped
    * by (partition directory, version mask), and partition filters prune
    * those groups as Spark prunes partition directories. */
  private final class ManifestIndex(s: SparkSession, params: Map[String, String],
                                    override val rootPaths: Seq[Path], footer: StructType,
                                    files: Seq[(FileStatus, Long)], tagged: Boolean)
    extends PartitioningAwareFileIndex(s, params, Some(footer)) {
    override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap(files.map { case (st, _) => st.getPath -> st }: _*)
    override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.map(_._1).toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def partitionSchema: StructType =
      if (tagged) spec.partitionColumns.add(MaskCol, LongType, nullable = false)
      else spec.partitionColumns
    override def refresh(): Unit = ()

    // a file whose directory carries no partition values is not served,
    // as in Spark's own listFiles
    private lazy val partitions: Seq[(InternalRow, Array[FileStatus])] = {
      val partCols = spec.partitionColumns
      val valuesOf = spec.partitions.map(pp => pp.path -> pp.values).toMap
      val groups = mutable.LinkedHashMap.empty[(Path, Long), mutable.ArrayBuffer[FileStatus]]
      files.foreach { case (st, mask) =>
        val dir = if (partCols.isEmpty) null else st.getPath.getParent
        if (st.getLen > 0 && (dir == null || valuesOf.contains(dir)))
          groups.getOrElseUpdate((dir, if (tagged) mask else 0L),
            mutable.ArrayBuffer.empty) += st
      }
      groups.toSeq.map { case ((dir, mask), sts) =>
        val values = if (dir == null) Seq.empty else valuesOf(dir).toSeq(partCols)
        InternalRow.fromSeq(if (tagged) values :+ mask else values) -> sts.toArray
      }
    }

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val schema = partitionSchema
      val keep = partitionFilters.reduceOption(And).map { p =>
        Predicate.createInterpreted(p.transform {
          case a: AttributeReference =>
            val i = schema.indexWhere(_.name == a.name)
            BoundReference(i, schema(i).dataType, nullable = true)
        })
      }
      partitions.collect { case (values, sts) if keep.forall(_.eval(values)) =>
        PartitionDirectory(values, sts)
      }
    }
  }

  /** A hive-style partition directory segment (`col=value/`) anywhere on
    * the file's directory path. */
  private def hasPartitionDirs(rel: String): Boolean =
    rel.split('/').dropRight(1).exists(_.contains("="))

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

  /** Lands `df`'s files in the table at `root` WITHOUT making them
    * visible — the one promote step under every staged write here. `df` is
    * written (partitioned by `partitionBy`, if any) to the `<root>.stage`
    * sibling in overwrite mode, so a crashed attempt's leftovers go; every
    * staged `.parquet` file then moves to the same relative path under
    * `root` with one checked metadata rename (partition directories are
    * created as needed, live files are never touched: Spark's task-UUID
    * part names are unique), and the stage is deleted. Returns the moved
    * files' root-relative paths; a partition the write left empty (every
    * row deleted) simply has none. Visibility is the caller's [[commit]]:
    * until then the files are invisible orphans that [[read]] never
    * serves and [[vacuum]] sweeps. */
  def stage(df: DataFrame, root: String, partitionBy: String*): Seq[String] = {
    val (fs, rootPath) = fsOf(df.sparkSession, root)
    val stagePath = new Path(root + ".stage")
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(stagePath.toString)
    def promote(dir: Path, rel: String): Seq[String] = {
      val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
      val parquet = files.filter(_.getPath.getName.endsWith(".parquet"))
      val dst = if (rel.isEmpty) rootPath else new Path(rootPath, rel)
      if (parquet.nonEmpty) fs.mkdirs(dst)
      parquet.map { f =>
        val to = new Path(dst, f.getPath.getName)
        if (!fs.rename(f.getPath, to))
          throw new java.io.IOException(s"staged promote failed for $to")
        rel + f.getPath.getName
      } ++ dirs.filterNot(d => hidden(d.getPath.getName))
        .flatMap(d => promote(d.getPath, s"$rel${d.getPath.getName}/"))
    }
    val moved = promote(stagePath, "")
    fs.delete(stagePath, true)
    moved
  }

  /** [[stage]] `df` as `dir`'s files and commit them as the next version
    * — the shared shape of every FLAT (unpartitioned) table write here:
    * publish (`append = false`: the manifest lists only the new files, a
    * full replacement) or append (`true`: the current generation stays
    * listed). A crash at any instant serves one complete version. The
    * schema sidecar is recorded first, so a later empty version can still
    * serve. Returns the committed version. */
  def stageAndCommit(df: DataFrame, dir: String, append: Boolean,
                     vacuumNow: Boolean = true): Long = {
    val s = df.sparkSession
    bootstrapIfNeeded(s, dir)
    recordSchema(s, dir, df.schema)
    val moved = stage(df, dir)
    val v = commit(s, dir, (if (append) liveFiles(s, dir) else Nil) ++ moved)
    if (vacuumNow) vacuum(s, dir)
    v
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

  /** e20's maintenance step: delete visible parquet files the latest
    * manifest does not reference (superseded versions, aborted-commit
    * orphans, a crashed retry's debris), drop partition directories that
    * emptied, and trim all but the last `keepManifests` manifests.
    * Returns the deleted data files (root-relative, sorted) so a caller
    * can audit the reclaim; a second vacuum returns none. Hidden names
    * (a manifest's dot-temp, a crashed stage) are never its business.
    * Callers run it AFTER a commit (the kernels here vacuum inline, so
    * steady-state directory listings match the manifest); a deployment
    * with long-running concurrent readers would defer it by a retention
    * window instead — the standard log-structured-table contract.
    *
    * Retention contract: only the LATEST version's data files survive a
    * vacuum. The `keepManifests` retained older manifests are commit
    * HISTORY (who committed what, when) — [[readVersion]] against them
    * after a vacuum fails with the accurate story, never parquet's
    * file-not-found. Time travel across versions therefore requires
    * deferring vacuum (e22's flow: commit, commit, read both, THEN
    * vacuum). */
  def vacuum(s: SparkSession, root: String, keepManifests: Int = 10): Seq[String] = {
    val (fs, rootPath) = fsOf(s, root)
    val live = liveFiles(s, root).toSet
    val orphans = listDataFiles(s, root).filterNot(live.contains).sorted
    orphans.foreach(rel => fs.delete(new Path(rootPath, rel), false))
    // drop partition dirs that now hold nothing visible
    def sweep(p: Path): Boolean = { // returns "directory is empty now"
      var remaining = 0
      fs.listStatus(p).foreach { st =>
        if (hidden(st.getPath.getName)) remaining += 1
        else if (st.isDirectory) {
          if (sweep(st.getPath)) fs.delete(st.getPath, true)
          else remaining += 1
        } else remaining += 1
      }
      remaining == 0
    }
    fs.listStatus(rootPath)
      .filter(st => st.isDirectory && !hidden(st.getPath.getName))
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
    orphans
  }
}
