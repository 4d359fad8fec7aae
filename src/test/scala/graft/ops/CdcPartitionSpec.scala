package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q68 property specs: the partition-grain CDC merge must (1) prune the
  * snapshot scan to the changed partitions — the whole point of the
  * partition-grain variant, (2) leave untouched partitions byte-identical
  * through the staged swap, and (3) land the same logical snapshot the
  * whole-table q66 merge computes. */
class CdcPartitionSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def rowKey(r: org.apache.spark.sql.Row) =
    (r.getLong(0), Option(r.getString(1)),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getInt(3))

  /** (file name → (length, md5)) for every data file under a partition. */
  private def fileState(dir: java.io.File): Map[String, (Long, String)] = {
    val fs = dir.listFiles()
    assert(fs != null && fs.exists(_.getName.startsWith("part-")), s"no data in $dir")
    fs.filter(_.getName.startsWith("part-")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  test("q68: merge prunes the snapshot scan to the changed partitions") {
    ExportOps.withScratch("graft_cdcpin", "spec") { out =>
      val snapDir = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      // the exact touched-side read mergePartitioned issues: the isin on
      // the partition column must land in PartitionFilters (directory-level
      // pruning — 23 of 25 partitions never read), not in a post-scan Filter
      val touched = spark.read.parquet(snapDir).filter(col("p").isin(3, 7))
      val plan = touched.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters:"), plan)
      assert("PartitionFilters: \\[[^\\]]*IN \\(3,7\\)".r
        .findFirstIn(plan).nonEmpty,
        s"partition-column isin must prune directories:\n$plan")
      val scannedDirs = touched.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
        .flatMap("p=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
      assert(scannedDirs === Set(3, 7),
        s"scan must touch only the changed partitions, read $scannedDirs")
    }
  }

  test("q68: untouched partitions survive the swap byte-identical; merge matches the full-shuffle kernel") {
    ExportOps.withScratch("graft_cdcbyt", "spec") { out =>
      val snapDir = s"$out/snap"
      val snap0 = spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
      snap0.write.partitionBy("p").parquet(snapDir)
      val untouched = new java.io.File(snapDir).listFiles()
        .filter(f => f.getName.startsWith("p=") &&
          f.getName != "p=3" && f.getName != "p=7")
      assert(untouched.length > 2, "fixture must populate other nations")
      val before = untouched.map(f => f.getName -> fileState(f)).toMap
      val changes = Relational.q68Changes(spark, d)
      val affected = Relational.mergePartitioned(
        spark, snapDir, changes, Seq("name", "bal"))
      assert(affected === Seq(3, 7))
      // metadata-only commit: every file of every unchanged partition is
      // still the same file (name, length, content hash)
      untouched.foreach { f =>
        assert(fileState(f) === before(f.getName),
          s"${f.getName} was rewritten by a merge that never touched it")
      }
      assert(!new java.io.File(s"$snapDir.stage").exists(),
        "staging dir must be cleaned up after the swap")
      // and the landed snapshot is logically the one q66's whole-table
      // kernel computes from the same inputs
      val landed = spark.read.parquet(snapDir)
        .select(col("k"), col("name"), col("bal"), col("p").cast("int").as("p"))
        .collect().map(rowKey).toSet
      val full = Relational.upsertMerge(
          snap0.withColumn("p", col("p").cast("int")), changes,
          Seq("name", "bal", "p"))
        .collect().map(rowKey).toSet
      assert(landed === full)
    }
  }

  /** q68's change batch as three filtered scans joined by a union: the
    * reference the one-pass [[Relational.q68Changes]] must reproduce. */
  private def q68ChangesByUnion() = {
    val cc = spark.read.parquet(s"$d/customer.parquet")
      .filter(col("c_nationkey").isin(3, 7))
    val updates = cc.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        (col("c_acctbal") + 100).as("bal"), col("c_nationkey").as("p"),
        lit(1L).as("seq"), lit("U").as("op"))
    val deletes = cc.filter(col("c_custkey") % 11 === 0)
      .select(col("c_custkey").as("k"), lit(null).cast("string").as("name"),
        lit(null).cast("double").as("bal"), col("c_nationkey").as("p"),
        lit(2L).as("seq"), lit("D").as("op"))
    val inserts = cc.filter(col("c_custkey") % 13 === 0)
      .select((col("c_custkey") + 200000L).as("k"),
        concat(lit("new-"), col("c_name")).as("name"),
        col("c_acctbal").as("bal"), col("c_nationkey").as("p"),
        lit(1L).as("seq"), lit("I").as("op"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  test("q68: the one-pass change batch equals the three-scan union, from one scan") {
    val onePass = Relational.q68Changes(spark, d)
    val union = q68ChangesByUnion()
    assert(onePass.schema === union.schema)
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(onePass) === rows(union))
    assert(rows(onePass).map(_.split(",").last).toSet === Set("U]", "D]", "I]"))
    val scans = onePass.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.size === 1, onePass.queryExecution.optimizedPlan.toString)
  }

  test("q68: the manifest read of the touched side prunes with PartitionFilters") {
    ExportOps.withScratch("graft_cdcpin2", "spec") { out =>
      val snapDir = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(spark, snapDir)
      val touched = TxTable.read(spark, snapDir).filter(col("p").isin(3, 7))
      val plan = touched.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert("PartitionFilters: \\[[^\\]]*IN \\(3,7\\)".r
        .findFirstIn(plan).nonEmpty, plan)
      val scannedDirs = touched.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
        .flatMap("p=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
      assert(scannedDirs === Set(3, 7))
    }
  }

  test("q73 kernel: ancestorPairs closes a deep chain in log rounds") {
    import spark.implicits._
    // a 33-deep chain (0←1←2…←33): naive chaining needs 33 joins,
    // doubling must close it inside the 40-round guard with room to spare
    val parents = (1L to 33L).map(k => (k, k - 1)).toDF("node", "parent")
    val pairs = Relational.ancestorPairs(parents)
      .as[(Long, Long)].collect().toSet
    val expected = (for (n <- 1L to 33L; a <- 0L until n) yield (n, a)).toSet
    assert(pairs === expected, s"closure wrong: ${pairs.size} vs ${expected.size}")
    // a forest with two trees: no cross-tree ancestors may appear
    val forest = Seq((10L, 1L), (11L, 1L), (20L, 2L), (21L, 20L))
      .toDF("node", "parent")
    val f = Relational.ancestorPairs(forest).as[(Long, Long)].collect().toSet
    assert(f === Set((10L, 1L), (11L, 1L), (20L, 2L), (21L, 20L), (21L, 2L)))
  }

  test("q87 guard: recursion past the configured level limit fails loudly") {
    import spark.implicits._
    // the native WITH RECURSIVE iterates depth-d (q87's documented scale
    // bound, vs q73's log-round doubling). The one failure mode a surface
    // user must be able to trust: a hierarchy deeper than the configured
    // limit THROWS — it never silently truncates and returns a plausible
    // partial closure. A 9-deep chain against a limit of 4 must die.
    Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L),
        (7L, 6L), (8L, 7L), (9L, 8L))
      .toDF("node", "parent").createOrReplaceTempView("deep_chain")
    val sql =
      """WITH RECURSIVE anc AS (
        |  SELECT node, parent AS ancestor FROM deep_chain
        |  UNION ALL
        |  SELECT c.node, p.parent FROM anc c
        |  JOIN deep_chain p ON c.ancestor = p.node)
        |SELECT count(1) AS n FROM anc""".stripMargin
    ExportOps.withConf(spark, "spark.sql.cteRecursionLevelLimit" -> "4") {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.toLowerCase.contains("recursion"),
        s"expected a recursion-limit error, got: ${e.getMessage}")
    }
    // same query, sufficient limit: the full closure (9+8+...+1 = 45 pairs)
    ExportOps.withConf(spark, "spark.sql.cteRecursionLevelLimit" -> "20") {
      assert(spark.sql(sql).head().getLong(0) === 45L)
    }
  }

  test("q69: mergePartitioned is idempotent under change-batch redelivery") {
    // the property the streaming gate's at-least-once foreachBatch leans
    // on: replaying an already-applied batch cannot change the snapshot
    // (change rows carry absolute values and beat the landed seq-0 rows)
    ExportOps.withScratch("graft_cdcidem", "spec") { out =>
      val snapDir = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      val changes = Relational.q68Changes(spark, d)
      def snapshot() = spark.read.parquet(snapDir)
        .select(col("k"), col("name"), col("bal"), col("p").cast("int").as("p"))
        .collect().map(rowKey).toSet
      Relational.mergePartitioned(spark, snapDir, changes, Seq("name", "bal"))
      val once = snapshot()
      Relational.mergePartitioned(spark, snapDir, changes, Seq("name", "bal"))
      assert(snapshot() === once, "replaying the same batch must be a no-op")
    }
  }
}
