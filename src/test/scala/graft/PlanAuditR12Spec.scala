package graft

import graft.ops.{ExportOps, Relational, TxTable}
import org.apache.spark.sql.functions._

/** Round-12 plan pins — the forbidable shapes the new components could
  * silently regress into:
  *
  *  - the TxTable manifest read must keep DIRECTORY-LEVEL partition
  *    pruning: the file index is built from the manifest's explicit file
  *    list, and a partition-column predicate must land in
  *    PartitionFilters and keep unmatched files unopened — otherwise the
  *    crash-safety migration silently costs every maintained table its
  *    pruning (the q68 merge's whole scale argument);
  *  - the manifest read must recover partition columns from the
  *    directory-encoded paths exactly like a directory read (schema
  *    parity), so swapping the serve path cannot shift types under the
  *    oracle hash. */
class PlanAuditR12Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("TxTable.read: partition predicates prune at the file-index level") {
    ExportOps.withScratch("graft_txplan", "spec") { out =>
      val snapDir = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      TxTable.bootstrapIfNeeded(spark, snapDir)
      // schema parity with the directory read: same fields, same types
      // (partition column recovered as int through basePath inference)
      val viaManifest = TxTable.read(spark, snapDir)
      val viaDirectory = spark.read.parquet(snapDir)
      assert(viaManifest.schema === viaDirectory.schema,
        s"manifest read schema drifted: ${viaManifest.schema.treeString} " +
          s"vs ${viaDirectory.schema.treeString}")
      // the exact touched-side read mergePartitioned issues post-migration
      val touched = viaManifest.filter(col("p").isin(3, 7))
      val plan = touched.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters:"), plan)
      assert("PartitionFilters: \\[[^\\]]*IN \\(3,7\\)".r
        .findFirstIn(plan).nonEmpty,
        s"partition isin must prune the manifest file index:\n$plan")
      val scanned = touched.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
        .flatMap("p=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
      assert(scanned === Set(3, 7),
        s"manifest read must open only the filtered partitions, got $scanned")
    }
  }

  test("c08: pipe syntax is pure sugar — same optimized plan as the standard form") {
    Tables(spark, d, "documents").createOrReplaceTempView("documents")
    val params = Map("minChars" -> 50)
    val piped = spark.sql(ops.TextOps.c08PipeSql, params)
    val standard = spark.sql(ops.TextOps.c08StandardSql, params)
    assert(piped.queryExecution.optimizedPlan
        .sameResult(standard.queryExecution.optimizedPlan),
      s"pipe form must optimize to the standard form's plan:\n" +
        s"piped:\n${piped.queryExecution.optimizedPlan}\n" +
        s"standard:\n${standard.queryExecution.optimizedPlan}")
    // and the physical plan stays one codegen'd agg over the scan — the
    // linear pipe chain must not materialize intermediate steps
    val physical = piped.queryExecution.executedPlan.toString
    assert(physical.contains("HashAggregate"), physical)
  }

  test("TxTable.read after a merge serves exactly the manifest's file set") {
    ExportOps.withScratch("graft_txplan2", "spec") { out =>
      val snapDir = s"$out/snap"
      spark.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      // merge WITHOUT the inline vacuum: superseded files remain on disk,
      // and the manifest read must not see them (the crash-window serve)
      Relational.mergePartitioned(spark, snapDir,
        Relational.q68Changes(spark, d), Seq("name", "bal"),
        vacuumNow = false)
      val live = TxTable.liveFiles(spark, snapDir).toSet
      val onDisk = TxTable.listDataFiles(spark, snapDir).toSet
      assert(live.subsetOf(onDisk) && onDisk.size > live.size,
        "pre-vacuum state must hold superseded files beside the live set")
      val opened = TxTable.read(spark, snapDir)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      val liveAbs = live.map(f => s"file://$snapDir/$f")
      assert(opened === liveAbs,
        s"read must open exactly the live manifest files:\n" +
          s"extra=${opened -- liveAbs}\nmissing=${liveAbs -- opened}")
    }
  }
}
