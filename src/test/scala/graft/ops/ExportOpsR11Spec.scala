package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** e21 property specs — the migration claims the content hash can't see:
  * the source layout survives the migration byte-identical (publish is a
  * staged rename, never an in-place mutation), and the new two-level
  * layout actually prunes a (day, event_type) point query to one leaf
  * directory. */
class ExportOpsR11Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def fileStates(dir: java.io.File): Map[String, (Long, String)] = {
    def walk(f: java.io.File): Array[java.io.File] =
      if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
    walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.toPath.toString.stripPrefix(dir.toPath.toString) ->
        (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  test("e21: migration never touches the source; the new layout prunes two levels") {
    ExportOps.withScratch("graft_relayout_spec", "spec") { out =>
      val ev = graft.Tables(spark, d, "events").select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      ev.write.partitionBy("day").parquet(s"$out/v1")
      val before = fileStates(new java.io.File(out, "v1"))
      ExportOps.migrateLayout(spark, s"$out/v1", s"$out/v2",
        Seq("day", "event_type"))
      assert(fileStates(new java.io.File(out, "v1")) === before,
        "the source layout must come through the migration byte-identical")
      // no staging debris after publish
      assert(!new java.io.File(out, "v2.stage").exists())
      // full content equality across layouts
      val a = spark.read.parquet(s"$out/v1")
        .select(col("event_id"), col("day").cast("string"),
          col("event_type").cast("string"))
        .collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"$out/v2")
        .select(col("event_id"), col("day").cast("string"),
          col("event_type").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(a === b, "re-layout must preserve every row exactly")
      // two-level pruning: a (day, event_type) point query reads ONE leaf
      val day0 = spark.read.parquet(s"$out/v2")
        .select(col("day").cast("string")).distinct()
        .orderBy("day").head().getString(0)
      val probe = spark.read.parquet(s"$out/v2")
        .filter(col("day") === day0 && col("event_type") === "click")
      val plan = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters:"), plan)
      assert(("day".r.findFirstIn(plan).nonEmpty) &&
        "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).nonEmpty,
        s"both partition levels must prune at the directory level:\n$plan")
      val scanned = probe.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      assert(scanned.nonEmpty)
      assert(scanned.forall(p =>
        p.contains(s"day=$day0") && p.contains("event_type=click")),
        s"point query must touch only its leaf directory, read $scanned")
      // the migration refuses to clobber an existing target
      intercept[IllegalArgumentException] {
        ExportOps.migrateLayout(spark, s"$out/v1", s"$out/v2", Seq("day"))
      }
    }
  }
}
