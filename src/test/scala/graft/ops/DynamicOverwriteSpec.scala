package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** e25 pins the driver's hash gate can't check: dynamic partition
  * overwrite must leave every partition NOT in the incoming batch
  * byte-identical (name, length, md5) — the whole point of the mode —
  * while the STATIC default clobbers the table down to the incoming
  * partitions (the failure mode dynamic exists to prevent). */
class DynamicOverwriteSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def fileState(dir: java.io.File): Map[String, (Long, String)] = {
    val fs = dir.listFiles()
    assert(fs != null && fs.exists(_.getName.startsWith("part-")),
      s"no data in $dir")
    fs.filter(_.getName.startsWith("part-")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getName -> (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  private def customer = Tables(spark, d, "customer")
    .select(col("c_custkey").as("k"), col("c_name").as("name"),
      col("c_acctbal").as("bal"), col("c_nationkey").as("p"))

  private def partitionsOf(snap: java.io.File): Set[Int] =
    snap.listFiles().filter(f => f.isDirectory && f.getName.startsWith("p="))
      .map(_.getName.stripPrefix("p=").toInt).toSet

  test("e25: dynamic overwrite rewrites only the incoming partitions, byte-identically elsewhere") {
    ExportOps.withScratch("graft_dynspec", "spec") { out =>
      val snap = new java.io.File(out, "snap")
      customer.write.partitionBy("p").parquet(snap.getPath)
      val allParts = partitionsOf(snap)
      assert(allParts.size > 2, s"fixture must span many nations: $allParts")
      val untouched = (allParts -- Set(3, 7)).toSeq.sorted
      val before = untouched.map { p =>
        p -> fileState(new java.io.File(snap, s"p=$p"))
      }.toMap
      val rewrite = customer.filter(col("p").isin(3, 7))
        .withColumn("bal", col("bal") + 100)
      ExportOps.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        rewrite.write.mode("overwrite").partitionBy("p").parquet(snap.getPath)
      }
      assert(partitionsOf(snap) === allParts,
        "dynamic overwrite must keep every pre-existing partition")
      untouched.foreach { p =>
        assert(fileState(new java.io.File(snap, s"p=$p")) === before(p),
          s"partition p=$p was not in the batch but its files moved")
      }
      // the touched partitions really carry the recompute
      val touched = spark.read.parquet(snap.getPath)
        .filter(col("p").isin(3, 7)).select("k", "bal")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = customer.filter(col("p").isin(3, 7))
        .select(col("k"), (col("bal") + 100).as("bal"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(touched === want)
    }
  }

  test("e25: the static default clobbers — only the incoming partitions survive") {
    ExportOps.withScratch("graft_dynspec2", "spec") { out =>
      val snap = new java.io.File(out, "snap")
      customer.write.partitionBy("p").parquet(snap.getPath)
      val rewrite = customer.filter(col("p").isin(3, 7))
        .withColumn("bal", col("bal") + 100)
      ExportOps.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "static") {
        rewrite.write.mode("overwrite").partitionBy("p").parquet(snap.getPath)
      }
      assert(partitionsOf(snap) === Set(3, 7),
        "static overwrite must have clobbered the other partitions — " +
          "if it didn't, the e25 gate is vacuous")
    }
  }
}
