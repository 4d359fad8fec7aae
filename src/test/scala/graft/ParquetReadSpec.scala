package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** [[Tables.readParquet]] pins: the footer-read schema is the schema
  * Spark's own inference gives for every layout the engine reads back
  * (single file, flat dir, hive-partitioned dir, explicit file list with
  * `basePath`, streaming parquet sink, NANOS timestamps under
  * `nanosAsLong`); empty and missing paths fail as Spark fails; and a
  * read-back built through it launches no job before its action. */
class ParquetReadSpec extends SparkSpec {

  private val d = new java.io.File("perfbench/fixtures/sf0.01").getAbsolutePath

  private def withDir[T](body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pread").toFile
    try body(dir) finally ops.ExportOps.deleteRecursively(dir)
  }

  private def sample(s: SparkSession): DataFrame = s.range(0, 40, 1, 4)
    .select(col("id"), (col("id") % 3).cast("int").as("p"),
      concat(lit("v"), col("id").cast("string")).as("s"),
      (col("id") / 7.0).as("x"), array(col("id"), col("id") + 1).as("arr"))

  /** The data files of a directory tree, as the engine lists them. */
  private def partFiles(dir: java.io.File): Seq[String] =
    ops.TxTable.listDataFiles(spark, dir.getAbsolutePath)
      .map(f => s"${dir.getAbsolutePath}/$f")

  private def sameSchema(paths: Seq[String], options: Map[String, String] = Map.empty,
                         s: SparkSession = spark): Unit = {
    val want = s.read.options(options).parquet(paths: _*).schema
    val got = Tables.readParquet(s, paths, options).schema
    assert(got == want, s"\n got: ${got.treeString}\nwant: ${want.treeString}")
  }

  test("(a) a single file, a flat dir and a hive-partitioned dir read with Spark's schema") {
    withDir { dir =>
      val flat = new java.io.File(dir, "flat").getAbsolutePath
      sample(spark).write.parquet(flat)
      sameSchema(Seq(flat))
      sameSchema(Seq(partFiles(new java.io.File(flat)).head))
      val hive = new java.io.File(dir, "hive")
      sample(spark).write.partitionBy("p").parquet(hive.getAbsolutePath)
      sameSchema(Seq(hive.getAbsolutePath))
      assert(Tables.readParquet(spark, hive.getAbsolutePath).schema("p").dataType ==
        org.apache.spark.sql.types.IntegerType, "partition values keep their inferred type")
    }
  }

  test("(b) an explicit file list with basePath (the TxTable layout) reads with Spark's schema") {
    withDir { tmp =>
      val dir = new java.io.File(tmp, "t")
      sample(spark).write.partitionBy("p").parquet(dir.getAbsolutePath)
      val files = partFiles(dir)
      assert(files.size > 1 && files.forall(_.contains("/p=")))
      sameSchema(files, Map("basePath" -> dir.getAbsolutePath))
      sameSchema(files.reverse.take(2), Map("basePath" -> dir.getAbsolutePath))
      // and without basePath the files carry no partition column
      sameSchema(files)
    }
  }

  test("(c) a streaming parquet sink dir (_spark_metadata) reads with Spark's schema") {
    withDir { dir =>
      val in = new java.io.File(dir, "in").getAbsolutePath
      sample(spark).write.parquet(in)
      val out = new java.io.File(dir, "out").getAbsolutePath
      val q = spark.readStream.schema(sample(spark).schema).parquet(in)
        .select(col("id"), col("s"), (col("x") * 2).as("x2"))
        .writeStream.format("parquet")
        .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start(out)
      try q.awaitTermination() finally q.stop()
      assert(new java.io.File(out, "_spark_metadata").isDirectory)
      sameSchema(Seq(out))
      assert(Tables.readParquet(spark, out).count() == 40)
    }
  }

  test("(d) events and NANOS timestamps read with Spark's schema under nanosAsLong") {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sameSchema(Seq(s"$d/events.parquet"), s = s)
    withDir { dir =>
      val file = new Path(new java.io.File(dir, "nanos.parquet").getAbsolutePath)
      val schema = MessageTypeParser.parseMessageType(
        "message m { optional int64 ts (TIMESTAMP(NANOS,true)); optional int64 id; }")
      val w = ExampleParquetWriter.builder(file).withType(schema)
        .withConf(s.sparkContext.hadoopConfiguration).build()
      val rows = new SimpleGroupFactory(schema)
      try (0 until 3).foreach(i =>
        w.write(rows.newGroup().append("ts", 1700000000000000000L + i).append("id", i.toLong)))
      finally w.close()
      sameSchema(Seq(file.toString), s = s)
      assert(Tables.readParquet(s, file.toString).schema("ts").dataType == LongType)
    }
  }

  test("(e) an empty dir and a missing path fail with Spark's exception") {
    withDir { dir =>
      def failure(read: => DataFrame): Class[_] =
        intercept[Throwable](read.schema).getClass
      val empty = new java.io.File(dir, "empty")
      empty.mkdirs()
      val missing = new java.io.File(dir, "missing").getAbsolutePath
      for (p <- Seq(empty.getAbsolutePath, missing))
        assert(failure(Tables.readParquet(spark, p)) == failure(spark.read.parquet(p)), p)
    }
  }

  test("(f) a read-back through the helper launches no job before its action") {
    withDir { dir =>
      val root = new java.io.File(dir, "t").getAbsolutePath
      sample(spark).write.partitionBy("p").parquet(root)
      var back: DataFrame = null
      assert(Jobs.count(spark) { back = Tables.readParquet(spark, root) } == 0)
      assert(Jobs.count(spark) { spark.read.parquet(root) } == 1,
        "Spark's inference is the job the helper saves")
      assert(Jobs.count(spark) { back.write.format("noop").mode("overwrite").save() } >= 1)

      val table = new java.io.File(dir, "tx").getAbsolutePath
      ops.TxTable.stageAndCommit(sample(spark), table, append = false)
      assert(Jobs.count(spark) { back = ops.TxTable.read(spark, table) } == 0)
      assert(back.count() == 40)
    }
  }
}
