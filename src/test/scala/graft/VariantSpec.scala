package graft

import org.apache.spark.sql.functions._

/** Spark 4 VARIANT surface pins for q86: the binary semi-structured type
  * must survive a parquet round-trip (the storage half of "parse once"),
  * and extraction must be null-safe on absent paths. */
class VariantSpec extends SparkSpec {

  test("VARIANT columns round-trip through parquet with typed extraction") {
    import spark.implicits._
    ops.ExportOps.withScratch("graft_variant", "spec") { out =>
      val src = Seq(
        (1L, """{"k": 7, "tags": ["a", "b"], "meta": {"d": 2.5}}"""),
        (2L, """{"k": 9}"""),
        (3L, """{"other": true}""")).toDF("id", "props")
        .withColumn("v", parse_json(col("props")))
      src.select(col("id"), col("v")).write.parquet(s"$out/data")
      val back = spark.read.parquet(s"$out/data")
      assert(back.schema("v").dataType.typeName === "variant",
        s"v must read back as VARIANT, got ${back.schema("v").dataType}")
      val rows = back
        .select(col("id"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("variant_get(v, '$.meta.d', 'double')").as("d"),
          expr("variant_get(v, '$.tags[1]', 'string')").as("t1"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          Option(r.getString(3)))).sortBy(_._1).toSeq
      assert(rows === Seq(
        (1L, Some(7L), Some(2.5), Some("b")),
        // absent paths extract as null, not as an error — the property
        // that lets one extraction expression serve heterogeneous rows
        (2L, Some(9L), None, None),
        (3L, None, None, None)))
    }
  }
}
