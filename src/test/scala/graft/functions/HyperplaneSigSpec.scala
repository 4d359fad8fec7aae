package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native hyperplane-signature kernel must be BIT-IDENTICAL to the
  * compositional decimal form the DuckDB oracles replay
  * ([[VectorFunctions.hyperplaneSignatureExact]]): same 9dp HALF_UP
  * rounding, same exact-decimal sum, same sign rule, same null-poisoning
  * on length mismatch. A single diverging bit silently re-buckets the
  * v02/v03/v05 candidate generation and breaks their oracles. */
class HyperplaneSigSpec extends SparkSpec {

  test("bit-identical to the compositional decimal form on the corpus") {
    val df = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    for (planes <- Seq(16, 32)) {
      val bad = df.select(
          VectorFunctions.hyperplaneSignatureExact(col("embedding"), planes)
            .as("want"),
          HyperplaneSigExact.hyperplaneSig(col("embedding"), planes)
            .as("got"))
        .filter(col("want") =!= col("got"))
      assert(bad.count() === 0L,
        s"planes=$planes diverged, e.g. ${bad.take(1).mkString}")
    }
  }

  test("the 32-plane signature's low 16 bits ARE the 16-plane signature") {
    // the adaptive band width reads planes 16-31 only beyond the fixture
    // SFs; this is the invariance that keeps every driver-SF bucket (and
    // so every v02/v03 oracle result) unchanged by the widening
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bad = df.select(
        HyperplaneSigExact.hyperplaneSig(col("embedding"), 16).as("s16"),
        HyperplaneSigExact.hyperplaneSig(col("embedding"), 32).as("s32"))
      .filter(col("s16") =!= (col("s32").bitwiseAND(lit(0xFFFFL))))
    assert(bad.count() === 0L)
  }

  test("bit-identical on adversarial values (ties at the 10th decimal, negatives, zero)") {
    import spark.implicits._
    val rows = Seq(
      Array.fill(64)(0.0f),
      Array.fill(64)(-0.0f),
      Array.tabulate(64)(j => (if (j % 2 == 0) 1 else -1) * 0.0000000005f),
      Array.tabulate(64)(j => (j - 32) * 0.1f),
      Array.tabulate(64)(j => math.sin(j * 1.7).toFloat * 1000f),
      Array.tabulate(64)(j => java.lang.Float.MIN_VALUE * (j + 1)))
    val df = rows.toDF("embedding")
    val bad = df.select(
        VectorFunctions.hyperplaneSignatureExact(col("embedding")).as("want"),
        HyperplaneSigExact.hyperplaneSig(col("embedding")).as("got"))
      .filter(col("want") =!= col("got"))
    assert(bad.count() === 0L, s"diverged: ${bad.take(1).mkString}")
  }

  test("length mismatch mirrors the composed form's null-poisoned zero") {
    import spark.implicits._
    val df = Seq(Array.fill(63)(1.0f), Array.fill(65)(1.0f)).toDF("embedding")
    val got = df.select(
      HyperplaneSigExact.hyperplaneSig(col("embedding")).as("got"))
      .collect().map(_.getLong(0))
    val want = df.select(
      VectorFunctions.hyperplaneSignatureExact(col("embedding")).as("want"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === want.toSeq)
    assert(got.forall(_ == 0L))
  }

  test("domain edges poison to signature 0: null element, |x| >= 1e4, huge (r14 advice)") {
    import spark.implicits._
    // null element: zip_with null-poisons every plane's sum in the
    // composed form — both forms must agree on 0
    val withNull = Seq(Seq.tabulate(64)(j =>
      if (j == 7) Option.empty[Float] else Some(0.5f))).toDF("embedding")
    val gotN = withNull.select(HyperplaneSigExact
      .hyperplaneSig(col("embedding"))).collect().head.getLong(0)
    val wantN = withNull.select(VectorFunctions
      .hyperplaneSignatureExact(col("embedding"))).collect().head.getLong(0)
    assert(gotN === 0L && wantN === 0L)
    // |x| >= 1e4 leaves the DECIMAL(13,9) term domain: the kernel must
    // poison to 0 rather than compute a signature the composed form
    // can't; |x| > ~9.2e9 used to throw from longValueExact — must be 0
    for (v <- Seq(10000f, 1e6f, 1e10f, Float.MaxValue)) {
      val df = Seq(Array.tabulate(64)(j => if (j == 3) v else 0.5f))
        .toDF("embedding")
      val row = df.select(
        HyperplaneSigExact.hyperplaneSig(col("embedding")).as("got"),
        VectorFunctions.hyperplaneSignatureExact(col("embedding")).as("want"))
        .collect().head
      assert(row.getLong(0) === 0L, s"value $v must poison the signature")
      assert(row.getLong(1) === 0L,
        s"the composed form must null-poison $v, not throw (ANSI guard)")
    }
  }

  test("the half-ulp band below 1e4 poisons like the composed form (r15 advice)") {
    import spark.implicits._
    // doubles in [10⁴ − ~5e-10, 10⁴) HALF_UP-round to 10000.000000000,
    // which overflows DECIMAL(13,9) in the composed cast — the guard must
    // test the ROUNDED value, so these poison to 0 even though |x| < 1e4;
    // the value just BELOW the band still rounds inside 13 digits and
    // must keep its real signature
    val inBand = math.nextDown(10000.0)             // rounds to 10^4
    val belowBand = 9999.9999999989                 // rounds to 9999.999999999
    val mk = (v: Double) => Array.tabulate(64)(j => if (j == 3) v else 0.5)
    val df = Seq(mk(inBand), mk(-inBand), mk(belowBand)).toDF("embedding")
    val rows = df.select(
        HyperplaneSigExact.hyperplaneSig(col("embedding")).as("got"),
        VectorFunctions.hyperplaneSignatureExact(col("embedding")).as("want"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"kernel and composed form diverged: $r"))
    assert(rows(0).getLong(0) === 0L && rows(1).getLong(0) === 0L,
      "the rounded-to-10^4 band must poison")
    assert(rows(2).getLong(0) !== 0L,
      "a value rounding inside DECIMAL(13,9) must keep its signature")
  }
}
