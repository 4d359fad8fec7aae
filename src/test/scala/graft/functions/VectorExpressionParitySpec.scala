package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Codegen/interpreted parity for the vector-kernel expressions, plus the
  * plan property the codegen exists for: the containing stage stays inside
  * whole-stage codegen (a CodegenFallback child would abort it for every
  * operator in the stage — the similarity family's proven hot path). */
class VectorExpressionParitySpec extends SparkSpec {
  import spark.implicits._

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** Evaluates `build` under forced-codegen and forced-interpreted
    * expression factories and returns both result sets. */
  private def bothModes[T](build: => Array[T]): (Array[T], Array[T]) = {
    val prev = spark.conf.get(FactoryMode)
    try {
      spark.conf.set(FactoryMode, "CODEGEN_ONLY")
      val gen = build
      spark.conf.set(FactoryMode, "NO_CODEGEN")
      val interp = build
      (gen, interp)
    } finally spark.conf.set(FactoryMode, prev)
  }

  // deterministic pseudo-random vectors, float and double flavors
  private def vecsF: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 64).map(i => (i.toLong,
      Array.fill(16)(rnd.nextFloat() * 2f - 1f),
      Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "a", "b")
  }

  test("cosine codegen and interpreted paths agree bitwise (float and double)") {
    def runF = vecsF
      .select(VectorExpressions.cosineSim($"a", $"b").as("c"))
      .as[Double].collect()
    val (genF, interpF) = bothModes(runF)
    assert(genF.sameElements(interpF), "float cosine parity broke")
    def runD = vecsF
      .select(VectorExpressions.cosineSim($"a".cast("array<double>"), $"b".cast("array<double>")).as("c"))
      .as[Double].collect()
    val (genD, interpD) = bothModes(runD)
    assert(genD.sameElements(interpD), "double cosine parity broke")
    // and the kernel matches a straightforward Scala computation
    val rows = vecsF.select($"a", $"b").as[(Array[Float], Array[Float])].collect()
    val expected = rows.map { case (a, b) =>
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(y => y.toDouble * y.toDouble).sum)
      if (na * nb == 0.0) 0.0 else dot / (na * nb)
    }
    genF.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
  }

  test("minhash codegen and interpreted paths agree exactly") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 32).map(i =>
      (i.toLong, Array.fill(20)(rnd.nextLong()))).toDF("id", "hashes")
    def run = docs
      .select($"id", VectorExpressions.minhash($"hashes").as("sig"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    val (gen, interp) = bothModes(run)
    gen.zip(interp).foreach { case ((gi, gs), (ii, is)) =>
      assert(gi === ii)
      assert(gs.sameElements(is), s"minhash parity broke at id $gi")
    }
    // and it matches the static kernel directly
    val inputs = docs.as[(Long, Array[Long])].collect().toMap
    gen.foreach { case (id, sig) =>
      assert(sig.sameElements(MinHashSignature.compute(inputs(id), 64)))
    }
  }

  test("cosine and minhash stay inside whole-stage codegen") {
    // needs a real scan underneath — over a local relation the projection
    // constant-folds into a LocalTableScan and no stage exists to inspect
    val df = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(
        VectorExpressions.cosineSim($"embedding", $"embedding").as("c"),
        VectorExpressions.minhash($"embedding".cast("array<bigint>")).as("sig"))
    val stages = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.toString }
    assert(stages.exists(s =>
      s.toLowerCase.contains("cosine") || s.contains("graft_cosine_sim")),
      s"cosine kernel fell out of whole-stage codegen:\n" +
        df.queryExecution.executedPlan.toString)
  }
}
