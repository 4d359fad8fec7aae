package graft

import graft.ops.ExportOps
import org.apache.spark.sql.functions._

/** Pins the properties that make [[AmplifySf]] a usable larger-SF bench
  * fixture: row counts scale ×X, keys stay unique, foreign keys resolve
  * inside each replica, and — the part that keeps every gate's work
  * LINEAR in X — replicas are decorrelated (disjoint shingle sets for
  * text, shifted `% k` residue classes for synthesized block keys,
  * rotated dims for embeddings) instead of X verbatim copies that would
  * square the near-dup candidate space. */
class AmplifySfSpec extends SparkSpec {

  private val X = 3
  private val src = "/root/testdata/sf0.001"

  // both amplified fixtures live in one scratch scope around the whole
  // suite, built lazily by the first test that reads them
  @volatile private var scratch: java.io.File = _
  override def run(testName: Option[String],
                   args: org.scalatest.Args): org.scalatest.Status =
    ExportOps.withScratch("graft_amp_spec", "spec") { d =>
      scratch = d
      super.run(testName, args)
    }

  private lazy val dir: String = {
    val out = new java.io.File(scratch, "linear")
    out.mkdirs()
    AmplifySf.amplify(spark, src, out.getAbsolutePath, X)
    out.getAbsolutePath
  }

  private def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
  private def base(name: String) = spark.read.parquet(s"$src/$name.parquet")

  test("row counts scale xX on scaling tables; region/nation stay fixed") {
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { n =>
      assert(t(n).count() === base(n).count() * X, s"table $n")
    }
    Seq("region", "nation").foreach { n =>
      assert(t(n).count() === base(n).count(), s"table $n")
    }
  }

  test("keys stay unique and foreign keys resolve within each replica") {
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id").foreach { case (n, k) =>
      val df = t(n)
      assert(df.select(k).distinct().count() === df.count(), s"$n.$k")
    }
    val orphans = t("orders").join(t("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count()
    assert(orphans === 0L, "orders must resolve to an amplified customer")
    // and the FK lands in the SAME replica: key*X+rep keeps rep = key % X
    val crossRep = t("orders")
      .filter(col("o_orderkey") % X =!= col("o_custkey") % X).count()
    assert(crossRep === 0L, "FK remap must stay replica-local")
  }

  test("replica text is shingle-disjoint (near-dup work scales xX, not xX²)") {
    // every replica of one base doc: token sets must be pairwise disjoint
    // (rep>0 tokens carry the x<letter> salt), so MinHash bands can't merge
    // replicas into shared candidate buckets
    val reps = t("documents")
      .withColumn("baseId", (col("doc_id") / X).cast("long"))
      .withColumn("rep", col("doc_id") % X)
      .filter(col("baseId") === 7L)
      .select(col("rep"), explode(split(col("text"), " ")).as("tok"))
    val shared = reps.groupBy(col("tok"))
      .agg(countDistinct(col("rep")).as("nrep"))
      .filter(col("nrep") > 1).count()
    assert(shared === 0L, "replicas must not share tokens")
    // and rep 0 keeps the original corpus verbatim
    val orig = base("documents").filter(col("doc_id") === 7L)
      .select("text").head().getString(0)
    val rep0 = t("documents").filter(col("doc_id") === 7L * X)
      .select("text").head().getString(0)
    assert(rep0 === orig, "rep 0 must preserve the base text")
  }

  test("key residue classes shift per replica (synthesized block keys split)") {
    // d23/d26 build titles from doc_id % 50: verbatim-offset replicas
    // would collide into identical residues; multiplication must spread
    // one base doc's replicas over DISTINCT residues (gcd(X,50)=1 for X=3)
    val res = t("documents")
      .withColumn("baseId", (col("doc_id") / X).cast("long"))
      .groupBy("baseId")
      .agg(countDistinct(col("doc_id") % 50).as("nres"))
      .agg(min("nres")).head().getLong(0)
    assert(res === X.toLong, s"each base doc must land $X distinct residues")
  }

  // Heaps fixture at a LARGER factor than the linear one: the synthetic
  // corpus carries only ~31 token types at every SF, so per-replica
  // statistics are coarse (sigma ~ 1/sqrt(31)); the CUMULATIVE vocabulary
  // over 9 replicas concentrates enough for a meaningful band.
  private val HX = 10
  private val HBeta = 0.8
  private lazy val heapsDir: String = {
    val out = new java.io.File(scratch, "heaps")
    out.mkdirs()
    AmplifySf.amplify(spark, src, out.getAbsolutePath, HX,
      vocabBeta = Some(HBeta))
    out.getAbsolutePath
  }
  private def th(name: String) = spark.read.parquet(s"$heapsDir/$name.parquet")

  test("heaps mode: cumulative vocabulary grows ~X^beta, far below xX") {
    def vocab(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(countDistinct(col("tok"))).head().getLong(0)
    val vBase = vocab(base("documents"))
    val vLinear = vocab(t("documents"))
    val vHeaps = vocab(th("documents"))
    // full salting re-mints every type per replica: exactly xX
    assert(vLinear === vBase * X, "linear mode must grow vocab xX")
    // Heaps mode: E[V(X)] = V·(1 + sum f(r)) = V·X^beta with each type an
    // independent Bernoulli(f(r)) per replica — band is 4 sigma of the
    // binomial sum, computed from the actual marginal fractions so the
    // pin stays valid if the driver regenerates the corpus with a
    // different vocabulary size
    val fs = (1 until HX).map(r =>
      math.pow(r + 1.0, HBeta) - math.pow(r.toDouble, HBeta))
    val expected = vBase * math.pow(HX, HBeta)
    val sigma = math.sqrt(vBase * fs.map(f => f * (1 - f)).sum)
    assert(math.abs(vHeaps - expected) <= 4 * sigma,
      s"heaps vocab $vHeaps vs expected ~${expected.toLong} ± ${4 * sigma} " +
        s"(base $vBase)")
    // and the whole point: far below the linear mode's V·X
    assert(vHeaps < 0.75 * vBase * HX,
      s"heaps vocab $vHeaps must stay well under linear ${vBase * HX}")
  }

  test("heaps mode: rep 0 verbatim; salts are type-consistent, letters-only") {
    val orig = base("documents").filter(col("doc_id") === 7L)
      .select("text").head().getString(0)
    val rep0 = th("documents").filter(col("doc_id") === 7L * HX)
      .select("text").head().getString(0)
    assert(rep0 === orig, "rep 0 must preserve the base text")
    val amp = th("documents")
      .withColumn("rep", col("doc_id") % HX)
      .withColumn("baseId", (col("doc_id") / HX).cast("long"))
      .filter(col("rep") > 0)
      .select(col("rep"), col("baseId"), split(col("text"), " ").as("atoks"))
    val btab = base("documents")
      .select(col("doc_id").as("baseId"), split(col("text"), " ").as("btoks"))
    val zipped = amp
      .join(btab, "baseId")
      .select(col("rep"), explode(arrays_zip(col("atoks"), col("btoks"))).as("z"))
      .select(col("rep"), col("z.btoks").as("base_tok"),
        col("z.atoks").as("amp_tok"))
    // a changed token is exactly base + "x" + the replica letter (t04's
    // token-shape contract: letters-only suffix, no digits/punctuation)
    val badShape = zipped.filter(col("amp_tok") =!= col("base_tok"))
      .filter(col("amp_tok") =!=
        concat(col("base_tok"), lit("x"), chr(col("rep") + lit(96))))
      .count()
    assert(badShape === 0L, "salted tokens must be base + x<letter>")
    // selection is per TYPE within a replica: all occurrences of a type
    // in one replica agree (salted or not)
    val inconsistent = zipped
      .groupBy(col("rep"), col("base_tok"))
      .agg(countDistinct(col("amp_tok") =!= col("base_tok")).as("n"))
      .filter(col("n") > 1).count()
    assert(inconsistent === 0L, "salt decision must be type-level per replica")
    // non-text properties are mode-independent: keys still unique
    assert(th("documents").select("doc_id").distinct().count()
      === th("documents").count())
  }

  test("embeddings rotate per replica: norms equal, cross-replica vectors differ") {
    val pairs = t("embeddings")
      .withColumn("rep", col("vec_id") % X)
      .withColumn("baseId", (col("vec_id") / X).cast("long"))
      .filter(col("baseId") === 5L)
      .select(col("rep"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(pairs.size === X)
    val norm0 = math.sqrt(pairs(0L).map(x => x * x.toDouble).sum)
    pairs.foreach { case (_, v) =>
      assert(math.abs(math.sqrt(v.map(x => x * x.toDouble).sum) - norm0) < 1e-4,
        "rotation must preserve the norm")
    }
    assert(pairs(0L) !== pairs(1L), "replica vectors must differ")
    assert(pairs(1L) !== pairs(2L), "replica vectors must differ")
  }
}
