package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an amplified sibling of a testdata scale-factor directory for
  * larger-SF benchmarking (`bench_sf1_*.json`): ×X rows per scaling table
  * with keys remapped so every foreign-key relationship stays intact
  * INSIDE a replica and no artificial cross-replica duplicate structure
  * appears. The remapping rules exist to keep every gate's work LINEAR in
  * X — naive replication (same content under offset ids) makes the
  * near-dup families superlinear as a pure fixture artifact:
  *
  *  - **Keys multiply, not offset**: `key*X + rep`. Offsets preserve
  *    `key % k` residues, and several gates synthesize join/block keys
  *    from id residues (d23/d26 titles use `doc_id % 50 / % 23`), so
  *    offset replicas would collide into the same blocks and square the
  *    per-block pair space. Multiplication shifts every replica's residue
  *    classes, so block keys differ across replicas and the candidate
  *    space scales ×X.
  *  - **Document text is token-salted per replica** (every token gets an
  *    `x<letter>` suffix, rep 1 → `xa`, rep 2 → `xb`, …; rep 0 keeps the
  *    original corpus): MinHash/SimHash band buckets merge on shared
  *    shingles, so verbatim replicas would put X copies in every bucket
  *    and grow candidate pairs ~X²/2. Salted tokens make replicas
  *    shingle-disjoint — each replica contributes its own natural
  *    near-dup pairs and the total scales ×X. The salt is LETTERS ONLY
  *    (r17, the sampled-sf1 sweep fix): the earlier `·r<rep>` form put a
  *    punctuation char and a digit inside every token, so the BPE-ish
  *    subword counter split each token at the letter/digit boundary and
  *    t04's bpeish-equals-whitespace-count equivalence — which holds on
  *    the natural corpus and which the DuckDB oracle replays — broke on
  *    every salted replica. A letters-only suffix preserves the token
  *    SHAPE the fixture's text statistics assume. Factors above 26 would
  *    need a second letter; the ctor rejects them.
  *  - **Embedding dimensions rotate per replica** (`dim i ← dim
  *    (i + 7·rep) mod d`): norm- and distribution-preserving, but
  *    cross-replica cosine decorrelates to the vectors' autocorrelation
  *    (≈0 for these), so LSH/IVF buckets don't collapse into ×X clumps.
  *  - **Events keep their timestamps**: ×X density in the same window is
  *    the realistic growth mode (more traffic, same day), and it keeps
  *    every watermark/session/interval-join gate's time math unchanged
  *    while scaling per-window state ×X.
  *  - region/nation stay fixed (TPC-H's own scaling rule).
  *
  * **Vocabulary modes.** Full per-replica salting grows the token
  * vocabulary LINEARLY in X (every replica re-mints every type), which a
  * real corpus does not do: Heaps' law says V(n) ≈ K·n^β with β ≈
  * 0.5-0.8, so a ×10 corpus should carry ~10^0.8 ≈ 6.3× the types, not
  * 10×. That distortion is invisible to most gates but systematically
  * overstates count-table growth for the LM family (t40/t12/t05/t19,
  * whose shuffle volume is ∝ vocabulary). `vocabBeta = Some(β)` enables
  * the Heaps mode: replica r salts only the token TYPES whose per-rep
  * hash falls below the MARGINAL Heaps increment
  * `f(r) = (r+1)^β − r^β` (f(1) = 2^β−1 ≈ 0.74, decreasing — later
  * replicas reuse more existing vocabulary, exactly the Heaps story);
  * unsalted occurrences keep their base type. Expected cumulative
  * vocabulary after X replicas is then V·(1 + Σ f(r)) = **V·X^β**
  * exactly. Selection hashes the TYPE (xxhash64(token, rep)), so all
  * occurrences of a type within a replica agree, and the occurrence-
  * weighted salted share equals f(r) in expectation (hash ⊥ frequency).
  * Trade-off, measured not hidden: a shingle survives unsalted only if
  * all its tokens do (≤ (1−f(r))³ ≈ 1-12% for β = 0.8, X ≤ 10), so
  * replicas are no longer strictly shingle-disjoint — cross-replica
  * Jaccard ≲ 0.06, far under every near-dup threshold, but the near-dup
  * CANDIDATE space gains a small cross-replica term. The default
  * (vocabBeta = None) therefore remains full salting for the dedup
  * families' fixtures; the Heaps fixture is for LM-family scale stamps.
  *
  * Usage: `runMain graft.AmplifySf <srcSfDir> <dstDir> <factor>
  * [heaps[:beta]]`; the bench then runs with
  * `SPARK_GRAFT_SF_DIR=<dstDir>`. Place the dst as `<root>/sf1` next to
  * a `sf0.001` (symlink is fine) so Bench's warm-up resolves the small
  * sibling.
  */
object AmplifySf {

  def amplify(s: SparkSession, src: String, dst: String, x: Int,
              parts: Int = 32, vocabBeta: Option[Double] = None): Unit = {
    require(x >= 1 && x <= 26,
      s"amplification factor $x outside [1, 26]: the single-letter token " +
        "salt runs out of alphabet (see the salting scaladoc)")
    val rep = explode(expr(s"sequence(0L, ${x - 1}L)")).as("rep")
    def rk(c: String) = (col(c) * x + col("rep")).as(c)
    // repartition before write: the driver's testdata ships one file per
    // table, and a small parquet file is ONE scan partition (row groups
    // don't split), which serializes every map-side kernel onto a single
    // thread — a layout artifact, not an engine property. A table 10×
    // the size would be multi-file on any real lakehouse; writing `parts`
    // part files makes the amplified set scan-parallel like one.
    def write(df: DataFrame, table: String): Unit =
      df.drop("rep").repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    def read(table: String) = s.read.parquet(s"$src/$table.parquet")

    Seq("region", "nation").foreach(t =>
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet"))
    write(read("customer").select(col("*"), rep)
      .withColumn("c_custkey", rk("c_custkey")), "customer")
    write(read("supplier").select(col("*"), rep)
      .withColumn("s_suppkey", rk("s_suppkey")), "supplier")
    write(read("part").select(col("*"), rep)
      .withColumn("p_partkey", rk("p_partkey")), "part")
    write(read("orders").select(col("*"), rep)
      .withColumn("o_orderkey", rk("o_orderkey"))
      .withColumn("o_custkey", rk("o_custkey")), "orders")
    write(read("lineitem").select(col("*"), rep)
      .withColumn("l_orderkey", rk("l_orderkey"))
      .withColumn("l_partkey", rk("l_partkey"))
      .withColumn("l_suppkey", rk("l_suppkey")), "lineitem")
    write(read("events").select(col("*"), rep)
      .withColumn("event_id", rk("event_id"))
      .withColumn("user_id", rk("user_id")), "events")
    // rep 0 keeps the original text so the base corpus' exact statistics
    // survive in the amplified set; n_chars stays consistent with text
    def saltTok(w: org.apache.spark.sql.Column) =
      concat(w, lit("x"), chr(col("rep") + lit(96)))
    // Salt-aliasing guard, BOTH modes (r19 review): the salt shape is
    // base+"x"+letter, so a BASE token already ending in x+<used letter>
    // would alias a salted type of its stem — in full mode the unsalted
    // rep-0 copy collides with a salted replica (vocab < V·X, replicas no
    // longer shingle-disjoint); in Heaps mode it skews the V·X^β pin.
    // Letters actually used are 'a'..chr(96+x−1) (rep ∈ [1, x)), so the
    // range is bounded by x — a base token ending "xz" is harmless below
    // x = 26. Fail loudly (one distinct-token scan, builder-side only,
    // never benched).
    if (x >= 2) {
      val hi = ('a' + x - 2).toChar
      val aliased = read("documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike(s"x[a-$hi]$$")).distinct().limit(5)
        .collect().map(_.getString(0))
      require(aliased.isEmpty,
        s"replica salting aliases base tokens ending in x<letter<=$hi>: " +
          s"${aliased.mkString(", ")} — pick a different salt shape")
    }
    val salted = vocabBeta match {
      case None =>
        // full salting: replicas strictly shingle-disjoint, vocab ×X
        array_join(transform(split(col("text"), " "), w => saltTok(w)), " ")
      case Some(beta) =>
        require(beta > 0.0 && beta <= 1.0, s"Heaps beta $beta outside (0, 1]")
        // marginal Heaps increments, per-ten-thousand (basis-point)
        // thresholds per replica: round(10000·f(r)) compared against
        // pmod(hash, 10000)
        // (element_at is 1-indexed: slot r holds f(r) for rep = r)
        val th = (1 until math.max(x, 2)).map(r => lit(math.round(
          10000.0 * (math.pow(r + 1.0, beta) - math.pow(r.toDouble, beta)))))
        array_join(transform(split(col("text"), " "), w =>
          when(pmod(xxhash64(w, col("rep")), lit(10000L)) <
              element_at(array(th: _*), col("rep").cast("int")),
            saltTok(w)).otherwise(w)), " ")
    }
    write(read("documents").select(col("*"), rep)
      .withColumn("doc_id", rk("doc_id"))
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(salted))
      .withColumn("n_chars", length(col("text"))), "documents")
    write(read("embeddings").select(col("*"), rep)
      .withColumn("vec_id", rk("vec_id"))
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(sequence(lit(0), size(col("embedding")) - 1),
            i => element_at(col("embedding"),
              ((i + col("rep").cast("int") * 7) % size(col("embedding"))) + 1))
            .cast("array<float>"))), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factor) = args.take(3)
    val vocabBeta = args.lift(3).map { m =>
      require(m.startsWith("heaps"), s"unknown vocab mode '$m' (heaps[:beta])")
      m.split(':').lift(1).map(_.toDouble).getOrElse(0.8)
    }
    val spark = GraftSession.builder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, src, dst, factor.toInt, vocabBeta = vocabBeta)
    Tables.all.foreach { t =>
      println(s"[amplify] $t rows=" +
        spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }
}
