package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.SimHash64.simhash64

import scala.util.chaining._

/** Deduplication operators for LLM-scale training-data pipelines
  * (SURVEY.md §2.6): exact, key-based, MinHash+LSH near-dup, SimHash, and
  * n-gram Jaccard verification.
  *
  * Scale design: every variant is a hash-partitioned groupBy/join — no
  * driver-side state, no O(n²) all-pairs stage. MinHash/SimHash candidate
  * generation bounds the pair space by banding (pairs only form inside a
  * band bucket), which is the standard web-scale dedup topology: at 100 TB
  * the band-bucket join shuffles each doc's signature slices, not the corpus
  * cross product.
  */
object DedupOps {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Registry of this object's live .cache() handles. The caches are
    * per-query-build shared subtrees (both sides of a self-join consume
    * them), so they cannot unpersist inside the builder — but a long-lived
    * session accumulates entries per query invocation otherwise. Runners
    * call [[unpersistCaches]] after their actions complete; as a backstop
    * for callers that never do (interactive sessions, test suites), the
    * registry is capped — on overflow the least-recently-registered cache
    * is unpersisted, so memory use is bounded regardless of caller
    * discipline (an evicted cache silently recomputes if re-used; never
    * wrong, at worst slower). Keyed by the CANONICALIZED plan: Spark's
    * CacheManager dedupes same-plan cache() calls to one storage entry,
    * so re-registering the same subtree must refresh its slot, not count
    * toward the cap — otherwise a run over many queries sharing one cache
    * would evict that cache while still hot. */
  private val liveCaches = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true)
  private val maxLiveCaches = 32

  private def cached(df: DataFrame): DataFrame = synchronized {
    val c = df.cache()
    val key = c.queryExecution.analyzed.canonicalized.toString()
    liveCaches.put(key, c)
    while (liveCaches.size() > maxLiveCaches) {
      val it = liveCaches.entrySet().iterator()
      val oldest = it.next()
      it.remove()
      oldest.getValue.unpersist(blocking = false)
    }
    c
  }

  /** Releases every cache this object has registered (non-blocking). */
  def unpersistCaches(): Unit = synchronized {
    liveCaches.values().forEach(_.unpersist(false))
    liveCaches.clear()
  }

  /** Registry access for sibling operator objects (TextOps's LM model
    * tables): same capped lifecycle, same release point. */
  private[ops] def cachedShared(df: DataFrame): DataFrame = cached(df)

  /** Exact dedup: canonical keeper (min doc_id) per identical text. */
  private def d01(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")
      .orderBy("keeper_id")

  /** Key-based dedup (dropDuplicates-by-subset semantics, made deterministic
    * by keeping the min id per key instead of an arbitrary row). */
  private def d02(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_in_group"))
      .orderBy("lang", "source")

  /** Deterministic MinHash signature over xxhash64'd 3-word shingles,
    * computed by the one-pass native expression (see VectorExpressions for
    * why the compositional lambda form was quadratic). */
  def minhashSignatures(s: SparkSession, df: DataFrame, numHashes: Int = 64): DataFrame =
    df.select(col("doc_id"),
      graft.functions.VectorExpressions.minhash(
        s, graft.functions.ShingleHashes.shingleHashes(s, col("text")),
        numHashes).as("minhash"))

  /** LSH banding: split the signature into `bands` bands of `rows` values,
    * hash each band, and emit (band_idx, band_hash, doc_id). Docs sharing
    * any band bucket become candidate pairs.
    */
  def lshCandidates(signatures: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame = {
    // cached: both sides of the self-join consume this subtree, and Spark
    // does not share it across join branches on its own
    val banded = signatures.select(col("doc_id"), posexplode(
      array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("minhash"), b * rows + 1, rows))): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
      .pipe(cached)
    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash near-dup candidates with ESTIMATED Jaccard — the
    * matching-signature-slot fraction, the sketch-only screen a pipeline
    * runs when it can't afford the exact set verify (d10's job). Re-keyed
    * (r14) onto the md5-portable 8-slot signature family, so the estimate
    * — not just the candidate set — is oracle-checked in DuckDB; the
    * xxhash64 kernel ([[minhashSignatures]]/[[lshCandidates]]) remains the
    * documented fast in-engine path. Estimates are exact multiples of
    * 1/8: no float-comparison hazard at the 0.5 cut. */
  private def d03(s: SparkSession, d: String): DataFrame = {
    val matched = (0 until 8).map(i =>
      when(array_min(transform(col("hv_a"), affine(i))) ===
        array_min(transform(col("hv_b"), affine(i))), 1).otherwise(0))
      .reduce(_ + _)
    bandedPairSides(s, d)
      .select(col("doc_a"), col("doc_b"),
        (matched.cast("double") / 8.0).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash signatures via the custom codegen'd Catalyst expression
    * ([[graft.functions.SimHash64]] — native `doGenCode`, the tight
    * primitive vote loop), fed 60-bit md5 SHINGLE hashes (r14 re-key):
    * shingle-grain SimHash is the classic Charikar web-dedup sketch, and
    * the md5 keying makes the signature — including the expression's
    * strict-majority vote rule — reproducible bit-for-bit by the DuckDB
    * oracle. d11 stays the token-grain sibling built from composed column
    * expressions; this gate pins the native expression against an
    * independent engine. */
  private def d04(s: SparkSession, d: String): DataFrame =
    simhashFrame(s, d).orderBy("doc_id")

  /** The (doc_id, simhash) frame d04 exposes and d06 self-joins: the
    * native [[graft.functions.Md5ShingleHashes]] 60-bit kernel (identical
    * to `conv(substring(md5(shingle), 1, 15), 16, 10)`, which the oracle
    * replays) feeding the SimHash64 vote expression. */
  private def simhashFrame(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        simhash64(s, graft.functions.Md5ShingleHashes
          .md5ShingleHashes(s, col("text"), k = 3, hexChars = 15))
          .as("simhash"))

  /** Exact n-gram Jaccard verification of MinHash candidates at the
    * 4-GRAM grain (r14 re-key onto the md5 path): same band-block →
    * exact-verify topology as d10, but over 4-word shingles with a 0.6
    * cut — the longer window is stricter about local word order, the
    * standard knob a pipeline tunes per corpus (d10 keeps the 3-gram/0.7
    * operating point). Exercises the shingle-width parameterization of
    * the shared kernel end-to-end against the oracle. */
  private def d05(s: SparkSession, d: String): DataFrame =
    bandedPairSidesOf(cached(shingleHashFrame4(docs(s, d))))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_union(col("hv_a"), col("hv_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dup pairs: band d04's 60-bit md5-shingle signature into
    * four 15-bit chunks (a pair within Hamming distance 3 must agree on
    * ≥1 chunk — pigeonhole, complete by construction), join per chunk,
    * verify with bit_count(xor). Fully oracled since the r14 re-key: the
    * chunk buckets, the Hamming verify, and the ≤3 cut are all integer
    * math DuckDB replays exactly. */
  private def d06(s: SparkSession, d: String): DataFrame = {
    // cached: the self-join consumes the signature frame twice — without
    // the cache each side recomputes the full corpus signature pass
    val sigs = cached(simhashFrame(s, d))
    val chunked = sigs.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until 4).map(i =>
        shiftright(col("simhash"), 15 * i).bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Dedup-against-reference (SURVEY.md §2.2): drop documents whose exact
    * text already exists in a reference corpus — left-anti join, the
    * incremental-ingest dedup shape (new shard vs existing lake). The
    * "reference corpus" here is the first docs of the same table. */
  private def d07(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val reference = all.filter(col("doc_id") < 100).select(col("text"))
    all.filter(col("doc_id") >= 100)
      .join(reference, Seq("text"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** End-to-end TWO-STAGE corpus dedup (r14 re-key, oracled): stage 1
    * collapses byte-identical texts to their min-id keeper on a cheap
    * md5(text) group — the pass every production pipeline runs first,
    * because it shrinks the expensive near-dup stage's input for free;
    * stage 2 runs the md5-MinHash band → exact-verify → drop-doc_b pass
    * over the exact survivors only. Distinct from d12 (near-only over the
    * whole corpus): here exact dupes never reach the shingle kernel.
    * Returns the surviving ids. */
  private def d08(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val exactKeep = dd
      .groupBy(md5(col("text")).as("th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val survivors = dd.join(exactKeep, Seq("doc_id"), "left_semi")
    val losers = bandedPairSidesOf(cached(shingleHashFrame(survivors)))
      .filter(size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
        size(array_union(col("hv_a"), col("hv_b"))).cast("double") >= 0.7)
      .select(col("doc_b").as("doc_id")).distinct()
    survivors.select("doc_id").join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Canonical md5-MinHash constants/mix live in [[TextFunctions]] (also
    * the SQL surface, `graft_md5_minhash`); these aliases keep the dedup
    * operators reading naturally. */
  private val MinHashP = TextFunctions.MinHashP
  private def affine(i: Int): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    TextFunctions.minhashAffine(i)

  /** doc_id + 28-bit md5 base hash per distinct shingle: one md5 per
    * shingle total — the 8 signature slots derive from it by affine mixing
    * instead of 8 separate md5 passes, and downstream joins carry compact
    * long arrays, never the shingle strings. Public over any (doc_id,
    * text) frame so index builders (d22) and arrival batches share the
    * exact kernel. Computed by the native [[graft.functions.Md5ShingleHashes]]
    * kernel — bit-identical to the compositional
    * `TextFunctions.md5ShingleHashes` the oracles replay, without the
    * per-shingle interpreted-lambda/hex-string cost (the r14 sf1 run
    * measured the tree form at ~2 ms/doc, dominating the dedup scans). */
  def shingleHashFrame(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      graft.functions.Md5ShingleHashes
        .md5ShingleHashes(df.sparkSession, col("text")).as("hv"))

  /** The 4-gram-grain twin of [[shingleHashFrame]] (d05's operating
    * point): same 28-bit md5 identities over 4-word shingles. */
  private def shingleHashFrame4(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      graft.functions.Md5ShingleHashes
        .md5ShingleHashes(df.sparkSession, col("text"), k = 4).as("hv"))

  private def withShingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashFrame(docs(s, d))

  /** LSH band table over a (doc_id, hv) frame: 4 bands × 2 affine-mixed
    * signature slots packed into one long per band — the banding
    * [[md5VerifiedPairs]] self-joins on, exposed so a persisted index's
    * band table (d22) is built by the identical expression. */
  def bandFrame(hvDf: DataFrame): DataFrame = {
    val sigCol = (i: Int) => array_min(transform(col("hv"), affine(i)))
    hvDf.select(col("doc_id"), posexplode(
      array((0 until 4).map(b =>
        sigCol(2 * b) * lit(1L << 29) + sigCol(2 * b + 1)): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band")
  }

  /** MD5-family MinHash: slot i = min over the shingle set of an affine mix
    * of the md5 base hash. md5 is engine-portable, so unlike the xxhash64
    * path (d03, the fast in-engine one) this MinHash is DuckDB-oracle-
    * checkable end-to-end. Same distributed shape: one projection, no
    * shuffle. */
  private def d09(s: SparkSession, d: String): DataFrame = {
    val sigs = (0 until 8).map(i =>
      array_min(transform(col("hv"), affine(i))).as(s"sig$i"))
    withShingleHashes(s, d).select(col("doc_id") +: sigs: _*).orderBy("doc_id")
  }

  /** Verified near-dup pairs on the md5-MinHash path: LSH bands (4 bands x
    * 2 slots, packed into one long) block the pair space; candidate id
    * pairs are deduped FIRST (longs only), then the hashed shingle sets
    * join back for the Jaccard verify — set semantics identical to the
    * string sets up to negligible 28-bit collisions (same move d05 makes
    * with 64-bit hashes), and long-array intersects are far cheaper to
    * shuffle and compare. */
  private def md5VerifiedPairs(s: SparkSession, d: String): DataFrame =
    bandedPairSides(s, d)
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_union(col("hv_a"), col("hv_b"))).cast("double")).as("jaccard"))

  /** Band-blocked candidate pairs with both hashed shingle sets attached —
    * the shared verify input of [[md5VerifiedPairs]] (resemblance), d30
    * (containment), d03 (sketch estimate), and — over their own base
    * frames — d05 (4-gram grain) and d08 (exact-survivor stage 2). */
  private def bandedPairSides(s: SparkSession, d: String): DataFrame =
    bandedPairSidesOf(cached(withShingleHashes(s, d)))

  /** [[bandedPairSides]] over an arbitrary pre-cached (doc_id, hv) frame
    * (the caller caches: banding + both verify sides consume it). */
  private def bandedPairSidesOf(base: DataFrame): DataFrame = {
    val banded = bandFrame(base)
    val pairs = banded.select(col("band_idx"), col("band"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_idx"), col("band"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val a = base.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"))
    pairs.join(a, "doc_a").join(b, "doc_b")
  }

  /** d30: containment screening — the subset-duplicate case resemblance
    * misses: a short document wholly contained in a longer one has high
    * containment |A∩B|/|A| but LOW Jaccard (the big doc's extra shingles
    * dilute the union), so the d10 ≥0.7 screen never fires. Output is
    * every banded candidate pair whose max one-sided containment ≥ 0.7,
    * with both containments and the Jaccard for triage (pairs where
    * containment fires but Jaccard doesn't are exactly the
    * subset-duplicates). Candidates come from the SAME resemblance
    * bands as d10 — documented recall caveat: a containment pair whose
    * MinHash signatures never collide is invisible to this pass (the
    * production fix is banding on the SMALLER doc's signature, same
    * topology), mirroring d23's documented-gap discipline.
    *
    * Set semantics are explicit distincts so duplicate shingle hashes
    * cannot skew either denominator. */
  private def d30(s: SparkSession, d: String): DataFrame =
    bandedPairSides(s, d)
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_distinct(col("hv_a"))).cast("double")).as("cont_a"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_distinct(col("hv_b"))).cast("double")).as("cont_b"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_union(col("hv_a"), col("hv_b"))).cast("double")).as("jaccard"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.7)
      .orderBy("doc_a", "doc_b")

  /** d31: token-sort fingerprint dedup — the word-order-insensitive exact
    * pass between d01 (byte-exact) and MinHash (fuzzy): sorting a doc's
    * tokens canonicalizes reorderings (shuffled sentence fragments,
    * re-ordered list items, template field permutations), so reordered
    * copies collapse to one md5 fingerprint while any token
    * insertion/deletion still separates them. The harness plants
    * token-reversed twins (`doc_id+100000`) that byte-exact dedup
    * provably cannot pair — `n_exact_distinct > 1` inside a fingerprint
    * group is the catch made visible.
    *
    * Scale shape: the fingerprint is per-row expression work (tokenize +
    * `array_sort` + md5 — the sort is per-DOC, bounded by doc length, not
    * a shuffle), then ONE hash-partitioned groupBy on the 32-byte md5 —
    * d01's exact topology with a canonicalized key, so the 100 TB cost
    * is identical to exact dedup. */
  private def d31(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", reverse(TextFunctions.tokens(col("text")))).as("text"))
    base.unionByName(variants)
      .select(col("doc_id"), md5(col("text")).as("exact_md5"),
        md5(concat_ws(" ",
          array_sort(TextFunctions.tokens(col("text"))))).as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_members"),
        countDistinct(col("exact_md5")).as("n_exact_distinct"))
      .select("keeper_id", "n_members", "n_exact_distinct")
      .orderBy("keeper_id")
  }

  /** d33: cross-source duplication audit — the provenance question a
    * curation pipeline answers before mixing corpora: how much of source
    * A's content already lives in source B? Each source's DISTINCT
    * 3-token-shingle set (60-bit md5 identity — the portable d09 family)
    * joins pairwise on shingle hash; the output is per-ordered-pair
    * shared-shingle counts with set sizes and Jaccard. Pairs sharing
    * nothing don't appear (inner join — the oracle mirrors this).
    *
    * Scale shape: one explode + distinct (hash shuffle on (source, h)),
    * one self equi-join ON THE HASH (shuffles shingle sets, never a
    * source × source cross product — the join output is bounded by
    * shingle collisions, not by |A|·|B|), two broadcast-sized count
    * joins. The per-source audit a 100 TB mixing run performs between
    * CommonCrawl snapshots before token-budget allocation (t17). */
  private def d33(s: SparkSession, d: String): DataFrame = {
    // cached: the distinct shingle-set frame feeds the count agg AND both
    // sides of the self-join — uncached it re-runs the explode+distinct
    // shuffle four times (measured 4.8 → ~1.4 s at sf0.1)
    val sh = cachedShared(docs(s, d)
      .select(col("source"),
        explode(graft.functions.Md5ShingleHashes
          .md5ShingleHashes(s, col("text"), k = 3, hexChars = 15)).as("h"))
      .distinct())
    val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    shared
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n").as("n_a"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        round(col("shared_shingles").cast("double") /
          (col("n_a") + col("n_b") - col("shared_shingles")).cast("double"),
          6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** d34: SORTED-NEIGHBORHOOD fuzzy-candidate generation — the third
    * blocking topology next to d23's quadratic blocks and d26's
    * multi-pass union: deduplicate exact titles first (the documented
    * production order — d01's job), SORT the distinct titles, and verify
    * each title only against its next [[SnmWindow]] neighbors in sort
    * order. Cost is O(titles · w) levenshtein calls instead of d23's
    * per-block quadratic — the shape that stays affordable when a block
    * collapses (one hot prefix holding 10^6 titles costs d23 10^12
    * pairs and d34 3·10^6). Recall is positional: a 1-2-edit pair is
    * found iff fewer than w other titles sort between them — tail edits
    * (this fixture's) sort adjacent to their base and are caught; a
    * FIRST-char edit teleports across the sort order and needs d26's
    * multi-key passes. The sort key is the title itself within a prefix
    * block (the window partitions by block, orders by title — one hash
    * shuffle + in-partition sort; at corpus scale the same neighborhood
    * runs over a RANGE shuffle, q114's machinery, with w-row partition
    * overlap). Fully oracled: DuckDB re-derives the identical
    * neighborhoods with `lead` and the same integer levenshtein. */
  private def d34(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(col("source"), lit("-"), (id % 50).cast("string"),
      lit(" report"))
    val title = when(id % 20 === 7,
        expr("substring(title_base, 1, length(title_base) - 1)"))
      .when(id % 10 === 7, concat(col("title_base"), lit("x")))
      .otherwise(col("title_base"))
    val reps = docs(s, d)
      .select(id, base.as("title_base"))
      .select(id, title.as("title"))
      .groupBy(col("title")).agg(min(col("doc_id")).as("rep"))
      .withColumn("pfx", substring(col("title"), 1, 6))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pfx"))
      .orderBy(col("title"), col("rep"))
    val nbrs = (1 to SnmWindow).map { i =>
      reps.select(col("rep").as("id_x"), col("title").as("title_x"),
        lead(col("rep"), i).over(w).as("id_y"),
        lead(col("title"), i).over(w).as("title_y"))
    }.reduce(_ unionByName _)
    nbrs.filter(col("id_y").isNotNull)
      .withColumn("dist", levenshtein(col("title_x"), col("title_y")))
      .filter(col("dist").between(1, 2))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("dist").cast("long").as("dist"))
      .orderBy("id_a", "id_b")
  }

  /** SNM neighborhood width: each title verifies against its next 3
    * sort-order neighbors. */
  private val SnmWindow = 3

  /** d35: LSH candidate-generation QUALITY evaluation — pairwise
    * precision / recall / F1 of the banded candidate pairs against
    * exact-Jaccard gold (θ = 0.5), the measurement a pipeline runs before
    * trusting its dedup recall at scale. Gold is complete by
    * construction: every pair with J > 0 shares ≥ 1 shingle hash, so
    * shared-shingle blocking followed by the exact set verify enumerates
    * ALL qualifying pairs — no bands, no sketch, no silent misses.
    *
    * The fixture's natural near-dups all sit at J ≥ 0.9 where the 4-band
    * S-curve catches everything, so the gate SALTS the corpus with mid-J
    * planted variants (`doc_id + 200000`, every 10th token corrupted →
    * J ≈ 0.51-0.64, the regime where a 2-slot band matches with
    * probability J² and all four miss with (1−J²)⁴ ≈ 25%): recall
    * becomes a real measurement of the banding's miss rate (≈ 0.75-0.80
    * here), not 1.0 by construction — the d31/d26 planted-adversary
    * pattern applied to the evaluator itself. F1 is computed as
    * 2·tp/(n_cand+n_gold) ≡ 2PR/(P+R), integer-derived so the rounding
    * is engine-exact.
    *
    * Scale shape: the banded side is the production candidate pass (two
    * keyed shuffles); the gold side costs Σ df² over shingle blocks —
    * QUADRATIC in the worst case (a narrow vocabulary makes every doc
    * pair share a shingle), so the eval runs over a DETERMINISTIC
    * uniform document sample capped at audit grain: sample modulus
    * max(1, n/1000) derived from count(*) in BOTH engines (the
    * d23/d26 adaptive-universe pattern), docs where
    * doc_id % mod = 0 kept, plants keyed on (doc_id DIV mod) % 10 so
    * the salting survives any modulus. mod = 1 at the driver-gated SFs
    * (≤1000 docs — results byte-identical to the unsampled form); past
    * the knee the eval corpus pins at ~1000 docs + 100 plants, so gold
    * cost is CONSTANT in corpus size — the explicit, documented cap
    * (metrics are sample estimates there; pair inclusion p² corrects
    * both the numerators and denominators identically, which is why
    * precision/recall remain unbiased). */
  private def d35(s: SparkSession, d: String): DataFrame = {
    val sampleMod = math.max(1L, docs(s, d).count() / 1000L)
    val base = docs(s, d).filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id"), col("text"))
    val variants = base
      .filter(expr(s"(doc_id DIV $sampleMod) % 10 = 3"))
      .select((col("doc_id") + 200000L).as("doc_id"),
        array_join(transform(TextFunctions.tokens(col("text")),
          (t, i) => when(i % 10 === 0, concat(t, lit("_x"))).otherwise(t)),
          " ").as("text"))
    val hvF = cached(shingleHashFrame(base.unionByName(variants)))
    // predicted: the raw banded candidate pairs (the thing under test)
    val banded = bandFrame(hvF)
    val cand = banded
      .select(col("band_idx"), col("band"), col("doc_id").as("doc_a"))
      .join(banded
        .select(col("band_idx"), col("band"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // gold: shared-shingle blocking (complete for J > 0) + exact verify
    val ex = hvF.select(col("doc_id"), explode(col("hv")).as("uh"))
    val gpairs = ex.select(col("doc_id").as("doc_a"), col("uh"))
      .join(ex.select(col("doc_id").as("doc_b"), col("uh")), Seq("uh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val gold = gpairs
      .join(hvF.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")),
        "doc_a")
      .join(hvF.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")),
        "doc_b")
      .filter(size(array_intersect(col("hv_a"), col("hv_b"))).cast("double")
        / size(array_union(col("hv_a"), col("hv_b"))).cast("double")
        >= 0.5)
      .select("doc_a", "doc_b")
    val tp = cand.join(gold, Seq("doc_a", "doc_b"))
    def nz(c: org.apache.spark.sql.Column) =
      when(c === 0, lit(null)).otherwise(c)
    gold.agg(count(lit(1)).as("n_gold"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(tp.agg(count(lit(1)).as("tp")))
      .select(col("n_gold"), col("n_cand"), col("tp"),
        round(col("tp").cast("double") / nz(col("n_cand")), 6)
          .as("precision"),
        round(col("tp").cast("double") / nz(col("n_gold")), 6).as("recall"),
        round(lit(2.0) * col("tp") / nz(col("n_cand") + col("n_gold")), 6)
          .as("f1"))
  }

  /** d36: contamination blast radius — bounded-hop BFS over the verified
    * near-dup graph from a flagged seed set: "these documents are poisoned
    * / DMCA'd / benchmark-leaked; what else must go?" The removal set is
    * NOT the seeds' components (d14's answer — at lake scale a giant
    * component over-removes) and NOT the direct neighbors (chains of
    * drifted copies escape): it is everything within k hops, here k = 3,
    * with each doc labeled its MINIMUM hop distance.
    *
    * The natural corpus's near-dup components are almost all size-2, so
    * the gate plants CHAINS (the d35 salting pattern taken one step
    * further): for every flagged doc three successive variants
    * (+300k/+400k/+500k), each link corrupting a DIFFERENT period-20
    * token class — adjacent links sit at J ≈ 0.75 (edges), two-apart at
    * J ≈ 0.55 (no shortcut edges, probed: 0 across both driver SFs), so
    * hop distances 1, 2, 3 are real path lengths through the graph, not
    * clique artifacts.
    *
    * Scale shape: edges are the production banded+verified pair set (two
    * keyed shuffles, never all-pairs); the BFS is k bounded Pregel-style
    * rounds — frontier ⋈ edges then a min-hop re-aggregation, each one
    * hash shuffle on doc_id, state bounded by |reached| × k. k is a
    * policy constant, so the whole radius costs k joins regardless of
    * corpus size — this is how GraphFrames/Pregel would run it, without
    * the RDD detour. Fully DuckDB-oracled: the oracle replays the BFS as
    * a depth-bounded recursive CTE over the same replayed edge set. */
  private def d36(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    def corrupt(df: DataFrame, idOff: Long, offset: Int, tag: String) =
      df.select((col("doc_id") + idOff).as("doc_id"),
        array_join(transform(TextFunctions.tokens(col("text")),
          (t, i) => when(i % 20 === offset, concat(t, lit(tag)))
            .otherwise(t)), " ").as("text"))
    val flagged = base.filter(col("doc_id") % 10 === 3)
    val va = corrupt(flagged, 300000L, 0, "_a")
    val vb = corrupt(va, 100000L, 7, "_b")
    val vc = corrupt(vb, 100000L, 14, "_c")
    val hvF = cached(shingleHashFrame(
      base.unionByName(va).unionByName(vb).unionByName(vc)))
    val vp = bandedPairSidesOf(hvF)
      .filter(size(array_intersect(col("hv_a"), col("hv_b"))).cast("double")
        / size(array_union(col("hv_a"), col("hv_b"))).cast("double")
        >= 0.7)
      .select("doc_a", "doc_b")
    val edges = cached(
      vp.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(vp.select(col("doc_b").as("src"),
          col("doc_a").as("dst"))))
    // k bounded BFS rounds; each round expands only the newest frontier
    // and re-aggregates to min hop, so a doc reached twice keeps the
    // shorter path and never re-expands at a larger depth
    var dist = flagged.select(col("doc_id").as("v"), lit(0L).as("hops"))
    for (h <- 1 to 3) {
      val nxt = dist.filter(col("hops") === (h - 1))
        .join(edges, col("v") === col("src"))
        .select(col("dst").as("v"), lit(h.toLong).as("hops"))
      dist = dist.unionByName(nxt)
        .groupBy(col("v")).agg(min(col("hops")).as("hops"))
    }
    dist.select(col("v").as("doc_id"), col("hops")).orderBy("doc_id")
  }

  /** d32: near-dup-cluster-aware train/test split — the PREVENTION half
    * of what d24 audits: assigning splits per DOCUMENT (q51) lets two
    * near-duplicate docs land on opposite sides of the train/eval fence,
    * leaking training content into evaluation. The leak-free rule splits
    * per CLUSTER: every doc inherits its near-dup component's
    * representative (min doc_id; unclustered docs represent themselves),
    * and the q51 md5-bucket rule applies to the REPRESENTATIVE — so a
    * whole cluster moves together, by construction. Costs d14's
    * components (banded pairs, never all-pairs) + one left join + the
    * same per-row split expression; nothing new is corpus-quadratic. */
  private def d32(s: SparkSession, d: String): DataFrame = {
    val comps = connectedComponents(
      md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
        .select("doc_a", "doc_b"))
      .select(col("node").as("doc_id"), col("label").as("rep"))
    val b = Hashing.md5Bucket100(col("rep"))
    docs(s, d).select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .orderBy("doc_id")
  }

  /** d37: per-escape-class recall of the fuzzy-dedup blocking topologies —
    * the d35 measurement discipline applied to d23/d26: instead of PROSE
    * caveats ("edits inside the first 6 chars escape the prefix block"),
    * the gate PLANTS one gold variant per class and reports each
    * pipeline's measured recall per class. Classes (each a deterministic
    * corruption of a unique, length-canonicalized title — padded to
    * length ≡ 1 mod 4 so class membership, not length accidents,
    * determines the outcome):
    *   - `tail`      last char dropped (dist 1): inside d23's single
    *     prefix block — BOTH pipelines must catch it;
    *   - `head`      char prepended (dist 1): provably escapes the prefix
    *     pass (the key shifts), caught only by d26's suffix pass;
    *   - `straddle`  last TWO chars dropped (dist 2): prefix matches but
    *     length crosses the `DIV 4` bucket — escapes d23's exact-bucket
    *     join, caught only by the ±1 probe;
    *   - `both_ends` prepend + tail drop (dist 2, length unchanged): BOTH
    *     block keys shift — the documented residual escape of the
    *     two-pass design, measured at recall 0 instead of argued.
    * Titles embed the raw doc_id (unique per doc), so gold pairs are
    * exact by construction and block density stays bounded by the
    * id-digit granularity at every SF; the blocking key length ramps with
    * the corpus exactly like d26. Recall only — candidate PRECISION is
    * d35's measurement; base-title near-collisions ('…-12 item…' vs
    * '…-13 item…') are legitimate candidates, not eval noise.
    *
    * Scale shape: both pipelines are the production fuzzyPairs kernel
    * (per-block quadratic, two key shuffles, never corpus-quadratic);
    * gold is planted, not enumerated — nothing here is quadratic, so the
    * eval runs UNSAMPLED at any SF. */
  private def d37(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val padded = docs(s, d)
      .select(id, concat(col("source"), lit("-"), id.cast("string"),
        lit(" item record")).as("tb"))
      .select(id, concat(col("tb"),
        expr("repeat('p', (1 - (length(tb) % 4) + 4) % 4)")).as("title"))
    val variants = padded.filter(id % 10 >= 1 && id % 10 <= 4)
      .select((id + 400000L).as("doc_id"),
        when(id % 10 === 1, expr("substring(title, 1, length(title) - 1)"))
          .when(id % 10 === 2, concat(lit("q"), col("title")))
          .when(id % 10 === 3, expr("substring(title, 1, length(title) - 2)"))
          .otherwise(concat(lit("q"),
            expr("substring(title, 1, length(title) - 1)"))).as("title"),
        when(id % 10 === 1, lit("tail")).when(id % 10 === 2, lit("head"))
          .when(id % 10 === 3, lit("straddle"))
          .otherwise(lit("both_ends")).as("class"))
    val titled = padded.select(id, col("title"))
      .unionByName(variants.select(id, col("title")))
    val (nDocs, maxId) = Tables.fixtureStat(d, "docs_count_maxid") {
      val r = docs(s, d).agg(count(lit(1)), max(id)).head()
      // max() is NULL on an empty corpus — no ids, no collision possible
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }
    // planted-variant ids live at doc_id + 400000: past ~400k docs they
    // would silently collide with real ids and pollute the recall eval
    // (invisibly — the oracle replays the same arithmetic). Fail loudly
    // instead, like AmplifySf's factor check.
    require(maxId < 400000L,
      s"d37 planted-variant offset 400000 collides with real doc_ids (max=$maxId); raise the offset")
    val keyLen = // d26's corpus-ramped key length, same at both call sites
      math.min(12, 6 + math.max(0, (nDocs / 1000L).toString.length - 1))
    val gold = variants.select((id - 400000L).as("id_a"), id.as("id_b"),
      col("class"))
    def recallOf(label: String, pairs: DataFrame): DataFrame =
      gold.join(pairs, Seq("id_a", "id_b"), "left")
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n_gold"), count(col("dist")).as("n_caught"))
        .select(lit(label).as("pipeline"), col("class"), col("n_gold"),
          col("n_caught"),
          round(col("n_caught").cast("double") / col("n_gold"), 6).as("recall"))
    recallOf("single_pass",
        fuzzyPairs(titled, Seq("pfx"), keyLen, adjacentProbes = false))
      .unionByName(recallOf("multi_pass", fuzzyPairs(titled, keyLen = keyLen)))
      .orderBy("pipeline", "class")
  }

  /** d38: containment recall below the band-collision floor — d30's
    * documented caveat ("a containment pair whose MinHash signatures
    * never collide is invisible to this pass") turned into a measurement,
    * plus the production fix measured next to it. Plants: every 10th
    * sufficiently long doc contributes a SNIPPET (its first fifth,
    * ≥ 3 tokens) — containment exactly 1.0 by the prefix-shingle subset
    * property, Jaccard ≈ |snip|/|doc| ≈ 0.15, far below the 4×2 banding's
    * reliable zone (collision ≈ 1-(1-J²)⁴ ≈ 0.09 there). Methods:
    *   - `resemblance_bands`: d30's candidate generator (the d10 bands)
    *     — measured recall ~0.06-0.12, the number the caveat was hiding;
    *   - `prefix_filter`: the similarity-join prefix-filtering principle
    *     at containment θ→1: each doc probes its single SMALLEST shingle
    *     hash against an inverted shingle index — a true subset must
    *     contain the subset's minimum, so planted recall is 1.0 by
    *     construction AND measured.
    * Output also carries the gold pairs' avg Jaccard and min containment,
    * pinning that the eval really sits in the high-containment/low-J
    * regime.
    *
    * Scale shape: the inverted index is one shingle explode (the d33
    * topology, linear in corpus shingles) and the probe side is ONE key
    * per doc; candidate volume is bounded by the df of min-shingles — a
    * production deployment caps probe-shingle df (dropping
    * stopword-shingle anchors costs only pairs whose entire overlap is
    * stopwords). Gold is planted, never enumerated — nothing quadratic. */
  private def d38(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"),
      TextFunctions.tokens(col("text")).as("toks"))
    // same collision guard as d37, but LAZY: evaluated in-row during the
    // gate's own corpus scan (no separate driver-side agg action inflating
    // the benched path — r18 ADVICE), raising on the first doc_id at/above
    // the +500000 snippet offset. An empty corpus trivially passes (d37's
    // eager max() needed a null check for that; here no rows = no check).
    val guardedId = when(col("doc_id") < 500000L, col("doc_id"))
      .otherwise(raise_error(concat(
        lit("d38 snippet-id offset 500000 collides with real doc_id "),
        col("doc_id").cast("string"), lit("; raise the offset"))))
    val snips = base.filter(col("doc_id") % 10 === 5 && size(col("toks")) >= 15)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat_ws(" ", slice(col("toks"), lit(1),
          greatest(lit(3), expr("size(toks) DIV 5")))).as("text"))
    val hvF = cached(shingleHashFrame(
      docs(s, d).select(guardedId.as("doc_id"), col("text")).unionByName(snips)))
    val banded = bandFrame(hvF)
    val cand = banded
      .select(col("band_idx"), col("band"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_idx"), col("band"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val probe = hvF.select(col("doc_id").as("p_id"), array_min(col("hv")).as("h"))
    val inv = hvF.select(col("doc_id").as("i_id"), explode(col("hv")).as("h"))
    val pf = probe.join(inv, "h").filter(col("p_id") =!= col("i_id"))
      .select(least(col("p_id"), col("i_id")).as("doc_a"),
        greatest(col("p_id"), col("i_id")).as("doc_b"))
      .distinct()
    val gold = snips.select((col("doc_id") - 500000L).as("doc_a"),
      col("doc_id").as("doc_b"))
    val gstats = gold
      .join(hvF.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
      .join(hvF.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
      .select(
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_distinct(concat(col("hv_a"), col("hv_b")))).cast("double"))
          .as("jaccard"),
        (size(array_intersect(col("hv_a"), col("hv_b"))).cast("double") /
          size(array_distinct(col("hv_b"))).cast("double")).as("cont_b"))
      .agg(round(avg(col("jaccard")), 6).as("gold_avg_jaccard"),
        round(min(col("cont_b")), 6).as("gold_min_containment"))
    def recallOf(label: String, pairs: DataFrame): DataFrame =
      gold.join(pairs.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_gold"), count(col("hit")).as("n_caught"))
        .select(lit(label).as("method"), col("n_gold"), col("n_caught"),
          round(col("n_caught").cast("double") /
            when(col("n_gold") === 0, lit(null)).otherwise(col("n_gold")), 6)
            .as("recall"))
    recallOf("resemblance_bands", cand)
      .unionByName(recallOf("prefix_filter", pf))
      .crossJoin(gstats)
      .orderBy("method")
  }

  /** Near-dup candidates + exact verify, oracle-checkable end-to-end — the
    * fully-portable twin of d05. */
  private def d10(s: SparkSession, d: String): DataFrame =
    md5VerifiedPairs(s, d)
      .filter(col("jaccard") >= 0.7)
      .orderBy("doc_a", "doc_b")

  /** MD5-family SimHash (oracle-checkable twin of d04): token hash = the
    * top 60 bits of md5 (15 hex chars — fits a signed long in any engine),
    * signature bit j set iff more than half the tokens have bit j set
    * (sign-of-sum majority; ties clear the bit). Pure per-row array
    * expressions — zero shuffle, same as d04. */
  private def d11(s: SparkSession, d: String): DataFrame = {
    val withHs = docs(s, d).select(col("doc_id"),
      transform(TextFunctions.tokens(col("text")),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("hs"))
    val n = size(col("hs"))
    val sig = (0 until 60).map { j =>
      when(size(filter(col("hs"), h =>
        shiftright(h, j).bitwiseAND(lit(1L)) === 1L)) * 2 > n, lit(1L << j))
        .otherwise(0L)
    }.reduce(_ + _)
    withHs.select(col("doc_id"), sig.as("simhash60")).orderBy("doc_id")
  }

  /** End-to-end corpus dedup on the md5-MinHash path (oracle-checkable twin
    * of d08): near-dup losers (the higher id of any verified pair) drop,
    * survivors remain. Same band-block -> exact-verify -> anti-join
    * topology. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    val losers = md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
      .select(col("doc_b").as("doc_id")).distinct()
    docs(s, d).select("doc_id").join(losers, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation (the Pregel-style pattern): every node adopts
    * the minimum label among itself and its neighbors until fixpoint.
    * This is the transitive-closure step pairwise dedup (d08/d12's
    * drop-the-doc_b rule) cannot express: with pairs (a,c) and (b,c) the
    * pairwise rule keeps BOTH a and b even though they are connected
    * through c — components collapse the whole chain to one keeper.
    * Each round is one join + one aggregation, O(component diameter)
    * rounds, labels hash-partitioned by node — no driver-side graph
    * state; lineage truncates per round so the plan stays bounded at any
    * number of rounds. Truncation uses RELIABLE checkpointing when the
    * session has a checkpoint dir and runs on a real cluster (a
    * localCheckpoint block lives in non-replicated executor storage, so an
    * executor loss mid-iteration would fail the whole query
    * unrecoverably); in local mode, or with no checkpoint dir configured,
    * it falls back to localCheckpoint — fine there, since executor ==
    * driver process. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    def truncate(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (!sc.isLocal && sc.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    }
    val edges = truncate(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var labels = truncate(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var changed = 1L
    var round = 0
    val maxRounds = 50
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val propagated = labels
        .join(neighborMin, labels("node") === neighborMin("src"), "left")
        .select(labels("node").as("node"),
          least(labels("label"), coalesce(col("nlabel"), labels("label")))
            .as("label"),
          labels("label").as("prev_label"))
      // pointer jump (path halving): also adopt the label of one's current
      // label, so long chains converge in O(log diameter) rounds instead of
      // O(diameter) — a 1M-node chain closes in ~20 rounds, not 1M
      val byNode = propagated.select(col("node").as("j_node"), col("label").as("j_label"))
      val next = truncate(propagated
        .join(byNode, propagated("label") === byNode("j_node"), "left")
        .select(propagated("node").as("node"),
          least(propagated("label"), coalesce(col("j_label"), propagated("label")))
            .as("next_label"),
          col("prev_label")))
      changed = next.filter(col("next_label") < col("prev_label")).count()
      labels = next.select(col("node"), col("next_label").as("label"))
      round += 1
    }
    // an unconverged result is silently WRONG clustering — fail loudly
    require(changed == 0,
      s"connectedComponents did not converge within $maxRounds rounds")
    labels
  }

  /** d14: near-dup clusters as connected components of the verified
    * md5-MinHash pairs — doc_id → component id (the component's min
    * doc_id). Oracle: DuckDB recursive transitive closure over the same
    * pairs. */
  private def d14(s: SparkSession, d: String): DataFrame =
    connectedComponents(
      md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
        .select("doc_a", "doc_b"))
      .select(col("node").as("doc_id"), col("label").as("component"))
      .orderBy("doc_id")

  /** Benchmark decontamination: flag training documents that share any
    * 3-token shingle with a held-out eval set (every 50th doc). The
    * standard n-gram-overlap contamination check, in its distributed
    * shape: explode the (hashed) shingle sets, equi-join train x eval on
    * the shingle hash — overlap pairs only ever form on matching shingles,
    * never a document cross product — then count distinct shared shingles
    * and distinct eval docs hit. */
  private def d13(s: SparkSession, d: String): DataFrame = {
    val exploded = withShingleHashes(s, d)
      .select(col("doc_id"), explode(col("hv")).as("h"))
      .distinct()
    val train = exploded.filter(col("doc_id") % 50 =!= 0)
    val eval_ = exploded.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    train.join(eval_, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** Incremental (continuous-ingestion) dedup: a NEW batch of documents is
    * screened against the EXISTING corpus instead of re-deduping the world
    * — the shape every ingestion pipeline runs per arrival. The batch =
    * the docs with doc_id % 5 == 4 plus synthesized exact-copy arrivals
    * (id+100000, text of every 50th existing doc), so all three outcomes
    * occur. Screens, in precedence order:
    *  1. exact: md5(text) equi-join against the existing corpus's content
    *     hashes (at scale: the persisted content-hash index);
    *  2. near: md5-MinHash banded pairs ([[md5VerifiedPairs]]) restricted
    *     to pairs straddling the batch boundary — in production the
    *     existing side's signatures come from the persisted index, so only
    *     new-batch bands probe; here the shared cache plays that role.
    * Everything is equi-joins on hashes/bands — the new batch never cross
    * joins the corpus. */
  private def d16(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 5 === 4
    val all = docs(s, d)
    val copies = all.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val incoming = all.filter(isNew).select(col("doc_id"), col("text"))
      .unionByName(copies)
    val existingHashes = all.filter(!isNew)
      .select(md5(col("text")).as("th")).distinct()
    val exactDups = incoming.select(col("doc_id"), md5(col("text")).as("th"))
      .join(existingHashes, Seq("th"))
      .select(col("doc_id")).distinct()
      .withColumn("is_exact", lit(true))
    val straddling = md5VerifiedPairs(s, d)
      .filter(col("jaccard") >= 0.7 &&
        ((col("doc_a") % 5 === 4) =!= (col("doc_b") % 5 === 4)))
    val nearDups = straddling
      .select(when(col("doc_a") % 5 === 4, col("doc_a")).otherwise(col("doc_b"))
        .as("doc_id"))
      .distinct()
      .withColumn("is_near", lit(true))
    incoming.select(col("doc_id"))
      .join(exactDups, Seq("doc_id"), "left")
      .join(nearDups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  /** URL-level dedup — the first pass of every web-scale crawl pipeline:
    * canonicalize each document's URL (lowercase scheme+host, strip the
    * default port, tracking params, fragment, and trailing slash), then
    * keep the lowest doc_id per canonical URL. One hash-partitioned
    * groupBy on the canonical string — no shuffle beyond it, and the
    * canonicalization chain is pure regexp projections (codegen'd).
    * The documents fixture has no URL column, so one is synthesized
    * deterministically (messy case/port/query/fragment variants) from
    * doc_id + source — the same fixture-synthesis pattern as GeotabSynth. */
  private def d15(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "https").otherwise("HTTPS"), lit("://"),
      when(id % 3 === 0, "WWW.").otherwise("www."), col("source"), lit(".Example.COM"),
      when(id % 5 === 0, ":443").otherwise(""),
      lit("/articles/"), (id % 50).cast("string"),
      when(id % 4 === 0, "/").otherwise(""),
      when(id % 3 === 0, "?utm_source=feed&utm_medium=rss")
        .when(id % 3 === 1, concat(lit("?id="), (id % 5).cast("string")))
        .otherwise(""),
      when(id % 7 === 0, concat(lit("#sec"), (id % 9).cast("string"))).otherwise(""))
    // canonicalization chain — identical regex steps on both engines:
    // fragment, case of scheme://host, default port, utm_* params,
    // "/?" collapse, trailing slash
    val noFrag = regexp_replace(url, "#.*$", "")
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([^/]*//[^/]*)", 1)),
      regexp_replace(noFrag, "^[^/]*//[^/]*", ""))
    val noPort = regexp_replace(lowered, ":443/", "/")
    val noUtm = regexp_replace(regexp_replace(noPort, "utm_[^&]*&?", ""), "[?&]$", "")
    val canon = regexp_replace(regexp_replace(noUtm, "/\\?", "?"), "/$", "")
    docs(s, d)
      .select(id, canon.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).cast("long").as("n_dupes"))
      .orderBy("canonical_url")
  }

  /** Chunk-level dedup screening over any (doc_id, text) frame — public so
    * the spec can verify on synthetic corpora. CCNet (Wenzek et al. 2020)
    * dedups at paragraph granularity; documents here carry no paragraph
    * breaks, so the unit is a fixed window of `chunkTokens` tokens (the
    * trailing partial chunk included). Shape: explode a chunk INDEX per doc
    * (cheap integer `sequence`), hash each chunk in a plain projection
    * (codegen'd, never inside a lambda — the t13/minhash trap), then two
    * key-partitioned shuffles: chunk-hash → distinct-doc count, and doc_id
    * → the per-doc duplicated-chunk fraction. Grouping is on the 128-bit
    * md5, not the chunk text, so at 100 TB the shuffle carries 32-byte
    * keys instead of kilobyte paragraphs. */
  def chunkDedup(df: DataFrame, chunkTokens: Int = 16): DataFrame = {
    val k = chunkTokens
    val chunks = cached(df
      .select(col("doc_id"),
        TextFunctions.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1),
          ceil(size(col("toks")) / lit(k.toDouble)).cast("int"))).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), (col("i") - 1) * k + 1, lit(k)), " "))
          .as("ch")))
    val counts = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(counts, "ch")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
      .withColumn("flagged", col("dup_chunk_frac") > 0.3)
  }

  /** d17: duplicated-chunk fraction per document (the CCNet paragraph-dedup
    * signal) over the corpus. */
  private def d17(s: SparkSession, d: String): DataFrame =
    chunkDedup(docs(s, d)).orderBy("doc_id")

  /** Bloom-screened incremental exact dedup over any incoming/existing
    * split — public for the spec. The existing corpus's content hashes
    * fold into a Bloom filter built entirely IN-PLAN: a one-row binary
    * `BloomFilterAggregate` (the aggregate Spark's own `InjectRuntimeFilter`
    * emits — distributed partial sketches, only bitsets merge), broadcast
    * into the incoming side, probed by the codegen'd
    * `BloomFilterMightContain` expression. The probe pre-filters the
    * incoming batch BEFORE the verify join: definite non-members (the vast
    * majority of a fresh crawl) never shuffle, and unlike the previous
    * Scala-UDF probe the screen stays inside whole-stage codegen. Bloom
    * filters have no false negatives, so every true duplicate survives the
    * probe; false positives are eliminated by the exact equi-join behind
    * it — the final output is deterministic and oracle-checkable despite
    * the sketch. Keys enter the filter as xxhash64 longs on both sides
    * (the same move InjectRuntimeFilter makes), so the 128-bit content
    * hash never feeds the sketch directly.
    *
    * Both frames must carry (doc_id, th = content hash). `incoming` must
    * be unique per doc_id: the final status join is keyed on doc_id, so
    * duplicate doc_id rows would fan out and could take their label from
    * the wrong copy — aggregate arrivals to one row per doc_id first.
    * Sizing: the aggregate's (nItems, nBits) come from the existing-side
    * count at 1% fpp; Spark caps them at
    * `spark.sql.optimizer.runtime.bloomFilter.max{NumItems,NumBits}`
    * (4M / 64M-bit defaults) — raise those confs for a 100 TB index, or
    * the fpp degrades gracefully (never incorrectly). */
  def bloomScreen(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val s = incoming.sparkSession
    graft.functions.GraftFunctions.registerAll(s)
    val ex = cached(existing.select(col("th")).distinct())
    val n = math.max(ex.count(), 1L)
    // optimal bit count for fpp=0.01 (the standard -n·ln p / ln²2 formula)
    val nBits = math.max(64L,
      math.ceil(-n * math.log(0.01) / (math.log(2) * math.log(2))).toLong)
    // one-row binary aggregate, attached as a SCALAR SUBQUERY — the shape
    // might_contain requires (it rejects a join attribute), and the same
    // plan InjectRuntimeFilter emits: the subquery runs once, its bitset
    // ships to every probe task as a constant
    val bf = ex.agg(call_function("graft_bloom_agg",
      xxhash64(col("th")), lit(n), lit(nBits)).as("bf"))
    val dups = incoming
      .filter(call_function("graft_might_contain", bf.scalar(), xxhash64(col("th"))))
      .join(ex, Seq("th"), "left_semi")
      .select(col("doc_id"))
      .withColumn("is_dup", lit(true))
    incoming.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_dup"), "exact_dup").otherwise("kept").as("status"))
  }

  /** d18: the Bloom screen on the d16-style ingestion split (batch = ids
    * % 5 == 4 plus synthesized exact-copy arrivals at id+200000). */
  private def d18(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val isNew = col("doc_id") % 5 === 4
    val copies = all.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    val incoming = all.filter(isNew).select(col("doc_id"), col("text"))
      .unionByName(copies)
      .select(col("doc_id"), md5(col("text")).as("th"))
    val existing = all.filter(!isNew)
      .select(col("doc_id"), md5(col("text")).as("th"))
    bloomScreen(incoming, existing).orderBy("doc_id")
  }

  /** d21: sliding duplicated-n-gram fraction (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for each
    * document, the fraction of its sliding 8-token n-grams that occur in
    * at least one OTHER document — the memorization-risk signal that
    * motivates substring-level dedup, at the granularity the paper's
    * suffix-array pass targets (d17's fixed chunks are the coarser CCNet
    * unit). Same scale topology as d17: integer-sequence explode, gram
    * md5 in a codegen'd projection (32-byte shuffle keys), gram-hash →
    * distinct-doc count, doc_id re-aggregation — two key-partitioned
    * shuffles, never an all-pairs stage. Documents shorter than n tokens
    * have no n-grams and are excluded (the paper's pass skips them too). */
  def dupNgramFraction(df: DataFrame, n: Int = 8): DataFrame = {
    val grams = cached(df
      .select(col("doc_id"),
        TextFunctions.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("i"), lit(n)), " ")).as("gh")))
    val counts = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    grams.join(counts, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_ngram_frac",
        col("n_shared").cast("double") / col("n_grams").cast("double"))
      .withColumn("memorization_risk", col("dup_ngram_frac") > 0.5)
  }

  private def d21(s: SparkSession, d: String): DataFrame =
    dupNgramFraction(docs(s, d)).orderBy("doc_id")

  /** d27: cross-document duplicated-SPAN removal — the dedup ACTION d21's
    * metric implies (Lee et al. 2022's ExactSubstr move at token grain):
    * a token position is contaminated when any n-token window covering it
    * also occurs in another document; contaminated runs merge into
    * maximal spans, which are cut from the text. Per document: span
    * count, tokens removed, and the cleaned text.
    *
    * Scale shape — every step is keyed, never quadratic: window hashes
    * form in a codegen'd projection (32-byte md5 keys on the wire, never
    * the token strings); duplicated hashes come from one gram-hash
    * aggregation; covered positions explode ×n and dedup on (doc_id,
    * pos); spans are gaps-and-islands — ONE doc-partitioned window; the
    * cleaned text is rebuilt by the keyed form (position explode →
    * anti-join the covered set → ordered reassembly) rather than a
    * per-row `array_contains` filter, which would be O(n²) for a
    * pathological document — the same trap t15's mode computation
    * avoids, avoided the same way. A 100k-token document distributes
    * across the cluster at every stage.
    *
    * Public over any (doc_id, text) frame so the spec can plant shared
    * runs and verify spans/cleaning exactly. */
  def dupSpanRemoval(df: DataFrame, n: Int = 8): DataFrame = {
    val toksDf = df.select(col("doc_id"),
      TextFunctions.tokenize(col("text"), "space").as("toks"))
    val grams = cached(toksDf.filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("toks"), col("i"), lit(n)), " ")).as("gh")))
    val dup = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val covered = grams.join(dup, "gh")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = covered
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("n_dup_tokens"))
    val kept = toksDf
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        e => e.getField("token")), " ").as("cleaned_text"))
    toksDf.select(col("doc_id"))
      .join(spans, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  private def d27(s: SparkSession, d: String): DataFrame =
    dupSpanRemoval(docs(s, d)).orderBy("doc_id")

  /** d23: edit-distance fuzzy dedup over short strings (titles/names) —
    * the dedup family the hash signatures don't cover: MinHash/SimHash
    * need token sets, but "Tle Quick Fox" vs "The Quick Fox" differs by
    * one CHARACTER, invisible to shingles yet edit distance 1. Titles are
    * synthesized deterministically (every 10th doc carries a one-char
    * tail corruption of its base title). Blocking: candidate pairs form
    * only inside a (6-char prefix, length bucket) block — one equi-join
    * key; the leading chars are the DISCRIMINATIVE part of the title
    * (source + item number), so blocks stay small instead of the corpus
    * collapsing into one bucket, and the pair space is per-block
    * quadratic, never corpus-quadratic. Two documented single-pass
    * escapes, both closed by d26's multi-pass blocking: (1) edits inside
    * the first 6 chars land in different prefix blocks; (2) the `length
    * DIV 4` bucket is exact, so a ±1-char edit whose base length sits on
    * a bucket boundary (L % 4 == 0 for the char-drop case) crosses
    * buckets and is undetectable by construction — d26 probes adjacent
    * length buckets. `levenshtein` is integer Wagner-Fischer —
    * engine-exact, fully oracled. */
  private def d23(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    // SF-adaptive title universe: a real corpus' title space grows with
    // the corpus, so the synthesized one must too or block density (and
    // the per-block quadratic verify) grows linearly with SF as a pure
    // fixture artifact — the r14 sf1 run measured exactly that. The
    // modulus is unchanged at every driver-gated SF (max(50, n/100) = 50
    // up to sf0.1) and both engines derive it from the same count.
    val mod = math.max(50L, docs(s, d).count() / 100L)
    val base = concat(col("source"), lit("-"), (id % mod).cast("string"),
      lit(" report"))
    // deterministic tail edits, past the blocking prefix: every 20th doc
    // drops its last char, every other 10th appends a stray one
    val title = when(id % 20 === 7,
        expr("substring(title_base, 1, length(title_base) - 1)"))
      .when(id % 10 === 7, concat(col("title_base"), lit("x")))
      .otherwise(col("title_base"))
    val titled = docs(s, d)
      .select(id, base.as("title_base"))
      .select(id, title.as("title"))
      .select(id, col("title"),
        substring(col("title"), 1, 6).as("pfx"),
        expr("length(title) DIV 4").as("lenb")) // integer div, like the oracle's //
    val a = titled.select(col("pfx"), col("lenb"), col("doc_id").as("id_a"),
      col("title").as("title_a"))
    val b = titled.select(col("pfx"), col("lenb"), col("doc_id").as("id_b"),
      col("title").as("title_b"))
    a.join(b, Seq("pfx", "lenb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("title_a"), col("title_b")))
      .filter(col("dist").between(1, 2)) // 0 = exact dups, d01's job
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .orderBy("id_a", "id_b")
  }

  /** d26: multi-pass fuzzy dedup — the production form of d23, closing
    * both of its documented recall escapes. Titles here carry edits at
    * BOTH ends (head: dropped/prepended first char; tail: d23's dropped/
    * appended last char), and candidate pairs come from the UNION of two
    * blocking passes over the same titled frame: a prefix block (first 6
    * chars — catches tail edits) and a suffix block (last 6 chars —
    * catches the head edits that provably escape the prefix pass). Both
    * passes probe the length bucket AND its ±1 neighbors (one side
    * explodes its bucket into {b-1, b, b+1} probe keys, keeping the join
    * strictly equi on (block, probe)), so a ±1-char edit straddling a
    * `length DIV 4` boundary can't escape either. Candidates dedupe as
    * long id pairs before the single `levenshtein` verify — per-block
    * quadratic, two key shuffles, never corpus-quadratic; the 3× explode
    * multiplies one side's block keys, not the corpus rows carried into
    * the verify. */
  /** The d26 kernel over any (doc_id, title) frame, public for the recall
    * specs: candidate pairs from the union of the requested blocking
    * passes ("pfx" = first `keyLen` chars, "sfx" = last `keyLen`), each
    * probing the `length DIV 4` bucket AND its ±1 neighbors (one side
    * explodes its bucket into three probe keys, keeping the join strictly
    * equi on (block, probe)), then one exact `levenshtein` verify.
    * Callers with a growing corpus should derive `keyLen` from the corpus
    * count (see d26) so blocks don't densify with scale. */
  def fuzzyPairs(titledIn: DataFrame,
                 passes: Seq[String] = Seq("pfx", "sfx"),
                 keyLen: Int = 6,
                 adjacentProbes: Boolean = true): DataFrame = {
    val titled = cached(titledIn.select(col("doc_id"), col("title"),
      substring(col("title"), 1, keyLen).as("pfx"),
      expr(s"substring(title, greatest(length(title) - ${keyLen - 1}, 1), " +
        s"$keyLen)").as("sfx"),
      expr("length(title) DIV 4").as("lenb")))
    def pass(key: String) = {
      // adjacentProbes=false degrades to the exact-bucket single-probe
      // form (d23's topology) — the d37 recall eval runs both to MEASURE
      // what the ±1 probing buys
      val probes =
        if (adjacentProbes) array(col("lenb") - 1, col("lenb"), col("lenb") + 1)
        else array(col("lenb"))
      val a = titled
        .select(col(key).as("k"), col("doc_id").as("id_a"),
          explode(probes).as("probe"))
      val b = titled.select(col(key).as("k"), col("lenb").as("probe"),
        col("doc_id").as("id_b"))
      a.join(b, Seq("k", "probe"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }
    passes.map(pass).reduce(_ unionByName _).distinct()
      .join(titled.select(col("doc_id").as("id_a"), col("title").as("title_a")),
        "id_a")
      .join(titled.select(col("doc_id").as("id_b"), col("title").as("title_b")),
        "id_b")
      .withColumn("dist", levenshtein(col("title_a"), col("title_b")))
      .filter(col("dist").between(1, 2))
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  private def d26(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    // same SF-adaptive universe rule as d23 (see there); the item modulus
    // ramps at n/100 so the suffix-block space grows with the corpus —
    // at fixed 23 the sfx pass would collapse every SF's growth into 23
    // buckets and square the verify. The ramp WAS n/500 (suffix density
    // pinned at ~500 docs/block past the knee → ~25M levenshtein
    // candidates at sf1, the 5.2× residual in the r16 sf1 artifact);
    // n/100 pins density at ~100/block — candidates stay linear in n
    // with a 5× smaller constant. Driver-gated SFs are unaffected
    // (500-doc sf0.01 floors at 23 under both ramps) and the oracle
    // derives the same modulus from the same count.
    val nDocs = docs(s, d).count()
    val mod50 = math.max(50L, nDocs / 100L)
    val mod23 = math.max(23L, nDocs / 100L)
    // SF-adaptive blocking-key length (the r14 verdict's d26 scale fix):
    // the moduli gain a decimal digit per corpus decade, so FIXED 6-char
    // keys truncate ever more discriminative digits and the blocks
    // densify ~10× per decade (sf1 audit: 10.5× time at ×10 data). One
    // extra key char per decade keeps docs-per-block ~constant. The
    // digits formula is INTEGER arithmetic (length of n/1000 in decimal),
    // so the oracle recomputes it exactly — no float log at a power-of-10
    // boundary. 6 at the gated SFs (≤5k docs): results there are
    // byte-identical to the fixed-key form.
    val keyLen = math.min(12, 6 + math.max(0, (nDocs / 1000L).toString.length - 1))
    val base = concat(col("source"), lit("-"), (id % mod50).cast("string"),
      lit(" item "), (id % mod23).cast("string"))
    // deterministic corruptions at both ends; the head edits are the ones
    // d23's prefix-only blocking provably misses
    val title = when(id % 20 === 7,
        expr("substring(title_base, 1, length(title_base) - 1)"))
      .when(id % 10 === 7, concat(col("title_base"), lit("x")))
      .when(id % 20 === 3, expr("substring(title_base, 2)"))
      .when(id % 20 === 13, concat(lit("q"), col("title_base")))
      .otherwise(col("title_base"))
    fuzzyPairs(docs(s, d)
      .select(id, base.as("title_base"))
      .select(id, title.as("title")), keyLen = keyLen)
      .orderBy("id_a", "id_b")
  }

  /** d24: split-leakage audit — near-duplicate pairs that STRADDLE the
    * train/val/test assignment (q51's md5-bucket rule, the same shared
    * [[Hashing]] definition the export writes). d13 screens against an
    * external benchmark; this audits the pipeline's OWN split: a verified
    * near-dup pair with one side in train and the other in val/test is
    * eval contamination that inflates every metric downstream. Rides the
    * shared shingle cache (same banded verified pairs as d10/d12/c01);
    * the split columns join in by doc_id — two broadcast-sized joins of
    * the pair list, no new corpus shuffle. Empty result = clean split;
    * any row is an actionable (pair, splits, jaccard) finding. */
  private def d24(s: SparkSession, d: String): DataFrame = {
    val bucket = Hashing.md5Bucket100(col("doc_id"))
    val splits = docs(s, d).select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").as("split"))
    md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** d22: incremental dedup against a PERSISTED signature/band index — the
    * production form of d16. d16 recomputes the existing corpus's MinHash
    * per arrival; a real ingestion pipeline maintains the index as a table
    * (the way e02 persists its centroid index) and each arrival batch only
    * computes ITS OWN signatures. Build: (doc_id, hv = shingle hashes,
    * th = content md5) + the (doc_id, band_idx, band) LSH table for the
    * existing corpus, written to parquet. Serve — reading ONLY the
    * reloaded artifact: exact screen = arrival content-hash semi-join
    * against the index's th column; near screen = arrival bands equi-join
    * the index's band table (candidates only ever form inside a band
    * bucket, and only across the arrival/index boundary — the straddling
    * restriction d16 applies by filter falls out of the join shape), then
    * the exact-Jaccard verify joins hv from the arrival side and the
    * index side. Same split, same statuses: hash-matches d16's oracle.
    * At 100 TB the index is the durable table this parquet stands in for,
    * the arrival batch is the only newly-hashed data, and every join keys
    * on hashes/bands — the corpus is never rescanned, never cross-joined. */
  /** Serve phase of the persisted-index dedup (d22/d25/e06): screen
    * `incoming` (doc_id, text), whose shingle hashes are `inHv` (doc_id,
    * hv), against ONLY the persisted artifact at `idxDir` (sigs/ = doc_id,
    * hv, th; bands/ = doc_id, band_idx, band). Exact screen = arrival
    * content-hash semi-join against the index's th column; near screen =
    * arrival bands equi-join the index's band table (candidates only form
    * inside a band bucket, and only across the arrival/index boundary —
    * the straddling restriction d16 applies by filter falls out of the
    * join shape), then the exact-Jaccard verify joins hv from the arrival
    * side and the index side. The arrival batch is the only newly-hashed
    * data; the corpus behind the index is never rescanned. */
  private[ops] def screenAgainstIndex(s: SparkSession, incoming: DataFrame,
                                      inHv: DataFrame, idxDir: String): DataFrame = {
    // crash-consistent serve: resolve the manifest (registering a
    // pre-protocol index on first touch), so a crashed append's
    // half-moved files are invisible to the screen
    TxTable.bootstrapIfNeeded(s, s"$idxDir/sigs")
    TxTable.bootstrapIfNeeded(s, s"$idxDir/bands")
    val sigs = TxTable.read(s, s"$idxDir/sigs")
    val bands = TxTable.read(s, s"$idxDir/bands")
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("th"))
      .join(sigs.select(col("th")).distinct(), Seq("th"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_exact", lit(true))
    val cand = bandFrame(inHv)
      .select(col("band_idx"), col("band"), col("doc_id").as("new_id"))
      .join(bands.select(col("band_idx"), col("band"), col("doc_id").as("old_id")),
        Seq("band_idx", "band"))
      .select("new_id", "old_id").distinct()
    val near = cand
      .join(inHv.select(col("doc_id").as("new_id"), col("hv").as("hv_new")), "new_id")
      .join(sigs.select(col("doc_id").as("old_id"), col("hv").as("hv_old")), "old_id")
      .filter(size(array_intersect(col("hv_new"), col("hv_old"))).cast("double") /
        size(array_union(col("hv_new"), col("hv_old"))).cast("double") >= 0.7)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    incoming.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("kept").as("status"))
  }

  /** Maintenance phase of the persisted index: APPEND the `kept` arrivals'
    * signatures and bands into the artifact — the steady-state loop of an
    * ingestion pipeline (screen batch → merge the keepers → the next batch
    * screens against the updated index). Appends are new parquet part
    * files; nothing existing is rewritten, so at 100 TB the merge cost is
    * the kept batch, not the index. */
  private[ops] def appendToIndex(s: SparkSession, arrivals: DataFrame,
                                 arrHv: DataFrame, kept: DataFrame,
                                 idxDir: String): Unit = {
    val keptHv = arrHv.join(kept.select("doc_id"), "doc_id")
    // both sides commit through the TxTable manifest (r12 discipline): a
    // crashed append leaves the prior generation serving, never a
    // partially-visible batch of signatures that would let its own dups
    // screen as kept
    TxTable.stageAndCommit(
      keptHv.join(
        arrivals.select(col("doc_id"), md5(col("text")).as("th")), "doc_id"),
      s"$idxDir/sigs", append = true)
    TxTable.stageAndCommit(bandFrame(keptHv), s"$idxDir/bands", append = true)
  }

  /** Build + persist the d22 corpus index (sigs/ + bands/) under `dir`.
    * The BUILD rides the same corpus-wide shingle cache every other
    * md5-family query shares (one tokenize+md5 pass per corpus, total);
    * bands derive from the cached hv, not a second pass. `fragments` > 0
    * lands each side as that many tiny part files — the steady-state
    * shape of an append-maintained landing zone, which e06's compaction
    * gate starts from. */
  private[ops] def buildCorpusIndex(s: SparkSession, d: String, dir: String,
                                    fragments: Int = 0): Unit = {
    val isNew = col("doc_id") % 5 === 4
    val base = cached(withShingleHashes(s, d))
    val existingHv = base.filter(!isNew)
    val sigs = existingHv
      .join(docs(s, d).filter(!isNew)
        .select(col("doc_id"), md5(col("text")).as("th")), "doc_id")
    def land(df: DataFrame, p: String): Unit =
      (if (fragments > 0) df.repartition(fragments) else df).write.parquet(p)
    land(sigs, s"$dir/sigs")
    land(bandFrame(existingHv), s"$dir/bands")
  }

  /** The d16/d22 arrival batch: every 5th doc + synthesized exact copies
    * (copies share their source's text, so their hashes come straight
    * from the shingle cache too — only genuinely new text would hash
    * fresh). Returns (incoming(doc_id, text), inHv(doc_id, hv)). */
  private def d22Arrival(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val isNew = col("doc_id") % 5 === 4
    val all = docs(s, d)
    val base = cached(withShingleHashes(s, d))
    val incoming = all.filter(isNew).select(col("doc_id"), col("text"))
      .unionByName(all.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val inHv = base.filter(isNew).select(col("doc_id"), col("hv"))
      .unionByName(base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("hv")))
    (incoming, inHv)
  }

  private def d22(s: SparkSession, d: String): DataFrame = {
    val out = ExportOps.scratchDir("graft_sigidx", d)
    ExportOps.withScratchCleanup(out) {
      buildCorpusIndex(s, d, out.getAbsolutePath)
      val (incoming, inHv) = d22Arrival(s, d)
      // ---- serve: reads only the persisted artifact ----
      val res = screenAgainstIndex(s, incoming, inHv, out.getAbsolutePath)
      ExportOps.localizeAndDrop(res, out, "doc_id")
    }
  }

  /** e06: the compaction maintenance job run on the artifact that matters
    * — d22's persisted signature/band index, landed FRAGMENTED (64 part
    * files per side, the shape append maintenance like d25's leaves
    * behind), compacted by [[ExportOps.compact]] (coalesce-only: every
    * byte moves once, no shuffle), then SERVED from: the screen of d22's
    * arrival batch against the COMPACTED index must hash-match d22's own
    * from-scratch DuckDB oracle. That proves the maintenance job
    * content-invariant on the index table itself, not a toy — the
    * screen's joins key on th/band columns and are blind to file layout,
    * so only a compaction that corrupted or dropped rows could change a
    * status. Compacted file counts are spec-pinned (CorpusOpsR8Spec). */
  private def e06(s: SparkSession, d: String): DataFrame = {
    val out = ExportOps.scratchDir("graft_sigcmp", d)
    ExportOps.withScratchCleanup(out) {
      buildCorpusIndex(s, d, s"$out/frag", fragments = 64)
      ExportOps.compact(s, s"$out/frag/sigs", s"$out/idx/sigs")
      ExportOps.compact(s, s"$out/frag/bands", s"$out/idx/bands")
      val (incoming, inHv) = d22Arrival(s, d)
      val res = screenAgainstIndex(s, incoming, inHv, s"$out/idx")
      ExportOps.localizeAndDrop(res, out, "doc_id")
    }
  }

  /** d25: the persisted index under APPEND maintenance — the steady-state
    * an ingestion pipeline actually runs, closing the one-cycle limit of
    * d22: batch 1 screens against the built index, the KEPT arrivals'
    * signatures/bands merge INTO the artifact ([[appendToIndex]] — new
    * part files, nothing rewritten), and batch 2 screens against the
    * UPDATED index. Batch 2 contains exact copies of batch-1 documents
    * (id+300000 of every doc_id % 40 == 4), so its screen provably
    * consults the merged signatures: those copies come back `exact_dup`
    * iff their batch-1 source was kept and merged — a from-scratch DuckDB
    * oracle recomputing both screens agrees on every status, and the spec
    * pins that the screen reads only the artifact (doctoring the persisted
    * files changes the verdicts). Each batch hashes only itself; the
    * corpus is scanned once at build, never again. */
  private def d25(s: SparkSession, d: String): DataFrame = {
    val out = ExportOps.scratchDir("graft_sigidx2", d)
    ExportOps.withScratchCleanup(out) {
      val all = docs(s, d)
      val base = cached(withShingleHashes(s, d))
      val inB1 = col("doc_id") % 5 === 4
      val inB2 = col("doc_id") % 5 === 3
      // ---- build: index over the standing corpus (neither batch) ----
      val corpus0Hv = base.filter(!inB1 && !inB2)
      corpus0Hv
        .join(all.filter(!inB1 && !inB2)
          .select(col("doc_id"), md5(col("text")).as("th")), "doc_id")
        .write.parquet(s"$out/sigs")
      bandFrame(corpus0Hv).write.parquet(s"$out/bands")
      // ---- batch 1: the d16/d22 arrival shape ----
      val b1 = all.filter(inB1).select(col("doc_id"), col("text"))
        .unionByName(all.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val b1Hv = base.filter(inB1).select(col("doc_id"), col("hv"))
        .unionByName(base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("hv")))
      // localize BEFORE the append: s1's lazy plan lists the index dir at
      // execution time and would otherwise see the post-merge files
      val s1 = ExportOps.localize(
        screenAgainstIndex(s, b1, b1Hv, out.getAbsolutePath))
      // ---- merge: keepers join the index ----
      appendToIndex(s, b1, b1Hv, s1.filter(col("status") === "kept"),
        out.getAbsolutePath)
      // ---- batch 2: fresh docs + exact copies of batch-1 docs ----
      val b2 = all.filter(inB2).select(col("doc_id"), col("text"))
        .unionByName(all.filter(col("doc_id") % 40 === 4)
          .select((col("doc_id") + 300000L).as("doc_id"), col("text")))
      val b2Hv = base.filter(inB2).select(col("doc_id"), col("hv"))
        .unionByName(base.filter(col("doc_id") % 40 === 4)
          .select((col("doc_id") + 300000L).as("doc_id"), col("hv")))
      val s2 = screenAgainstIndex(s, b2, b2Hv, out.getAbsolutePath)
      val res = s1.withColumn("batch", lit(1L))
        .unionByName(s2.withColumn("batch", lit(2L)))
        .select("batch", "doc_id", "status")
      ExportOps.localizeAndDrop(res, out, "batch", "doc_id")
    }
  }

  /** d19: per-domain document cap — the crawl-pipeline guard against any
    * single host dominating the corpus (CommonCrawl-style "max pages per
    * domain"). Documents rank within their domain in deterministic md5
    * order (the same stable pseudo-random priority q55/t17 use — a crawl
    * frontier ordered by hash, reproducible across re-runs and cluster
    * layouts) and only the first `DomainCap` survive. One row_number
    * window per domain = a single hash shuffle on the domain key; skewed
    * mega-domains are exactly the rows the cap discards, so the window
    * never materializes more than it keeps plus what it drops — no
    * cross-row state beyond the per-partition sort. */
  val DomainCap = 10

  /** The d19 kernel over any (doc_id, domain, ord) frame, public for the
    * skew stress spec: row_number within domain, keep the first `cap`.
    * The `filter(row_number <= cap)` shape is what Spark's
    * InferWindowGroupLimit rewrites into a WindowGroupLimit — each map
    * task keeps only its local top-`cap` per domain BEFORE the shuffle,
    * so a mega-domain ships ~cap rows per upstream partition instead of
    * its full row count; StressSpec pins that plan node. */
  def domainCap(df: DataFrame, cap: Int = DomainCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("ord"), col("doc_id"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
      .select(col("doc_id"), col("domain"), col("rank").cast("long").as("rank"))
  }

  private def d19(s: SparkSession, d: String): DataFrame =
    domainCap(docs(s, d)
      .select(col("doc_id"),
        concat(lit("www."), col("source"), lit(".example.com")).as("domain"),
        md5(col("doc_id").cast("string")).as("ord")))
      .orderBy("domain", "rank")

  /** d20: the d18 ingestion screen under Structured Streaming — arrivals
    * come in as a file stream, the existing corpus's content-hash index is
    * the STATIC side of a stream-static left join (the production shape:
    * the index is a maintained table, each micro-batch probes it), and the
    * landed statuses must hash-match d18's batch oracle. Stream/batch
    * duality for the ingestion-dedup stage, gated like e03 gates the
    * export stage. No watermark needed: the join is stateless per
    * micro-batch (static side re-planned per batch, nothing buffered). */
  private def d20(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamGate(s, "graft_sdedup", d) { g =>
    ExportOps.stageTable(d, "documents", new java.io.File(g.in))
    val schema = Tables(s, d, "documents").schema
    val stream = g.readIn(schema, oneFilePerBatch = false)
    val isNew = col("doc_id") % 5 === 4
    val copies = stream.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    val incoming = stream.filter(isNew).select(col("doc_id"), col("text"))
      .unionByName(copies)
      .select(col("doc_id"), md5(col("text")).as("th"))
    val existing = docs(s, d).filter(!isNew)
      .select(md5(col("text")).as("th")).distinct()
      .withColumn("is_dup", lit(true))
    val screened = incoming.join(existing, Seq("th"), "left")
      .select(col("doc_id"),
        when(col("is_dup"), "exact_dup").otherwise("kept").as("status"))
    g.drainParquet(screened, shards = None)
    g.localizeAndDrop(Tables.readParquet(s, g.data), "doc_id")
    }

  /** c01: the curation pipeline end-to-end — the composition an LLM data
    * pipeline actually ships: every document gets the FIRST failing stage
    * in fixed precedence as its status:
    *   1. exact_dup — not the min-id keeper of its identical text (d01's
    *      rule; a no-op on fixtures without byte dups, and the oracle
    *      proves it no-ops identically);
    *   2. near_dup — the dropped (higher-id) side of a verified
    *      md5-MinHash pair at jaccard >= 0.7 (d12's rule, riding the same
    *      shared shingle cache as d10/d12/d14/d16);
    *   3. quality_fail — Gopher word-count [50, 100k] / mean-word-length
    *      [3, 10] bounds (t14's rules; the stopword clause is omitted —
    *      the synthetic vocabulary carries only one required stopword, so
    *      it would reject the whole corpus rather than discriminate);
    *   4. repetition_fail — duplicate 2-/3-gram fractions (t15's
    *      metrics) over thresholds set at the fixture's p90 tail
    *      (0.06 / 0.01; Gopher's 0.2 production cut drops nothing on
    *      synthetic text);
    *   5. kept.
    * Everything is per-row expressions plus doc_id equi-joins of the
    * stage verdicts — the near-dup stage is the only corpus-shuffling
    * step, and it is banded, never all-pairs. */
  private def c01(s: SparkSession, d: String): DataFrame =
    curationStatuses(s, d).orderBy("doc_id")

  /** Shared by c01 (the status table) and c02 (the full training flow). */
  private def curationStatuses(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val keepers = base.groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
    val exact = base.join(keepers, Seq("text"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    val near = md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    val n = size(col("toks"))
    val metrics = base
      .select(col("doc_id"), col("text"),
        TextFunctions.tokenize(col("text")).as("toks"))
      .withColumn("g2", zip_with(slice(col("toks"), lit(1), greatest(n - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(n - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)))
      .withColumn("g3", zip_with(slice(col("g2"), lit(1), greatest(n - 2, lit(0))),
        slice(col("toks"), lit(3), greatest(n - 2, lit(0))),
        (a, b) => concat(a, lit(" "), b)))
      .select(col("doc_id"), n.as("n_words"),
        when(n === 0, 0.0).otherwise(
          length(regexp_replace(col("text"), "\\s", "")).cast("double") /
            n.cast("double")).as("mwl"),
        when(size(col("g2")) === 0, 0.0).otherwise(
          (size(col("g2")) - size(array_distinct(col("g2")))).cast("double") /
            size(col("g2")).cast("double")).as("d2"),
        when(size(col("g3")) === 0, 0.0).otherwise(
          (size(col("g3")) - size(array_distinct(col("g3")))).cast("double") /
            size(col("g3")).cast("double")).as("d3"))
    base.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(metrics, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .when(!(col("n_words").between(50, 100000) &&
            col("mwl").between(3.0, 10.0)), "quality_fail")
          .when(col("d2") > 0.06 || col("d3") > 0.01, "repetition_fail")
          .otherwise("kept").as("status"))
  }

  /** c02: the whole training-data flow, raw corpus → shipped accounting:
    * c01's curation keep-set → per-language sequence packing into 2048-
    * token bins (t08's rule) → deterministic md5-bucket train/val/test
    * assignment (q51's rule) → the per-(split, lang) export accounting a
    * data order would be checked against. Each stage is the already-gated
    * operator it reuses; the composition itself is what this gates — at
    * 100 TB this summary is the manifest the training job trusts. */
  private def c02(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = curationStatuses(s, d)
      .filter(col("status") === "kept").select("doc_id")
    val base = docs(s, d).join(kept, "doc_id")
      .select(col("doc_id"), col("lang"),
        size(TextFunctions.tokenize(col("text")))
          .cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucket = Hashing.md5Bucket100(col("doc_id"))
    base
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / 2048L))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("bin")).as("n_bins"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("split", "lang")
  }

  /** d28: representative selection over near-dup clusters — d14's
    * transitive components, but instead of dropping every higher-id
    * member (d12's rule), each cluster KEEPS its best member: the longest
    * document (n_chars desc, doc_id asc tie-break). This is how
    * production corpus dedup actually chooses survivors — CCNet-style
    * pipelines keep the longest/highest-quality copy, not the one that
    * happened to arrive first. Output marks every clustered doc with its
    * cluster, the chosen keeper, and whether it survives.
    *
    * Scale shape: components come from pointer-jumping over banded
    * verified pairs (O(log diameter) keyed rounds, never all-pairs); the
    * keeper election is ONE window over the clustered docs — a set far
    * smaller than the corpus (only docs that appear in some near-dup
    * pair), so the argmax never touches unclustered documents. */
  private def d28(s: SparkSession, d: String): DataFrame = {
    val comp = connectedComponents(
      md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
        .select("doc_a", "doc_b"))
      .select(col("node").as("doc_id"), col("label").as("component"))
    clusterKeepBest(comp, docs(s, d).select("doc_id", "n_chars"))
      .orderBy("doc_id")
  }

  /** The d28 keeper election over any (doc_id, component) clustering and
    * (doc_id, n_chars) length frame: per cluster, the longest member
    * (doc_id asc tie-break) is kept; every member row carries its cluster,
    * the elected keeper, and its own survival flag. */
  def clusterKeepBest(comp: DataFrame, lens: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withLen = comp.join(lens, "doc_id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val keepers = withLen.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_id"))
    comp.join(keepers, "component")
      .select(col("doc_id"), col("component"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  /** d29: PageRank over the verified near-dup graph — the centrality
    * ranking a corpus-graph analysis runs on top of d14's components
    * (which documents anchor a duplication cluster; the same scores also
    * drive graph-based quality propagation). Five damped iterations over
    * the symmetrized pair graph; every node of a pair graph has degree
    * ≥ 1, so there is no dangling-mass term.
    *
    * Engine-exact float discipline: per-edge contributions round to 9dp
    * and sum as exact decimals (addition-order-free — the same move as
    * t12/t19); the damping update is one double expression over literal
    * constants both engines parse to the same doubles. */
  private def d29(s: SparkSession, d: String): DataFrame = {
    val half = md5VerifiedPairs(s, d).filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b")
    // cache the edge list: it feeds outdeg, the node universe, AND one
    // join per iteration — without the cache the banded-pair/verify
    // subtree re-executes ~8× (measured 14.6 s → 2.0 s at sf0.1)
    val edges = cached(half.unionByName(
      half.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    pageRank(edges, iterations = 5).orderBy("doc_id")
  }

  /** Damped PageRank over a directed edge list (doc_a → doc_b) in the
    * Pregel-as-joins formulation: each iteration is one equi-join of the
    * rank table back to the edges plus one keyed aggregation — O(iters)
    * keyed rounds, no driver state. At 100 TB: edges shuffle on doc_a
    * once per round and the rank table stays (node, double); persist the
    * rank frame every few rounds to truncate lineage (the [[
    * connectedComponents]] move). Requires every node to have outdegree
    * ≥ 1 (true for any symmetrized graph). */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame = {
    // truncate lineage per round (the connectedComponents move): without
    // it, iteration k's plan embeds every earlier round's joins and the
    // optimizer/codegen cost grows with k even on a toy graph
    def truncate(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (!sc.isLocal && sc.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    }
    val e = truncate(edges.select(col("doc_a"), col("doc_b")))
    val outdeg = truncate(
      e.groupBy(col("doc_a")).agg(count(lit(1)).as("outdeg")))
    val nodes = truncate(e.select(col("doc_a").as("doc_id")).distinct())
    val nRow = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nRow))
      .select(col("doc_id"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks.select(col("doc_id").as("doc_a"), col("rank")), "doc_a")
        .join(outdeg, "doc_a")
        .select(col("doc_b").as("doc_id"),
          round(col("rank") / col("outdeg"), 9).cast("decimal(38,9)").as("c"))
      ranks = truncate(contrib.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("double").as("in_sum"))
        .crossJoin(broadcast(nRow))
        .select(col("doc_id"),
          round(lit(0.15) / col("n") + lit(0.85) * col("in_sum"), 9).as("rank")))
    }
    ranks
  }

  /** c04: dedup savings accounting — the report a curation run ships to
    * its stakeholders: documents and tokens per (curation status,
    * language), i.e. how much of the corpus each rejection rule removed
    * and what survives for training. One join of the shared status table
    * to per-doc token counts + one tiny keyed agg; token counts are
    * integer sums — engine-exact. */
  /** c05: the dataset card — the datasheet a corpus ships with: doc /
    * char / token counts and exact-distinct-text counts at every serving
    * grain (per language, per source, per length bucket, corpus total),
    * in ONE scan via the Spark 4 `Dataset.groupingSets` API (the
    * DataFrame form of q11's SQL). Each grain is a (dim, group_key) row,
    * so the card is machine-consumable — the input to t17's token-budget
    * mixing and the report a release review reads. One grouping-sets
    * hash aggregation: the scan cost does not multiply with the number
    * of grains, which is the entire point at 100 TB. */
  private def c05(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(
      col("lang"), col("source"),
      when(col("n_chars") < 150, "<150")
        .when(col("n_chars") < 250, "150-249")
        .otherwise(">=250").as("len_bucket"),
      col("n_chars"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
      md5(col("text")).as("h"))
    base.groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq(col("len_bucket")),
          Seq.empty),
        col("lang"), col("source"), col("len_bucket"))
      .agg( // grouping() flags are only legal inside the grouped agg
        grouping(col("lang")).as("g_lang"),
        grouping(col("source")).as("g_source"),
        grouping(col("len_bucket")).as("g_bucket"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_sum"),
        sum(col("n_tokens")).as("n_tokens_sum"),
        countDistinct(col("h")).as("n_distinct_texts"))
      .select(
        when(col("g_lang") === 0, "lang")
          .when(col("g_source") === 0, "source")
          .when(col("g_bucket") === 0, "len_bucket")
          .otherwise("corpus").as("dim"),
        coalesce(col("lang"), col("source"), col("len_bucket"), lit("all"))
          .as("group_key"),
        col("n_docs"), col("n_chars_sum"), col("n_tokens_sum"),
        col("n_distinct_texts"))
      .orderBy("dim", "group_key")
  }

  private def c04(s: SparkSession, d: String): DataFrame =
    curationStatuses(s, d)
      .join(docs(s, d).select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id")
      .groupBy(col("status"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("status", "lang")

  /** c03: the c01 curation pipeline expressed ENTIRELY as one SQL
    * statement through the engine's SQL front door — registered graft
    * kernels (`graft_shingle_hashes`, `graft_md5_minhash`,
    * `graft_tokenize`) plus Spark SQL builtins, no DataFrame code in the
    * pipeline itself. Hash-matching c01's oracle proves the two surfaces
    * cannot drift: a SQL-only user gets bit-identical curation decisions
    * to the DataFrame user. The SQL re-evaluates the shingle set per
    * reference (no `cached()` seam), so the DataFrame form stays the
    * scale path; this gates the SURFACE, not a second engine. */
  private def c03(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    docs(s, d).createOrReplaceTempView("documents")
    s.sql(raw"""
      |WITH hv AS (
      |  SELECT doc_id, graft_shingle_hashes(text) AS hv FROM documents),
      |sigs AS (
      |  SELECT doc_id, graft_md5_minhash(text) AS sig FROM documents),
      |banded AS (
      |  SELECT doc_id, band_idx,
      |    sig[2 * band_idx] * 536870912L + sig[2 * band_idx + 1] AS band
      |  FROM sigs LATERAL VIEW explode(sequence(0, 3)) t AS band_idx),
      |cpairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band = b.band
      |  WHERE a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT doc_a, doc_b,
      |    CAST(size(array_intersect(ha.hv, hb.hv)) AS DOUBLE) /
      |    CAST(size(array_union(ha.hv, hb.hv)) AS DOUBLE) AS jaccard
      |  FROM cpairs JOIN hv ha ON ha.doc_id = cpairs.doc_a
      |              JOIN hv hb ON hb.doc_id = cpairs.doc_b),
      |keepers AS (
      |  SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text),
      |exact_d AS (
      |  SELECT d.doc_id FROM documents d
      |  JOIN keepers k ON d.text = k.text WHERE d.doc_id <> k.keep_id),
      |near_d AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= 0.7),
      |toksq AS (
      |  SELECT doc_id, text, graft_tokenize(text) AS toks FROM documents),
      |q AS (
      |  SELECT doc_id, size(toks) AS n,
      |    CASE WHEN size(toks) = 0 THEN 0.0D ELSE
      |      CAST(length(regexp_replace(text, '\\s', '')) AS DOUBLE)
      |        / size(toks) END AS mwl
      |  FROM toksq),
      |g2q AS (
      |  SELECT doc_id, toks,
      |    zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
      |             slice(toks, 2, greatest(size(toks) - 1, 0)),
      |             (a, b) -> concat(a, ' ', b)) AS g2
      |  FROM toksq),
      |gq AS (
      |  SELECT doc_id, g2,
      |    zip_with(slice(g2, 1, greatest(size(toks) - 2, 0)),
      |             slice(toks, 3, greatest(size(toks) - 2, 0)),
      |             (a, b) -> concat(a, ' ', b)) AS g3
      |  FROM g2q),
      |r AS (
      |  SELECT doc_id,
      |    CASE WHEN size(g2) = 0 THEN 0.0D ELSE
      |      CAST(size(g2) - size(array_distinct(g2)) AS DOUBLE) / size(g2)
      |      END AS d2,
      |    CASE WHEN size(g3) = 0 THEN 0.0D ELSE
      |      CAST(size(g3) - size(array_distinct(g3)) AS DOUBLE) / size(g3)
      |      END AS d3
      |  FROM gq)
      |SELECT d.doc_id,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
      |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
      |       WHEN NOT (q.n BETWEEN 50 AND 100000
      |                 AND q.mwl BETWEEN 3.0D AND 10.0D) THEN 'quality_fail'
      |       WHEN r.d2 > 0.06D OR r.d3 > 0.01D THEN 'repetition_fail'
      |       ELSE 'kept' END AS status
      |FROM documents d
      |LEFT JOIN exact_d e ON d.doc_id = e.doc_id
      |LEFT JOIN near_d nd ON nd.doc_id = d.doc_id
      |JOIN q ON q.doc_id = d.doc_id
      |JOIN r ON r.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_curation_pipeline" -> c01 _, "c02_training_flow" -> c02 _,
    "c03_sql_pipeline" -> c03 _, "c04_dedup_accounting" -> c04 _,
    "c05_dataset_card" -> c05 _,
    "d17_chunk_dedup" -> d17 _, "d18_bloom_screen" -> d18 _,
    "d19_domain_cap" -> d19 _, "d20_stream_ingest_dedup" -> d20 _,
    "d21_dup_ngram_frac" -> d21 _, "d22_index_dedup" -> d22 _,
    "d23_fuzzy_dedup" -> d23 _, "d24_split_leakage" -> d24 _,
    "d25_index_append" -> d25 _, "d26_fuzzy_multipass" -> d26 _,
    "d27_dup_span_removal" -> d27 _, "d28_cluster_keep_best" -> d28 _,
    "d29_pagerank" -> d29 _, "d30_containment" -> d30 _,
    "d31_tokensort_dedup" -> d31 _, "d32_cluster_split" -> d32 _,
    "d33_source_overlap" -> d33 _, "d34_sorted_neighborhood" -> d34 _,
    "d35_lsh_recall_eval" -> d35 _, "d36_contamination_radius" -> d36 _,
    "d37_fuzzy_recall_eval" -> d37 _, "d38_containment_recall_eval" -> d38 _,
    "e06_index_compaction" -> e06 _,
    "d15_url_dedup" -> d15 _, "d16_incremental_dedup" -> d16 _,
    "d09_minhash_md5" -> d09 _, "d10_jaccard_blocked" -> d10 _,
    "d11_simhash_md5" -> d11 _, "d12_dedup_corpus_md5" -> d12 _,
    "d13_contamination" -> d13 _, "d14_neardup_components" -> d14 _,
    "d01_exact_dedup" -> d01 _, "d02_key_dedup" -> d02 _,
    "d03_minhash_candidates" -> d03 _, "d04_simhash_signatures" -> d04 _,
    "d05_ngram_jaccard_verify" -> d05 _, "d06_simhash_pairs" -> d06 _,
    "d07_anti_dedup" -> d07 _, "d08_dedup_corpus" -> d08 _)

  /** Shared shingle CTE chain for the md5-MinHash oracles — mirrors
    * TextFunctions.shingles exactly (k-token windows; whole doc when
    * shorter than k tokens; distinct set), over an arbitrary source
    * relation (d08 runs it over its exact-survivor CTE). No leading
    * WITH so callers can prepend their own CTEs. */
  private def shingleChain(src: String, k: Int): String =
    raw"""base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
      |  FROM $src
      |), shs AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= $k
      |      THEN list_transform(range(1, len(toks) - ${k - 2}), i ->
      |        array_to_string(list_slice(toks, i, i + ${k - 1}), ' '))
      |      ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM base)""".stripMargin

  private val ShingleCte = "WITH " + shingleChain("documents", 3)

  /** shingleChain + one-md5-per-shingle base hashes + the 8 affine-mixed
    * signature mins (mirrors [[affine]] / [[withShingleHashes]]). */
  private def sigsChain(src: String, k: Int): String =
    shingleChain(src, k) + raw""",
      |hv AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hv
      |  FROM shs),
      |sigs AS (
      |  SELECT doc_id,
      |""".stripMargin +
      (0 until 8).map(i =>
        s"    list_aggregate(list_transform(hv, h -> " +
          s"(h * ${2 * i + 3} + ${97 * i + 31}) % $MinHashP), 'min') AS sig$i")
        .mkString(",\n") +
      "\n  FROM hv)"

  private val SigsCte = "WITH " + sigsChain("documents", 3)

  /** sigsChain + banding + deduped candidate pairs + exact-Jaccard
    * verification — the shared tail of the d10/d12 oracles, over an
    * arbitrary source at an arbitrary shingle width (d05 runs k=4). */
  private def bandChain(src: String, k: Int): String =
    sigsChain(src, k) + ",\n" + """banded AS (
      |  SELECT doc_id, 0 AS band_idx, sig0 * 536870912 + sig1 AS band FROM sigs
      |  UNION ALL SELECT doc_id, 1, sig2 * 536870912 + sig3 FROM sigs
      |  UNION ALL SELECT doc_id, 2, sig4 * 536870912 + sig5 FROM sigs
      |  UNION ALL SELECT doc_id, 3, sig6 * 536870912 + sig7 FROM sigs),
      |cpairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band = b.band
      |  WHERE a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
      |    CAST(len(list_distinct(ha.hv || hb.hv)) AS DOUBLE) AS jaccard
      |  FROM cpairs JOIN hv ha ON ha.doc_id = cpairs.doc_a
      |              JOIN hv hb ON hb.doc_id = cpairs.doc_b)""".stripMargin

  private val BandedPairsCte = "WITH " + bandChain("documents", 3)

  /** d04/d06's 60-bit md5-shingle SimHash as CTEs: hs = the 15-hex-char
    * md5 prefix per distinct shingle, signature bit j set iff a strict
    * majority of shingle hashes set bit j — the exact
    * [[graft.functions.SimHash64]] vote rule (votes > 0 ⟺ ones·2 > n;
    * bits 60-63 of the 64-bit expression output are always clear because
    * no 60-bit input hash sets them). */
  private val SimhashShingleCte =
    "WITH " + shingleChain("documents", 3) + raw""",
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
      |  FROM shs),
      |simsigs AS (
      |  SELECT doc_id, CAST(
      |""".stripMargin +
      (0 until 60).map(j =>
        s"  CASE WHEN len(list_filter(hs, h -> ((h >> $j) & 1) = 1)) * 2" +
          s" > len(hs) THEN ${1L << j} ELSE 0 END")
        .mkString("\n  + ") +
      "\n  AS BIGINT) AS simhash\n  FROM hs)"

  /** Shared by d16 (recompute-per-arrival) and d22 (persisted-index serve):
    * the same arrival batch must screen to the same statuses whichever way
    * the existing corpus's signatures are obtained. */
  private lazy val IncrementalDedupOracleSql =
    BandedPairsCte + ",\n" +
      """incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
        |existing_hashes AS (
        |  SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 5 <> 4),
        |exact_dups AS (
        |  SELECT DISTINCT i.doc_id FROM incoming i
        |  JOIN existing_hashes e ON md5(i.text) = e.th),
        |near_dups AS (
        |  SELECT DISTINCT CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS doc_id
        |  FROM verified
        |  WHERE jaccard >= 0.7 AND ((doc_a % 5 = 4) <> (doc_b % 5 = 4)))
        |SELECT i.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS status
        |FROM incoming i
        |LEFT JOIN exact_dups ex ON i.doc_id = ex.doc_id
        |LEFT JOIN near_dups nr ON i.doc_id = nr.doc_id
        |ORDER BY i.doc_id""".stripMargin

  /** Shared by d18 (batch Bloom screen) and d20 (streaming gate): both must
    * produce the identical screened statuses for the same arrival batch. */
  private val IngestScreenOracleSql =
    """WITH incoming AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL
      |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 40 = 0),
      |existing AS (
      |  SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 5 <> 4),
      |dups AS (
      |  SELECT DISTINCT i.doc_id FROM incoming i
      |  JOIN existing e ON md5(i.text) = e.th)
      |SELECT i.doc_id,
      |  CASE WHEN dp.doc_id IS NOT NULL THEN 'exact_dup' ELSE 'kept' END
      |    AS status
      |FROM incoming i LEFT JOIN dups dp ON i.doc_id = dp.doc_id
      |ORDER BY i.doc_id""".stripMargin

  /** The curation-status computation as a CTE chain, shared by the c01 and
    * c02 oracles (mirrors [[curationStatuses]] stage by stage). */
  private lazy val CurationStatusCte =
    BandedPairsCte + raw""",
        |keepers AS (
        |  SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text),
        |exact_d AS (
        |  SELECT d.doc_id FROM documents d
        |  JOIN keepers k ON d.text = k.text WHERE d.doc_id <> k.keep_id),
        |near_d AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= 0.7),
        |toksq AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)
        |      AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, len(toks) AS n,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |        / len(toks) END AS mwl
        |  FROM toksq),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || ' ' || toks[i + 1]) AS g2,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
        |  FROM toksq),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |      CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS d2,
        |    CASE WHEN len(g3) = 0 THEN 0.0 ELSE
        |      CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS d3
        |  FROM g),
        |statuses AS (
        |  SELECT d.doc_id,
        |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |         WHEN NOT (q.n BETWEEN 50 AND 100000
        |                   AND q.mwl BETWEEN 3.0 AND 10.0) THEN 'quality_fail'
        |         WHEN r.d2 > 0.06 OR r.d3 > 0.01 THEN 'repetition_fail'
        |         ELSE 'kept' END AS status
        |  FROM documents d
        |  LEFT JOIN exact_d e ON d.doc_id = e.doc_id
        |  LEFT JOIN near_d nd ON d.doc_id = nd.doc_id
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN r ON r.doc_id = d.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "c01_curation_pipeline" ->
      (CurationStatusCte +
        "\nSELECT doc_id, status FROM statuses ORDER BY doc_id"),
    // c03 is c01 through the SQL front door — same oracle by construction
    "c03_sql_pipeline" ->
      (CurationStatusCte +
        "\nSELECT doc_id, status FROM statuses ORDER BY doc_id"),
    // c04: statuses joined to ws-token counts (c02's kbase tokenization)
    "c04_dedup_accounting" ->
      (CurationStatusCte + raw""",
        |tok AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(list_filter(string_split_regex(d.text, '\s+'),
        |      t -> length(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents d)
        |SELECT s.status, t.lang, count(1) AS n_docs,
        |  CAST(sum(t.n_tokens) AS BIGINT) AS sum_tokens
        |FROM statuses s JOIN tok t ON t.doc_id = s.doc_id
        |GROUP BY s.status, t.lang
        |ORDER BY status, lang""".stripMargin),
    // c05: the same grouping-sets card, SQL-side; GROUPING() drives the
    // dim label exactly like the engine's grouping() column
    "c05_dataset_card" ->
      raw"""WITH base AS (
        |  SELECT lang, source,
        |    CASE WHEN n_chars < 150 THEN '<150'
        |         WHEN n_chars < 250 THEN '150-249'
        |         ELSE '>=250' END AS len_bucket,
        |    n_chars,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> length(t) > 0)) AS BIGINT) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents)
        |SELECT
        |  CASE WHEN GROUPING(lang) = 0 THEN 'lang'
        |       WHEN GROUPING(source) = 0 THEN 'source'
        |       WHEN GROUPING(len_bucket) = 0 THEN 'len_bucket'
        |       ELSE 'corpus' END AS dim,
        |  coalesce(lang, source, len_bucket, 'all') AS group_key,
        |  count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_sum,
        |  count(DISTINCT h) AS n_distinct_texts
        |FROM base
        |GROUP BY GROUPING SETS ((lang), (source), (len_bucket), ())
        |ORDER BY dim, group_key""".stripMargin,
    "c02_training_flow" ->
      (CurationStatusCte + raw""",
        |keptd AS (SELECT doc_id FROM statuses WHERE status = 'kept'),
        |kbase AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(list_filter(string_split_regex(d.text, '\s+'),
        |      t -> length(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents d JOIN keptd k ON d.doc_id = k.doc_id),
        |packed AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - n_tokens) // 2048 AS BIGINT) AS bin
        |  FROM kbase),
        |sp AS (
        |  SELECT *,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |               % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |               % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM packed)
        |SELECT split, lang, count(1) AS n_docs,
        |  CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM sp GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin),
    "d21_dup_ngram_frac" ->
      raw"""WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |  FROM base WHERE len(toks) >= 8),
        |grams AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS gh
        |  FROM idx),
        |cnts AS (SELECT gh, count(DISTINCT doc_id) AS n_docs
        |         FROM grams GROUP BY gh)
        |SELECT g.doc_id, CAST(count(1) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(1)
        |    AS dup_ngram_frac,
        |  (CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(1))
        |    > 0.5 AS memorization_risk
        |FROM grams g JOIN cnts USING (gh)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // d27: every window hash, covered position, island and rejoined string
    // recomputed from scratch; space tokenization (drop empties) matches
    // the engine's "space" mode
    "d27_dup_span_removal" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |        FROM base WHERE len(toks) >= 8) x),
        |dup AS (SELECT gh FROM g GROUP BY gh
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, i + unnest(range(0, 8)) AS pos
        |    FROM g JOIN dup USING (gh)) c),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, isl, min(pos) AS s, max(pos) AS e
        |  FROM isl GROUP BY doc_id, isl),
        |spans AS (
        |  SELECT doc_id, CAST(count(1) AS BIGINT) AS n_spans,
        |         CAST(sum(e - s + 1) AS BIGINT) AS n_dup_tokens
        |  FROM sp GROUP BY doc_id),
        |posn AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |         generate_subscripts(toks, 1) AS pos FROM base),
        |kept AS (
        |  SELECT p.doc_id,
        |    string_agg(p.token, ' ' ORDER BY p.pos) AS cleaned_text
        |  FROM posn p ANTI JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.pos
        |  GROUP BY p.doc_id)
        |SELECT b.doc_id,
        |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |  coalesce(cleaned_text, '') AS cleaned_text
        |FROM base b LEFT JOIN spans USING (doc_id) LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d17_chunk_dedup" ->
      raw"""WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks,
        |    unnest(range(1, CAST(ceil(len(toks) / 16.0) AS INT) + 1)) AS i
        |  FROM base WHERE len(toks) > 0),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, (i-1)*16 + 1, i*16), ' ')) AS ch
        |  FROM idx),
        |cnts AS (SELECT ch, count(DISTINCT doc_id) AS n_docs
        |         FROM chunks GROUP BY ch)
        |SELECT c.doc_id, CAST(count(1) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(1)
        |    AS dup_chunk_frac,
        |  (CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(1))
        |    > 0.3 AS flagged
        |FROM chunks c JOIN cnts USING (ch)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "d18_bloom_screen" -> IngestScreenOracleSql,
    "d20_stream_ingest_dedup" -> IngestScreenOracleSql,
    "d19_domain_cap" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    'www.' || source || '.example.com' AS domain,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, domain, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY domain, rank""".stripMargin,
    "d16_incremental_dedup" -> IncrementalDedupOracleSql,
    // d22 serves the identical screen from the persisted index — the
    // reload must not change a single status
    "d22_index_dedup" -> IncrementalDedupOracleSql,
    // e06 serves the identical screen from the COMPACTED index —
    // compaction may change file layout, never a status
    "e06_index_compaction" -> IncrementalDedupOracleSql,
    // d25: both screens recomputed from scratch. Texts are unique in the
    // fixture and a copy arrival shares its base's text/hv, so the oracle
    // reasons at BASE-doc granularity: exact ⟺ the base's md5 is in the
    // index generation's content-hash set; near ⟺ a verified >= 0.7 pair
    // links the base to an index member. Index generation 2 = standing
    // corpus ∪ bases of batch-1 keepers (the merge).
    "d25_index_append" ->
      (BandedPairsCte + ",\n" +
        """vp AS (
          |  SELECT doc_a AS x, doc_b AS y FROM verified WHERE jaccard >= 0.7
          |  UNION ALL
          |  SELECT doc_b, doc_a FROM verified WHERE jaccard >= 0.7),
          |corpus0 AS (
          |  SELECT doc_id FROM documents WHERE doc_id % 5 NOT IN (3, 4)),
          |b1 AS (
          |  SELECT doc_id AS arr_id, doc_id AS base_id FROM documents
          |  WHERE doc_id % 5 = 4
          |  UNION ALL
          |  SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id % 50 = 0),
          |md5_0 AS (
          |  SELECT DISTINCT md5(d.text) AS th
          |  FROM documents d JOIN corpus0 c ON c.doc_id = d.doc_id),
          |near_0 AS (
          |  SELECT DISTINCT vp.x FROM vp JOIN corpus0 c ON vp.y = c.doc_id),
          |s1 AS (
          |  SELECT b1.arr_id, b1.base_id,
          |    CASE WHEN m.th IS NOT NULL THEN 'exact_dup'
          |         WHEN n.x IS NOT NULL THEN 'near_dup'
          |         ELSE 'kept' END AS status
          |  FROM b1
          |  JOIN documents db ON db.doc_id = b1.base_id
          |  LEFT JOIN md5_0 m ON m.th = md5(db.text)
          |  LEFT JOIN near_0 n ON n.x = b1.base_id),
          |idx2 AS (
          |  SELECT doc_id FROM corpus0
          |  UNION
          |  SELECT base_id FROM s1 WHERE status = 'kept'),
          |b2 AS (
          |  SELECT doc_id AS arr_id, doc_id AS base_id FROM documents
          |  WHERE doc_id % 5 = 3
          |  UNION ALL
          |  SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id % 40 = 4),
          |md5_2 AS (
          |  SELECT DISTINCT md5(d.text) AS th
          |  FROM documents d JOIN idx2 i ON i.doc_id = d.doc_id),
          |near_2 AS (
          |  SELECT DISTINCT vp.x FROM vp JOIN idx2 i ON vp.y = i.doc_id),
          |s2 AS (
          |  SELECT b2.arr_id, b2.base_id,
          |    CASE WHEN m.th IS NOT NULL THEN 'exact_dup'
          |         WHEN n.x IS NOT NULL THEN 'near_dup'
          |         ELSE 'kept' END AS status
          |  FROM b2
          |  JOIN documents db ON db.doc_id = b2.base_id
          |  LEFT JOIN md5_2 m ON m.th = md5(db.text)
          |  LEFT JOIN near_2 n ON n.x = b2.base_id)
          |SELECT CAST(1 AS BIGINT) AS batch, arr_id AS doc_id, status FROM s1
          |UNION ALL
          |SELECT CAST(2 AS BIGINT), arr_id, status FROM s2
          |ORDER BY batch, doc_id""".stripMargin),
    "d24_split_leakage" ->
      (BandedPairsCte + ",\n" +
        """splits AS (
          |  SELECT doc_id,
          |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
          |              % 100 < 80 THEN 'train'
          |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
          |              % 100 < 90 THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM documents)
          |SELECT v.doc_a, v.doc_b, sa.split AS split_a, sb.split AS split_b,
          |       v.jaccard
          |FROM verified v
          |JOIN splits sa ON sa.doc_id = v.doc_a
          |JOIN splits sb ON sb.doc_id = v.doc_b
          |WHERE v.jaccard >= 0.7 AND sa.split <> sb.split
          |ORDER BY v.doc_a, v.doc_b""".stripMargin),
    "d26_fuzzy_multipass" ->
      """WITH titled AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 7 THEN substring(tb, 1, length(tb) - 1)
        |         WHEN doc_id % 10 = 7 THEN tb || 'x'
        |         WHEN doc_id % 20 = 3 THEN substring(tb, 2)
        |         WHEN doc_id % 20 = 13 THEN 'q' || tb
        |         ELSE tb END AS title
        |  FROM (SELECT doc_id,
        |          source || '-' ||
        |            (doc_id % greatest(50, (SELECT count(*) FROM documents) // 100))
        |            || ' item ' ||
        |            (doc_id % greatest(23, (SELECT count(*) FROM documents) // 100))
        |            AS tb
        |        FROM documents) x),
        |klen AS (
        |  SELECT least(12, 6 + greatest(0,
        |    length(CAST(count(*) // 1000 AS VARCHAR)) - 1)) AS L
        |  FROM documents),
        |blocked AS (
        |  SELECT doc_id, title,
        |    substring(title, 1, L) AS pfx,
        |    substring(title, greatest(length(title) - L + 1, 1), L) AS sfx,
        |    length(title) // 4 AS lenb
        |  FROM titled, klen),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM blocked a JOIN blocked b
        |    ON a.pfx = b.pfx AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
        |   AND a.doc_id < b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM blocked a JOIN blocked b
        |    ON a.sfx = b.sfx AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
        |   AND a.doc_id < b.doc_id)
        |SELECT c.id_a, c.id_b,
        |  CAST(levenshtein(ta.title, tb.title) AS BIGINT) AS dist
        |FROM cand c
        |JOIN blocked ta ON ta.doc_id = c.id_a
        |JOIN blocked tb ON tb.doc_id = c.id_b
        |WHERE levenshtein(ta.title, tb.title) BETWEEN 1 AND 2
        |ORDER BY id_a, id_b""".stripMargin,
    "d23_fuzzy_dedup" ->
      """WITH titled AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 7 THEN substring(tb, 1, length(tb) - 1)
        |         WHEN doc_id % 10 = 7 THEN tb || 'x'
        |         ELSE tb END AS title
        |  FROM (SELECT doc_id,
        |          source || '-' ||
        |            (doc_id % greatest(50, (SELECT count(*) FROM documents) // 100))
        |            || ' report' AS tb
        |        FROM documents) x),
        |blocked AS (
        |  SELECT doc_id, title, substring(title, 1, 6) AS pfx,
        |         length(title) // 4 AS lenb
        |  FROM titled)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM blocked a JOIN blocked b
        |  ON a.pfx = b.pfx AND a.lenb = b.lenb AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) BETWEEN 1 AND 2
        |ORDER BY id_a, id_b""".stripMargin,
    // d34: the identical neighborhoods re-derived with lead() — same
    // exact-title collapse, same prefix block, same (title, rep) sort,
    // same integer levenshtein; pair normalized least/greatest
    "d34_sorted_neighborhood" ->
      """WITH titled AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 7 THEN substring(tb, 1, length(tb) - 1)
        |         WHEN doc_id % 10 = 7 THEN tb || 'x'
        |         ELSE tb END AS title
        |  FROM (SELECT doc_id,
        |          source || '-' || (doc_id % 50) || ' report' AS tb
        |        FROM documents) x),
        |reps AS (
        |  SELECT title, min(doc_id) AS rep, substring(title, 1, 6) AS pfx
        |  FROM titled GROUP BY title),
        |nbr AS (
        |  SELECT rep AS id_x, title AS title_x,
        |    lead(rep, 1) OVER w AS r1, lead(title, 1) OVER w AS t1,
        |    lead(rep, 2) OVER w AS r2, lead(title, 2) OVER w AS t2,
        |    lead(rep, 3) OVER w AS r3, lead(title, 3) OVER w AS t3
        |  FROM reps WINDOW w AS (PARTITION BY pfx ORDER BY title, rep)),
        |pairs AS (
        |  SELECT id_x, r1 AS id_y, levenshtein(title_x, t1) AS dist
        |    FROM nbr WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT id_x, r2, levenshtein(title_x, t2)
        |    FROM nbr WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT id_x, r3, levenshtein(title_x, t3)
        |    FROM nbr WHERE t3 IS NOT NULL)
        |SELECT least(id_x, id_y) AS id_a, greatest(id_x, id_y) AS id_b,
        |  CAST(dist AS BIGINT) AS dist
        |FROM pairs WHERE dist BETWEEN 1 AND 2
        |ORDER BY id_a, id_b""".stripMargin,
    // d35: the sample-bounded salted corpus (sample modulus
    // max(1, n/1000) — the d26 count-derived-universe pattern; plants =
    // period-10 token corruption on every (doc_id // mod) % 10 = 3
    // sampled doc), the band chain replayed over it for the candidate
    // side, and gold enumerated completely via shared-shingle blocking +
    // the exact set verify at θ=0.5; f1 = 2·tp/(n_cand+n_gold)
    "d35_lsh_recall_eval" ->
      (raw"""WITH smod AS (
        |  SELECT greatest(1, (SELECT count(*) FROM documents) // 1000)
        |    AS m),
        |sdocs AS (
        |  SELECT doc_id, text FROM documents, smod WHERE doc_id % m = 0),
        |src AS (
        |  SELECT doc_id, text FROM sdocs
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    array_to_string(list_transform(range(1, len(toks) + 1),
        |      i -> CASE WHEN (i - 1) % 10 = 0 THEN toks[i] || '_x'
        |           ELSE toks[i] END), ' ')
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'),
        |            t -> length(t) > 0) AS toks
        |        FROM sdocs, smod WHERE (doc_id // m) % 10 = 3) vsrc),
        |""".stripMargin + bandChain("src", 3) + raw""",
        |ex AS (SELECT doc_id, unnest(hv) AS uh FROM hv),
        |gpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ex a JOIN ex b ON a.uh = b.uh AND a.doc_id < b.doc_id),
        |gold AS (
        |  SELECT g.doc_a, g.doc_b FROM gpairs g
        |  JOIN hv ha ON ha.doc_id = g.doc_a
        |  JOIN hv hb ON hb.doc_id = g.doc_b
        |  WHERE CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
        |        CAST(len(list_distinct(ha.hv || hb.hv)) AS DOUBLE) >= 0.5),
        |counts AS (
        |  SELECT
        |    (SELECT count(1) FROM gold) AS n_gold,
        |    (SELECT count(1) FROM cpairs) AS n_cand,
        |    (SELECT count(1) FROM cpairs c JOIN gold g
        |       ON c.doc_a = g.doc_a AND c.doc_b = g.doc_b) AS tp)
        |SELECT n_gold, n_cand, tp,
        |  round(CAST(tp AS DOUBLE) / nullif(n_cand, 0), 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / nullif(n_gold, 0), 6) AS recall,
        |  round(2.0 * tp / nullif(n_cand + n_gold, 0), 6) AS f1
        |FROM counts""".stripMargin),
    // d37: the padded unique-title universe, the four planted corruption
    // classes, and BOTH blocking topologies replayed relationally — the
    // exact-bucket prefix join (single_pass) and the pfx∪sfx passes with
    // the ±1 length probe as a BETWEEN condition (multi_pass)
    "d37_fuzzy_recall_eval" ->
      """WITH tb0 AS (
        |  SELECT doc_id, source || '-' || doc_id || ' item record' AS tb
        |  FROM documents),
        |padded AS (
        |  SELECT doc_id,
        |    tb || repeat('p', (1 - (length(tb) % 4) + 4) % 4) AS title
        |  FROM tb0),
        |variants AS (
        |  SELECT doc_id + 400000 AS doc_id,
        |    CASE WHEN doc_id % 10 = 1 THEN substring(title, 1, length(title) - 1)
        |         WHEN doc_id % 10 = 2 THEN 'q' || title
        |         WHEN doc_id % 10 = 3 THEN substring(title, 1, length(title) - 2)
        |         ELSE 'q' || substring(title, 1, length(title) - 1) END AS title,
        |    CASE doc_id % 10 WHEN 1 THEN 'tail' WHEN 2 THEN 'head'
        |         WHEN 3 THEN 'straddle' ELSE 'both_ends' END AS class
        |  FROM padded WHERE doc_id % 10 IN (1, 2, 3, 4)),
        |titled AS (
        |  SELECT doc_id, title FROM padded
        |  UNION ALL SELECT doc_id, title FROM variants),
        |kl AS (
        |  SELECT least(12, 6 + greatest(0,
        |    length(CAST((SELECT count(*) FROM documents) // 1000 AS VARCHAR))
        |      - 1)) AS k),
        |blocked AS (
        |  SELECT doc_id, title, substring(title, 1, k) AS pfx,
        |    substring(title, greatest(length(title) - k + 1, 1), k) AS sfx,
        |    length(title) // 4 AS lenb
        |  FROM titled, kl),
        |p23 AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM blocked a JOIN blocked b
        |    ON a.pfx = b.pfx AND a.lenb = b.lenb AND a.doc_id < b.doc_id
        |  WHERE levenshtein(a.title, b.title) BETWEEN 1 AND 2),
        |p26 AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      a.title AS ta, b.title AS tb2
        |    FROM blocked a JOIN blocked b
        |      ON a.pfx = b.pfx AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
        |      AND a.doc_id < b.doc_id
        |    UNION ALL
        |    SELECT a.doc_id, b.doc_id, a.title, b.title
        |    FROM blocked a JOIN blocked b
        |      ON a.sfx = b.sfx AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
        |      AND a.doc_id < b.doc_id) u
        |  WHERE levenshtein(ta, tb2) BETWEEN 1 AND 2),
        |gold AS (
        |  SELECT doc_id - 400000 AS id_a, doc_id AS id_b, class FROM variants),
        |m AS (
        |  SELECT 'single_pass' AS pipeline, g.class,
        |    count(1) AS n_gold, count(p.id_a) AS n_caught
        |  FROM gold g LEFT JOIN p23 p ON g.id_a = p.id_a AND g.id_b = p.id_b
        |  GROUP BY g.class
        |  UNION ALL
        |  SELECT 'multi_pass', g.class, count(1), count(p.id_a)
        |  FROM gold g LEFT JOIN p26 p ON g.id_a = p.id_a AND g.id_b = p.id_b
        |  GROUP BY g.class)
        |SELECT pipeline, class, n_gold, n_caught,
        |  round(CAST(n_caught AS DOUBLE) / n_gold, 6) AS recall
        |FROM m ORDER BY pipeline, class""".stripMargin,
    // d38: the snippet-salted corpus, d30's band candidates, and the
    // min-shingle prefix-filter pass replayed over the same hv sets;
    // gold metrics pin the high-containment/low-J regime
    "d38_containment_recall_eval" ->
      (raw"""WITH toks0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      t -> length(t) > 0) AS toks
        |  FROM documents),
        |snips AS (
        |  SELECT doc_id + 500000 AS doc_id,
        |    array_to_string(
        |      list_slice(toks, 1, greatest(3, len(toks) // 5)), ' ') AS text
        |  FROM toks0 WHERE doc_id % 10 = 5 AND len(toks) >= 15),
        |src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM snips),
        |""".stripMargin + bandChain("src", 3) + raw""",
        |gold AS (
        |  SELECT doc_id - 500000 AS doc_a, doc_id AS doc_b FROM snips),
        |gstats AS (
        |  SELECT
        |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
        |      CAST(len(list_distinct(ha.hv || hb.hv)) AS DOUBLE) AS jaccard,
        |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
        |      CAST(len(list_distinct(hb.hv)) AS DOUBLE) AS cont_b
        |  FROM gold g JOIN hv ha ON ha.doc_id = g.doc_a
        |              JOIN hv hb ON hb.doc_id = g.doc_b),
        |probe AS (SELECT doc_id, list_aggregate(hv, 'min') AS h FROM hv),
        |inv AS (SELECT doc_id, unnest(hv) AS h FROM hv),
        |pf AS (
        |  SELECT DISTINCT least(p.doc_id, i.doc_id) AS doc_a,
        |    greatest(p.doc_id, i.doc_id) AS doc_b
        |  FROM probe p JOIN inv i ON p.h = i.h AND p.doc_id <> i.doc_id),
        |m AS (
        |  SELECT 'resemblance_bands' AS method, count(1) AS n_gold,
        |    count(c.doc_a) AS n_caught
        |  FROM gold g LEFT JOIN cpairs c
        |    ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
        |  UNION ALL
        |  SELECT 'prefix_filter', count(1), count(p.doc_a)
        |  FROM gold g LEFT JOIN pf p
        |    ON g.doc_a = p.doc_a AND g.doc_b = p.doc_b)
        |SELECT method, n_gold, n_caught,
        |  round(CAST(n_caught AS DOUBLE) / nullif(n_gold, 0), 6) AS recall,
        |  (SELECT round(avg(jaccard), 6) FROM gstats) AS gold_avg_jaccard,
        |  (SELECT round(min(cont_b), 6) FROM gstats) AS gold_min_containment
        |FROM m ORDER BY method""".stripMargin),
    // d36: the chain-salted corpus, the band->verify edge set at 0.7,
    // and the k<=3 BFS replayed as a depth-bounded recursive CTE; UNION
    // (not UNION ALL) bounds the recursion state at |docs| x 4 rows, and
    // min(hops) is the BFS distance
    "d36_contamination_radius" ->
      (raw"""WITH RECURSIVE flag AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3),
        |va AS (
        |  SELECT doc_id + 300000 AS doc_id,
        |    array_to_string(list_transform(range(1, len(toks) + 1),
        |      i -> CASE WHEN (i - 1) % 20 = 0 THEN toks[i] || '_a'
        |           ELSE toks[i] END), ' ') AS text
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'),
        |            t -> length(t) > 0) AS toks FROM flag) xa),
        |vb AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_transform(range(1, len(toks) + 1),
        |      i -> CASE WHEN (i - 1) % 20 = 7 THEN toks[i] || '_b'
        |           ELSE toks[i] END), ' ') AS text
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'),
        |            t -> length(t) > 0) AS toks FROM va) xb),
        |vc AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_transform(range(1, len(toks) + 1),
        |      i -> CASE WHEN (i - 1) % 20 = 14 THEN toks[i] || '_c'
        |           ELSE toks[i] END), ' ') AS text
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'),
        |            t -> length(t) > 0) AS toks FROM vb) xc),
        |src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM va
        |  UNION ALL SELECT doc_id, text FROM vb
        |  UNION ALL SELECT doc_id, text FROM vc),
        |""".stripMargin + bandChain("src", 3) + raw""",
        |vp AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7),
        |edges AS (
        |  SELECT doc_a AS src_id, doc_b AS dst FROM vp
        |  UNION ALL SELECT doc_b, doc_a FROM vp),
        |reach AS (
        |  SELECT doc_id, 0 AS hops FROM flag
        |  UNION
        |  SELECT e.dst AS doc_id, r.hops + 1 AS hops
        |  FROM reach r JOIN edges e ON e.src_id = r.doc_id
        |  WHERE r.hops < 3)
        |SELECT doc_id, CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "d15_url_dedup" ->
      raw"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) ||
        |      source || '.Example.COM' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |    '/articles/' || (doc_id % 50) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss'
        |          WHEN doc_id % 3 = 1 THEN '?id=' || (doc_id % 5) ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#sec' || (doc_id % 9) ELSE '' END) AS url
        |  FROM documents
        |), nf AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$$', '') AS u FROM u
        |), c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(
        |        lower(regexp_extract(u, '^([^/]*//[^/]*)', 1)) ||
        |          regexp_replace(u, '^[^/]*//[^/]*', ''),
        |        ':443/', '/'),
        |      'utm_[^&]*&?', '', 'g'), '[?&]$$', ''), '/\?', '?'), '/$$', '')
        |      AS canonical_url
        |  FROM nf
        |)
        |SELECT canonical_url, min(doc_id) AS keep_doc_id, count(1) AS n_dupes
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    "d09_minhash_md5" ->
      (SigsCte + "\nSELECT * FROM sigs ORDER BY doc_id"),
    // d03: the sketch-side estimate — matching-slot fraction over the
    // banded candidates; exact multiples of 1/8, no float hazard at 0.5
    "d03_minhash_candidates" ->
      (BandedPairsCte + ",\n" +
        """est AS (
          |  SELECT doc_a, doc_b, CAST(""".stripMargin +
        (0 until 8).map(i =>
          s"    (CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END)")
          .mkString("\n  + ") +
        """ AS DOUBLE) / 8 AS est_jaccard
          |  FROM cpairs JOIN sigs sa ON sa.doc_id = cpairs.doc_a
          |              JOIN sigs sb ON sb.doc_id = cpairs.doc_b)
          |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin),
    // d04: the native SimHash64 expression replayed shingle-for-shingle
    "d04_simhash_signatures" ->
      (SimhashShingleCte +
        "\nSELECT doc_id, simhash FROM simsigs ORDER BY doc_id"),
    // d06: 15-bit chunk banding + integer Hamming verify over the same
    // signatures — pigeonhole-complete for the <=3 cut
    "d06_simhash_pairs" ->
      (SimhashShingleCte + ",\n" +
        """chunks AS (
          |  SELECT doc_id, simhash, i AS chunk_idx,
          |         (simhash >> (15 * i)) & 32767 AS chunk
          |  FROM simsigs, (SELECT unnest([0, 1, 2, 3]) AS i)),
          |spairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |  FROM chunks a JOIN chunks b
          |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
          |  WHERE a.doc_id < b.doc_id)
          |SELECT doc_a, doc_b, hamming FROM spairs WHERE hamming <= 3
          |ORDER BY doc_a, doc_b""".stripMargin),
    // d05: the identical band->verify chain at the 4-gram/0.6 point
    "d05_ngram_jaccard_verify" ->
      ("WITH " + bandChain("documents", 4) +
        "\nSELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.6" +
        "\nORDER BY doc_a, doc_b"),
    // d08: exact stage first (min-id keeper per md5(text)), then the
    // band->verify->drop-doc_b pass over the exact survivors only
    "d08_dedup_corpus" ->
      ("""WITH exact_keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |sdocs AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN exact_keep USING (doc_id)),
        |""".stripMargin + bandChain("sdocs", 3) + """
        |SELECT doc_id FROM sdocs
        |WHERE doc_id NOT IN (
        |  SELECT DISTINCT doc_b FROM verified WHERE jaccard >= 0.7)
        |ORDER BY doc_id""".stripMargin),
    "d10_jaccard_blocked" ->
      (BandedPairsCte +
        "\nSELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.7" +
        "\nORDER BY doc_a, doc_b"),
    "d14_neardup_components" ->
      (BandedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        """pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach AS (SELECT a, b FROM edges
          |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
          |SELECT a AS doc_id, least(a, min(b)) AS component
          |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),
    // d32: the same recursive closure, then every doc inherits its
    // component representative and the q51 bucket rule applies to the REP
    "d32_cluster_split" ->
      (BandedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        """pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach AS (SELECT a, b FROM edges
          |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          |comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep
          |         FROM reach GROUP BY a),
          |assigned AS (
          |  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep
          |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
          |bucketed AS (
          |  SELECT *, ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 7))::BIGINT
          |    % 100 AS b
          |  FROM assigned)
          |SELECT doc_id, rep,
          |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM bucketed ORDER BY doc_id""".stripMargin),
    // d33: the same 3-shingle definition as ShingleCte, lifted to the
    // SOURCE grain with 60-bit md5 identities; the Jaccard quotient is
    // integer-derived, exact in both engines
    "d33_source_overlap" ->
      raw"""WITH base AS (
        |  SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents
        |), shs AS (
        |  SELECT source, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i ->
        |      array_to_string(list_slice(toks, i, i + 2), ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM base
        |), shx AS (
        |  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, unnest(sh) AS g FROM shs)
        |), counts AS (SELECT source, count(1) AS n FROM shx GROUP BY source),
        |shared AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(1) AS shared_shingles
        |  FROM shx a JOIN shx b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_shingles, ca.n AS n_a, cb.n AS n_b,
        |  round(CAST(shared_shingles AS DOUBLE)
        |    / CAST(ca.n + cb.n - shared_shingles AS DOUBLE), 6) AS jaccard
        |FROM shared
        |JOIN counts ca ON ca.source = source_a
        |JOIN counts cb ON cb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // d29: the 5 PageRank iterations unrolled as CTEs over the same
    // banded/verified pair graph; identical float discipline (9dp-rounded
    // contributions summed as exact decimals, literal-constant damping)
    "d29_pagerank" -> {
      val iter = (i: Int) =>
        s"""r$i AS (
           |  SELECT e.doc_b AS doc_id,
           |    round(CAST(0.15 AS DOUBLE) / n.n + CAST(0.85 AS DOUBLE) *
           |      CAST(sum(CAST(round(r.rank / o.outdeg, 9)
           |        AS DECIMAL(38,9))) AS DOUBLE), 9) AS rank
           |  FROM pr_edges e JOIN r${i - 1} r ON r.doc_id = e.doc_a
           |  JOIN outdeg o ON o.doc_a = e.doc_a CROSS JOIN n
           |  GROUP BY e.doc_b, n.n)""".stripMargin
      BandedPairsCte + ",\n" +
        """pr_edges AS (
          |  SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7
          |  UNION ALL
          |  SELECT doc_b, doc_a FROM verified WHERE jaccard >= 0.7),
          |outdeg AS (SELECT doc_a, count(1) AS outdeg FROM pr_edges
          |           GROUP BY doc_a),
          |nodes AS (SELECT DISTINCT doc_a AS doc_id FROM pr_edges),
          |n AS (SELECT count(1) AS n FROM nodes),
          |r0 AS (SELECT doc_id, CAST(1 AS DOUBLE) / n.n AS rank
          |       FROM nodes CROSS JOIN n),""".stripMargin + "\n" +
        (1 to 5).map(iter).mkString(",\n") + "\n" +
        "SELECT doc_id, rank FROM r5 ORDER BY doc_id"
    },
    // d30: containment over the same banded candidates, explicit
    // distinct-set semantics on both denominators
    "d30_containment" ->
      (BandedPairsCte + ",\n" +
        """cont AS (
          |  SELECT doc_a, doc_b,
          |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
          |      CAST(len(list_distinct(ha.hv)) AS DOUBLE) AS cont_a,
          |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
          |      CAST(len(list_distinct(hb.hv)) AS DOUBLE) AS cont_b,
          |    CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE) /
          |      CAST(len(list_distinct(ha.hv || hb.hv)) AS DOUBLE) AS jaccard
          |  FROM cpairs JOIN hv ha ON ha.doc_id = cpairs.doc_a
          |              JOIN hv hb ON hb.doc_id = cpairs.doc_b)
          |SELECT doc_a, doc_b, cont_a, cont_b, jaccard FROM cont
          |WHERE greatest(cont_a, cont_b) >= 0.7
          |ORDER BY doc_a, doc_b""".stripMargin),
    "d31_tokensort_dedup" ->
      raw"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(list_reverse(
        |      list_filter(string_split_regex(text, '\s+'),
        |        t -> length(t) > 0)), ' ')
        |  FROM documents WHERE doc_id % 10 = 3),
        |sigs AS (
        |  SELECT doc_id, md5(text) AS exact_md5,
        |    md5(array_to_string(list_sort(
        |      list_filter(string_split_regex(text, '\s+'),
        |        t -> length(t) > 0)), ' ')) AS sig
        |  FROM corpus)
        |SELECT min(doc_id) AS keeper_id, count(1) AS n_members,
        |  count(DISTINCT exact_md5) AS n_exact_distinct
        |FROM sigs GROUP BY sig ORDER BY keeper_id""".stripMargin,
    // d28: d14's components + a longest-member keeper election per cluster
    "d28_cluster_keep_best" ->
      (BandedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        """pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach AS (SELECT a, b FROM edges
          |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
          |         FROM reach GROUP BY a),
          |best AS (
          |  SELECT c.component, c.doc_id,
          |    row_number() OVER (PARTITION BY c.component
          |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
          |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
          |keeprs AS (SELECT component, doc_id AS keep_id FROM best WHERE rn = 1)
          |SELECT c.doc_id, c.component, k.keep_id,
          |  c.doc_id = k.keep_id AS kept
          |FROM comp c JOIN keeprs k USING (component)
          |ORDER BY c.doc_id""".stripMargin),
    "d11_simhash_md5" ->
      (raw"""WITH base AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0),
        |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |""".stripMargin +
        (0 until 60).map(j =>
          s"  CASE WHEN len(list_filter(hs, h -> ((h >> $j) & 1) = 1)) * 2 > len(hs)" +
            s" THEN ${1L << j} ELSE 0 END")
          .mkString("\n  + ") +
        "\n  AS simhash60\nFROM base ORDER BY doc_id"),
    "d13_contamination" ->
      (ShingleCte + raw""",
        |hv AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hv
        |  FROM shs),
        |exploded AS (
        |  SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, unnest(hv) AS h FROM hv) u)
        |SELECT t.doc_id,
        |  count(DISTINCT t.h) AS n_shared_shingles,
        |  count(DISTINCT e.doc_id) AS n_eval_docs
        |FROM exploded t JOIN exploded e ON t.h = e.h
        |WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    "d12_dedup_corpus_md5" ->
      (BandedPairsCte + """
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT DISTINCT doc_b FROM verified WHERE jaccard >= 0.7)
        |ORDER BY doc_id""".stripMargin),
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(1) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,
    "d02_key_dedup" ->
      """SELECT lang, source, min(doc_id) AS keeper_id, count(1) AS n_in_group
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "d07_anti_dedup" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id >= 100 AND text NOT IN (
        |  SELECT text FROM documents WHERE doc_id < 100)
        |ORDER BY doc_id""".stripMargin)
}
