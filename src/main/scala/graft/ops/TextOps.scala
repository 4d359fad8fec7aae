package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Text-analysis operators over the documents table (SURVEY.md §2.6):
  * token statistics, corpus profiles, quality scoring, language-ID,
  * fingerprinting. All column-expression compositions — whole-stage
  * codegen'd, no UDFs.
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Per-document token statistics (space-split to match the oracle's
    * string_split semantics exactly). */
  private def t01(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        size(tokenize(col("text"), "space-raw")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Corpus profile by language label. */
  private def t02(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        StableAgg.intAvg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  /** Repetition profile: distinct-token ratio (integer-derived doubles —
    * exact in both engines). */
  private def t03(s: SparkSession, d: String): DataFrame = {
    val toks = tokenize(col("text"), "space-raw")
    docs(s, d)
      .select(col("doc_id"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        (size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")).as("distinct_ratio"))
      .orderBy("doc_id")
  }

  /** Full text profile: language-ID heuristic, composite quality score,
    * BPE-ish token count, rolling-hash fingerprint. The fingerprint is the
    * md5-rolling portable variant ([[TextFunctions.fingerprintMd5]] — the
    * d09 discipline), so the whole profile is oracle-checkable; the
    * xxhash64 [[TextFunctions.fingerprint]] stays available as the faster
    * engine-native alternative (spec-pinned). */
  /** Presentation rounding through a shared DECIMAL(18,10) intermediate:
    * `round(double, 4)` straight off the double diverges between engines
    * exactly at decimal tie boundaries (Spark rounds the SHORTEST decimal
    * rendering — 0.72125 → 0.7213 — where DuckDB rounds the binary value
    * below it → 0.7212; 13 sf0.1 rows hit this, invisible at sf0.01). The
    * 10-digit decimal cast absorbs the ~1e-16 binary error onto the tie
    * in BOTH engines, then both round the identical decimal half-up. */
  private def round4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c.cast("decimal(18,10)"), 4).cast("double")

  private def t04(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        languageId(col("text")).as("predicted_lang"),
        round4(qualityScore(col("text"))).as("quality"),
        tokenCountBpeish(col("text")).as("bpeish_tokens"),
        fingerprintMd5(col("text")).as("fingerprint"),
        round4(stopwordRatio(col("text"))).as("stopword_ratio"),
        round4(punctRatio(col("text"))).as("punct_ratio"))
      .orderBy("doc_id")

  /** Oracle-checkable text-quality profile: the SQL-expressible subset of
    * t04 (language-ID argmax, quality score, stopword/punct ratios) with NO
    * rounding — every value is either an exact small-int quotient or a
    * fixed-order double expression both engines evaluate identically (the
    * 0.25 weights are exact binary scalings). t04 keeps the full profile
    * incl. the xxhash64 fingerprint and lookaround-regex token count that
    * RE2-based engines can't express. */
  private def t07(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        languageId(col("text")).as("predicted_lang"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        punctRatio(col("text")).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Token-frequency table (explode → count): the tf side of tf-idf. */
  private def t05(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(tokenize(col("text"), "space-raw")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(100)

  /** tf-idf: corpus-wide document frequency joined back to per-doc term
    * frequency (two hash aggregations + one broadcastable join — the
    * standard distributed formulation; df is computed over the FULL corpus
    * while the output is restricted to a bounded doc set for determinism). */
  private def t06(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"), explode(tokenize(col("text"), "space-raw")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.filter(col("doc_id") < 20)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy("doc_id", "token")
  }

  /** t20: BM25 keyword retrieval (Robertson et al.; the Lucene idf
    * variant) — the ranking function behind the corpus-search /
    * contamination-lookup step of a curation pipeline, one rung above
    * t06's tf-idf: term saturation (k1) and length normalization (b) make
    * long word-salad documents stop winning on raw term counts.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf = ln((N−df+0.5)/(df+0.5)+1), k1=1.2, b=0.75, over a fixed
    * 3-term query. Per-term scores round to 6dp (absorbs ln ulp skew)
    * then sum as exact decimals, so the total is addition-order-free.
    *
    * Scale shape: doc lengths and df are corpus aggregations (map-side
    * combined); the scored set is only docs containing a query term
    * (the isin filter pushes to the scan); N/avgdl broadcast as one row.
    * No all-pairs, no corpus self-join — the same two-agg-and-join
    * topology as t06, plus the top-k TakeOrdered. */
  private def t20(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "vector", "customer")
    val k1 = 1.2; val b = 0.75
    val toks = docs(s, d)
      .select(col("doc_id"), explode(tokenize(col("text"), "space-raw")).as("token"))
      .filter(length(col("token")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = docs(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dl.agg(sum(col("dl")).as("total_tokens"))))
    val qtoks = toks.filter(col("token").isin(terms: _*))
    val tf = qtoks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = qtoks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "token").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("term_score",
        round(col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score").cast("decimal(30,6)")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("score"))
  }

  /** t21: keyword-in-context (KWIC) snippets — the search-result
    * companion of t20: for each query term a document contains, the ±3
    * token window around the FIRST occurrence, the snippet a retrieval UI
    * (or a contamination-audit reviewer) shows. Entirely per-row:
    * `array_position` (codegen'd, no explode) finds the occurrence and
    * `slice` cuts the window over the raw space-split array — both
    * engines slice the SAME raw array, so even degenerate whitespace
    * round-trips identically. No shuffle but the output sort. */
  private def t21(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "vector", "customer")
    docs(s, d)
      .select(col("doc_id"), tokenize(col("text"), "space-raw").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(array(terms.map(lit): _*)).as("term"))
      .withColumn("pos", array_position(col("toks"), col("term")))
      .filter(col("pos") > 0)
      .select(col("doc_id"), col("term"), col("pos"),
        concat_ws(" ", slice(col("toks"),
          greatest(col("pos") - 3, lit(1)),
          col("pos") + lit(3) - greatest(col("pos") - 3, lit(1)) + lit(1)))
          .as("snippet"))
      .orderBy("doc_id", "term")
  }

  /** t22: Zipf vocabulary-coverage curve — for each coverage target
    * (50/90/95/99% of token occurrences), the smallest frequency-ranked
    * vocabulary that reaches it. The number a tokenizer-budget or
    * stopword decision actually needs, and on a Zipf-shaped corpus the
    * curve's knee is the whole story.
    *
    * Scale shape: the naive formulation is a GLOBAL rank + running sum
    * over the vocabulary — a single-partition window over what is 100M+
    * rows at 100 TB. This one never ranks the vocabulary: it aggregates
    * the vocab into a tf-HISTOGRAM (one row per distinct frequency
    * value — bounded by the max per-token count, thousands of rows at
    * any corpus size, Zipf guarantees it), runs the cumulative window
    * over that tiny frame, and recovers the EXACT boundary rank
    * arithmetically inside the crossing bucket (every token in a bucket
    * has identical tf, so the m-th token's cumulative mass is
    * cum_before + m·tf — pure integer math, identical in any engine).
    * Two corpus-scale hash aggs, one histogram-scale window, zero
    * corpus-scale sorts. */
  /** t23 chunk geometry: 64-token windows advancing 48 tokens — a
    * 16-token overlap so no sentence straddling a boundary is lost to
    * both chunks. */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** t23: sliding-window chunking with overlap — the long-document prep
    * every embedding/RAG/training pipeline runs when documents exceed the
    * model's context: fixed-size token windows advancing by a stride <
    * window so consecutive chunks overlap. Pure per-row array algebra
    * (tokenize → sequence → explode → slice): a narrow explode with NO
    * shuffle at all — at 100 TB the chunker is a map-only pass whose
    * output lands partition-aligned with its input, ready for the
    * embedding stage. Distinct from t08 (greedy packing of whole short
    * docs into budget bins); this is the splitting half of the same
    * context-window problem. */
  private def t23(s: SparkSession, d: String): DataFrame =
    chunkWithOverlap(docs(s, d).select(col("doc_id"), col("text")),
      ChunkTokens, ChunkStride)
      .orderBy("doc_id", "chunk_start")

  /** The t23 kernel, public for specs: one row per (doc, window start),
    * with the chunk text rejoined and its token count. Tokenization is
    * space-raw for exact cross-engine list parity. */
  def chunkWithOverlap(docsDf: DataFrame, chunk: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= chunk,
      s"stride $stride must be in [1, $chunk]")
    docsDf
      .withColumn("toks", tokenize(col("text"), "space-raw"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("chunk_start",
        explode(expr(s"sequence(0L, greatest(n_tokens - 1, 0L), ${stride}L)")))
      .withColumn("chunk_arr",
        slice(col("toks"), (col("chunk_start") + 1).cast("int"), lit(chunk)))
      .select(col("doc_id"), col("chunk_start"),
        array_join(col("chunk_arr"), " ").as("chunk_text"),
        size(col("chunk_arr")).cast("long").as("chunk_tokens"))
      .filter(col("chunk_tokens") > 0)
  }

  /** t24 retrieval geometry: 16-token chunks advancing 8 (the corpus's
    * ~35-token docs yield 4-5 chunks each), 16 feature-hash slots, top-5
    * docs per query. */
  private val RagChunkTokens = 16
  private val RagChunkStride = 8
  private val RagSlots = 16
  private val RagTopK = 5
  private val RagQueries = Seq(
    (0L, "customer order data"),
    (1L, "spark vector table"),
    (2L, "fast slow filter"))

  /** t24: RAG retrieval over chunked documents — the loop that closes
    * t23's chunking with v-family scoring: every document splits into
    * overlapping chunks, each chunk embeds as a 16-slot feature-hash
    * bag-of-words (slot = 60-bit md5 token prefix mod 16 — the d09
    * discipline, so the WHOLE pipeline is oracle-checkable, unlike a
    * learned embedding), each of 3 fixed queries cosine-scores every
    * chunk, the best chunk represents its document, and the top-5
    * documents per query come back with the chunk that won. This is the
    * retrieval half of a RAG system, end to end: chunk → embed → score →
    * dedup-to-doc → top-k.
    *
    * Float discipline: dot products and squared norms fold INTEGER slot
    * counts in slot order (exact in double), then one sqrt and one
    * division per pair — IEEE-identical in both engines, so ranking on
    * the raw sim with (doc_id, chunk_start) tie-breaks is deterministic
    * cross-engine; sim rounds to 6dp only for display.
    *
    * Scale shape: chunk+embed is the t23 map-only pass plus per-row slot
    * counting (no shuffle); scoring is a crossJoin with the BROADCAST
    * 3-row query table (plan-pinned tiny-side family); doc-dedup and
    * top-k are two windows on one query_id/doc_id hash shuffle. At real
    * scale the brute chunk scan is replaced by an ANN index over the
    * same chunk embeddings (v02/v05/v07 — e02 persists exactly such an
    * index); the composition here gates the semantics. */
  private def t24(s: SparkSession, d: String): DataFrame = {
    val chunks = ragChunkEmbeddings(docs(s, d))
    val qemb = ragQueryEmbeddings(s)
    val scored = ragScore(chunks.crossJoin(broadcast(qemb)))
    ragRerank(scored)
  }

  /** The compositional per-token slot hash the DuckDB oracles replay —
    * kept as the spec reference for [[graft.functions.Md5TokenSlotHashes]]
    * (RagSlotKernelsSpec pins bit-identity); the engine hot path runs the
    * native kernel. */
  private[graft] def ragSlotHash(t: org.apache.spark.sql.Column) =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long") % RagSlots

  /** Native per-token slot hashes over `tokenize(text, "space-raw")` —
    * one JVM pass per document instead of an interpreted md5-hex →
    * substring → conv lambda per token (r20 optimization; bit-identity
    * spec-pinned against the [[ragSlotHash]] transform). */
  private[graft] def ragSlotHashes(text: org.apache.spark.sql.Column) =
    graft.functions.Md5TokenSlotHashes(text, RagSlots)

  // Slot counts are ONE pass over the hash array. History: the original
  // 16-filters-per-slot form re-evaluated the md5 transform 16× per row
  // (7.5 s → ~1 s at sf0.1 when folded into one aggregate); the fold
  // itself still ran interpreted (higher-order functions are
  // codegen-fallback) and allocated a fresh 16-slot array per TOKEN, so
  // r20 moved it into the native [[graft.functions.SlotHistogram]]
  // kernel (bit-identity spec-pinned against the fold form).
  private[graft] def ragSlotCounts(hs: org.apache.spark.sql.Column) =
    graft.functions.SlotHistogram(hs, RagSlots)

  /** The compositional histogram fold the DuckDB oracles replay — spec
    * reference for [[graft.functions.SlotHistogram]]. */
  private[graft] def ragSlotCountsComposed(hs: org.apache.spark.sql.Column) =
    aggregate(hs, expr(s"array_repeat(0L, $RagSlots)"),
      (acc, h) => transform(acc,
        (v, j) => when(j.cast("long") === h, v + 1L).otherwise(v)))

  private[graft] def ragNorm(v: org.apache.spark.sql.Column) =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + (x * x).cast("double")))

  /** Whole-document 16-slot feature-hash embedding — the t24 chunk
    * encoder applied to a full text; m07's stub "encoder tower". */
  private[graft] def docSlotEmbed(text: org.apache.spark.sql.Column) =
    ragSlotCounts(ragSlotHashes(text))

  /** The t24/t25 shared chunk+embed stage: (doc_id, chunk_start,
    * cv: array<long> slot counts, cn: L2 norm). Map-only — no shuffle.
    *
    * Slot hashes compute ONCE PER TOKEN at document level and the chunk
    * explode slices the hash array, not the token array: with stride
    * [[RagChunkStride]] < chunk size [[RagChunkTokens]] every token sits
    * in 2 chunks, so hashing inside the chunk loop ran each token's
    * md5+conv twice (transform∘slice ≡ slice∘transform — emitted rows are
    * bit-identical, checked exceptAll-both-ways at sf0.1; measured 1.05 s
    * → 0.78 s for the embed pass, r20 optimization pass). */
  def ragChunkEmbeddings(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    docsDf
      .withColumn("hs_full", ragSlotHashes(col("text")))
      .withColumn("n_tokens", size(col("hs_full")).cast("long"))
      .withColumn("chunk_start", explode(expr(
        s"sequence(0L, greatest(n_tokens - 1, 0L), ${RagChunkStride}L)")))
      .withColumn("hs", slice(col("hs_full"),
        (col("chunk_start") + 1).cast("int"), lit(RagChunkTokens)))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("chunk_start"),
        ragSlotCounts(col("hs")).as("cv"))
      .withColumn("cn", ragNorm(col("cv")))
  }

  /** The fixed 3-query embedding table (query_id, qv, qn) — broadcast
    * everywhere it appears. */
  def ragQueryEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    RagQueries.toDF("query_id", "query_text")
      .select(col("query_id"), ragSlotHashes(col("query_text")).as("hs"))
      .select(col("query_id"), ragSlotCounts(col("hs")).as("qv"))
      .withColumn("qn", ragNorm(col("qv")))
  }

  /** Exact (query, chunk) cosine over integer slot counts — identical
    * expressions in the brute (t24) and index-served (t25) paths, so the
    * served shortlist reranks on EXACTLY the sims the brute scan computes
    * and the recall spec measures pure candidate coverage. */
  private def ragScore(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("dot", aggregate(
        zip_with(col("qv"), col("cv"), (x, y) => x * y),
        lit(0.0), (acc, e) => acc + e.cast("double")))
      .withColumn("sim", col("dot") / (col("qn") * col("cn")))

  /** Best-chunk-per-doc then top-k docs per query: t24's output contract. */
  private def ragRerank(scored: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("sim").desc, col("chunk_start").asc)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    scored.withColumn("rb", row_number().over(wDoc)).filter(col("rb") === 1)
      .withColumn("rank", row_number().over(wQ))
      .filter(col("rank") <= RagTopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("chunk_start"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** t25 index geometry: 4 hyperplanes over the 16 slot dims → 16 IVF
    * cells; each query probes its 6 nearest cell centroids. */
  private val RagCellPlanes = 4
  private val RagNProbe = 6

  /** t25: RAG retrieval SERVED FROM THE PERSISTED ANN INDEX — the 100 TB
    * path t24's Scaladoc promises, composed and gated: the same chunk+embed
    * stage feeds an IVF index (build → persist → reload → route → pruned
    * cell scan → exact rerank) and returns t24's exact output contract.
    * t24 is the brute-scan oracle twin; the spec (TextOpsR10Spec) pins
    * recall against it ≥ the threshold AND that the serve scan reads ONLY
    * the probed cell directories (PartitionFilters — the no-brute-scan
    * plan property that makes this the scale path: queries touch
    * nProbe/nCells of the corpus, never all of it).
    *
    * Scale shape: the index build is one map-only embed pass + one
    * cell-partitioned write + one 16×16 centroid aggregate; serving
    * broadcasts the centroid table (tiny by construction), collects only
    * the (query, cell) routing pairs (bounded by queries × nProbe), and
    * the postings scan prunes to probed cells at the DIRECTORY level —
    * at a billion chunks each query still reads 6 cells. Fully oracled
    * since round 15: the cell signature is exact integer arithmetic over
    * the slot counts, so [[t25OracleSql]] replays the whole lifecycle in
    * DuckDB; t24 remains the brute-scan recall twin. */
  private def t25(s: SparkSession, d: String): DataFrame =
    ExportOps.withScratch("graft_ragidx", d) { out =>
      val root = out.getAbsolutePath
      buildRagIndex(s, ragChunkEmbeddings(docs(s, d)), root)
      val served = ragServeFromIndex(s, root, ragQueryEmbeddings(s), RagNProbe)
      ExportOps.localize(served, "query_id", "rank")
    }

  /** Builds the persistent RAG chunk index under `root`:
    * `root/postings/cell=N/` (chunk embeddings, partitioned by their IVF
    * cell — the layout that turns query routing into directory pruning)
    * and `root/centroids` (per-cell mean vectors, the routing table).
    * Cells come from a [[VectorFunctions.hyperplaneSignature]] over the
    * slot-count vector (at real scale a trained codebook — v07's k-means
    * fit slots in here unchanged); centroids aggregate from the WRITTEN
    * postings, so the persisted artifact is self-consistent even if the
    * input frame is nondeterministic. */
  def buildRagIndex(s: SparkSession, chunks: DataFrame, root: String): Unit = {
    assignCells(chunks)
      .write.partitionBy("cell").parquet(s"$root/postings")
    TxTable.bootstrapIfNeeded(s, s"$root/postings")
    centroidsOf(TxTable.read(s, s"$root/postings"))
      .write.parquet(s"$root/centroids")
    TxTable.bootstrapIfNeeded(s, s"$root/centroids")
  }

  /** The fixed, data-independent cell assignment (hyperplane signature
    * over the slot-count vector) — shared by build and append so arrival
    * chunks route into the SAME cell space without any retrain. */
  private def assignCells(chunks: DataFrame): DataFrame =
    chunks.withColumn("cell", graft.functions.VectorFunctions
      .hyperplaneSignature(col("cv"), planes = RagCellPlanes, dim = RagSlots)
      .cast("int"))

  /** Per-cell mean vectors over `postings`. The mean is an exact-integer
    * sum (cv carries long slot counts; integer-valued double additions
    * are exact far below 2^53) divided once — ORDER-FREE, so a centroid
    * recomputed from any file layout of the same rows is bit-identical.
    * That property is what lets [[appendRagIndex]]'s per-cell refresh
    * reproduce a full rebuild's routing table exactly. */
  private def centroidsOf(postings: DataFrame): DataFrame =
    postings
      .select(col("cell"), posexplode(
        graft.functions.VectorFunctions.toDouble(col("cv"))))
      .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("v"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        e => e.getField("v")).as("centroid"))

  /** APPEND maintenance for the persisted RAG index — the d25/e07
    * staged-swap move applied to the postings layout, closing the r10
    * verdict's "t25 still rebuilds" gap. Arrival chunks route through the
    * same fixed cell function and land through one cell-partitioned
    * [[TxTable.stage]]: their files MOVE into the live cell directories
    * with metadata-only renames (a cell the index has never seen appears
    * as a new directory — no rebuild), becoming visible only through ONE
    * [[TxTable]] manifest commit; the centroid routing table refreshes by
    * re-aggregating ONLY the affected cells' postings (a manifest-pruned
    * scan) and carrying every other centroid unchanged, committing through
    * its own manifest flip. Nothing ever re-reads unaffected cells, and
    * pre-existing posting files are never rewritten (RagAppendSpec pins
    * byte-identity, new-cell creation, and serve-equality with a
    * from-scratch rebuild). */
  def appendRagIndex(s: SparkSession, newChunks: DataFrame, root: String): Unit = {
    val postings = s"$root/postings"
    TxTable.bootstrapIfNeeded(s, postings)
    // append = stage the arrivals' files in beside the live ones (checked
    // metadata renames; pre-existing files are never touched), then flip
    // visibility with ONE manifest commit — a crash mid-move leaves the
    // old manifest latest and the half-moved files invisible, and the
    // next append's vacuum sweeps such orphans (CrashSafeSwapSpec)
    val moved = TxTable.stage(assignCells(newChunks), postings, "cell")
    val affected = moved.map(_.takeWhile(_ != '/').stripPrefix("cell=").toInt)
      .distinct.sorted
    TxTable.commit(s, postings, TxTable.liveFiles(s, postings) ++ moved)
    TxTable.vacuum(s, postings)
    // routing-table refresh: affected cells re-aggregate from their own
    // (pruned) postings; everything else carries. The refreshed table is
    // a full replacement, so it commits as new files + a manifest that
    // lists ONLY them, then vacuums the old generation — both versions
    // exist on disk until the atomic flip, zero unreadable windows (the
    // r11 ADVICE's delete-then-rename window closed).
    val refreshed = centroidsOf(TxTable.read(s, postings)
      .filter(col("cell").isin(affected.map(Int.box): _*)))
    // a pre-protocol index has no centroids manifest yet — register its
    // current files as v1 (same register-on-first-touch contract as
    // DedupOps.screenAgainstIndex) instead of failing "bootstrap first"
    TxTable.bootstrapIfNeeded(s, s"$root/centroids")
    val carried = TxTable.read(s, s"$root/centroids")
      .filter(!col("cell").isin(affected.map(Int.box): _*))
    TxTable.stageAndCommit(refreshed.unionByName(carried),
      s"$root/centroids", append = false)
  }

  /** t30: t25's index under APPEND maintenance — the corpus arrives as
    * two batches (even doc_ids build the index, odd doc_ids append into
    * it via [[appendRagIndex]]), then the SAME serve path runs against
    * the appended artifact. Because cell assignment is data-independent
    * and centroids are order-free exact means, the appended index serves
    * bit-identically to a from-scratch rebuild over the whole corpus
    * (spec-pinned equality) — which is exactly why t25's full-corpus
    * lifecycle oracle ([[t25OracleSql]]) hash-checks this gate too. */
  private def t30(s: SparkSession, d: String): DataFrame =
    ExportOps.withScratch("graft_ragapp", d) { out =>
      val root = out.getAbsolutePath
      val all = docs(s, d)
      buildRagIndex(s,
        ragChunkEmbeddings(all.filter(col("doc_id") % 2 === 0)), root)
      appendRagIndex(s,
        ragChunkEmbeddings(all.filter(col("doc_id") % 2 =!= 0)), root)
      val served = ragServeFromIndex(s, root, ragQueryEmbeddings(s), RagNProbe)
      ExportOps.localize(served, "query_id", "rank")
    }

  /** Routes each query to its `nProbe` nearest cell centroids from the
    * RELOADED index. The collect is bounded by queries × nProbe — the
    * routing table, not data. */
  def ragProbes(s: SparkSession, root: String, qemb: DataFrame,
                nProbe: Int): Array[(Long, Int)] = {
    // serve path register-on-first-touch: a pre-protocol index (persisted
    // before the manifest protocol existed) gets its v1 manifest here
    TxTable.bootstrapIfNeeded(s, s"$root/centroids")
    val cent = TxTable.read(s, s"$root/centroids")
    val routed = qemb.crossJoin(broadcast(cent))
      .withColumn("csim", graft.functions.VectorFunctions.dot(
          graft.functions.VectorFunctions.toDouble(col("qv")), col("centroid"))
        / (col("qn") * graft.functions.VectorFunctions.l2Norm(col("centroid"))))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell").asc)
    routed.withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= nProbe)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
  }

  /** Serves the query set from the persisted index at `root`: probed-cell
    * pruned postings scan → exact cosine rerank → t24's output contract. */
  def ragServeFromIndex(s: SparkSession, root: String, qemb: DataFrame,
                        nProbe: Int): DataFrame = {
    val probes = ragProbes(s, root, qemb, nProbe)
    ragServeShortlist(s, root, qemb, probes)
  }

  /** The serve stage alone (public so the plan spec can pin the pruned
    * scan against a known probe set): reads ONLY the probed `cell=`
    * directories — the literal isin lands in PartitionFilters, so
    * unprobed cells are never listed, opened, or read. */
  def ragServeShortlist(s: SparkSession, root: String, qemb: DataFrame,
                        probes: Array[(Long, Int)]): DataFrame = {
    import s.implicits._
    val probedCells = probes.map(_._2).distinct.sorted
    TxTable.bootstrapIfNeeded(s, s"$root/postings") // pre-protocol index
    val postings = TxTable.read(s, s"$root/postings")
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val routing = probes.toSeq.toDF("query_id", "cell")
    val cands = postings
      .join(broadcast(routing), Seq("cell"))
      .join(broadcast(qemb), Seq("query_id"))
    ragRerank(ragScore(cands))
  }

  /** t26: retrieval EVALUATION — the metrics loop that closes the
    * retrieval family (t20 lexical BM25, t24 brute dense, t25 index-served
    * dense): score the t24 ranking against binary lexical relevance labels
    * (a document is relevant to a query iff it contains EVERY query token)
    * with the standard IR metrics — precision@5, recall@5, MRR, nDCG@5 —
    * per query. This is how a pipeline decides whether an index/embedding
    * change helped before it ships: rank, label, score, compare.
    *
    * Float discipline: MRR is a single 1/rank division; DCG terms
    * (rel/log₂(rank+1)) truncate to DECIMAL(30,9) BEFORE the sum, so the
    * fold is order-free and immune to last-ulp log2 differences between
    * engines; IDCG computes by the same formula over ranks 1..5 (the
    * fixture guarantees ≥5 relevant docs per query); nDCG divides the two
    * canonicalized doubles once.
    *
    * Scale shape: labels are one broadcast-3-queries map pass over the
    * corpus; the ranking side is 5 rows per query, broadcast into the
    * label join; totals are one hash agg. Nothing here outgrows the
    * label scan. */
  private def t26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranked = t24(s, d).select(col("query_id"), col("rank"), col("doc_id"))
    val qdf = RagQueries.toDF("query_id", "query_text")
      .select(col("query_id"), tokenize(col("query_text"), "space-raw").as("qtoks"))
    val labels = docs(s, d)
      .select(col("doc_id"), tokenize(col("text"), "space-raw").as("dtoks"))
      .crossJoin(broadcast(qdf))
      .select(col("query_id"), col("doc_id"),
        when(expr("forall(qtoks, t -> array_contains(dtoks, t))"), 1L)
          .otherwise(0L).as("rel"))
    val totals = labels.groupBy(col("query_id"))
      .agg(sum(col("rel")).as("n_relevant"))
    // 15-row ranking broadcast into the corpus-sized label frame
    val top = labels.join(broadcast(ranked), Seq("query_id", "doc_id"))
    val met = top.groupBy(col("query_id"))
      .agg(sum(col("rel")).as("n_rel_top5"),
        round(max(when(col("rel") === 1, lit(1.0) / col("rank"))
          .otherwise(0.0)), 6).as("mrr"),
        StableAgg.scaledSum(col("rel") / log2(col("rank") + 1), 9).as("dcg"))
    val idcg = s.range(1, 6).select(
      StableAgg.scaledSum(lit(1.0) / log2(col("id") + 1), 9).as("idcg"))
    met.join(totals, Seq("query_id")).crossJoin(broadcast(idcg))
      .select(col("query_id"), col("n_relevant"), col("n_rel_top5"),
        round(col("n_rel_top5") / lit(5.0), 6).as("precision5"),
        round(col("n_rel_top5").cast("double") / col("n_relevant"), 6)
          .as("recall5"),
        col("mrr"),
        round(col("dcg") / col("idcg"), 6).as("ndcg5"))
      .orderBy("query_id")
  }

  private def t22(s: SparkSession, d: String): DataFrame = {
    val vocab = docs(s, d)
      .select(explode(tokenize(col("text"), "space")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val hist = vocab.groupBy(col("tf"))
      .agg(count(lit(1)).as("n_toks"), sum(col("tf")).as("mass"))
    // histogram-sized frame: the global window is over ≤ max(tf) rows
    val w = Window.orderBy(col("tf").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("tf"), col("n_toks"),
      (sum(col("mass")).over(w) - col("mass")).as("cum_before"),
      (sum(col("n_toks")).over(w) - col("n_toks")).as("toks_before"))
    val th = vocab.agg(sum(col("tf")).as("total_tokens"))
      .select(col("total_tokens"),
        explode(array(lit(50L), lit(90L), lit(95L), lit(99L))).as("pct"))
    // the unique bucket where coverage first reaches pct, then the exact
    // in-bucket token count m: smallest m with 100·(cum_before+m·tf) ≥
    // pct·total (integer ceiling division; all operands positive)
    cum.crossJoin(broadcast(th))
      .filter(col("cum_before") * 100 < col("pct") * col("total_tokens") &&
        (col("cum_before") + col("n_toks") * col("tf")) * 100 >=
          col("pct") * col("total_tokens"))
      .withColumn("m", expr(
        "(pct * total_tokens - 100 * cum_before + 100 * tf - 1) div (100 * tf)"))
      .select(col("pct"),
        (col("toks_before") + col("m")).as("vocab_size"),
        (col("cum_before") + col("m") * col("tf")).as("covered_tokens"),
        col("total_tokens"))
      .orderBy("pct")
  }

  /** Sequence packing for LLM training: assign documents to fixed
    * token-budget bins (2048 tokens) with the prefix-sum formulation —
    * bin = floor(running-token-total-before-doc / budget) within each
    * lang partition, deterministic order by doc_id. The scalable
    * approximation of greedy bin packing: one window per partition key,
    * no stateful scan; at corpus scale the partition key is the shard. */
  private def t08(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bin",
        ((sum(col("n_tokens")).over(w) - col("n_tokens")) / 2048L)
          .cast("long"))
      .orderBy("doc_id")
  }

  /** Heavy hitters (tokens with frequency >= 1% of the corpus) via the
    * two-pass sketch pattern that scales: pass 1 runs the Misra-Gries
    * Aggregator (O(k) memory per partition, guaranteed superset of every
    * token above n/(k+1) — k=200 covers the 1% threshold with slack) to
    * get a tiny candidate set; pass 2 exactly re-counts ONLY candidates
    * (broadcast semi-join — the full vocabulary is never shuffled). The
    * exact recount makes the output deterministic and oracle-checkable
    * even though the sketch itself is merge-order-dependent. */
  private def t09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, d)
      .select(explode(tokenize(col("text"), "space-raw")).as("token"))
      .filter(length(col("token")) > 0)
    val candidates = toks.as[String]
      .select(new graft.functions.MisraGriesAggregator(200).toColumn)
      .toDF("cands")
      .select(explode(col("cands")).as("token"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(candidates), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(n))
      .filter(col("tf") * 100L >= col("n_total"))
      .select(col("token"), col("tf"))
      .orderBy(col("tf").desc, col("token").asc)
  }

  /** PII patterns shared by t10 and its oracle — kept to constructs with
    * identical semantics in Java regex and RE2 (no lookaround, no
    * backreferences): emails, dashed/dotted phone numbers, long digit runs
    * (bare account-number-ish ids). Applied in a fixed order so nested
    * matches (a phone inside a longer digit run) resolve identically. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"
  private val IdRe = "[0-9]{9,}"

  /** PII scrubbing body over any (doc_id, text) frame — public so the spec
    * can feed synthetic PII (the fixture corpus may contain none). Each
    * count runs against the text as the PREVIOUS stage left it (emails
    * first, then phones), so the numbers always equal the number of
    * <EMAIL>/<PHONE> markers in the redacted output even when patterns
    * overlap (a phone-shaped string inside an email local part is consumed
    * by the email rewrite and not double-counted). Per-row regex work
    * only: codegen'd, zero shuffle, scales linearly. */
  def redactPii(df: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    df.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(regexp_replace(afterEmail,
        PhoneRe, "<PHONE>"), IdRe, "<ID>")
        .as("redacted"))
  }

  /** t10: the redaction pass a training corpus runs before anything
    * ships. */
  private def t10(s: SparkSession, d: String): DataFrame =
    redactPii(docs(s, d)).orderBy("doc_id")

  /** t11: corpus bigram counts — the n-gram statistics pass (LM data
    * analysis / contamination screens build on these). Adjacent-token
    * pairs form per row with zip_with over two slices (no self-join),
    * then one hash aggregation; top-100 with a total order. */
  private def t11(s: SparkSession, d: String): DataFrame = {
    val toks = tokenize(col("text"), "space-raw")
    docs(s, d)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .filter(!col("bigram").startsWith(" ") && !col("bigram").endsWith(" "))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(100)
  }

  /** t12: unigram language-model scoring — the perplexity-style quality
    * signal training pipelines filter on: the corpus's own unigram
    * distribution scores each document by its mean token log-probability
    * (low = unusual/junk text). Two shuffles, both key-partitioned and
    * necessary: the vocabulary aggregation (map-side combined) and the
    * token↔model equi-join — the model is vocabulary-sized, so it is
    * JOINED on token, never collected or broadcast; only the 1-row token
    * total broadcasts. round(,4) absorbs ln() last-ulp and
    * summation-order differences vs the oracle. */
  private def t12(s: SparkSession, d: String): DataFrame =
    unigramScores(s, d)
      .select(col("doc_id"), col("n_tokens"), col("avg_logprob"))
      .orderBy("doc_id")

  /** Shared body of t12/t16: per-document (lang, n_tokens, avg_logprob).
    * `lang` rides through the groupBy for free — doc_id determines it, so
    * adding it to the grouping key changes neither partitioning nor
    * cardinality. */
  private def unigramScores(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), col("lang"),
      explode(tokenize(col("text"), "space")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    toks
      .join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("n_total"))), 4)
          .as("avg_logprob"))
  }

  /** t19: interpolated bigram LM scoring — the next LM-filter rung above
    * t12's unigram score (CCNet ships a 5-gram KenLM; the interpolation
    * structure is identical, the order differs): each document's mean
    * ln(λ·C(prev,cur)/C(prev) + (1-λ)·C(cur)/N) with λ = 0.7, i.e. bigram
    * probability backed off to the unigram. Repetitive or
    * natural-phrasing documents score high; token-salad scores low even
    * when individual tokens are common — what the unigram model cannot
    * see. Shape: the bigram and unigram count tables are corpus-derived
    * MODELS joined back by shuffle equi-join on the token keys — never
    * collected, never broadcast (t12's scale rule); one doc_id
    * re-aggregation. Docs with <2 tokens have no bigrams and drop (the
    * LM is undefined there). Rounded like t12 so cross-engine float
    * summation order cannot flip the hash. */
  private def t19(s: SparkSession, d: String): DataFrame = {
    val toksArr = docs(s, d).select(col("doc_id"),
      tokenize(col("text"), "space").as("toks"))
    val n = size(col("toks"))
    val bigrams = DedupOps.cachedShared(toksArr.filter(n >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur")))
    val uni = DedupOps.cachedShared(
      docs(s, d).select(explode(
          tokenize(col("text"), "space")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt")))
    val total = uni.agg(sum(col("cnt")).as("n_total"))
    val bi = bigrams.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbi"))
    bigrams
      .join(bi, Seq("prev", "cur"))
      .join(uni.select(col("token").as("prev"), col("cnt").as("cprev")), "prev")
      .join(uni.select(col("token").as("cur"), col("cnt").as("ccur")), "cur")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          lit(0.7) * col("cbi").cast("double") / col("cprev").cast("double") +
            lit(0.3) * col("ccur").cast("double") / col("n_total"))), 4)
          .as("avg_logprob2"))
      .orderBy("doc_id")
  }

  /** t16: CCNet-style quality bucketing (Wenzek et al. 2020) — rank each
    * language's documents by the t12 unigram LM score and cut into
    * head/middle/tail terciles; training pipelines keep "head" (or sample
    * buckets at different rates). One window function partitioned by lang
    * on top of the t12 aggregation — the ntile adds a single per-lang sort,
    * no extra corpus shuffle beyond t12's own. The rank orders by the
    * ROUNDED score with doc_id as the total-order tie-break, so the
    * bucketing is bit-identical across engines and cluster layouts. */
  private def t16(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id").asc)
    unigramScores(s, d)
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Per-source token budget for t17 — sized so every scale factor keeps
    * some and drops some documents per source. */
  val DomainMixBudget = 500L

  /** t17: token-budget domain mixing — the sampling step that assembles a
    * training mix from per-source token budgets (cf. The Pile / DoReMi
    * domain weights): within each source, documents are taken in a
    * deterministic pseudo-random order (md5 of doc_id — stable under
    * re-runs and repartitioning, like q55's stratified sample) until the
    * source's token budget fills; the document that crosses the boundary is
    * kept, everything after is dropped. One running-sum window per source —
    * a single hash shuffle on `source`; at 100 TB each source's scan
    * streams through its partition in md5 order with no driver state. */
  private def t17(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text")))
          .cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("ord"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < DomainMixBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  /** t18: temperature-based domain resampling (the multilingual-corpus /
    * DoReMi mixture move): domain d's share of the output budget is
    * proportional to (n_d/N)^α with temperature α = 0.5 — flattening the
    * natural distribution so mega-domains stop dominating while small
    * domains up-sample (t17 fills fixed per-domain token budgets; this
    * derives the budgets from the distribution itself). Budget B = N/2
    * documents; per-domain keep rate r_d = min(1, B·p_d/n_d) with
    * p_d = √(n_d/N) / Σ√(n_e/N). Inclusion is the deterministic md5-bucket
    * rule (q55's reproducible-sampling move, at 1/10000 resolution), so
    * re-runs and repartitionings keep the identical documents. The
    * normalizer Σ√ sums as exact 12-decimal decimals ([[StableAgg]]) —
    * order-independent, so every rate is bit-identical in any engine and
    * any partitioning. Shape: one count aggregation, two broadcast joins
    * of a |domains|-row table, one per-row filter — the corpus itself
    * never shuffles. */
  private def t18(s: SparkSession, d: String): DataFrame = {
    val stats = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_d"))
    val tot = stats.agg(sum(col("n_d")).as("n_total"))
    val withW = stats.crossJoin(broadcast(tot))
      .withColumn("w",
        sqrt(col("n_d").cast("double") / col("n_total").cast("double")))
    val z = withW.agg(StableAgg.scaledSum(col("w"), 12).as("z"))
    val rates = withW.crossJoin(broadcast(z))
      .withColumn("rate", least(lit(1.0),
        (floor(col("n_total") / 2).cast("double") * (col("w") / col("z"))) /
          col("n_d").cast("double")))
      .select(col("source"), col("rate"))
    val frac = (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long") % 10000).cast("double") / 10000.0
    docs(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(frac < col("rate"), 1L).otherwise(0L)).as("n_kept"),
        round(max(col("rate")), 6).as("rate"))
      .orderBy("source")
  }

  /** t13: winnowing fingerprints (Schleimer et al., SIGMOD'03) — the
    * copy-detection fingerprinting guarantee-bearing alternative to plain
    * shingle sampling: hash every k-gram (k=8 chars), slide a w=4 window
    * over the hash sequence, keep each window's minimum; any shared
    * substring of length ≥ k+w-1 between two documents is guaranteed to
    * share a fingerprint. Per-doc work only: one generate + one window
    * function partitioned by doc_id (the sole shuffle), fingerprint count
    * ~2n/(w+1). Portable hash (md5 hex → BIGINT) keeps it
    * oracle-checkable; output bounded to doc_id < 20 like t06. */
  /** Winnowing body over any (doc_id, text) frame — public so the spec
    * can verify the guarantee on synthetic shared substrings.
    *
    * Shape note: positions explode FIRST (a cheap integer `sequence`
    * generator), and the k-gram hash is computed per exploded row in a
    * plain projection. Hashing inside a higher-order `transform` lambda
    * before the explode is ~10× slower: lambda bodies evaluate on the
    * interpreted path, and the optimizer's inferred generator constraints
    * (`size(arr) > 0`, `isnotnull(arr)`) re-evaluate the whole hash array
    * again in a non-codegen Filter — the same class of trap as computing a
    * derived array inside a `transform` (see the minhash history). */
  def winnowFingerprints(df: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    df.filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (k - 1)).as("ng"))
      .select(col("doc_id"), col("ng"), col("text"),
        explode(sequence(lit(1), col("ng"))).as("p")) // 1-based gram start
      .select(col("doc_id"), col("ng"), (col("p") - 1).as("pos"),
        conv(substring(md5(col("text").substr(col("p"), lit(k))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") <= col("ng") - w) // 0-based starts: 0 .. ng-w
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  private def t13(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(docs(s, d).filter(col("doc_id") < 20))
      .orderBy("doc_id", "fp")

  /** Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models",
    * table A1): word count bounds, mean word length in [3,10], symbol-to-word
    * ratio (# and ellipsis) <= 0.1, >80% of words contain an alphabetic
    * character, and at least 2 distinct required English stopwords. Every
    * metric is an integer-derived quotient — exact in both engines. Pure
    * per-row expressions: one corpus scan, no shuffle, whole-stage codegen. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val base = docs(s, d).select(col("doc_id"), col("text"),
      tokenize(col("text")).as("toks"))
    val m = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_words"),
      length(regexp_replace(col("text"), "\\s", "")).cast("double").as("word_chars"),
      regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("double").as("n_symbols"),
      size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("double").as("alpha_words"),
      size(array_intersect(
        array_distinct(transform(col("toks"), t => lower(t))),
        array(requiredStops.map(lit): _*))).cast("long").as("n_required_stopwords"))
    val n = col("n_words").cast("double")
    m.select(col("doc_id"), col("n_words"),
        when(n === 0.0, 0.0).otherwise(col("word_chars") / n).as("mean_word_len"),
        when(n === 0.0, 0.0).otherwise(col("n_symbols") / n).as("symbol_word_ratio"),
        when(n === 0.0, 0.0).otherwise(col("alpha_words") / n).as("alpha_word_ratio"),
        col("n_required_stopwords"))
      .withColumn("passes_gopher",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("alpha_word_ratio") > 0.8 &&
          col("n_required_stopwords") >= 2L)
      .orderBy("doc_id")
  }

  /** The per-document (doc_id, text, toks, g2, g3) frame t15's two legs
    * share: whitespace tokens plus materialized 2-/3-gram arrays (as
    * columns BEFORE any lambda reads them — the t13/minhash
    * lambda-capture trap). */
  private def gramBase(df: DataFrame): DataFrame = {
    val n = size(col("toks"))
    df
      .select(col("doc_id"), col("text"),
        tokenize(col("text")).as("toks"))
      .withColumn("g2", zip_with(slice(col("toks"), lit(1), greatest(n - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(n - 1, lit(0))), (a, b) => concat(a, lit(" "), b)))
      .withColumn("g3", zip_with(slice(col("g2"), lit(1), greatest(n - 2, lit(0))),
        slice(col("toks"), lit(3), greatest(n - 2, lit(0))), (a, b) => concat(a, lit(" "), b)))
  }

  /** Gopher's repetition filters (Rae et al. 2021, table A1, the half t14
    * doesn't cover): duplicate 2-/3-gram fractions and the fraction of
    * characters in the most frequent 2-gram.
    *
    * The dup fractions are per-row array expressions riding the corpus
    * scan. The 2-gram MODE is NOT computed per-row: the compositional form
    * (for each distinct gram, scan the whole gram array) is O(n²) per
    * document — ~10¹⁰ comparisons for one 100k-token doc. Instead it is
    * the keyed form: explode grams → count per (doc_id, gram) → struct-max
    * per doc — linear work plus one hash shuffle keyed on (doc_id, gram),
    * which at 100 TB distributes a pathological document across the
    * cluster instead of spinning one task on it. Tie on the mode breaks to
    * the lexicographically-last gram (struct max over (cnt, gram) —
    * identical ordering in both engines). Docs with no 2-grams produce no
    * exploded rows and come back as ("", 0.0) through the left join. The
    * two legs re-scan the pruned (doc_id, text) columns rather than cache
    * a corpus-sized frame.
    *
    * Public over any (doc_id, text) frame so the spec can pin the bounded-
    * time property on a pathological (≥10k-token) document. */
  def repetitionGopher(df: DataFrame): DataFrame = {
    def dupFrac(g: org.apache.spark.sql.Column) =
      when(size(g) === 0, 0.0).otherwise(
        (size(g) - size(array_distinct(g))).cast("double") / size(g).cast("double"))
    val metrics = gramBase(df)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_txt"),
        size(col("g2")).cast("long").as("n_2grams"),
        dupFrac(col("g2")).as("dup_2gram_frac"),
        dupFrac(col("g3")).as("dup_3gram_frac"))
    val top2 = gramBase(df)
      .select(col("doc_id"), explode(col("g2")).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).cast("int").as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("cnt"), col("g"))).as("top2"))
    metrics.join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_2grams"),
        col("dup_2gram_frac"), col("dup_3gram_frac"),
        coalesce(col("top2.g"), lit("")).as("top_2gram"),
        when(col("top2").isNull, 0.0).otherwise(
          (col("top2.cnt") * length(col("top2.g"))).cast("double") /
            col("n_chars_txt").cast("double")).as("top_2gram_char_frac"))
  }

  private def t15(s: SparkSession, d: String): DataFrame =
    repetitionGopher(docs(s, d)).orderBy("doc_id")

  /** t27: per-source ADAPTIVE quality pruning — the FineWeb/DataComp
    * mechanism c01's fixed thresholds don't express: each source keeps
    * its own top 30% by quality, so a high-quality source isn't gutted
    * by a cutoff tuned for a noisy one (and a noisy source can't flood
    * the corpus just by being big). The cutoff is RANK-based —
    * `rk·10 ≤ n·3`, integer arithmetic — rather than a value-interpolated
    * percentile: rank selection is integer-exact cross-engine, where a
    * quantile-valued threshold invites last-ulp membership flips on
    * scores sitting at the cut. Score = t03's distinct-token ratio
    * (integer-derived doubles, exact in both engines); ties break on
    * doc_id.
    *
    * Scale shape: one source-keyed exchange carries both the rank window
    * and the per-source count. The per-source sort is the honest cost of
    * EXACT ranks; at 100 TB the production variant replaces it with a
    * q41-style approx-quantile cutoff per source (sketch-mergeable, one
    * scan) and accepts the boundary fuzz — this gate pins the exact
    * semantics the sketch approximates. */
  private def t27(s: SparkSession, d: String): DataFrame = {
    val toks = tokenize(col("text"), "space-raw")
    val scored = docs(s, d).select(col("doc_id"), col("source"),
      (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double")).as("score"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val n = Window.partitionBy(col("source"))
    scored.withColumn("rk", row_number().over(w))
      .withColumn("n_source", count(lit(1)).over(n))
      .filter(col("rk") * 10 <= col("n_source") * 3)
      .select(col("source"), col("doc_id"), col("rk"), col("n_source"),
        round(col("score"), 6).as("score"))
      .orderBy("source", "rk")
  }

  /** t29: t27's PRODUCTION cutoff — the sketch variant t27's Scaladoc
    * promises: instead of an exact per-source sort (the honest cost of
    * exact ranks, unpayable per refresh at 100 TB), the cutoff comes from
    * a MERGEABLE per-source score histogram maintained like q63's HLL
    * sketches: equi-width bins over the score domain (1024 bins on
    * [0, 1]; `floor(score · 1024)` is a power-of-2 exponent shift, so bin
    * assignment is bit-exact in both engines), per-(source, bin) count
    * partials persisted as the standing sketch, a delta batch's partials
    * merged by SUMMING counts — never re-scanning standing data. The
    * cutoff bin is the smallest bin whose top-cumulative count reaches
    * k = ⌊0.3·n⌋ (t27's exact keep count); pruning keeps every doc at or
    * above it. Boundary fuzz is one bin: the kept set is a SUPERSET of
    * t27's exact top-30%, and every extra doc's score sits within 1/1024
    * of the exact cutoff (SketchPruneSpec bounds both). Sources too small
    * for a nonzero k keep nothing, as in t27.
    *
    * Scale shape: the histogram is metadata-sized (≤1025 bins/source), so
    * threshold-finding is a window over sketch rows, not corpus rows; the
    * corpus pays one scan for binning and one broadcast-joinable filter —
    * no per-source sort anywhere. */
  private def t29(s: SparkSession, d: String): DataFrame =
    ExportOps.withScratch("graft_sketchcut", d) { out =>
      val toks = tokenize(col("text"), "space-raw")
      val binned = docs(s, d).select(col("doc_id"), col("source"),
          (size(array_distinct(toks)).cast("double") /
            size(toks).cast("double")).as("score"))
        .withColumn("bin", floor(col("score") * 1024).cast("int"))
      // the q63 maintenance move: standing partials persisted, delta
      // partials merged by summed counts (merge-transparent by
      // construction — counts are the canonical mergeable sketch)
      binned.filter(col("doc_id") % 2 === 0)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .write.parquet(s"$out/sketch")
      val standing = Tables.readParquet(s, s"$out/sketch")
      val delta = binned.filter(col("doc_id") % 2 =!= 0)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val hist = standing.unionByName(delta)
        .groupBy(col("source"), col("bin"))
        .agg(sum(col("c")).as("c"))
      val cum = hist.withColumn("c_ge",
        sum(col("c")).over(Window.partitionBy(col("source"))
          .orderBy(col("bin").desc)))
      val tot = binned.groupBy(col("source"))
        .agg(count(lit(1)).as("n_source"),
          expr("(count(1) * 3) div 10").as("k"))
      val cut = cum.join(tot, Seq("source"))
        .filter(col("c_ge") >= col("k") && col("k") > 0)
        .groupBy(col("source")).agg(max(col("bin")).as("cut_bin"))
      val kept = binned.join(cut, Seq("source"))
        .join(tot.select(col("source"), col("n_source")), Seq("source"))
        .filter(col("bin") >= col("cut_bin"))
        .select(col("source"), col("doc_id"), col("bin"), col("cut_bin"),
          col("n_source"), round(col("score"), 6).as("score"))
      ExportOps.localize(kept, "source", "doc_id")
    }

  /** t31: n-gram LANGUAGE-ID — the classifier the survey's text family
    * lists but t02 (which profiles the GIVEN label) never builds: the
    * classic character-trigram heuristic behind langid/CLD-style
    * detectors, trained and evaluated on the corpus itself. Even docs
    * train per-language profiles (top-50 trigrams by count, doc_id
    * tie-broken lexically — integer-exact membership cross-engine); odd
    * docs classify by counting how many of their DISTINCT trigrams land
    * in each profile, argmax with lexical tie-break, `und` when nothing
    * matches. Output is the (true, predicted) confusion matrix — the
    * artifact a curation pipeline actually consumes to decide whether
    * the detector is good enough to route on. (The fixture's synthetic
    * texts share ONE vocabulary across langs, so measured accuracy sits
    * near chance BY CONSTRUCTION — the gate pins the detector's
    * mechanics bit-for-bit, and the near-uniform confusion matrix is the
    * honest reading a real pipeline would act on: don't route on this
    * label.)
    *
    * Scale shape: training is one (lang, trigram) hash agg; the profile
    * is metadata-sized (languages × 50) and BROADCAST into the holdout's
    * distinct-trigram explode — scoring is map-side; the only per-doc
    * window runs keyed on doc_id. Nothing is quadratic, nothing
    * driver-side. */
  private def t31(s: SparkSession, d: String): DataFrame = {
    // Short-text guard: Spark's sequence(1, 0) defaults to step -1 and
    // yields [1, 0] (two bogus windows), while DuckDB's generate_series
    // yields [] — texts under 3 chars must produce NO trigrams.
    //
    // Trigrams assemble from a ONE-PASS character split instead of
    // substring(text, i, 3) per position: UTF8String.substring seeks to
    // char i by scanning from the string start, so the per-position form
    // is O(len²) per document (measured 2.0 s → 1.17 s for the
    // explode+count kernel at sf0.1). split on the empty pattern and
    // substring both index by code point, so the emitted trigrams are
    // byte-identical (r20 optimization pass; results oracle-checked
    // unchanged).
    // r20: the split("")-array + per-position concat form (kept in
    // CharTrigramsSpec as the oracle-replayed reference) moved into the
    // native one-pass CharTrigrams kernel — one byte scan per document,
    // one slice per trigram, bit-identity spec-pinned.
    val base = docs(s, d).select(col("doc_id"), col("lang"),
      graft.functions.CharTrigrams(col("text")).as("tris"))
    val prof = base.filter(col("doc_id") % 2 === 0)
      .select(col("lang"), explode(col("tris")).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("g").asc)))
      .filter(col("rk") <= 50)
      .select(col("lang").as("cand"), col("g"))
    val holdDocs = base.filter(col("doc_id") % 2 =!= 0)
    val best = holdDocs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(col("tris"))).as("g"))
      .join(broadcast(prof), Seq("g"))
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(count(lit(1)).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("cand").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand"))
    val unmatched = holdDocs.select(col("doc_id"), col("lang"))
      .join(best.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("cand", lit("und"))
    best.unionByName(unmatched)
      .groupBy(col("lang"), col("cand"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("cand").as("predicted"), col("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** The t32 term dictionary — in production this is the C4/CCNet-style
    * blocklist (profanity, boilerplate markers, policy terms) loaded from
    * a curated file; here a fixed set of corpus-present terms so the gate
    * exercises both hit and miss paths at every SF. */
  private[ops] val BlocklistTerms = Seq("slow", "vector", "merge")

  /** t32: dictionary-based document screening (the C4 "bad words" filter
    * generalized): every document is scored against a term blocklist —
    * total flagged-token occurrences, the distinct flagged terms, and the
    * keep/drop verdict (C4 drops a page on ANY hit). The Spark-first
    * shape is tokenize → explode → BROADCAST hash join against the
    * dictionary → per-doc aggregate, then a left join back so clean
    * documents keep an explicit zero row: at 100 TB the dictionary is
    * KB-scale metadata shipped to every executor, the corpus is touched
    * exactly once, and no LIKE/regex alternation scan ever runs (a
    * 1000-term regex alternation is quadratic in practice; a hash probe
    * per token is O(1)). The same join shape scales to a million-term
    * dictionary by dropping the broadcast hint and letting AQE pick. */
  private def t32(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = BlocklistTerms.toDF("term")
    val hits = docs(s, d)
      .select(col("doc_id"),
        explode(TextFunctions.tokenize(col("text"), "ws")).as("term"))
      .join(broadcast(dict), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged"),
        array_join(array_sort(collect_set(col("term"))), ",")
          .as("flagged_terms"))
    docs(s, d).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("flagged_terms"), lit("")).as("flagged_terms"),
        col("n_flagged").isNull.as("keep"))
      .orderBy("doc_id")
  }

  /** c07: SQL-DEFINED functions as the extension surface — Spark 4's
    * `CREATE FUNCTION ... RETURN` scalar UDFs and
    * `RETURNS TABLE ... RETURN SELECT` table functions, the declarative
    * counterpart of c03's registered JVM kernels: a SQL-only user
    * defines a quality score and a shingle generator IN SQL, composes
    * them with a correlated LATERAL join, and gets bit-identical results
    * to the DataFrame surface. The scale property that makes this the
    * preferred extension point: the analyzer INLINES the scalar function
    * body into the plan — the optimized plan carries the arithmetic, not
    * a function call, so everything stays inside whole-stage codegen
    * (PlanAuditR11Spec pins the inlining; a JVM UDF black-boxes the
    * optimizer at exactly this spot). The TVF erases to the same
    * explode-the-sequence generator the t-family writes by hand. */
  /** t33: SEQUENCE PACKING — the GPT-style concat-then-chunk step that
    * turns a curated corpus into fixed-budget training sequences: within
    * each lang shard, documents concatenate in deterministic (doc_id)
    * order and chunk at a 256-token budget. Each doc's pack is pure
    * window arithmetic — `pack = (cumsum - n_toks) div B` for the pack
    * it STARTS in, with a boundary-crossing flag when its last token
    * lands in a later pack (`(cumsum - 1) div B`) — so the whole
    * operator is one window + one aggregation, no iterative bin-packing
    * loop and nothing driver-side. Scale note: the window partitions by
    * the shard key; a real export shards by (lang, shard_id) — e.g. a
    * q114 global-numbering pass bucketed by position — so window
    * parallelism scales with shard count, not language count. */
  private def t33(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokenize(col("text"), "space-raw")).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("pack_id", expr("(cum - n_toks) div 256"))
      .withColumn("crosses",
        (expr("(cum - 1) div 256") > col("pack_id")).cast("long"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("sum_toks"),
        sum(col("crosses")).cast("long").as("n_crossing"))
      .orderBy("lang", "pack_id")
  }

  /** t34: UNICODE NORMALIZATION before dedup
    * ([[graft.functions.NormalizeText]] — NFD accent-strip + ROOT
    * casefold as a native codegen'd Expression): the canonicalization
    * pass web-scale text dedup keys on, because the same title arrives
    * composed ("Éclair"), decomposed, re-cased and accent-dropped — and
    * hash-grain dedup (d01) treats each spelling as a distinct document.
    * Each doc carries a deterministic accent-variant title (6 raw
    * spellings → 3 canonical forms); grouping on the NORMALIZED form must
    * merge the variants, counting docs and surviving raw spellings per
    * form. The oracle recomputes the canonicalization independently with
    * DuckDB's `lower(strip_accents(...))` (utf8proc vs JDK Unicode
    * tables — two implementations, hash-matched). Scale shape: the
    * normalize is a per-row codegen'd map over the scan; the dedup is the
    * usual hash shuffle on the (now canonical) key. */
  private def t34(s: SparkSession, d: String): DataFrame = {
    val variants = array(
      lit("Éclair Menu"), lit("eclair menu"),
      lit("ÜBER Prüfung"), lit("uber prufung"),
      lit("Crème Brûlée"), lit("creme brulee"))
    docs(s, d)
      .select(col("doc_id"),
        element_at(variants, (col("doc_id") % 6 + 1).cast("int")).as("title"))
      .withColumn("norm",
        graft.functions.NormalizeText.normalizeText(col("title")))
      .groupBy(col("norm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("title")).as("n_spellings"))
      .orderBy("norm")
  }

  /** t35: NATIVE TABLE-GENERATING FUNCTION
    * ([[graft.functions.NGramsGenerator]] — the Generator rung of the
    * extension-point matrix): `graft_ngrams(text, 3)` explodes each
    * document into its word trigrams as (pos, gram) rows through ONE
    * `Generate` node over the scan — per-partition streaming fan-out, no
    * shuffle, no UDF, and no per-document gram ARRAY materialized (the
    * builtin composition `posexplode(transform(sequence(...), ...))`
    * allocates every document's full gram list before exploding it; at
    * 100 TB of web text that's n× the corpus size of transient garbage).
    * The gate aggregates the exploded stream to the corpus's top-50
    * trigrams (count, doc frequency, earliest position — full tie-break
    * on gram) and hash-matches a DuckDB oracle that re-derives the grams
    * independently via `list_slice` over `generate_series`. The plan pin
    * (PlanAuditR14Spec) holds the `Generate graft_ngrams` node and the
    * absence of any ScalaUDF/ArrayTransform in the gram path. */
  private def t35(s: SparkSession, d: String): DataFrame = {
    docs(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT gram, count(1) AS n, count(DISTINCT doc_id) AS n_docs,
        |       min(pos) AS first_pos
        |FROM documents
        |LATERAL VIEW graft_ngrams(text, 3) g AS pos, gram
        |GROUP BY gram
        |ORDER BY n DESC, gram ASC
        |LIMIT 50""".stripMargin)
  }

  /** t36: OUTER generate — the null-preserving leg of the t35 generator
    * (`LATERAL VIEW OUTER`): a document too short to yield any n-gram
    * must SURVIVE the explode as one null-gram row, because the explode
    * usually feeds a per-doc aggregate and inner generate silently drops
    * short docs from the denominator (the classic fan-out accounting
    * bug: "average grams per doc" computed only over docs WITH grams).
    * Docs are length-bucketed so both regimes exist; the gate counts
    * per-bucket docs and grams through ONE outer generate and
    * hash-matches a DuckDB oracle deriving the same accounting with a
    * LEFT JOIN. Plan: the same single Generate node as t35, `outer=true`
    * — the engine's `Generate ... false, [pos, gram]` vs `true` flag is
    * the only difference, pinned in the spec. */
  private def t36(s: SparkSession, d: String): DataFrame = {
    // shorten every 3rd doc below the trigram threshold so the outer
    // regime is populated: two tokens keep no trigram
    docs(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 2)))
          .otherwise(col("text")).as("text"))
      .createOrReplaceTempView("t36_docs")
    s.sql(
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'short' ELSE 'long' END
        |         AS bucket,
        |       count(DISTINCT doc_id) AS n_docs,
        |       count(gram) AS n_grams,
        |       count(1) - count(gram) AS n_gramless_rows
        |FROM t36_docs
        |LATERAL VIEW OUTER graft_ngrams(text, 3) g AS pos, gram
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin)
  }

  /** c13: SQL SYNTAX EXTENSION — the parser rung of the extension-point
    * matrix ([[graft.plans.GraftSqlParser]] via
    * `SparkSessionExtensions.injectParser`): the engine's own
    * `DEDUP <table> BY <key> KEEP MIN <id>` statement, the keep-lowest-id
    * exact-dedup idiom as first-class grammar. The parser DESUGARS the
    * statement to standard SQL and delegates — analysis, optimization
    * and planning are stock, so the custom syntax can never plan worse
    * than the hand-written equivalent. The parser binds at session
    * construction ([[graft.GraftExtensions]]), so every graft session,
    * `newSession()` included, parses the statement. The deduped
    * per-source summary hash-matches a DuckDB oracle of the desugared
    * semantics; ParserExtensionSpec pins the passthrough (ordinary SQL
    * parses identically through the wrapped parser and the stock one)
    * and custom-vs-desugared equality on one session. */
  private def c13(s: SparkSession, d: String): DataFrame = {
    docs(s, d).createOrReplaceTempView("documents_c13")
    s.sql("DEDUP documents_c13 BY md5(text) KEEP MIN doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** t37: RANKING AUC — evaluating a quality classifier at corpus scale:
    * the exact Mann-Whitney AUC from rank sums,
    * `AUC = (Σ rank(pos) − n⁺(n⁺+1)/2) / (n⁺·n⁻)` — the metric every
    * filter model (quality, toxicity, language) is judged by before its
    * threshold gets to drop terabytes. The global rank is the q114
    * problem and rides the SAME machinery ([[Relational
    * .globalRowNumbers]]: one range shuffle + in-partition sorts + O(P)
    * offset metadata — no single-partition window over the corpus, the
    * trap the naive `row_number() OVER (ORDER BY score)` formulation
    * is). Scores are engineered strictly unique (score = n_chars·
    * [[aucScoreMult]] + doc_id, the multiplier a data-derived power of
    * 10 above every doc_id), so there are no tie-ranks and the rank sum is
    * integer-exact; the one division to a double is identical
    * cross-engine. Label = (lang = 'en'), score correlates through
    * n_chars — the AUC is a real mid-range number, not a degenerate 0/1.
    * Hash-matches a DuckDB oracle computing the same rank sums. */
  /** The t37/c14 score multiplier: the smallest power of 10 strictly
    * above every doc_id (floored at the historical 10⁵ so gated-SF
    * outputs are unchanged). Derived from the data with INTEGER
    * arithmetic so the oracle recomputes it exactly — a fixed 10⁵ made
    * score ties (hence rank order, AUC, the cut boundary) nondeterministic
    * once amplified fixtures pushed doc_id past 10⁵ (r14 ADVICE). */
  private def aucScoreMult(s: SparkSession, d: String): Long =
    Tables.fixtureStat(d, "auc_score_mult") {
      val maxId = docs(s, d).agg(max(col("doc_id"))).head.getLong(0)
      math.max(100000L, ("1" + "0" * maxId.toString.length).toLong)
    }

  private def t37(s: SparkSession, d: String): DataFrame = {
    val scored = docs(s, d).select(col("doc_id"),
      (col("lang") === "en").cast("int").as("label"),
      (col("n_chars") * aucScoreMult(s, d) + col("doc_id")).as("score"))
    graft.ops.Relational.globalRowNumbers(scored, "score")
      .withColumn("rank", col("global_id") + 1L)
      .agg(
        sum(when(col("label") === 1, col("rank"))).as("prs"),
        sum(col("label").cast("long")).as("n_pos"),
        count(lit(1)).as("n"))
      .select(col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        (expr("CAST(prs - (n_pos * (n_pos + 1)) DIV 2 AS DOUBLE)") /
          expr("CAST(n_pos * (n - n_pos) AS DOUBLE)")).as("auc"))
  }

  /** t38: CALIBRATION BINS — the reliability table behind ECE, the
    * second half of classifier evaluation next to t37's AUC: a ranking
    * metric can be perfect while the probabilities are junk, and it's
    * the PROBABILITY a filtering threshold consumes. Scores are
    * md5-derived integer millis; labels are drawn so P(label | score) ≈
    * score (a calibrated-by-construction synthetic — per-bin gaps are
    * then genuine small numbers, not zeros). Per score-decile: count,
    * mean confidence, positive rate, |gap| — all integer sums with one
    * division each, rounded at 6 (far below the noise floor of an
    * exact-integer ratio). One hash aggregate over the corpus; the bin
    * table is report-grain. */
  private def t38(s: SparkSession, d: String): DataFrame = {
    def m(salt: String) = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 13), 16, 10)
      .cast("long") % 1000L
    docs(s, d)
      .select(col("doc_id"), m("").as("conf_milli"),
        (m("s") < m("")).cast("long").as("label"))
      .groupBy((col("conf_milli") / 100L).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("conf_milli")).as("sum_conf"),
        sum(col("label")).as("n_pos"))
      .select(col("bin"), col("n"),
        round(col("sum_conf").cast("double") /
          (col("n") * 1000L).cast("double"), 6).as("confidence"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("accuracy"),
        round(abs(col("sum_conf").cast("double") /
            (col("n") * 1000L).cast("double") -
          col("n_pos").cast("double") / col("n").cast("double")), 6)
          .as("gap"))
      .orderBy("bin")
  }

  /** t39: COHEN'S KAPPA — chance-corrected inter-annotator agreement,
    * the number a labeling campaign (quality raters, toxicity reviewers,
    * two model versions judging the same corpus) is accepted or rejected
    * on. Two deterministic md5-derived annotators with engineered ~85%
    * raw agreement: κ = (p_o − p_e)/(1 − p_e) from the four confusion
    * counts — every input to the doubles is an exact integer, the two
    * divisions are identical cross-engine, and the emitted values round
    * at 6 above any conceivable noise. One hash aggregate; output is a
    * single report row (confusion counts + p_o + κ). */
  private def t39(s: SparkSession, d: String): DataFrame = {
    def m(salt: String) = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 13), 16, 10)
      .cast("long") % 100L
    val ann = docs(s, d).select(
      (m("") < 60L).cast("int").as("a1"),
      // annotator 2 flips annotator 1's call 15% of the time
      ((m("") < 60L) =!= (m("x") < 15L)).cast("int").as("a2"))
    ann.agg(
      sum(when(col("a1") === 1 && col("a2") === 1, 1L).otherwise(0L)).as("n11"),
      sum(when(col("a1") === 1 && col("a2") === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(col("a1") === 0 && col("a2") === 1, 1L).otherwise(0L)).as("n01"),
      sum(when(col("a1") === 0 && col("a2") === 0, 1L).otherwise(0L)).as("n00"),
      count(lit(1)).as("n"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(expr("CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)"), 6)
          .as("p_o"),
        round(expr(
          """(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
            | - (CAST((n11 + n10) * (n11 + n01)
            |        + (n01 + n00) * (n10 + n00) AS DOUBLE)
            |    / CAST(n * n AS DOUBLE)))
            |/ (1.0 - CAST((n11 + n10) * (n11 + n01)
            |        + (n01 + n00) * (n10 + n00) AS DOUBLE)
            |    / CAST(n * n AS DOUBLE))""".stripMargin), 6).as("kappa"))
  }

  /** The shared ln(2) literal of [[t40]]'s Jensen-Shannon closed form —
    * hardcoded (not `math.log(2)`) so the Scala plan and the DuckDB
    * oracle add the IDENTICAL double: the two engines' `ln` may disagree
    * in the last ulp, and this constant lands OUTSIDE the per-term
    * rounding that absorbs that divergence everywhere else. */
  private val Ln2 = 0.6931471805599453

  /** t40: per-source vocabulary drift — Jensen-Shannon divergence of
    * each source's token distribution against the whole corpus, the
    * categorical sibling of q145's binned PSI: "which source's LANGUAGE
    * changed", not just its size or its numeric profile. JS (unlike KL)
    * is finite, symmetric and bounded by ln 2, which is why corpus
    * dashboards threshold it.
    *
    * Because every source's vocabulary nests inside the corpus's, the
    * q = 0 case never occurs and the p = 0 tail has the closed form
    * 0.5·ln2·(1 − coverage): JS_s = Σ_{t∈s} τ_t + 0.5·ln2 with
    * τ = 0.5·(p·ln(2p/(p+q)) + q·ln(2q/(p+q)) − q·ln2) — so the gate
    * only materializes (source, token) rows that EXIST. Per-term τ
    * rounds at 1e-12 (τ ~ 1e-4-1e-2 per token; the engines' ln
    * divergence sits ~1e-20) and sums as DECIMAL — exact and
    * order-independent, the StableAgg discipline for a float sum the
    * fixed-scale decimal canonicalization can't reach directly because
    * of the logarithm (the cast to DECIMAL(28,12) IS the per-term
    * rounding — one half-up step, identical in both engines).
    *
    * Scale shape: two keyed shuffles (token counts per source, corpus
    * counts joined back on the token key — the t12 model-join rule:
    * never collected, never broadcast) + one source re-aggregation.
    * At 100 TB this is exactly the nightly source-mix drift job. */
  private def t40(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("source"),
      explode(tokenize(col("text"), "space")).as("token"))
    val cst = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val ct = cst.groupBy(col("token")).agg(sum(col("c")).as("cc"))
    val ns = cst.groupBy(col("source"))
      .agg(sum(col("c")).as("n_s"), count(lit(1)).as("n_vocab"))
    val tot = cst.agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n_s").cast("double")
    val q = col("cc").cast("double") / col("n").cast("double")
    val tau = lit(0.5) * (p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q)) - q * lit(Ln2))
    cst.join(ns, "source").join(ct, "token").crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"), first(col("n_vocab")).as("n_vocab"),
        sum(tau.cast("decimal(28,12)")).as("tau_sum"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        round(col("tau_sum").cast("double") + lit(0.5) * lit(Ln2), 6)
          .as("js"))
      .orderBy("source")
  }

  /** c14: FILTER-DEPLOYMENT EVALUATION LOOP — the composite a real
    * quality-filter rollout runs as ONE job, chaining the individually
    * gated eval kernels verbatim: score the corpus (t37's engineered
    * classifier), rank globally ([[graft.ops.Relational.globalRowNumbers]]
    * — one range shuffle + O(P) offsets, never a single-partition window),
    * compute the exact Mann-Whitney AUC (t37), pick the deployment
    * threshold as the exact 80th-percentile rank (integer DIV — no float
    * quantile), measure what the cut bought (kept count / min kept score /
    * kept positive rate), then drift-check the deployed population:
    * 10-bin Laplace-smoothed PSI of kept-vs-corpus n_chars (q145's
    * binning) and the exact integer-crossproduct KS of kept-vs-dropped
    * (q144's machinery). One report row, every input to a double an exact
    * integer, one DuckDB oracle across the whole loop.
    *
    * Scale shape: the ranked frame is cached and re-consumed (AUC, cut,
    * PSI, KS); every stage is a hash/range-partitioned agg over the
    * corpus or a value-grain (≤ distinct n_chars) window — no new
    * topology beyond the gated kernels it composes. */
  private def c14(s: SparkSession, d: String): DataFrame = {
    val bins = 10
    val scored = docs(s, d).select(col("doc_id"), col("n_chars"),
      (col("lang") === "en").cast("int").as("label"),
      (col("n_chars") * aucScoreMult(s, d) + col("doc_id")).as("score"))
    val ranked = DedupOps.cachedShared(
      graft.ops.Relational.globalRowNumbers(scored, "score")
        .withColumn("rank", col("global_id") + 1L).drop("global_id"))
    val head = ranked.agg(
        sum(when(col("label") === 1, col("rank"))).as("prs"),
        sum(col("label").cast("long")).as("n_pos"),
        count(lit(1)).as("n"))
      .select(col("n"), col("n_pos"),
        (expr("CAST(prs - (n_pos * (n_pos + 1)) DIV 2 AS DOUBLE)") /
          expr("CAST(n_pos * (n - n_pos) AS DOUBLE)")).as("auc"),
        expr("n * 8 DIV 10").as("cut_rank"))
    val tagged = ranked
      .crossJoin(broadcast(head.select(col("cut_rank"))))
      .withColumn("in_kept", col("rank") > col("cut_rank"))
    val keptAgg = tagged.filter(col("in_kept"))
      .agg(count(lit(1)).as("kept_n"), min(col("score")).as("threshold_score"),
        sum(col("label").cast("long")).as("kept_pos"))
      .select(col("kept_n"), col("threshold_score"),
        round(col("kept_pos").cast("double") / col("kept_n").cast("double"), 6)
          .as("kept_pos_rate"))
    val rng = ranked.agg(min(col("n_chars")).as("lo"),
      (max(col("n_chars")) + 1L).as("hi"))
    val binned = tagged.crossJoin(broadcast(rng))
      .select(least(lit(bins - 1), floor((col("n_chars") - col("lo")) * bins /
        (col("hi") - col("lo"))).cast("int")).as("bin"), col("in_kept"))
      .groupBy(col("bin"))
      .agg(sum(when(col("in_kept"), 1L).otherwise(0L)).as("ca"),
        count(lit(1)).as("cb"))
    val btot = binned.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val psi = binned.crossJoin(broadcast(btot))
      .select(
        ((col("ca") + 1L).cast("double") /
          (col("n_a") + lit(bins.toLong)).cast("double")).as("pa"),
        ((col("cb") + 1L).cast("double") /
          (col("n_b") + lit(bins.toLong)).cast("double")).as("pb"))
      .agg(round(sum((col("pa") - col("pb")) * log(col("pa") / col("pb"))), 6)
        .as("psi"))
    val perVal = tagged.groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("in_kept"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_kept"), 0L).otherwise(1L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ktot = perVal.agg(sum(col("ca")).as("ka"), sum(col("cb")).as("kb"))
    val ks = perVal
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .crossJoin(broadcast(ktot))
      .select(col("ka"), col("kb"),
        abs(col("cuma") * col("kb") - col("cumb") * col("ka")).as("dnum"))
      .groupBy(col("ka"), col("kb"))
      .agg(max(col("dnum")).as("d_num"))
      .select((col("d_num").cast("double") /
        (col("ka") * col("kb")).cast("double")).as("ks"))
    head.crossJoin(keptAgg).crossJoin(psi).crossJoin(ks)
  }

  /** c10: SQL SCRIPTING — the last SQL front door after plain SQL (c03),
    * SQL-defined functions (c07), and pipe syntax + named parameters
    * (c08): a multi-statement script with session VARIABLES and a WHILE
    * loop, the procedural surface migrated warehouse workloads arrive
    * in. The script runs an iterative threshold refinement (3 rounds of
    * "cutoff := floor(avg length) of docs above the cutoff" — each round
    * tightens toward the long tail) entirely inside the engine: DECLARE
    * holds scalar state, each SET runs a full aggregation query, the
    * final SELECT serves the report at the converged cutoff. The DuckDB
    * oracle UNROLLS the loop into three chained CTEs — a hash match
    * proves the script's control flow executed exactly 3 iterations with
    * the same per-round aggregates. Determinism: integer-exact floor of
    * an IEEE-exact mean (sums ≪ 2^53). Scale: each iteration is one
    * distributed aggregate; the loop carries 16 bytes of driver state. */
  private def c10(s: SparkSession, d: String): DataFrame = {
    docs(s, d).createOrReplaceTempView("documents")
    ExportOps.withConf(s, "spark.sql.scripting.enabled" -> "true") {
      ExportOps.localize(s.sql(
        """BEGIN
          |  DECLARE mc BIGINT DEFAULT 0;
          |  DECLARE i INT DEFAULT 0;
          |  WHILE i < 3 DO
          |    SET mc = (SELECT CAST(floor(avg(n_chars)) AS BIGINT)
          |              FROM documents WHERE n_chars >= mc);
          |    SET i = i + 1;
          |  END WHILE;
          |  SELECT lang, count(1) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS sum_chars, mc AS cutoff
          |  FROM documents WHERE n_chars >= mc
          |  GROUP BY lang ORDER BY lang;
          |END""".stripMargin))
    }
  }

  private def c07(s: SparkSession, d: String): DataFrame = {
    docs(s, d).createOrReplaceTempView("documents")
    registerSqlUdfs(s)
    s.sql(
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    round(graft_distinct_ratio(text), 6) AS score
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE score >= 0.5),
        |sh AS (
        |  SELECT k.doc_id, k.lang, g.g
        |  FROM kept k, LATERAL graft_grams3(k.text) g)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(1) AS BIGINT) AS n_shingles,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_shingles
        |FROM sh GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** c08: SQL PIPE SYNTAX + PARAMETERIZED QUERIES — Spark 4's two new
    * SQL front doors, composed: the curation filter-extend-aggregate
    * pipeline written as `FROM ... |> WHERE |> EXTEND |> AGGREGATE |>
    * ORDER BY` (the linear dataflow form that reads like the DataFrame
    * chain it desugars to), with the quality threshold bound as a NAMED
    * PARAMETER (`:minChars` — the injection-safe surface a serving layer
    * templates instead of string-splicing). Pipe syntax is pure sugar:
    * PlanAuditR12Spec pins `sameResult` against the standard-SQL form,
    * so the readability costs literally nothing at plan time. The
    * aggregates stay order-free (integer sums, min/max of per-row
    * doubles) — the cross-engine determinism discipline every oracled
    * gate follows. */
  private def c08(s: SparkSession, d: String): DataFrame = {
    docs(s, d).createOrReplaceTempView("documents")
    s.sql(c08PipeSql, Map("minChars" -> 50))
  }

  /** The c08 pipe-syntax text, shared with the plan-parity spec. */
  private[graft] val c08PipeSql: String =
    """FROM documents
      ||> WHERE n_chars >= :minChars
      ||> EXTEND size(split(text, ' ')) AS n_toks
      ||> EXTEND CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)
      |     / n_toks AS distinct_ratio
      ||> WHERE distinct_ratio >= 0.5
      ||> AGGREGATE CAST(count(*) AS BIGINT) AS n_docs,
      |     CAST(sum(n_toks) AS BIGINT) AS sum_toks,
      |     round(min(distinct_ratio), 6) AS min_ratio,
      |     round(max(distinct_ratio), 6) AS max_ratio
      |   GROUP BY source, lang
      ||> ORDER BY source, lang""".stripMargin

  /** The same pipeline in standard SQL — the plan-parity twin. */
  private[graft] val c08StandardSql: String =
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
      |  round(min(distinct_ratio), 6) AS min_ratio,
      |  round(max(distinct_ratio), 6) AS max_ratio
      |FROM (
      |  SELECT lang, source, n_toks,
      |    CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / n_toks
      |      AS distinct_ratio
      |  FROM (SELECT *, size(split(text, ' ')) AS n_toks FROM documents
      |        WHERE n_chars >= :minChars))
      |WHERE distinct_ratio >= 0.5
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** The c07 SQL function definitions, shared with the inlining spec. */
  private[graft] def registerSqlUdfs(s: SparkSession): Unit = {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_distinct_ratio(t STRING)
        |RETURNS DOUBLE
        |RETURN CAST(size(array_distinct(split(t, ' '))) AS DOUBLE)
        |  / size(split(t, ' '))""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_grams3(t STRING)
        |RETURNS TABLE(g STRING)
        |RETURN SELECT concat_ws(' ', slice(split(t, ' '), i, 3)) AS g
        |FROM (SELECT explode(
        |  sequence(1, greatest(size(split(t, ' ')) - 2, 1))) AS i)""".stripMargin)
    ()
  }

  /** t28: privacy-preserving RELEASE — the two-step the structured
    * counterpart of t10's free-text redaction: (1) keyed TOKENIZATION
    * (sha-256 over key:id) replaces the identifier while preserving
    * joinability — every table tokenized with the same key still joins
    * on the token, which redaction destroys; (2) SMALL-CELL SUPPRESSION
    * rolls any token with fewer than [[PrivacyK]] events into one
    * `__suppressed__` row — the k-anonymity-style release rule that
    * keeps rare individuals from being singled out by their row alone.
    * Sums stay DECIMAL through BOTH aggregation levels (the suppressed
    * rollup re-sums per-token partials; decimal keeps that fold exact
    * and order-free) and go double only at the output edge.
    *
    * Scale shape: one keyed hash agg + one (mostly pass-through) re-agg
    * on the release key; the token is a per-row hash projection. At
    * 100 TB the real deployment holds the key in a KMS and salts per
    * release epoch — both are parameter changes, not shape changes. */
  private val PrivacyK = 60L
  private def t28(s: SparkSession, d: String): DataFrame = {
    val perToken = Tables(s, d, "events")
      .groupBy(sha2(concat(lit("graft-key-2024:"),
        col("user_id").cast("string")), 256).as("token"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)")).as("sv"))
    perToken
      .withColumn("token", when(col("n_events") < PrivacyK,
        lit("__suppressed__")).otherwise(col("token")))
      .groupBy(col("token"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sv")).cast("double").as("sum_value"))
      .orderBy("token")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_source_prune" -> t27 _, "t28_privacy_release" -> t28 _,
    "t29_sketch_prune" -> t29 _, "t30_rag_index_append" -> t30 _,
    "t31_langid_ngram" -> t31 _, "t32_blocklist_screen" -> t32 _,
    "t33_sequence_packing" -> t33 _,
    "t34_normalize_dedup" -> t34 _,
    "t35_ngram_generator" -> t35 _,
    "t36_outer_generate" -> t36 _,
    "t37_ranking_auc" -> t37 _,
    "t38_calibration_bins" -> t38 _,
    "t39_cohens_kappa" -> t39 _, "t40_source_divergence" -> t40 _,
    "c07_sql_udf_pipeline" -> c07 _,
    "c08_sql_pipe_pipeline" -> c08 _,
    "c10_sql_scripting" -> c10 _,
    "c13_parser_extension" -> c13 _,
    "c14_eval_monitoring" -> c14 _,
    "t15_repetition_gopher" -> t15 _, "t18_temperature_resample" -> t18 _,
    "t19_bigram_logprob" -> t19 _,
    "t16_quality_buckets" -> t16 _, "t17_domain_mix" -> t17 _,
    "t06_tfidf" -> t06 _, "t07_text_quality" -> t07 _,
    "t08_pack_sequences" -> t08 _, "t09_heavy_hitters" -> t09 _,
    "t01_token_stats" -> t01 _, "t02_lang_profile" -> t02 _,
    "t03_repetition" -> t03 _, "t04_text_profile" -> t04 _,
    "t05_token_frequency" -> t05 _, "t10_pii_redact" -> t10 _,
    "t11_bigram_counts" -> t11 _, "t12_unigram_logprob" -> t12 _,
    "t13_winnow_fingerprints" -> t13 _, "t14_gopher_quality" -> t14 _,
    "t20_bm25" -> t20 _, "t21_kwic_snippets" -> t21 _,
    "t22_zipf_coverage" -> t22 _, "t23_chunk_overlap" -> t23 _,
    "t24_rag_retrieval" -> t24 _, "t25_rag_index_serve" -> t25 _,
    "t26_retrieval_metrics" -> t26 _)

  /** The shared chunk+embed CTE text (tk → qemb) — the SQL replay of
    * [[ragChunkEmbeddings]]/[[ragQueryEmbeddings]], reused verbatim by the
    * t24 brute oracle and the t25/t30 index-served oracle so the embedding
    * model can never drift between the two gates. */
  private val RagEmbedCtes: String =
      raw"""tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), chunks0 AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(n - 1, 0), 8)) AS cs
        |  FROM tk
        |), chunks AS (
        |  SELECT doc_id, cs AS chunk_start, toks[cs+1:cs+16] AS carr
        |  FROM chunks0 WHERE len(toks[cs+1:cs+16]) > 0
        |), qrows(query_id, query_text) AS (
        |  VALUES (0, 'customer order data'), (1, 'spark vector table'),
        |         (2, 'fast slow filter')
        |), cemb AS (
        |  SELECT doc_id, chunk_start,
        |    list_transform(generate_series(0, 15), i ->
        |      len(list_filter(carr,
        |        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = i))) AS cv
        |  FROM chunks
        |), qemb AS (
        |  SELECT query_id,
        |    list_transform(generate_series(0, 15), i ->
        |      len(list_filter(string_split(query_text, ' '),
        |        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = i))) AS qv
        |  FROM qrows
        |)""".stripMargin

  /** The t24 oracle, a named val so t26's metrics oracle can wrap the
    * whole ranking as a subquery without duplicating it. */
  private val T24OracleSql: String =
      raw"""WITH $RagEmbedCtes, scored AS (
        |  SELECT query_id, doc_id, chunk_start,
        |    CAST(list_sum(list_transform(generate_series(1, 16),
        |        i -> qv[i] * cv[i])) AS DOUBLE)
        |      / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
        |         * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)))
        |      AS sim
        |  FROM cemb CROSS JOIN qemb
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
        |             ORDER BY sim DESC, chunk_start ASC) AS rb
        |  FROM scored
        |), ranked AS (
        |  SELECT query_id, doc_id, chunk_start, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, doc_id ASC) AS rank
        |  FROM best WHERE rb = 1)
        |SELECT query_id, rank, doc_id, chunk_start, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** Unrolled element-wise dot `a[1]*b[1] + … + a[n]*b[n]` — fixed
    * left-to-right addition order, matching the engine's sequential
    * `aggregate` fold bit-for-bit on doubles (0.0 + x = x exactly for the
    * non-negative/finite terms involved). */
  private def dotSql(a: String, b: String, n: Int = RagSlots): String =
    (1 to n).map(k => s"$a[$k]*$b[$k]").mkString(" + ")

  /** The t25/t30 oracle: the ENTIRE index lifecycle replayed in SQL —
    * the same chunk+embed stage ([[RagEmbedCtes]]), the 4-plane hyperplane
    * cell assignment (plane literals program-generated from
    * [[graft.functions.VectorFunctions.plane]], the exact constants the
    * engine compiles in), per-cell exact-integer-mean centroids, top-6
    * cosine routing, probed-cell-only scoring, and t24's two-window
    * rerank. Every sum the sign/rank decisions read is either exact
    * integer arithmetic (cv/qv are slot counts — doubles are exact below
    * 2^53) or a fixed-order unrolled fold, so the replay is
    * bit-deterministic in both engines. t30's appended index serves
    * bit-identically to a from-scratch rebuild (RagAppendSpec), so one
    * oracle covers both gates. */
  private def t25OracleSql: String = {
    val planeVals = (0 until RagCellPlanes).map { i =>
      val lst = graft.functions.VectorFunctions.plane(i, RagSlots)
        .map(p => if (p < 0) "-1.0" else "1.0").mkString("[", ",", "]")
      s"($i, $lst::DOUBLE[])"
    }.mkString(",\n    ")
    raw"""WITH $RagEmbedCtes, pl AS (SELECT * FROM (VALUES
        |    $planeVals) p(i, sgns)
        |), cells AS (
        |  SELECT doc_id, chunk_start, cv,
        |    CAST((SELECT sum(CASE WHEN ${dotSql("c.cv", "p.sgns")} >= 0
        |            THEN 1 << p.i ELSE 0 END) FROM pl p) AS INT) AS cell
        |  FROM cemb c
        |), cdims AS (
        |  SELECT cell, unnest(generate_series(1, $RagSlots)) AS k, cv
        |  FROM cells
        |), cents AS (
        |  SELECT cell, array_agg(m ORDER BY k) AS centroid FROM (
        |    SELECT cell, k, sum(cv[k]) / count(1) AS m
        |    FROM cdims GROUP BY cell, k) g GROUP BY cell
        |), routing AS (
        |  SELECT query_id, cell, row_number() OVER (PARTITION BY query_id
        |      ORDER BY (${dotSql("q.qv", "c.centroid")})
        |        / (sqrt(CAST(${dotSql("q.qv", "q.qv")} AS DOUBLE))
        |           * sqrt(${dotSql("c.centroid", "c.centroid")})) DESC,
        |      cell ASC) AS cr
        |  FROM qemb q CROSS JOIN cents c
        |), probed AS (SELECT query_id, cell FROM routing WHERE cr <= $RagNProbe
        |), scored AS (
        |  SELECT q.query_id, c.doc_id, c.chunk_start,
        |    CAST(${dotSql("q.qv", "c.cv")} AS DOUBLE)
        |      / (sqrt(CAST(${dotSql("q.qv", "q.qv")} AS DOUBLE))
        |         * sqrt(CAST(${dotSql("c.cv", "c.cv")} AS DOUBLE))) AS sim
        |  FROM probed p JOIN cells c USING (cell)
        |       JOIN qemb q ON q.query_id = p.query_id
        |), best AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
        |             ORDER BY sim DESC, chunk_start ASC) AS rb
        |  FROM scored
        |), ranked AS (
        |  SELECT query_id, doc_id, chunk_start, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, doc_id ASC) AS rank
        |  FROM best WHERE rb = 1)
        |SELECT query_id, rank, doc_id, chunk_start, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= $RagTopK
        |ORDER BY query_id, rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // t32: same dictionary inlined; empty tokens from the regex split
    // can never match a dictionary term, so split-semantics drift between
    // the engines is immaterial
    // t33: identical window arithmetic over the same space-raw token
    // counts — integer cumsums and divs, exact in both engines
    "t33_sequence_packing" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id)
        |    AS cum
        |  FROM tk)
        |SELECT lang, CAST((cum - n_toks) // 256 AS BIGINT) AS pack_id,
        |  count(1) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_toks,
        |  CAST(sum(CASE WHEN (cum - 1) // 256 > (cum - n_toks) // 256
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |FROM c GROUP BY lang, pack_id
        |ORDER BY lang, pack_id""".stripMargin,
    // c10: the WHILE loop unrolled into three chained CTEs — a hash
    // match proves the script ran exactly 3 refinement rounds with the
    // same per-round aggregates (floor of an IEEE-exact mean, integer
    // grid)
    "c10_sql_scripting" ->
      """WITH m1 AS (
        |  SELECT CAST(floor(avg(n_chars)) AS BIGINT) AS v FROM documents),
        |m2 AS (
        |  SELECT CAST(floor(avg(n_chars)) AS BIGINT) AS v FROM documents
        |  WHERE n_chars >= (SELECT v FROM m1)),
        |m3 AS (
        |  SELECT CAST(floor(avg(n_chars)) AS BIGINT) AS v FROM documents
        |  WHERE n_chars >= (SELECT v FROM m2))
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT v FROM m3) AS cutoff
        |FROM documents WHERE n_chars >= (SELECT v FROM m3)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // t34: the canonicalization recomputed INDEPENDENTLY — DuckDB's
    // utf8proc strip_accents + lower vs the engine's JDK NFD/Mn-strip/
    // ROOT-casefold; a hash match proves the two Unicode pipelines agree
    // on the planted composed/decomposed/re-cased spellings
    "t34_normalize_dedup" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    (['Éclair Menu', 'eclair menu', 'ÜBER Prüfung', 'uber prufung',
        |      'Crème Brûlée', 'creme brulee'])[CAST(doc_id % 6 AS INT) + 1]
        |      AS title
        |  FROM documents)
        |SELECT lower(strip_accents(title)) AS norm, count(1) AS n_docs,
        |  CAST(count(DISTINCT title) AS BIGINT) AS n_spellings
        |FROM v GROUP BY norm ORDER BY norm""".stripMargin,
    // t37: the same rank sums over the same unique scores — the single
    // integer-exact division lands the identical double
    // c14: the whole deployment loop replayed — same rank sums, same
    // integer cut, same smoothed PSI bins, same integer-crossproduct KS
    "c14_eval_monitoring" ->
      """WITH mlt AS (
        |  SELECT greatest(100000, CAST('1' ||
        |    repeat('0', length(CAST(max(doc_id) AS VARCHAR)))
        |    AS BIGINT)) AS m
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
        |    n_chars * m + doc_id AS score
        |  FROM documents, mlt),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY score) AS rank
        |           FROM sc),
        |head2 AS (
        |  SELECT CAST(count(1) AS BIGINT) AS n,
        |    CAST(sum(label) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN label = 1 THEN rank END)
        |           - (sum(label) * (sum(label) + 1)) // 2 AS DOUBLE)
        |      / CAST(sum(label) * (count(1) - sum(label)) AS DOUBLE) AS auc,
        |    CAST((count(1) * 8) // 10 AS BIGINT) AS cut_rank
        |  FROM ranked),
        |tagged AS (
        |  SELECT r.*, r.rank > h.cut_rank AS in_kept
        |  FROM ranked r CROSS JOIN head2 h),
        |kept AS (
        |  SELECT CAST(count(1) AS BIGINT) AS kept_n,
        |    CAST(min(score) AS BIGINT) AS threshold_score,
        |    round(CAST(sum(label) AS DOUBLE) / CAST(count(1) AS DOUBLE), 6)
        |      AS kept_pos_rate
        |  FROM tagged WHERE in_kept),
        |rng AS (SELECT min(n_chars) AS lo, max(n_chars) + 1 AS hi
        |        FROM tagged),
        |binned AS (
        |  SELECT least(9, CAST(floor((n_chars - lo) * 10 / (hi - lo))
        |           AS INT)) AS bin,
        |    CAST(sum(CASE WHEN in_kept THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(count(1) AS BIGINT) AS cb
        |  FROM tagged CROSS JOIN rng GROUP BY 1),
        |btot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |                CAST(sum(cb) AS BIGINT) AS n_b FROM binned),
        |psi AS (
        |  SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi FROM (
        |    SELECT CAST(ca + 1 AS DOUBLE) / CAST(n_a + 10 AS DOUBLE) AS pa,
        |           CAST(cb + 1 AS DOUBLE) / CAST(n_b + 10 AS DOUBLE) AS pb
        |    FROM binned CROSS JOIN btot) x),
        |perval AS (
        |  SELECT n_chars AS v,
        |    CAST(sum(CASE WHEN in_kept THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN in_kept THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM tagged GROUP BY 1),
        |cum AS (
        |  SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
        |  FROM perval
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ktot AS (SELECT CAST(sum(ca) AS BIGINT) AS ka,
        |                CAST(sum(cb) AS BIGINT) AS kb FROM perval),
        |ksq AS (
        |  SELECT CAST(max(abs(cuma * kb - cumb * ka)) AS DOUBLE) /
        |      CAST(ka * kb AS DOUBLE) AS ks
        |  FROM cum CROSS JOIN ktot GROUP BY ka, kb)
        |SELECT h.n, h.n_pos, h.auc, h.cut_rank, k.kept_n,
        |  k.threshold_score, k.kept_pos_rate, p.psi, s.ks
        |FROM head2 h CROSS JOIN kept k CROSS JOIN psi p
        |CROSS JOIN ksq s""".stripMargin,
    "t37_ranking_auc" ->
      """WITH mlt AS (
        |  SELECT greatest(100000, CAST('1' ||
        |    repeat('0', length(CAST(max(doc_id) AS VARCHAR)))
        |    AS BIGINT)) AS m
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
        |         n_chars * m + doc_id AS score
        |  FROM documents, mlt),
        |r AS (SELECT label,
        |        row_number() OVER (ORDER BY score) AS rank FROM sc)
        |SELECT CAST(sum(label) AS BIGINT) AS n_pos,
        |  CAST(count(1) - sum(label) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN label = 1 THEN rank END)
        |         - (sum(label) * (sum(label) + 1)) // 2 AS DOUBLE)
        |    / CAST(sum(label) * (count(1) - sum(label)) AS DOUBLE) AS auc
        |FROM r""".stripMargin,
    // t38: identical md5-derived millis, identical integer sums, the
    // same one-division-per-cell ratios rounded below the noise floor
    "t38_calibration_bins" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
        |      % 1000 AS conf_milli,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's'),
        |                1, 13))::BIGINT % 1000
        |           < ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |               ::BIGINT % 1000
        |         THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (
        |  SELECT CAST(conf_milli // 100 AS INT) AS bin,
        |    CAST(count(1) AS BIGINT) AS n,
        |    CAST(sum(conf_milli) AS BIGINT) AS sum_conf,
        |    CAST(sum(label) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1)
        |SELECT bin, n,
        |  round(CAST(sum_conf AS DOUBLE) / CAST(n * 1000 AS DOUBLE), 6)
        |    AS confidence,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
        |  round(abs(CAST(sum_conf AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
        |        - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin,
    // t39: identical annotators, identical confusion counts, the same
    // two exact-integer divisions
    "t39_cohens_kappa" ->
      """WITH ann AS (
        |  SELECT
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |           ::BIGINT % 100 < 60 THEN 1 ELSE 0 END AS a1,
        |    CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |           ::BIGINT % 100 < 60)
        |         <> (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'x'),
        |               1, 13))::BIGINT % 100 < 15)
        |         THEN 1 ELSE 0 END AS a2
        |  FROM documents),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN a1 = 0 AND a2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00,
        |    CAST(count(1) AS BIGINT) AS n
        |  FROM ann)
        |SELECT n11, n10, n01, n00,
        |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_o,
        |  round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |       - CAST((n11 + n10) * (n11 + n01)
        |             + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |         / CAST(n * n AS DOUBLE))
        |    / (1.0 - CAST((n11 + n10) * (n11 + n01)
        |             + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |         / CAST(n * n AS DOUBLE)), 6) AS kappa
        |FROM c""".stripMargin,
    // t40: per-(source, token) JS terms cast to DECIMAL(28,12) (the one
    // half-up rounding step both engines share) and summed exactly; the
    // p=0 tail is the closed-form 0.5*ln2*(1-coverage) folded into the
    // final constant; 0.6931471805599453 is the SHARED ln2 literal (the
    // engines' ln(2) may differ in the last ulp outside the per-term
    // rounding)
    "t40_source_divergence" ->
      """WITH toks AS (
        |  SELECT source, t AS token FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |cst AS (SELECT source, token, count(1) AS c FROM toks GROUP BY 1, 2),
        |ct AS (SELECT token, CAST(sum(c) AS BIGINT) AS cc
        |       FROM cst GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
        |         count(1) AS n_vocab
        |       FROM cst GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cst),
        |pq AS (
        |  SELECT cst.source, ns.n_s, ns.n_vocab,
        |    CAST(cst.c AS DOUBLE) / CAST(ns.n_s AS DOUBLE) AS p,
        |    CAST(ct.cc AS DOUBLE) / CAST(tot.n AS DOUBLE) AS q
        |  FROM cst JOIN ns USING (source) JOIN ct USING (token)
        |  CROSS JOIN tot),
        |terms AS (
        |  SELECT source, n_s, n_vocab,
        |    CAST(0.5 * (p * ln(2.0 * p / (p + q)) + q * ln(2.0 * q / (p + q))
        |         - q * 0.6931471805599453) AS DECIMAL(28,12)) AS tau
        |  FROM pq)
        |SELECT source, n_s AS n_tokens, n_vocab,
        |  round(CAST(sum(tau) AS DOUBLE) + 0.5 * 0.6931471805599453, 6)
        |    AS js
        |FROM terms GROUP BY source, n_s, n_vocab ORDER BY source""".stripMargin,
    // c13: the desugared dedup semantics re-derived — keep the min
    // doc_id of every identical-text group, then the per-source summary
    "c13_parser_extension" ->
      """WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
        |           GROUP BY md5(text)),
        |d AS (SELECT * FROM documents
        |      WHERE doc_id IN (SELECT doc_id FROM k))
        |SELECT source, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // t35: the native generator's grams re-derived independently —
    // list_slice over generate_series vs the engine's Generate node; same
    // single-space/empty-drop tokenization as the rest of the t-family
    "t35_ngram_generator" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '),
        |                             t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |         array_to_string(list_slice(tk, i, i + 2), ' ') AS gram
        |  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i))
        |SELECT gram, count(1) AS n, count(DISTINCT doc_id) AS n_docs,
        |       min(pos) AS first_pos
        |FROM grams GROUP BY gram
        |ORDER BY n DESC, gram ASC LIMIT 50""".stripMargin,
    // t36: the outer-generate accounting re-derived with a LEFT JOIN —
    // short docs contribute one gramless row, long docs their gram count
    "t36_outer_generate" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN array_to_string(list_slice(
        |        list_filter(string_split(text, ' '), t -> len(t) > 0),
        |        1, 2), ' ')
        |      ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '),
        |                             t -> len(t) > 0) AS tk
        |  FROM docs2),
        |grams AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(tk, i, i + 2), ' ') AS gram
        |  FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
        |joined AS (
        |  SELECT t.doc_id, g.gram
        |  FROM toks t LEFT JOIN grams g ON t.doc_id = g.doc_id)
        |SELECT CASE WHEN doc_id % 3 = 0 THEN 'short' ELSE 'long' END
        |         AS bucket,
        |       count(DISTINCT doc_id) AS n_docs,
        |       count(gram) AS n_grams,
        |       count(1) - count(gram) AS n_gramless_rows
        |FROM joined GROUP BY 1 ORDER BY bucket""".stripMargin,
    "t32_blocklist_screen" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, count(1) AS n_flagged,
        |    string_agg(DISTINCT term, ',' ORDER BY term) AS flagged_terms
        |  FROM toks WHERE term IN ('slow', 'vector', 'merge')
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(h.n_flagged, 0) AS n_flagged,
        |  COALESCE(h.flagged_terms, '') AS flagged_terms,
        |  h.doc_id IS NULL AS keep
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // same key, same hash, same suppression rule — the release tables
    // must be identical or the tokenization isn't deterministic
    "t28_privacy_release" ->
      """WITH t AS (
        |  SELECT sha256('graft-key-2024:' || CAST(user_id AS VARCHAR))
        |      AS token,
        |    CAST(count(1) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(30,2))) AS sv
        |  FROM events GROUP BY 1)
        |SELECT CASE WHEN n < 60 THEN '__suppressed__' ELSE token END
        |    AS token,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(sv) AS DOUBLE) AS sum_value
        |FROM t GROUP BY 1 ORDER BY token""".stripMargin,
    // rank-based per-source cut: integer-exact membership, no
    // value-interpolated threshold to flip on last-ulp score ties
    "t27_source_prune" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |      len(string_split(text, ' ')) AS score
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ASC) AS rk,
        |    count(1) OVER (PARTITION BY source) AS n_source
        |  FROM scored)
        |SELECT source, doc_id, CAST(rk AS INTEGER) AS rk,
        |  CAST(n_source AS BIGINT) AS n_source,
        |  round(score, 6) AS score
        |FROM r WHERE rk * 10 <= n_source * 3
        |ORDER BY source, rk""".stripMargin,
    // the SQL-UDF pipeline replayed with the function bodies expanded
    // inline (exactly what Spark's analyzer does to them)
    // the pipe-syntax pipeline replayed in standard SQL: same threshold
    // (the bound :minChars = 50), same per-row ratio, order-free aggs
    "c08_sql_pipe_pipeline" ->
      """WITH base AS (
        |  SELECT source, lang, len(string_split(text, ' ')) AS n_toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS distinct_ratio
        |  FROM documents WHERE n_chars >= 50)
        |SELECT source, lang, count(1) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
        |  round(min(distinct_ratio), 6) AS min_ratio,
        |  round(max(distinct_ratio), 6) AS max_ratio
        |FROM base WHERE distinct_ratio >= 0.5
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "c07_sql_udf_pipeline" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS score
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE score >= 0.5),
        |sh AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(
        |      generate_series(1,
        |        greatest(len(string_split(text, ' ')) - 2, 1)),
        |      i -> array_to_string(
        |        list_slice(string_split(text, ' '), i, i + 2), ' '))) AS g
        |  FROM kept)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs,
        |  count(1) AS n_shingles, count(DISTINCT g) AS n_distinct_shingles
        |FROM sh GROUP BY lang ORDER BY lang""".stripMargin,
    // the whole detector replayed in SQL: same trigram windows, same
    // top-50 profiles (count desc, trigram asc — integer-exact
    // membership), same distinct-trigram overlap argmax with lexical
    // tie-break and the 'und' fallback
    "t31_langid_ngram" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    list_transform(generate_series(1, greatest(len(text) - 2, 0)),
        |      i -> substr(text, i, 3)) AS tris
        |  FROM documents),
        |train AS (
        |  SELECT lang, unnest(tris) AS g FROM base WHERE doc_id % 2 = 0),
        |cnt AS (SELECT lang, g, count(1) AS c FROM train GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang AS cand, g FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY c DESC, g ASC) AS rk FROM cnt) x WHERE rk <= 50),
        |hold AS (
        |  SELECT doc_id, lang, unnest(list_distinct(tris)) AS g
        |  FROM base WHERE doc_id % 2 = 1),
        |scored AS (
        |  SELECT h.doc_id, h.lang, p.cand, count(1) AS score
        |  FROM hold h JOIN prof p USING (g) GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT doc_id, lang, cand FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand ASC) AS rk FROM scored) x
        |  WHERE rk = 1),
        |unmatched AS (
        |  SELECT b.doc_id, b.lang, 'und' AS cand
        |  FROM (SELECT doc_id, lang FROM base WHERE doc_id % 2 = 1) b
        |  LEFT JOIN best ON best.doc_id = b.doc_id
        |  WHERE best.doc_id IS NULL),
        |allp AS (SELECT * FROM best UNION ALL SELECT * FROM unmatched)
        |SELECT lang, cand AS predicted, count(1) AS n_docs
        |FROM allp GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    // t29 mirrors the engine's histogram-cutoff arithmetic exactly: bin
    // assignment is a power-of-2 scale (bit-exact in both engines), the
    // cutoff is integer bin/count arithmetic, and merge transparency
    // means the oracle can compute the histogram in one pass
    "t29_sketch_prune" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |      len(string_split(text, ' ')) AS score
        |  FROM documents),
        |b AS (SELECT *, CAST(floor(score * 1024) AS INTEGER) AS bin
        |      FROM scored),
        |hist AS (SELECT source, bin, count(1) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(count(1) AS BIGINT) AS n_source,
        |               (count(1) * 3) // 10 AS k
        |        FROM b GROUP BY 1),
        |cum AS (SELECT source, bin,
        |          sum(c) OVER (PARTITION BY source ORDER BY bin DESC) AS c_ge
        |        FROM hist),
        |cut AS (SELECT cum.source, max(bin) AS cut_bin
        |        FROM cum JOIN tot USING (source)
        |        WHERE c_ge >= k AND k > 0 GROUP BY 1)
        |SELECT b.source, b.doc_id, b.bin, cut.cut_bin, tot.n_source,
        |  round(b.score, 6) AS score
        |FROM b JOIN cut USING (source) JOIN tot USING (source)
        |WHERE b.bin >= cut.cut_bin
        |ORDER BY source, doc_id""".stripMargin,
    // the full retrieval loop replayed in SQL: same chunk windows as the
    // t23 oracle, same md5-slot feature hashing, integer-exact dots and
    // norms (so the doubles agree bit-for-bit), same two-window ranking
    "t24_rag_retrieval" -> T24OracleSql,
    // t25/t30: the index lifecycle (build → route → probed scan → rerank)
    // replayed end-to-end; t30's appended index is spec-pinned
    // bit-identical to a rebuild, so the same replay oracles both
    "t25_rag_index_serve" -> t25OracleSql,
    "t30_rag_index_append" -> t25OracleSql,
    // t26 wraps the t24 ranking verbatim and scores it against lexical
    // relevance labels; per-term DECIMAL truncation before the DCG sums
    // keeps the log2 arithmetic order-free and cross-engine exact
    "t26_retrieval_metrics" ->
      raw"""WITH ranked AS ($T24OracleSql
        |), qrows2(query_id, query_text) AS (
        |  VALUES (0, 'customer order data'), (1, 'spark vector table'),
        |         (2, 'fast slow filter')
        |), labels AS (
        |  SELECT q.query_id, d.doc_id,
        |    CASE WHEN list_has_all(string_split(d.text, ' '),
        |                           string_split(q.query_text, ' '))
        |    THEN 1 ELSE 0 END AS rel
        |  FROM documents d CROSS JOIN qrows2 q
        |), totals AS (
        |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_relevant
        |  FROM labels GROUP BY 1
        |), top AS (
        |  SELECT r.query_id, r.rank, l.rel
        |  FROM ranked r JOIN labels l
        |    ON r.query_id = l.query_id AND r.doc_id = l.doc_id
        |), met AS (
        |  SELECT query_id,
        |    CAST(sum(rel) AS BIGINT) AS n_rel_top5,
        |    round(max(CASE WHEN rel = 1 THEN 1.0 / rank ELSE 0.0 END), 6) AS mrr,
        |    CAST(sum(CAST(rel / log2(rank + 1) AS DECIMAL(30,9))) AS DOUBLE)
        |      AS dcg
        |  FROM top GROUP BY 1
        |), idcg AS (
        |  SELECT CAST(sum(CAST(1.0 / log2(i + 1) AS DECIMAL(30,9))) AS DOUBLE)
        |    AS v
        |  FROM range(1, 6) t(i)
        |)
        |SELECT m.query_id, t.n_relevant, m.n_rel_top5,
        |  round(m.n_rel_top5 / 5.0, 6) AS precision5,
        |  round(CAST(m.n_rel_top5 AS DOUBLE) / t.n_relevant, 6) AS recall5,
        |  m.mrr, round(m.dcg / idcg.v, 6) AS ndcg5
        |FROM met m JOIN totals t USING (query_id) CROSS JOIN idcg
        |ORDER BY query_id""".stripMargin,
    // t07's term-by-term mirror, extended to the FULL t04 profile: same
    // tokenization, stopword lists, fixed-order double arithmetic and
    // language argmax; plus the md5-rolling fingerprint fold replayed
    // left-to-right ((acc·31+h) mod P over 60-bit md5 prefixes — exact
    // BIGINT in both engines) and the BPE-ish token count. The fixture
    // corpus is punctuation- and digit-free (lowercase words + spaces),
    // where the BPE-ish splitter's punct/letter-digit boundaries reduce
    // to whitespace tokens — the oracle asserts that reduction; a future
    // fixture with punctuation would need the char-class boundary count
    // spelled out here instead.
    "t04_text_profile" ->
      raw"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS ltoks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, lang, text, toks, ltoks,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(ltoks) AS DOUBLE) AS ln,
        |    CAST(length(text) AS DOUBLE) AS clen,
        |    CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS nopunct
        |  FROM base
        |), r AS (
        |  SELECT doc_id, lang, text, toks, ltoks, n, ln, clen,
        |    CASE WHEN n = 0.0 THEN 0.0 ELSE
        |      CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','it',
        |         'on','for','with','as','at','by','be','this','that','are'], t))) AS DOUBLE) / n
        |    END AS stopword_ratio,
        |    CASE WHEN clen = 0.0 THEN 0.0 ELSE (clen - nopunct) / clen END AS punct_ratio,
        |    CASE WHEN n = 0.0 THEN 0.0 ELSE
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / n END AS distinct_ratio
        |  FROM m
        |)
        |SELECT doc_id, lang,
        |  list_aggregate([
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['der','die','das','und','ist','ein','eine','nicht','mit','zu'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'de'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['the','a','and','of','to','in','is','it','that','for'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'en'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['el','la','los','las','y','de','un','una','es','que'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'es'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['le','la','les','et','de','des','un','une','est','que'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'fr'},
        |    {'score': CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |       / greatest(clen, 1.0), 'lang': 'zh'}
        |  ], 'max').lang AS predicted_lang,
        |  -- round through the shared DECIMAL(18,10) intermediate (see
        |  -- t04's round4 scaladoc): both engines land the tie on the
        |  -- decimal boundary before the half-up round, where raw
        |  -- round(double, 4) diverges
        |  CAST(round(CAST(least(n / 100.0, 1.0) * 0.25
        |    + greatest(1.0 - abs(stopword_ratio - 0.1), 0.0) * 0.25
        |    + (1.0 - punct_ratio) * 0.25
        |    + distinct_ratio * 0.25 AS DECIMAL(18,10)), 4) AS DOUBLE) AS quality,
        |  CAST(len(toks) AS BIGINT) AS bpeish_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
        |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
        |    (acc, h) -> (acc * 31 + h) % 536870909) AS fingerprint,
        |  CAST(round(CAST(stopword_ratio AS DECIMAL(18,10)), 4) AS DOUBLE)
        |    AS stopword_ratio,
        |  CAST(round(CAST(punct_ratio AS DECIMAL(18,10)), 4) AS DOUBLE)
        |    AS punct_ratio
        |FROM r ORDER BY doc_id""".stripMargin,
    // chunk windows are pure list slices — both engines must produce the
    // byte-identical rejoined text for every (doc, start) window
    "t23_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), starts AS (
        |  SELECT doc_id, tk,
        |    unnest(generate_series(0, greatest(n - 1, 0), 48)) AS cs
        |  FROM toks)
        |SELECT doc_id, cs AS chunk_start,
        |  array_to_string(tk[cs+1:cs+64], ' ') AS chunk_text,
        |  CAST(len(tk[cs+1:cs+64]) AS BIGINT) AS chunk_tokens
        |FROM starts WHERE len(tk[cs+1:cs+64]) > 0
        |ORDER BY doc_id, chunk_start""".stripMargin,
    "t16_quality_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |counts AS (SELECT token, count(1) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts),
        |scores AS (
        |  SELECT t.doc_id, d.lang,
        |    round(avg(ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_logprob
        |  FROM toks t JOIN counts USING (token) CROSS JOIN tot
        |  JOIN documents d ON d.doc_id = t.doc_id
        |  GROUP BY t.doc_id, d.lang)
        |SELECT doc_id, lang, avg_logprob,
        |  CASE ntile(3) OVER (PARTITION BY lang
        |                      ORDER BY avg_logprob DESC, doc_id ASC)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scores ORDER BY doc_id""".stripMargin,
    "t17_domain_mix" ->
      raw"""WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> length(t) > 0)) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM base)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens - n_tokens < 500
        |ORDER BY source, doc_id""".stripMargin,
    // same tokenization as t12 (space split, drop empties); λ literals
    // CAST to DOUBLE — DuckDB parses bare 0.7 as DECIMAL
    "t19_bigram_logprob" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT t AS token, count(1) AS cnt FROM (
        |    SELECT unnest(toks) AS t FROM base) u GROUP BY t),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uni),
        |bg AS (
        |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM base WHERE len(toks) >= 2) x),
        |bi AS (SELECT prev, cur, count(1) AS cbi FROM bg GROUP BY prev, cur)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_bigrams,
        |  round(avg(ln(
        |    CAST(0.7 AS DOUBLE) * cbi / cprev
        |      + CAST(0.3 AS DOUBLE) * ccur / n_total)), 4) AS avg_logprob2
        |FROM bg
        |JOIN bi USING (prev, cur)
        |JOIN (SELECT token AS prev, cnt AS cprev FROM uni) up USING (prev)
        |JOIN (SELECT token AS cur, cnt AS ccur FROM uni) uc USING (cur)
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // float literals CAST to DOUBLE: DuckDB parses bare 1.0 as DECIMAL,
    // which would change the arithmetic the rates are derived with
    "t18_temperature_resample" ->
      """WITH stats AS (
        |  SELECT source, count(1) AS n_d FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n_total FROM stats),
        |w AS (
        |  SELECT source, n_d, n_total,
        |    sqrt(CAST(n_d AS DOUBLE) / CAST(n_total AS DOUBLE)) AS w
        |  FROM stats CROSS JOIN tot),
        |z AS (
        |  SELECT CAST(sum(CAST(w AS DECIMAL(30,12))) AS DOUBLE) AS z FROM w),
        |rates AS (
        |  SELECT source,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(n_total // 2 AS DOUBLE) * (w / z)) / CAST(n_d AS DOUBLE))
        |      AS rate
        |  FROM w CROSS JOIN z)
        |SELECT d.source, count(1) AS n_docs,
        |  CAST(sum(CASE WHEN
        |      CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
        |           % 10000 AS DOUBLE) / CAST(10000.0 AS DOUBLE) < r.rate
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(max(r.rate), 6) AS rate
        |FROM documents d JOIN rates r USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "t15_repetition_gopher" ->
      raw"""WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || ' ' || toks[i + 1]) AS g2,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
        |  FROM base
        |), topg AS (
        |  SELECT doc_id, text, g2, g3,
        |    list_max(list_transform(list_distinct(g2),
        |      g -> {'cnt': len(list_filter(g2, x -> x = g)), 'g': g})) AS top2
        |  FROM grams
        |)
        |SELECT doc_id,
        |  CAST(len(g2) AS BIGINT) AS n_2grams,
        |  CASE WHEN len(g2) = 0 THEN 0.0 ELSE
        |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) /
        |    CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0 ELSE
        |    CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) /
        |    CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac,
        |  coalesce(top2.g, '') AS top_2gram,
        |  CASE WHEN top2 IS NULL THEN 0.0 ELSE
        |    CAST(top2.cnt * length(top2.g) AS DOUBLE) /
        |    CAST(length(text) AS DOUBLE) END AS top_2gram_char_frac
        |FROM topg ORDER BY doc_id""".stripMargin,
    // per-row window over the SAME raw space-split list; list_position =
    // first occurrence, list slicing clips at both ends like Spark's slice
    "t22_zipf_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '),
        |    t -> length(t) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT token, count(1) AS tf FROM toks GROUP BY token),
        |ranked AS (
        |  SELECT row_number() OVER w AS r, sum(tf) OVER w AS cum
        |  FROM tf
        |  WINDOW w AS (ORDER BY tf DESC, token ASC ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens FROM tf),
        |th AS (SELECT unnest([50, 90, 95, 99]) AS pct)
        |SELECT CAST(pct AS BIGINT) AS pct, CAST(min(r) AS BIGINT) AS vocab_size,
        |  CAST(min(cum) AS BIGINT) AS covered_tokens, total_tokens
        |FROM th CROSS JOIN ranked CROSS JOIN tot
        |WHERE 100 * cum >= pct * total_tokens
        |GROUP BY pct, total_tokens ORDER BY pct""".stripMargin,
    "t21_kwic_snippets" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |terms AS (SELECT unnest(['spark', 'vector', 'customer']) AS term),
        |hits AS (
        |  SELECT doc_id, term,
        |    CAST(list_position(toks, term) AS BIGINT) AS pos, toks
        |  FROM base CROSS JOIN terms
        |  WHERE list_position(toks, term) > 0)
        |SELECT doc_id, term, pos,
        |  array_to_string(toks[greatest(pos - 3, 1) : pos + 3], ' ')
        |    AS snippet
        |FROM hits ORDER BY doc_id, term""".stripMargin,
    "t20_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) x
        |  WHERE length(token) > 0),
        |dl AS (SELECT doc_id, count(1) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT (SELECT count(1) FROM documents) AS n_docs,
        |                 (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS total_tokens),
        |qt AS (SELECT doc_id, token FROM toks
        |       WHERE token IN ('spark', 'vector', 'customer')),
        |tf AS (SELECT doc_id, token, count(1) AS tf FROM qt
        |       GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(1) AS df FROM (
        |            SELECT DISTINCT doc_id, token FROM qt) x GROUP BY token),
        |scored AS (
        |  SELECT t.doc_id,
        |    round(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
        |             / (CAST(df AS DOUBLE) + 0.5) + 1)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1 - 0.75
        |          + 0.75 * CAST(dl AS DOUBLE)
        |            / (CAST(total_tokens AS DOUBLE) / n_docs))), 6)
        |      AS term_score
        |  FROM tf t JOIN dfreq USING (token) JOIN dl USING (doc_id)
        |  CROSS JOIN stats)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_terms,
        |  CAST(sum(CAST(term_score AS DECIMAL(30,6))) AS DOUBLE) AS score
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "t06_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), toks_ne AS (
        |  SELECT doc_id, token FROM toks WHERE length(token) > 0
        |), tf AS (
        |  SELECT doc_id, token, count(1) AS tf FROM toks_ne
        |  WHERE doc_id < 20 GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, count(1) AS df FROM (
        |    SELECT DISTINCT doc_id, token FROM toks_ne) x GROUP BY token
        |)
        |SELECT doc_id, token, tf, df,
        |  round(tf * ln(CAST((SELECT count(1) FROM documents) AS DOUBLE) / df), 6) AS tfidf
        |FROM tf JOIN dfreq USING (token)
        |ORDER BY doc_id, token""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        | length(text) AS n_chars_calc, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_lang_profile" ->
      """SELECT lang, count(1) AS n_docs,
        | CAST(sum(n_chars) AS DOUBLE) / count(1) AS avg_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t03_repetition" ->
      """SELECT doc_id,
        | len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |   len(string_split(text, ' ')) AS distinct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t09_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |), toks_ne AS (
        |  SELECT token FROM toks WHERE length(token) > 0
        |)
        |SELECT token, count(1) AS tf FROM toks_ne
        |GROUP BY token
        |HAVING count(1) * 100 >= (SELECT count(1) FROM toks_ne)
        |ORDER BY tf DESC, token ASC""".stripMargin,
    "t08_pack_sequences" ->
      raw"""WITH base AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |       // 2048 AS BIGINT) AS bin
        |FROM base ORDER BY doc_id""".stripMargin,
    // Mirrors TextFunctions term-by-term: same tokenization, same stopword
    // lists, same fixed-order double arithmetic (0.25 weights are exact
    // binary scalings, so the sums are bit-identical); the language argmax
    // is max-over-(score, lang)-structs in both engines.
    "t07_text_quality" ->
      raw"""WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS ltoks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, toks, ltoks,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(ltoks) AS DOUBLE) AS ln,
        |    CAST(length(text) AS DOUBLE) AS clen,
        |    CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS nopunct
        |  FROM base
        |), r AS (
        |  SELECT doc_id, text, toks, ltoks, n, ln, clen,
        |    CASE WHEN n = 0.0 THEN 0.0 ELSE
        |      CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','it',
        |         'on','for','with','as','at','by','be','this','that','are'], t))) AS DOUBLE) / n
        |    END AS stopword_ratio,
        |    CASE WHEN clen = 0.0 THEN 0.0 ELSE (clen - nopunct) / clen END AS punct_ratio,
        |    CASE WHEN n = 0.0 THEN 0.0 ELSE
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / n END AS distinct_ratio
        |  FROM m
        |)
        |SELECT doc_id,
        |  list_aggregate([
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['der','die','das','und','ist','ein','eine','nicht','mit','zu'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'de'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['the','a','and','of','to','in','is','it','that','for'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'en'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['el','la','los','las','y','de','un','una','es','que'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'es'},
        |    {'score': CAST(len(list_filter(ltoks, t -> list_contains(
        |       ['le','la','les','et','de','des','un','une','est','que'], t))) AS DOUBLE)
        |       / greatest(ln, 1.0), 'lang': 'fr'},
        |    {'score': CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |       / greatest(clen, 1.0), 'lang': 'zh'}
        |  ], 'max').lang AS predicted_lang,
        |  stopword_ratio, punct_ratio,
        |  least(n / 100.0, 1.0) * 0.25
        |    + greatest(1.0 - abs(stopword_ratio - 0.1), 0.0) * 0.25
        |    + (1.0 - punct_ratio) * 0.25
        |    + distinct_ratio * 0.25 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "t05_token_frequency" ->
      """SELECT token, count(1) AS tf FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) x
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin,
    "t10_pii_redact" ->
      raw"""WITH staged AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |      AS after_email
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(after_email, '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}')) AS n_phones,
        |  regexp_replace(regexp_replace(after_email,
        |    '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS redacted
        |FROM staged ORDER BY doc_id""".stripMargin,
    "t11_bigram_counts" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |         i -> t[i] || ' ' || t[i + 1])) AS bigram FROM toks)
        |SELECT bigram, count(1) AS n FROM bg
        |WHERE NOT starts_with(bigram, ' ') AND NOT ends_with(bigram, ' ')
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin,
    "t12_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |counts AS (SELECT token, count(1) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts)
        |SELECT doc_id, count(1) AS n_tokens,
        |  round(avg(ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_logprob
        |FROM toks JOIN counts USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t13_winnow_fingerprints" ->
      """WITH d AS (SELECT doc_id, text, length(text) - 7 AS ng FROM documents
        |           WHERE doc_id < 20 AND length(text) >= 11),
        |g AS (SELECT doc_id, ng, p,
        |        ('0x' || substr(md5(substr(text, CAST(p AS INT), 8)), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, ng, text, unnest(range(1, ng + 1)) AS p FROM d)),
        |w AS (SELECT doc_id, p, ng,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY p
        |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g)
        |SELECT DISTINCT doc_id, fp FROM w WHERE p <= ng - 3
        |ORDER BY doc_id, fp""".stripMargin,
    "t14_gopher_quality" ->
      raw"""WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS word_chars,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) AS n_symbols,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) AS alpha_words,
        |    CAST(len(list_intersect(list_distinct(list_transform(toks, t -> lower(t))),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_required_stopwords
        |  FROM base
        |), r AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE word_chars / CAST(n_words AS DOUBLE) END AS mean_word_len,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE n_symbols / CAST(n_words AS DOUBLE) END AS symbol_word_ratio,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE alpha_words / CAST(n_words AS DOUBLE) END AS alpha_word_ratio,
        |    n_required_stopwords
        |  FROM m
        |)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
        |  alpha_word_ratio, n_required_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_word_ratio <= 0.1 AND alpha_word_ratio > 0.8
        |    AND n_required_stopwords >= 2 AS passes_gopher
        |FROM r ORDER BY doc_id""".stripMargin)
}
