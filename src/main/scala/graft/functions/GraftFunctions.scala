package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._

/** SQL registration for the engine's native expressions, so
  * `spark.sql("SELECT graft_cosine_sim(a, b) ...")` works like any builtin.
  *
  * One deployment route: [[graft.GraftExtensions]] injects [[descriptions]]
  * when a session is constructed (by [[graft.GraftSession.builder]], or on
  * a cluster by `--conf spark.sql.extensions=graft.GraftExtensions`).
  * [[registerAll]] stays for callers outside the engine that hold a
  * session built some other way; no engine code calls it.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)),
    (FunctionIdentifier("graft_cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_minhash64"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash64"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head, 64)),
    (FunctionIdentifier("graft_haversine_km"),
      new ExpressionInfo(GeoFunctions.getClass.getName, "graft_haversine_km"),
      (exprs: Seq[Expression]) =>
        haversineKmExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    // The runtime-filter pair Spark's own InjectRuntimeFilter uses, exposed
    // as engine functions: graft_bloom_agg(xxhash64(k) [, nItems [, nBits]])
    // folds keys into one binary Bloom sketch (distributed partial
    // aggregation — only the bitset merges); graft_might_contain(bf,
    // xxhash64(k)) is the codegen'd probe. Unlike a Scala-UDF probe, both
    // stay inside whole-stage codegen. The analyzer wraps the returned
    // AggregateFunction in an AggregateExpression like any builtin agg.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[aggregate.BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v) => new aggregate.BloomFilterAggregate(v)
        case Seq(v, n) => new aggregate.BloomFilterAggregate(v, n)
        case Seq(v, n, b) => new aggregate.BloomFilterAggregate(v, n, b)
        case _ => throw new IllegalArgumentException(
          s"graft_bloom_agg takes 1-3 args, got ${exprs.length}")
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_might_contain takes 2 args (filter, value), got ${exprs.length}")
        BloomFilterMightContain(exprs(0), exprs(1))
      }),
    // graft_bloom_probe(bloomColumn, xxhash64(k)) — the transpose of
    // graft_might_contain: a PER-ROW filter column probed by a hash, for
    // distributed manifest scans (e24) where the filters must stay on
    // executors
    (FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(
        classOf[BloomMightContainAny].getName, "graft_bloom_probe"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_bloom_probe takes 2 args (filter, value), got ${exprs.length}")
        BloomMightContainAny(exprs(0), exprs(1))
      }),
    // graft_hist(value, binWidth) — the TypedImperativeAggregate rung: a
    // mergeable fixed-grid histogram whose intermediate state is a binary
    // buffer (q125 gate). binWidth is a plan-time literal, like a format
    // string.
    (FunctionIdentifier("graft_hist"),
      new ExpressionInfo(classOf[HistogramAgg].getName, "graft_hist"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_hist takes 2 args (value, binWidth), got ${exprs.length}")
        val bw = exprs(1) match {
          case Literal(v: Long, _: org.apache.spark.sql.types.LongType) => v
          case Literal(v: Int, _: org.apache.spark.sql.types.IntegerType) =>
            v.toLong
          case other => throw new IllegalArgumentException(
            s"graft_hist binWidth must be an integer literal, got $other")
        }
        HistogramAgg(exprs.head, bw)
      }),
    // graft_topk(value, id, k) — bounded per-group top-k as a mergeable
    // imperative aggregate (q129 gate): the map side reduces each
    // partition to k pairs before the shuffle, where the window
    // formulation shuffles every row. k is a plan-time literal.
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_topk takes 3 args (value, id, k), got ${exprs.length}")
        val k = exprs(2) match {
          case Literal(v: Int, _: org.apache.spark.sql.types.IntegerType) => v
          case Literal(v: Long, _: org.apache.spark.sql.types.LongType) =>
            v.toInt
          case other => throw new IllegalArgumentException(
            s"graft_topk k must be an integer literal, got $other")
        }
        TopKAgg(exprs(0), exprs(1), k)
      }),
    // graft_ngrams(text, n) — native table-generating function (the
    // Generator rung, t35 gate): explodes a document into word n-grams as
    // (pos, gram) rows through ONE Generate node, no per-row gram array
    // materialized. n is a plan-time literal.
    (FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGramsGenerator].getName, "graft_ngrams"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_ngrams takes 2 args (text, n), got ${exprs.length}")
        NGramsGenerator(exprs(0), exprs(1))
      }),
    // graft_normalize(text) — NFD accent-strip + ROOT-locale casefold,
    // the canonicalization pass text dedup keys on (t34 gate); a native
    // codegen'd Expression, independently implemented by DuckDB's
    // lower(strip_accents(...)) in the oracle.
    (FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_normalize takes 1 arg, got ${exprs.length}")
        NormalizeText(exprs.head)
      }),
    // Portable text/dedup kernels, registered by BRIDGING the Column
    // definitions (classic ExpressionUtils wraps incoming Expressions as
    // Columns, builds the same tree the DataFrame surface builds, unwraps)
    // — one definition serves both surfaces, so they cannot drift.
    (FunctionIdentifier("graft_md5_minhash"),
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_md5_minhash"),
      columnBridge1(TextFunctions.md5MinhashSig(_))),
    // The shingle-hash set behind graft_md5_minhash, exposed so SQL can
    // run the LSH verify step (exact Jaccard over the hashed sets) — the
    // c03 pure-SQL pipeline needs both the signature AND the set.
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_shingle_hashes"),
      columnBridge1(TextFunctions.md5ShingleHashes)),
    (FunctionIdentifier("graft_gopher_quality"),
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_gopher_quality"),
      columnBridge1(TextFunctions.gopherQuality)),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_winnow"),
      columnBridge1(TextFunctions.winnowArray(_))),
    // The tokenizer seam on the SQL surface: graft_tokenize(text[, mode]).
    // The mode selects the split policy at PLAN TIME (it must be a string
    // literal, like a format string) — every mode lowers to one codegen'd
    // split, so SQL and DataFrame tokenization cannot drift.
    (FunctionIdentifier("graft_tokenize"),
      new ExpressionInfo(TextFunctions.getClass.getName, "graft_tokenize"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1 || exprs.length == 2,
          s"graft_tokenize takes 1-2 args (text[, mode]), got ${exprs.length}")
        val mode = if (exprs.length < 2) "ws" else exprs(1) match {
          case Literal(m, _: org.apache.spark.sql.types.StringType) if m != null =>
            m.toString
          case other => throw new IllegalArgumentException(
            s"graft_tokenize mode must be a string literal, got $other")
        }
        org.apache.spark.sql.GraftColumnBridge.expression(
          TextFunctions.tokenize(
            org.apache.spark.sql.GraftColumnBridge.column(exprs.head), mode))
      })
  )

  /** Lifts a unary Column function into a FunctionRegistry builder. */
  private def columnBridge1(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Builder =
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, s"expected 1 argument, got ${exprs.length}")
      org.apache.spark.sql.GraftColumnBridge.expression(
        f(org.apache.spark.sql.GraftColumnBridge.column(exprs.head)))
    }

  /** Catalyst-tree form of [[GeoFunctions.haversineKm]] for the SQL
    * registry — identical term order and constants, so the SQL surface and
    * the Column surface produce bit-identical plans and results. Pure
    * built-in arithmetic: fully codegen'd, no custom Expression. */
  def haversineKmExpr(lat1: Expression, lon1: Expression,
                      lat2: Expression, lon2: Expression): Expression = {
    val two = Literal(2.0)
    val sLat = Sin(Divide(ToRadians(Subtract(lat2, lat1)), two))
    val sLon = Sin(Divide(ToRadians(Subtract(lon2, lon1)), two))
    val a = Add(Multiply(sLat, sLat),
      Multiply(Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))),
        sLon), sLon))
    Multiply(Literal(2 * GeoFunctions.EarthRadiusKm), Asin(Sqrt(a)))
  }

  def registerAll(spark: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
