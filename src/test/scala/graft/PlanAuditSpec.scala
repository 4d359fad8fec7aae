package graft

/** Locks in the physical-plan properties the engine is designed around —
  * if a refactor silently breaks scan pushdown or turns a broadcast into a
  * cartesian product, these fail before any benchmark notices. */
class PlanAuditSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), s"filter not pushed:\n$p")
    assert(p.contains("LessThan(l_discount,0.02)"), s"filter not pushed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"),
      s"column pruning lost: $readSchema")
  }

  test("q04: dims broadcast, no cartesian products") {
    val p = plan("q04_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"cartesian product crept in:\n$p")
  }

  test("v01: query side broadcasts; corpus streams once") {
    val p = plan("v01_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q01: partial + final hash aggregation (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q17: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q17_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("d10: candidate pairs dedupe before the Jaccard verify join") {
    val p = plan("d10_jaccard_blocked")
    // the distinct (HashAggregate on doc_a/doc_b) must sit between the band
    // self-join and the verify joins — pairs never fan out the hash arrays
    assert(p.contains("HashAggregate"), s"pair dedup lost:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v02: LSH kNN candidates form via band equi-joins, no nested loop") {
    // the OR-of-band-equalities formulation planned a BroadcastNestedLoopJoin
    // over the whole corpus — correct at 16 queries, quadratic the moment the
    // query side grows. The band-exploded equi-join must keep every join a
    // hash/sort-merge join.
    val p = plan("v02_knn_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"v02 degenerated to a nested-loop over the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v03: corpus verify joins never hint-broadcast the embedding table") {
    // with size-based auto-broadcast off, any remaining BroadcastHashJoin
    // would have to come from a broadcast() hint — the scale-killer this
    // pins out. The verify legs must fall back to shuffle equi-joins.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("v03_embed_neardup")
      assert(!p.contains("BroadcastHashJoin"),
        s"v03 hint-broadcasts the corpus embedding table:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set(key, prev)
  }

  test("v06: bounded pair space broadcasts the small side") {
    val p = plan("v06_neardup_exact")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q51: split assignment reads only doc_id from the scan") {
    val p = plan("q51_split_assign")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"split must not read document bodies: $readSchema")
  }

  test("d13: contamination joins on shingle hash, never a doc cross product") {
    val p = plan("d13_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination check must stay an equi-join:\n$p")
  }

  test("sweep: no query plans an unintended cartesian product") {
    // ops whose semantics ARE a bounded cross product (explicit cross join
    // of dims, brute-force similarity over a broadcast query set)
    val intended = Set("q44_cross_join", "v01_knn_brute", "v06_neardup_exact",
      "v05_knn_ivf", "v07_knn_ivf_trained", "t06_tfidf")
    SparkEntry.queries.keys.filterNot(intended).toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("t14: Gopher rules are a single scan — no shuffle, no join") {
    val p = plan("t14_gopher_quality")
    assert(!p.contains("Join"), s"t14 grew a join:\n$p")
    // FormattedMode prints each node twice (tree + detail) — count detail
    // entries. The only allowed Exchange is the output sort's range
    // partitioning; per-row metrics must never hash-shuffle.
    assert(raw"\(\d+\) Exchange".r.findAllIn(p).size <= 1,
      s"t14 shuffles beyond the output sort:\n$p")
    assert(!p.linesIterator.exists(_.contains("Arguments: hashpartitioning")),
      s"per-row metrics must not hash-shuffle:\n$p")
  }

  test("d15: URL dedup is one hash aggregation over a projected scan") {
    val p = plan("d15_url_dedup")
    assert(!p.contains("Join"), s"d15 grew a join:\n$p")
    // partial + final agg around exactly one hash shuffle on canonical_url,
    // plus the output sort's range exchange (node counts via detail entries)
    assert(raw"\(\d+\) HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side combine:\n$p")
    assert(raw"\(\d+\) Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
    assert(p.linesIterator.count(_.contains("Arguments: hashpartitioning")) <= 1,
      s"more than one hash shuffle:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"d15 reads the document text it never uses: $readSchema")
  }

  test("v10: each MMR round is a scan + TakeOrdered(1), no join, no shuffle") {
    // audit the round plan directly (the registered query runs the whole
    // loop; its output is a tiny local relation)
    import org.apache.spark.sql.functions._
    val vecs = Tables(spark, d, "embeddings")
    val q = vecs.filter(col("vec_id") === 0L).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val sel = vecs.filter(col("vec_id") === 1L).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val round = vecs.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        graft.functions.VectorExpressions.cosineSim(typedlit(q), col("embedding")).as("rel"),
        graft.functions.VectorExpressions.cosineSim(typedlit(sel), col("embedding")).as("sim_sel"))
      .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * col("sim_sel"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(1)
    val p = round.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), s"MMR round globally sorts:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"MMR round joins/shuffles — picked vectors must ride as literals:\n$p")
  }

  test("g07: trip segmentation reuses one device partitioning end-to-end") {
    val p = plan("g07_trip_segments")
    // both windows and the island aggregation cluster by device_id: one
    // hash exchange total (plus the output sort's range exchange)
    assert(p.linesIterator.count(_.contains("Arguments: hashpartitioning")) <= 1,
      s"g07 re-shuffles between window and aggregation:\n$p")
    assert(raw"\(\d+\) Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("t11: bigram top-100 is TakeOrderedAndProject over partial aggregation") {
    val p = plan("t11_bigram_counts")
    assert(p.contains("TakeOrderedAndProject"), s"top-k became a global sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"),
      s"bigram pass must scan only text: $readSchema")
  }

  test("t12: model join stays an equi-join; only the 1-row total broadcasts") {
    val p = plan("t12_unigram_logprob")
    assert(!p.contains("CartesianProduct"), p)
    // the token↔counts join must be a real join (hash or sort-merge), and
    // the only nested-loop is the broadcast of the single-row total
    // (FormattedMode prints each node twice: tree line + "(n) Node" detail)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("g01: flagship joins are hash joins with no shuffle on the dim side") {
    val p = plan("g01_geotab_flagship")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
