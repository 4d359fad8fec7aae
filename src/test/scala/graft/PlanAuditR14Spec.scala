package graft

import graft.ops.{DedupOps, ExportOps, SimilarityOps, TextOps}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Round-14 plan and semantics pins:
  *
  *  - t35: the native Generator plans ONE `Generate graft_ngrams` node —
  *    no UDF, no per-row gram-array materialization — and honors the
  *    null/short-document/1-based-position contract;
  *  - v23: filtered ANN pre-filters via a broadcast hash join on the
  *    predicate (no cross join), and the post-filter alternative
  *    demonstrably loses recall on this corpus;
  *  - e26: the ORC read-back pushes the predicate into the scan and
  *    prunes the projection;
  *  - d34: sorted-neighborhood probes strictly fewer candidate pairs
  *    than d23's quadratic blocks on the same fixture;
  *  - m08: stride scheduling holds the 36/18/6 modality mix EXACTLY in
  *    both 60-item batches, not just in aggregate;
  *  - q136: the civil-time rollup provably differs from the UTC-day
  *    rollup (the conversion is live, not a rename).
  */
class PlanAuditR14Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("t35: one Generate node carries graft_ngrams; no UDF in the plan") {
    val df = TextOps.queries("t35_ngram_generator")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && plan.contains("graft_ngrams"),
      s"the native generator must plan a Generate node:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"no UDF tier may appear in the gram path:\n$plan")
  }

  test("t35: generator contract — null text, short docs, 1-based positions") {
    graft.functions.GraftFunctions.registerAll(spark)
    val rows = spark.sql(
      """SELECT id, pos, gram FROM VALUES
        |  (1, 'a b c d'), (2, 'a b'), (3, CAST(NULL AS STRING)),
        |  (4, '  a   b  c ')
        |AS t(id, text)
        |LATERAL VIEW graft_ngrams(text, 3) g AS pos, gram
        |ORDER BY id, pos""".stripMargin).collect()
    // doc 1: 2 trigrams at pos 1,2; doc 2 too short; doc 3 null;
    // doc 4: runs of spaces drop as empties -> one trigram "a b c"
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 1, "a b c"), (1, 2, "b c d"), (4, 1, "a b c")))
  }

  test("v23: the predicate is the join key — broadcast hash join, no cross join") {
    val df = SimilarityOps.queries("v23_filtered_ann")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered ANN must score candidates through a broadcast hash join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs topology may survive:\n$plan")
  }

  test("v23: post-filtering the unfiltered top-k loses recall; pre-filter never does") {
    val k = 5
    val pre = SimilarityOps.queries("v23_filtered_ann")(spark, d)
      .groupBy("q_id").agg(count(lit(1)).as("n_pre"))
    val labels = Tables(spark, d, "embeddings").select(col("vec_id"),
      col("label"))
    // post-filter leg: take the UNFILTERED exact top-k, then apply the
    // label predicate to what survived
    val post = SimilarityOps.queries("v01_knn_brute")(spark, d)
      .join(labels.select(col("vec_id").as("q_id"),
        col("label").as("q_label")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"),
        col("label").as("n_label")), "n_id")
      .filter(col("n_label") === col("q_label"))
      .groupBy("q_id").agg(count(lit(1)).as("n_post"))
    val joined = pre.join(post, Seq("q_id"), "left")
      .select(col("q_id"), col("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"post-filter can never exceed pre-filter: $r")
    }
    assert(joined.exists(r => r.getLong(2) == 0L && r.getLong(1) == k.toLong),
      "on this corpus some query must lose its ENTIRE unfiltered top-k " +
        "to the predicate while the pre-filter still returns k results — " +
        "the reason filtered ANN pre-filters")
  }

  test("e26: the ORC scan carries the pushed predicate and the pruned schema") {
    ExportOps.withScratch("graft_orc_spec", d) { out =>
      val ev = Tables(spark, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      ev.repartition(2, col("user_id")).sortWithinPartitions("user_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .orc(s"$out/orc")
      val plan = ExportOps.orcReadBack(spark, s"$out/orc")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("EqualTo(event_type,purchase)"),
        s"the predicate must reach the ORC scan:\n$plan")
      assert(!plan.replaceAll("PartitionFilters.*", "").contains("event_id"),
        s"the projection must prune event_id out of the ORC read:\n$plan")
      ExportOps.localize(ev.limit(0)) // keep types referenced
    }
    ()
  }

  test("d34: sorted-neighborhood probes strictly fewer candidates than d23's quadratic blocks") {
    val id = col("doc_id")
    val base = concat(col("source"), lit("-"), (id % 50).cast("string"),
      lit(" report"))
    val title = when(id % 20 === 7,
        expr("substring(title_base, 1, length(title_base) - 1)"))
      .when(id % 10 === 7, concat(col("title_base"), lit("x")))
      .otherwise(col("title_base"))
    val titled = Tables(spark, d, "documents")
      .select(id, base.as("title_base"))
      .select(id, title.as("title"))
    // d23's candidate space: per-(pfx, lenb) block quadratic over DOCS
    val blocked = titled.select(col("doc_id"),
      substring(col("title"), 1, 6).as("pfx"),
      expr("length(title) DIV 4").as("lenb"))
    val quad = blocked.groupBy("pfx", "lenb").agg(count(lit(1)).as("n"))
      .select(sum(col("n") * (col("n") - 1) / 2).cast("long").as("c"))
      .collect()(0).getLong(0)
    // d34's probe count: per-pfx block of DISTINCT titles, 3 lead probes
    // each (minus the 1+2+3 that fall off the block end)
    val reps = titled.groupBy("title")
      .agg(min(col("doc_id")).as("rep"))
      .select(substring(col("title"), 1, 6).as("pfx"))
      .groupBy("pfx").agg(count(lit(1)).as("n"))
    val snm = reps.select(sum(
        greatest(lit(0L), col("n") * 3 - 6)).cast("long").as("c"))
      .collect()(0).getLong(0)
    assert(snm < quad,
      s"SNM must probe fewer pairs than the quadratic blocks: snm=$snm quad=$quad")
    // and the gate still finds near-dup pairs through that smaller space
    val found = DedupOps.queries("d34_sorted_neighborhood")(spark, d).count()
    assert(found > 0, "the neighborhood must still surface the planted edits")
  }

  test("m08: the 36/18/6 modality mix holds EXACTLY in each 60-item batch") {
    val rows = Multimodal.queries("m08_modality_interleave")(spark, d)
      .select(((col("pos") - 1) / 60).cast("int").as("batch"), col("modality"))
      .groupBy("batch", "modality").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    for (b <- 0 to 1) {
      assert(rows((b, "text")) == 36L, s"batch $b text: ${rows((b, "text"))}")
      assert(rows((b, "image")) == 18L, s"batch $b image: ${rows((b, "image"))}")
      assert(rows((b, "audio")) == 6L, s"batch $b audio: ${rows((b, "audio"))}")
    }
  }

  test("q136: the civil-time rollup differs from the UTC-day rollup — the conversion is live") {
    val local = ops.Relational.queries("q136_local_time_rollup")(spark, d)
      .select(col("local_day").as("day"), col("n"))
    val utc = Tables(spark, d, "events")
      .withColumn("ts2", timestamp_micros(
        unix_micros(col("ts")) + (col("user_id") % 90) * lit(86400000000L)))
      .groupBy(date_format(col("ts2"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_utc"))
    val diff = local.join(utc, Seq("day"), "full_outer")
      .filter(coalesce(col("n"), lit(-1L)) =!=
        coalesce(col("n_utc"), lit(-1L)))
      .count()
    assert(diff > 0,
      "at least one calendar day must count differently in " +
        "America/New_York than in UTC — otherwise the gate is a rename")
  }
}
