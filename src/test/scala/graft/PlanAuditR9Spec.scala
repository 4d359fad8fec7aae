package graft

/** Plan pins for the round-9 operators (see PlanAuditR7Spec for the
  * rationale — these fail on a refactor before any benchmark notices).
  * The streaming gates (q84/q85) execute end-to-end, so their pins run
  * against the BATCH-EXPRESSIBLE stages; q85's chained-stateful shape is
  * pinned on the unresolved streaming plan instead. */
class PlanAuditR9Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def bnljCount(p: String): Int =
    "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size

  test("t24: only the 3-row query table nests; ranking is two windows") {
    val p = plan("t24_rag_retrieval")
    assert(!p.contains("CartesianProduct"), p)
    // the one intended nested-loop is chunks × broadcast(3 queries) —
    // v01's shape; doc-dedup and top-k must stay window operators
    assert(bnljCount(p) <= 1, s"scoring leaked into a second nested loop:\n$p")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 2,
      s"doc-dedup/top-k must be windows:\n$p")
    // the chunk side reads only the columns the embedding needs
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunk scan must prune to (doc_id, text):\n$p")
  }

  test("d33: overlap is a hash equi-join on the shingle hash, never nested") {
    val p = plan("d33_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(bnljCount(p) === 0,
      s"source-pair overlap must join on h, not nest sources:\n$p")
    // the scan prunes to the two columns the audit touches
    assert(p.contains("ReadSchema: struct<text:string,source:string>") ||
      p.contains("ReadSchema: struct<source:string,text:string>"),
      s"documents scan must prune to (source, text):\n$p")
  }

  test("g16: zone resolution broadcasts; transitions ride one window shuffle") {
    val p = plan("g16_zone_transitions")
    assert(!p.contains("CartesianProduct"), p)
    assert(bnljCount(p) <= 1,
      s"only the 4-row zone dim may nest (range join on a broadcast):\n$p")
    assert(p.contains("Window"), p)
  }

  test("q85: the streaming plan chains TWO stateful aggregations") {
    // build the same logical chain q85 streams, against a batch frame —
    // the analyzed plan must contain two separate aggregate grains keyed
    // by (window, user) resp. (window-of-window, user)
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, d, "events")
      .select(col("user_id"),
        timestamp_millis(unix_millis(col("ts"))).as("tsm"))
    val minute = ev.groupBy(window(col("tsm"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val ten = minute
      .groupBy(window(col("window"), "10 minutes"), col("user_id"))
      .agg(max(col("n")).as("peak"))
    val p = ten.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 4,
      s"two grains must survive as two partial+final agg pairs:\n$p")
    assert(!p.contains("Join"), s"the cascade must not plan a join:\n$p")
  }

  test("e15: the affected-day discovery scan prunes to (user_id, day)") {
    // the erasure discovery is the only corpus read the maintenance does
    // beyond the rewrites; it must push the target filter and prune
    ops.ExportOps.withScratch("graft_e15_plan", d) { out =>
      import org.apache.spark.sql.functions._
      val root = s"$out/table"
      Tables(spark, d, "events")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .repartition(col("day")).write.partitionBy("day").parquet(root)
      val discovery = spark.read.parquet(root)
        .filter(col("user_id") % 97 === 3)
        .select(col("day").cast("string")).distinct()
      val p = discovery.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("ReadSchema: struct<user_id:bigint>"),
        s"discovery must read only user_id (day is partition metadata):\n$p")
    }
  }
}
