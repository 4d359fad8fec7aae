package graft

import graft.ops.ExportOps
import graft.plans.MatviewCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-13 plan pins for the matview-rewrite optimizer rule (q109) — the
  * claims the driver's hash gate can't check:
  *
  *  - a COVERED aggregate's optimized plan scans the view artifact and
  *    never touches the base table (the whole 100 TB argument);
  *  - the rewrite preserves result schema (names, types, output ids) —
  *    the hash gate sees values, not plan provenance;
  *  - NON-covered shapes (non-dim grouping key, non-dim filter, unmapped
  *    aggregate, DISTINCT) are left alone and still scan the base;
  *  - a dim-only filter slices the view, not the base, and stays correct;
  *  - the answer really comes from the artifact: doctoring the view
  *    changes the result (serve-from-artifact proof);
  *  - registration is scoped: after unregister, the same query scans the
  *    base again;
  *  - q109's own collect, whose grains carry literals and casts around the
  *    aggregates, scans only the view;
  *  - a merged count over an empty dim slice reads 0, as the base count
  *    does, not the NULL a bare sum of no partials gives. */
class PlanAuditR13Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def lineitem = Tables(spark, d, "lineitem")

  private def scannedRoots(df: DataFrame): Seq[String] =
    rootsIn(df.queryExecution.optimizedPlan)

  private def rootsIn(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def withCube[A](body: String => A): A = {
    ExportOps.withScratch("graft_mvplan", "spec") { out =>
      val mvPath = s"$out/mv"
      lineitem.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(30,2)")).as("qty_dec"))
        .write.parquet(mvPath)
      MatviewCatalog.register(MatviewCatalog.define("spec_cube",
        base = lineitem, mv = spark.read.parquet(mvPath),
        dims = Set("l_returnflag", "l_linestatus"),
        partialOf = {
          case org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(
            org.apache.spark.sql.catalyst.expressions.Literal(1, _))) =>
            Some("n")
          case org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
            org.apache.spark.sql.catalyst.expressions.Cast(
              a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
              dt: org.apache.spark.sql.types.DecimalType, _, _), _)
              if a.name == "l_quantity" &&
                dt == org.apache.spark.sql.types.DecimalType(30, 2) =>
            Some("qty_dec")
          case _ => None
        }))
      try body(mvPath)
      finally MatviewCatalog.unregister("spec_cube")
    }
  }

  private def covered = lineitem.groupBy(col("l_returnflag"))
    .agg(count(lit(1)).as("n"),
      sum(col("l_quantity").cast("decimal(30,2)")).as("sq"))

  test("q109: a covered aggregate scans the view artifact, never the base") {
    withCube { mvPath =>
      val roots = scannedRoots(covered)
      assert(roots.exists(_.contains("graft_mvplan")),
        s"rewritten plan must scan the view, scanned: $roots")
      assert(!roots.exists(_.contains("lineitem.parquet")),
        s"rewritten plan must NOT scan the base table, scanned: $roots")
      // schema preserved exactly (names and types — invisible rewrite)
      val control = covered // same logical query, compare to unregistered run
      assert(control.schema.map(f => (f.name, f.dataType)) ===
        Seq(("l_returnflag",
          org.apache.spark.sql.types.StringType),
          ("n", org.apache.spark.sql.types.LongType),
          ("sq", org.apache.spark.sql.types.DecimalType(38, 2))))
    }
  }

  test("q109: rewritten results equal the direct computation, incl. dim filter") {
    withCube { _ =>
      val rewritten = covered.orderBy("l_returnflag").collect().toSeq
      val sliced = lineitem.filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(30,2)")).as("sq"))
      assert(scannedRoots(sliced).exists(_.contains("graft_mvplan")),
        "dim-only filter must still rewrite")
      val slicedRows = sliced.orderBy("l_returnflag").collect().toSeq
      MatviewCatalog.unregister("spec_cube") // direct computation now
      assert(covered.orderBy("l_returnflag").collect().toSeq === rewritten)
      assert(lineitem.filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(30,2)")).as("sq"))
        .orderBy("l_returnflag").collect().toSeq === slicedRows)
    }
  }

  test("q109: non-covered shapes are left alone (base scan preserved)") {
    withCube { _ =>
      val nonDimKey = lineitem.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
      val nonDimFilter = lineitem.filter(col("l_orderkey") > 100)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val unmappedAgg = lineitem.groupBy(col("l_returnflag"))
        .agg(max(col("l_quantity")).as("mx"))
      val distinctAgg = lineitem.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("nd"))
      for ((q, what) <- Seq((nonDimKey, "non-dim grouping key"),
        (nonDimFilter, "non-dim filter"), (unmappedAgg, "unmapped aggregate"),
        (distinctAgg, "distinct aggregate"))) {
        val roots = scannedRoots(q)
        assert(roots.exists(_.contains("lineitem.parquet")),
          s"$what must keep scanning the base, scanned: $roots")
        assert(!roots.exists(_.contains("graft_mvplan")),
          s"$what must not be rewritten, scanned: $roots")
      }
    }
  }

  test("q109: the answer comes from the artifact — doctoring the view changes it") {
    withCube { mvPath =>
      val before = covered.orderBy("l_returnflag").collect().toSeq
      // doctor the artifact out-of-band: rewrite it with inflated counts
      val doctored = spark.read.parquet(mvPath)
        .withColumn("n", col("n") + 1000000L)
      val tmp = mvPath + ".doctored"
      doctored.write.parquet(tmp)
      ExportOps.deleteRecursively(new java.io.File(mvPath))
      new java.io.File(tmp).renameTo(new java.io.File(mvPath))
      // re-register so the cached scan lists the doctored files
      MatviewCatalog.register(MatviewCatalog.define("spec_cube",
        base = lineitem, mv = spark.read.parquet(mvPath),
        dims = Set("l_returnflag", "l_linestatus"),
        partialOf = {
          case org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(
            org.apache.spark.sql.catalyst.expressions.Literal(1, _))) =>
            Some("n")
          case _ => None
        }))
      val after = lineitem.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n")).orderBy("l_returnflag").collect().toSeq
      assert(after !== before.map(r => org.apache.spark.sql.Row(
        r.getString(0), r.getLong(1))),
        "doctored view must change the served counts")
      assert(after.forall(_.getLong(1) > 1000000L),
        s"counts must reflect the doctored partials: $after")
    }
  }

  test("t32: the dictionary probe is a broadcast hash join, never a shuffle or regex scan") {
    val plan = ops.TextOps.queries("t32_blocklist_screen")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dictionary must broadcast:\n$plan")
    assert(!plan.contains("RLike") && !plan.contains("rlike"),
      "screening must probe tokens, not regex-scan the text")
  }

  test("q111: the nullable-set NOT IN plans a null-aware anti join, not a plain anti") {
    val df = ops.Relational.queries("q111_not_in_null_aware")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    // Spark compiles the nullable-set variant to a BroadcastHashJoin with
    // isNullAwareAntiJoin=true — printed as the bare trailing flag
    // 'LeftAnti, BuildRight, true' (plain anti joins print no flag). A
    // silent plain LeftAnti for ALL THREE variants would be the classic
    // 3VL bug; BroadcastNestedLoopJoin is the can't-hash fallback.
    assert(plan.contains("LeftAnti, BuildRight, true") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"no null-aware anti join in the plan:\n$plan")
    // and the correctness story itself: nulls-in-set collapses to zero
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("null_in_set") === 0L,
      s"NOT IN over a null-bearing set must be empty: $rows")
    // null probes can only DROP qualifiers (strict inequality needs keys
    // beyond the set bound, which sf0.001's ~150 customers don't have —
    // the sf0.01 driver gate pins the three-way distinct counts)
    assert(rows("null_free") >= rows("null_probe"),
      s"a NULL probe must never qualify: $rows")
  }

  test("q114: global row numbering plans no global sort and no window") {
    val df = ops.Relational.globalRowNumbers(
      Tables(spark, d, "documents").select(col("doc_id")), "doc_id")
    val plan = df.queryExecution.optimizedPlan
    // the naive formulation is row_number() OVER (ORDER BY key): a Window
    // with an empty partition spec above a GLOBAL sort — one task owns
    // the whole corpus. The engine's plan must have NEITHER.
    val globalSorts = plan.collect {
      case s0: org.apache.spark.sql.catalyst.plans.logical.Sort
        if s0.global => s0
    }
    assert(globalSorts.isEmpty,
      s"global row numbering must not globally sort:\n$plan")
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"global row numbering must not use a window operator:\n$plan")
    // in-partition sorts over the range exchange ARE the mechanism; since
    // the r17 zipWithIndex rewrite (deterministic across the two internal
    // jobs — stage reuse on one RDD lineage) they sit BEHIND the output
    // frame's RDD boundary, so audit the exposed pre-numbering layout
    val layout = ops.Relational.rangeSortedForNumbering(
      Tables(spark, d, "documents").select(col("doc_id")), "doc_id")
      .queryExecution.optimizedPlan
    assert(layout.collect {
      case s0: org.apache.spark.sql.catalyst.plans.logical.Sort
        if !s0.global => s0
    }.nonEmpty, "expected the in-partition sort above the range exchange")
    assert(layout.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.nonEmpty, "expected the range exchange under the numbering")
    assert(layout.collect {
      case s0: org.apache.spark.sql.catalyst.plans.logical.Sort if s0.global => s0
    }.isEmpty, "the numbering layout must not globally sort")
    // and the ids equal the dense rank the naive window computes
    val got = df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = got.map(_._1).sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    assert(got.toSeq === want.toSeq)
  }

  test("q115: the weighted sample is a top-k, never a global sort, and skews heavy") {
    val df = ops.Relational.queries("q115_weighted_sample")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-ES selection must plan a top-k, not a global sort:\n$plan")
    // the estimator's point: higher weight -> higher inclusion odds. On
    // the fixed fixture the 20 drawn docs average well above the corpus
    // mean length (deterministic, so pin it).
    val sampleAvg = df.agg(avg(col("n_chars"))).head().getDouble(0)
    val corpusAvg = Tables(spark, d, "documents")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleAvg > corpusAvg,
      s"length-weighted draw must skew long: $sampleAvg vs $corpusAvg")
  }

  test("q116/q117: subqueries decorrelate — keyed joins and a rank filter, never a per-row probe") {
    val ex = ops.Relational.queries("q116_correlated_subqueries")(spark, d)
    val exPlan = ex.queryExecution.executedPlan.toString
    assert(exPlan.contains("LeftSemi"),
      s"EXISTS must decorrelate to a left-semi join:\n$exPlan")
    assert(exPlan.contains("LeftAnti"),
      s"NOT EXISTS must decorrelate to a left-anti join:\n$exPlan")
    assert(!exPlan.contains("CartesianProduct"),
      s"no variant may plan a cartesian probe:\n$exPlan")
    val lat = ops.Relational.queries("q117_lateral_topn")(spark, d)
    val latPlan = lat.queryExecution.executedPlan.toString
    assert(latPlan.contains("Window") || latPlan.contains("rank"),
      s"the lateral LIMIT must decorrelate to a partitioned rank:\n$latPlan")
    assert(!latPlan.contains("CartesianProduct") &&
      !latPlan.contains("BroadcastNestedLoopJoin"),
      s"lateral top-n must not plan a per-outer-row join:\n$latPlan")
  }

  test("q118: the dynamic gap is live — purchase-extended sessions differ from the fixed gap") {
    val dyn = ops.SessionGates.queries("q118_dynamic_gap_sessions")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fixed = ops.SessionGates.queries("q57_session_window")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a 10-minute purchase allowance can only merge or extend sessions:
    // never more sessions than fixed-gap, and at least one must differ
    assert(dyn.length <= fixed.length,
      s"longer gaps can only merge sessions: ${dyn.length} vs ${fixed.length}")
    assert(dyn.toSet != fixed.toSet,
      "the gap expression must be observable: dynamic == fixed output")
    // every dynamic session end sits at least the base gap past its last
    // event; purchase-terminated sessions sit exactly 10 minutes past
    assert(dyn.forall { case (_, st, en) => en - st >= 300000L },
      "every session spans at least the base allowance")
  }

  test("q119: the carried sketch's cutoff bins bracket the exact order statistics") {
    val emits = ops.SessionGates.queries("q119_stream_quantile_sketch")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val cents = Tables(spark, d, "events")
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val full = emits.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    full.foreach { case (tpe, (_, n, p50, p90)) =>
      val sortedCents = cents(tpe)
      assert(n === sortedCents.length.toLong,
        s"$tpe: batch-2 emission must cover the whole corpus")
      // smallest bin with cum >= ceil(q*n) CONTAINS the ceil(q*n)-th
      // order statistic: the sketch's one-bin accuracy contract
      def orderStat(k: Int) = sortedCents(k - 1)
      val k50 = (sortedCents.length + 1) / 2
      val k90 = (9 * sortedCents.length + 9) / 10
      assert(p50 === Math.floorDiv(orderStat(k50), 64L),
        s"$tpe: p50 bin must contain the median")
      assert(p90 === Math.floorDiv(orderStat(k90), 64L),
        s"$tpe: p90 bin must contain the 90th-percentile order stat")
    }
  }

  test("q120: AQE merges the 64-partition shuffle at runtime; the control keeps it static") {
    val (_, plan) = ops.Relational.aqeCoalesceRun(spark, d)
    assert(plan.contains("isFinalPlan=true"),
      s"the pin must read a runtime-FINALIZED adaptive plan — an " +
        s"unexecuted one shows no AQEShuffleRead at all:\n$plan")
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"tiny post-shuffle data must coalesce at runtime:\n$plan")
    ExportOps.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (_, control) = ops.Relational.aqeCoalesceRun(spark, d)
      assert(!control.contains("coalesced"),
        s"the disabled control must keep static partitions:\n$control")
    }
  }

  test("c09: the point-in-time join is leakage-free — the future-leaking join differs") {
    val correct = ops.Relational.queries("c09_point_in_time_features")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the classic bug: join every click to the user's FINAL feature state
    val ev = Tables(spark, d, "events")
    val finalFeatures = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
          .cast("long").as("cents_total"))
    val leaky = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"))
      .join(finalFeatures, Seq("user_id"), "left")
      .select(col("click_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("cents_total"), lit(0L)).as("cents_total"))
      .withColumn("split",
        when(ops.Hashing.md5Bucket100(col("click_id")) < 80, "train")
          .otherwise("eval"))
      .groupBy(col("split"), col("n_purchases"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("cents_total")).cast("long").as("sum_cents_total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(correct.toSet != leaky.toSet,
      "a future-leaking feature join must be distinguishable from the " +
        "point-in-time assembly, or the gate is vacuous")
  }

  test("q109: the gate's own collect scans the view, never lineitem") {
    // the optimizer folds each grain's literal/cast projection into the
    // aggregate's output list before the rule runs; those grains must
    // still rewrite
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName == "collect") { collects.add(qe.optimizedPlan); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q109_matview_rewrite")(spark, d)
      val deadline = System.nanoTime() + 10000000000L
      while (collects.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(!collects.isEmpty, "q109 ran no collect")
    val roots = rootsIn(collects.peek())
    assert(roots.nonEmpty && roots.forall(_.contains("graft_mvrw")),
      s"q109's collect must scan only the view artifact, scanned: $roots")
  }

  test("q109: a global count over an empty dim slice reads 0, not NULL") {
    withCube { _ =>
      val empty = lineitem.filter(col("l_returnflag") === "no such flag")
        .agg(count(lit(1)).as("n"))
      assert(scannedRoots(empty).exists(_.contains("graft_mvplan")),
        "the empty slice must still be served by the view")
      // `n` keeps count's non-nullable type, so `collect` reads a NULL
      // merge as 0 anyway; the JSON encoder checks the value itself
      assert(empty.collect().toSeq === Seq(org.apache.spark.sql.Row(0L)))
      assert(empty.toJSON.collect().toSeq === Seq("""{"n":0}"""))
    }
  }

  test("q109: registration is scoped — after unregister the base serves again") {
    withCube { _ => () } // withCube unregisters in finally
    val roots = scannedRoots(covered)
    assert(roots.exists(_.contains("lineitem.parquet")) &&
      !roots.exists(_.contains("graft_mvplan")),
      s"after unregister the query must scan the base again: $roots")
  }
}
