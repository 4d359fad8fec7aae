package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-8 corpus-op property specs: the persisted-index maintenance loop
  * (d25) and its serve-phase contract. */
class CorpusOpsR8Spec extends SparkSpec {
  import spark.implicits._

  private def writeIndex(docsDf: org.apache.spark.sql.DataFrame,
                         dir: String): Unit = {
    val hv = DedupOps.shingleHashFrame(docsDf)
    hv.join(docsDf.select($"doc_id", md5($"text").as("th")), "doc_id")
      .write.mode("overwrite").parquet(s"$dir/sigs")
    DedupOps.bandFrame(hv).write.mode("overwrite").parquet(s"$dir/bands")
  }

  test("screenAgainstIndex consults ONLY the persisted artifact") {
    // the verdict's pin: the serve phase must read the parquet index, not
    // recompute corpus signatures — so doctoring the artifact (removing a
    // member) must flip the arrival's status, with sources untouched
    ExportOps.withScratch("graft_idxpin", "spec") { out =>
      val a = "the quick brown fox jumps over the lazy dog near the river bank"
      val b = "completely different words about distributed query engines and shuffles"
      val corpus = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      writeIndex(corpus, out.getAbsolutePath)
      val arrival = Seq((100L, a)).toDF("doc_id", "text")
      val arrHv = DedupOps.shingleHashFrame(arrival)
      def status() = DedupOps.screenAgainstIndex(
        spark, arrival, arrHv, out.getAbsolutePath)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(status() === Map(100L -> "exact_dup"))
      // doctor the artifact: drop doc 1 (the copy's source) from the index
      writeIndex(corpus.filter($"doc_id" === 2L), out.getAbsolutePath)
      assert(status() === Map(100L -> "kept"),
        "screen verdict must track the artifact, not the source corpus")
    }
  }

  test("appendToIndex makes keepers visible to the next screen") {
    ExportOps.withScratch("graft_idxapp", "spec") { out =>
      val a = "the quick brown fox jumps over the lazy dog near the river bank"
      val c = "novel arrival text with entirely fresh vocabulary tokens here today"
      writeIndex(Seq((1L, a)).toDF("doc_id", "text"), out.getAbsolutePath)
      val b1 = Seq((10L, c)).toDF("doc_id", "text")
      val b1Hv = DedupOps.shingleHashFrame(b1)
      val s1 = ExportOps.localize(
        DedupOps.screenAgainstIndex(spark, b1, b1Hv, out.getAbsolutePath))
      assert(s1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        === Map(10L -> "kept"))
      DedupOps.appendToIndex(spark, b1, b1Hv,
        s1.filter($"status" === "kept"), out.getAbsolutePath)
      // a copy of the batch-1 keeper now screens as exact_dup — only the
      // merged signatures can say so
      val b2 = Seq((20L, c)).toDF("doc_id", "text")
      val s2 = DedupOps.screenAgainstIndex(spark, b2,
        DedupOps.shingleHashFrame(b2), out.getAbsolutePath)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 === Map(20L -> "exact_dup"))
    }
  }

  test("d26 multipass recall: head edits escape the prefix pass, suffix pass catches them") {
    // head-of-string corruptions (the documented d23 escape): the first-6
    // block keys differ, so a prefix-only pass PROVABLY cannot pair them
    val titled = Seq(
      (1L, "alpha-1 item 400"),
      (2L, "lpha-1 item 400"), // first char dropped — prefix block differs
      (3L, "qalpha-1 item 400"), // char prepended — prefix block differs
      (4L, "beta-2 item 77"),
      (5L, "beta-2 item 77x") // tail edit — prefix pass territory
    ).toDF("doc_id", "title")
    def pairs(passes: Seq[String]) =
      DedupOps.fuzzyPairs(titled, passes)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefixOnly = pairs(Seq("pfx"))
    val multipass = pairs(Seq("pfx", "sfx"))
    assert(!prefixOnly.contains((1L, 2L)) && !prefixOnly.contains((1L, 3L)),
      s"prefix blocking must miss head edits by construction: $prefixOnly")
    assert(prefixOnly.contains((4L, 5L)))
    assert(multipass.contains((1L, 2L)) && multipass.contains((1L, 3L)),
      s"suffix pass must recover the head-edited pairs: $multipass")
    assert(prefixOnly.subsetOf(multipass))
  }

  test("d26 length-boundary recall: ±1 bucket probing catches boundary-straddling edits") {
    // base length 16 (16 % 4 == 0): dropping one char moves lenb 4 -> 3,
    // the exact-bucket escape the round-7 advice flagged on d23
    val titled = Seq(
      (1L, "alpha-1 item 400"), // length 16, lenb 4
      (2L, "alpha-1 item 40") //  length 15, lenb 3 — adjacent bucket
    ).toDF("doc_id", "title")
    val got = DedupOps.fuzzyPairs(titled, Seq("pfx"))
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)),
      s"adjacent-length-bucket pair must survive blocking: $got")
  }

  test("e06: compaction collapses the fragmented index and serves the identical screen") {
    val d = "/root/testdata/sf0.001"
    ExportOps.withScratch("graft_cmppin", "spec") { out =>
      def parts(p: String) = new java.io.File(p).listFiles()
        .count(f => f.getName.startsWith("part-"))
      DedupOps.buildCorpusIndex(spark, d, s"$out/frag", fragments = 64)
      assert(parts(s"$out/frag/sigs") === 64 && parts(s"$out/frag/bands") === 64)
      ExportOps.compact(spark, s"$out/frag/sigs", s"$out/idx/sigs")
      ExportOps.compact(spark, s"$out/frag/bands", s"$out/idx/bands")
      // sf0.001's whole index is well under one 128 MB target file
      val sigParts = parts(s"$out/idx/sigs")
      val bandParts = parts(s"$out/idx/bands")
      assert(sigParts === 1, s"compaction left $sigParts sig files")
      assert(bandParts === 1, s"compaction left $bandParts band files")
      // content invariance on the artifact that matters: the screen served
      // from the compacted index matches the one served from the fragments
      val docsDf = spark.read.parquet(s"$d/documents.parquet")
        .select($"doc_id", $"text").filter($"doc_id" % 5 === 4)
      val hv = DedupOps.shingleHashFrame(docsDf)
      def screen(idx: String) = DedupOps.screenAgainstIndex(
        spark, docsDf, hv, idx)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(screen(s"$out/idx") === screen(s"$out/frag"))
    }
  }

  test("d27: planted shared runs become maximal spans; cleaning is exact") {
    // doc 1 and doc 2 share a 10-token run (3 windows of 8 cover 10
    // positions -> ONE maximal span per doc); doc 3 is clean
    val shared = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared epsilon zeta eta theta iota kappa"),
      (3L, "entirely unique words with no overlap whatsoever anywhere here")
    ).toDF("doc_id", "text")
    val got = DedupOps.dupSpanRemoval(df)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // doc 1: shared run sits at positions 3..12 -> one 10-token span
    assert(got(0) === ((1L, 1L, 10L, "alpha beta gamma delta")))
    // doc 2: run at positions 1..10
    assert(got(1) === ((2L, 1L, 10L,
      "epsilon zeta eta theta iota kappa")))
    // doc 3: untouched — zero spans, text rejoined verbatim
    assert(got(2) === ((3L, 0L, 0L,
      "entirely unique words with no overlap whatsoever anywhere here")))
  }

  test("d27: a fully-duplicated document cleans to the empty string") {
    val t = "a b c d e f g h i j"
    val df = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val got = DedupOps.dupSpanRemoval(df)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.toSeq === Seq((1L, 1L, 10L, ""), (2L, 1L, 10L, "")))
  }

  test("d25: batch-2 copies of kept batch-1 docs screen exact_dup via the merge") {
    val d = "/root/testdata/sf0.001"
    val res = graft.SparkEntry.queries("d25_index_append")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val b1Status = res.collect { case ((1L, id), st) => id -> st }
    val copies2 = res.collect { case ((2L, id), st) if id >= 300000L => id -> st }
    assert(copies2.nonEmpty, "fixture must synthesize batch-2 copies")
    // every batch-2 copy's verdict is determined by its batch-1 source:
    // kept source → exact_dup (the merge served it); near_dup source →
    // near_dup (the source never entered the index, but its corpus
    // neighbor still collides)
    copies2.foreach { case (id, st) =>
      val srcStatus = b1Status(id - 300000L)
      val expected = if (srcStatus == "kept") "exact_dup" else srcStatus
      assert(st === expected,
        s"copy $id: batch-1 source was $srcStatus, screen said $st")
    }
    // and the merge-proof case actually occurs
    assert(copies2.exists { case (id, st) =>
      b1Status(id - 300000L) == "kept" && st == "exact_dup" })
  }

  test("c03: the pure-SQL pipeline is row-identical to the DataFrame pipeline") {
    val d = "/root/testdata/sf0.001"
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, d)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val sql = rows("c03_sql_pipeline")
    val df = rows("c01_curation_pipeline")
    assert(sql === df, "SQL front door drifted from the DataFrame surface")
    // the SQL path exercised every status family, not a degenerate corpus
    assert(sql.map(_._2).distinct.size >= 3, sql.map(_._2).distinct)
  }

  test("d29 kernel: path-graph PageRank — symmetry, center dominance, unit mass") {
    // symmetric path 1—2—3: the center receives both endpoints' full
    // ranks, the endpoints half the center's each
    val half = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val edges = half.unionByName(
      half.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val r = DedupOps.pageRank(edges, iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L, 3L))
    assert(r(1L) === r(3L), "symmetric endpoints must tie exactly")
    assert(r(2L) > r(1L), "the center must out-rank the endpoints")
    // teleport + damped redistribution conserves probability mass
    assert(math.abs(r.values.sum - 1.0) < 1e-6, r.toString)
    // first-iteration hand computation: endpoint = 0.15/3 + 0.85 * (r0/2)
    val r1 = DedupOps.pageRank(edges, iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r1(1L) - (0.05 + 0.85 / 6)) < 1e-9, r1.toString)
    assert(math.abs(r1(2L) - (0.05 + 0.85 * 2 / 3)) < 1e-9, r1.toString)
  }

  test("d28 kernel: each cluster keeps its longest member, doc_id tie-break") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "component")
    // docs 2 and 3 tie on length -> doc_id asc elects 2; cluster 5 -> 6
    val lens = Seq((1L, 10L), (2L, 50L), (3L, 50L), (5L, 7L), (6L, 30L))
      .toDF("doc_id", "n_chars")
    val got = DedupOps.clusterKeepBest(comp, lens)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (5L, 5L, 6L, false), (6L, 5L, 6L, true)))
  }

  test("d28 gate: one keeper per cluster, and it is the cluster's longest doc") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("d28_cluster_keep_best")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty, "fixture corpus must contain near-dup clusters")
    val lens = graft.Tables(spark, d, "documents")
      .select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._2).foreach { case (c, members) =>
      val kept = members.filter(_._4)
      assert(kept.length === 1, s"cluster $c elected ${kept.length} keepers")
      val keepId = kept.head._1
      assert(members.forall(_._3 == keepId), s"cluster $c disagrees on keeper")
      val maxLen = members.map(m => lens(m._1)).max
      assert(lens(keepId) === maxLen,
        s"cluster $c kept doc $keepId (len ${lens(keepId)}) over a len-$maxLen member")
    }
  }
}
