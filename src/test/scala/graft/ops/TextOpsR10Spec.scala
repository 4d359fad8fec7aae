package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** t25 property specs — the two claims the driver's rows-only gate can't
  * see: (1) the index-served retrieval covers the brute-force (t24) top-k
  * at a pinned recall, and reranks shared pairs on EXACTLY the brute sims
  * (ANN prunes candidates, never approximates scores); (2) the serve scan
  * prunes to the probed cell directories — the no-brute-scan plan property
  * that makes t25 the 100 TB path t24's Scaladoc promises. */
class TextOpsR10Spec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def run(name: String) = graft.SparkEntry.queries(name)(spark, d)

  test("t25: recall vs the brute t24 top-k >= 0.8; shared pairs carry identical chunk and sim") {
    import spark.implicits._
    val brute = run("t24_rag_retrieval")
      .select($"query_id", $"doc_id", $"chunk_start", $"sim")
      .as[(Long, Long, Long, Double)].collect()
    val served = run("t25_rag_index_serve")
      .select($"query_id", $"doc_id", $"chunk_start", $"sim")
      .as[(Long, Long, Long, Double)].collect()
    val bruteDocs = brute.map(r => (r._1, r._2)).toSet
    val servedDocs = served.map(r => (r._1, r._2)).toSet
    val recall = (bruteDocs & servedDocs).size.toDouble / bruteDocs.size
    assert(recall >= 0.8, s"index-served recall $recall fell below the pin " +
      s"(brute=$bruteDocs served=$servedDocs)")
    // exact rerank: on every (query, doc) both paths retrieved, the winning
    // chunk and its similarity are identical — the served path scores with
    // t24's exact expressions over a pruned candidate set
    val bruteByDoc = brute.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    served.foreach { case (q, doc, cs, sim) =>
      bruteByDoc.get((q, doc)).foreach { case (bcs, bsim) =>
        assert(cs === bcs && sim === bsim,
          s"shared pair ($q,$doc): served ($cs,$sim) != brute ($bcs,$bsim)")
      }
    }
  }

  test("t25: the serve scan prunes to the probed cell directories") {
    import spark.implicits._
    ExportOps.withScratch("graft_ragidx_spec", "spec") { out =>
      val root = out.getAbsolutePath
      TextOps.buildRagIndex(spark,
        TextOps.ragChunkEmbeddings(spark.read.parquet(s"$d/documents.parquet")),
        root)
      val qemb = TextOps.ragQueryEmbeddings(spark)
      // one query → its nProbe cells are a strict subset of the populated
      // cells, so pruning is observable (all-queries probing could
      // legitimately cover every cell)
      val q0 = ExportOps.localize(qemb.filter($"query_id" === 0L))
      val probes = TextOps.ragProbes(spark, root, q0, nProbe = 6)
      val probed = probes.map(_._2).toSet
      val populated = spark.read.parquet(s"$root/postings")
        .select($"cell").distinct().as[Int].collect().toSet
      assert(probed.subsetOf(populated))
      assert(probed.size < populated.size,
        s"fixture must leave unprobed cells: probed=$probed populated=$populated")
      // the plan: the isin on the partition column lands in
      // PartitionFilters (directory pruning), never a post-scan Filter
      val served = TextOps.ragServeShortlist(spark, root, q0, probes)
      val plan = served.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PartitionFilters:"), plan)
      assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
        .findFirstIn(plan).nonEmpty,
        s"probed-cell isin must reach PartitionFilters:\n$plan")
      // and the files actually opened all live under probed cell= dirs
      val scannedCells = spark.read.parquet(s"$root/postings")
        .filter($"cell".isin(probed.toSeq.map(Int.box): _*))
        .select(input_file_name()).distinct().collect()
        .map(_.getString(0))
        .flatMap("cell=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt)
        .toSet
      assert(scannedCells === probed,
        s"serve scan must touch only probed cells, read $scannedCells of $probed")
      // reload fidelity: serving the same persisted index twice is
      // bit-stable — the artifact, not the builder session, is the truth
      val again = TextOps.ragServeShortlist(spark, root, q0, probes)
      assert(served.collect().toSeq === again.collect().toSeq)
    }
  }
}
