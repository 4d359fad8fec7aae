package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** t30 property specs — the append-maintenance claims the driver's
  * rows-only gate can't check: (1) build+append serves BIT-IDENTICALLY to
  * a from-scratch rebuild (cell assignment is data-independent, centroids
  * are order-free exact means), (2) append never rewrites pre-existing
  * posting files (byte-identity), (3) a cell the index has never seen
  * appears as a NEW directory without a rebuild, and (4) serving answers
  * from the index artifact alone — doctoring a probed cell directory
  * changes the result. */
class RagAppendSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def documents = spark.read.parquet(s"$d/documents.parquet")

  private def fileStates(dir: java.io.File): Map[String, (Long, String)] = {
    def walk(f: java.io.File): Array[java.io.File] =
      if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
    walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.toPath.toString.stripPrefix(dir.toPath.toString) ->
        (f.length(), md.map("%02x".format(_)).mkString)
    }.toMap
  }

  test("t30: appended index serves identically to a rebuild; old files untouched") {
    ExportOps.withScratch("graft_ragapp_spec", "spec") { out =>
      val rootA = s"${out.getAbsolutePath}/appended"
      val rootB = s"${out.getAbsolutePath}/rebuilt"
      TextOps.buildRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 === 0)),
        rootA)
      val before = fileStates(new java.io.File(rootA, "postings"))
      TextOps.appendRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 =!= 0)),
        rootA)
      val after = fileStates(new java.io.File(rootA, "postings"))
      // pre-existing posting files came through the append byte-identical
      before.foreach { case (name, st) =>
        assert(after.get(name).contains(st),
          s"append rewrote or moved pre-existing posting file $name")
      }
      assert(after.size > before.size, "append added no posting files")
      TextOps.buildRagIndex(spark, TextOps.ragChunkEmbeddings(documents), rootB)
      val qemb = TextOps.ragQueryEmbeddings(spark)
      val servedA = TextOps.ragServeFromIndex(spark, rootA, qemb, 6)
        .collect().map(_.toSeq.map(String.valueOf(_))).toSet
      val servedB = TextOps.ragServeFromIndex(spark, rootB, qemb, 6)
        .collect().map(_.toSeq.map(String.valueOf(_))).toSet
      assert(servedA === servedB,
        "build+append must serve exactly what a from-scratch rebuild serves")
    }
  }

  test("t30: new cells appear without rebuild; doctored probed cell changes the serve") {
    import spark.implicits._
    ExportOps.withScratch("graft_ragapp_new", "spec") { out =>
      val root = out.getAbsolutePath
      // seed from a sliver of the corpus so some cells start absent
      TextOps.buildRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.orderBy("doc_id").limit(10)), root)
      def cells(): Set[Int] = spark.read.parquet(s"$root/postings")
        .select($"cell").distinct().as[Int].collect().toSet
      val seeded = cells()
      TextOps.appendRagIndex(spark,
        TextOps.ragChunkEmbeddings(
          documents.orderBy("doc_id").offset(10)), root)
      val grown = cells()
      assert(seeded.subsetOf(grown))
      assert(grown.size > seeded.size,
        s"append introduced no new cells (seeded=$seeded grown=$grown) — " +
          "shrink the seed if the fixture changed")
      // centroid table covers exactly the populated cells after the swap
      val centroidCells = spark.read.parquet(s"$root/centroids")
        .select($"cell").as[Int].collect().toSet
      assert(centroidCells === grown,
        s"routing table out of sync: centroids=$centroidCells cells=$grown")
      // doctored artifact: removing the cell that holds query 0's top hit
      // must change the serve — the answer comes from the index, nowhere
      // else
      val qemb = TextOps.ragQueryEmbeddings(spark)
      val q0 = ExportOps.localize(qemb.filter($"query_id" === 0L))
      val servedBefore = TextOps.ragServeFromIndex(spark, root, q0, 6)
        .collect().map(_.toSeq.map(String.valueOf(_))).toSet
      val top = TextOps.ragServeFromIndex(spark, root, q0, 6)
        .filter($"rank" === 1).select($"doc_id", $"chunk_start").head()
      val topCell = spark.read.parquet(s"$root/postings")
        .filter($"doc_id" === top.getLong(0) &&
          $"chunk_start" === top.getLong(1))
        .select($"cell").as[Int].head()
      ExportOps.deleteRecursively(
        new java.io.File(root, s"postings/cell=$topCell"))
      // under the TxTable manifest protocol a doctored (out-of-band
      // deleted) cell makes the serve FAIL LOUDLY at load — the manifest
      // still references the files, so the read refuses rather than
      // silently serving less. Either outcome (loud failure or a changed
      // result) proves the answer comes from the index artifact alone.
      scala.util.Try(TextOps.ragServeFromIndex(spark, root, q0, 6)
        .collect().map(_.toSeq.map(String.valueOf(_))).toSet) match {
        case scala.util.Failure(_) => () // manifest caught the doctoring
        case scala.util.Success(servedAfter) =>
          assert(servedAfter !== servedBefore,
            "doctoring the probed cell did not change the serve — the " +
              "result is not coming from the index artifact")
      }
    }
  }

  test("a pre-protocol index registers on first touch for serve AND append") {
    ExportOps.withScratch("graft_ragapp_preproto", "spec") { out =>
      val root = out.getAbsolutePath
      TextOps.buildRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 === 0)),
        root)
      // simulate an index persisted BEFORE the manifest protocol existed:
      // strip the _tx logs from both artifact tables
      Seq("postings", "centroids").foreach { t =>
        ExportOps.deleteRecursively(new java.io.File(root, s"$t/_tx"))
      }
      val qemb = TextOps.ragQueryEmbeddings(spark)
      // serve bootstraps v1 manifests instead of dying "bootstrap first"
      val served = TextOps.ragServeFromIndex(spark, root, qemb, 6)
      assert(served.count() > 0)
      assert(TxTable.currentVersion(spark, s"$root/centroids") >= 1L)
      assert(TxTable.currentVersion(spark, s"$root/postings") >= 1L)
      // and so does append against a fresh pre-protocol copy
      Seq("postings", "centroids").foreach { t =>
        ExportOps.deleteRecursively(new java.io.File(root, s"$t/_tx"))
      }
      TextOps.appendRagIndex(spark,
        TextOps.ragChunkEmbeddings(documents.filter(col("doc_id") % 2 =!= 0)),
        root)
      assert(TextOps.ragServeFromIndex(spark, root, qemb, 6).count() > 0)
    }
  }
}
