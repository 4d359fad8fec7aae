package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every batch parquet read in `src/main/scala` either gives
  * a schema (`.schema(`) or goes through [[Tables.readParquet]], so no
  * read-back pays Spark's one-task schema-inference job. A
  * `read(.option(...))*.parquet(` chain without `.schema(` fails this
  * spec, except at the sites that need Spark's own inference, each pinned
  * with its count per file:
  *  - the two `mergeSchema` reads, which must see every footer;
  *  - q133's v2 aggregate-pushdown read, whose plan is pinned;
  *  - `AmplifySf`, the fixture amplifier (not a gate path). */
class SchemaInferenceScanSpec extends AnyFunSuite {

  private val allowed = Map(
    "graft/ops/SessionGates.scala" -> 1, // q108 mergeSchema
    "graft/ops/ExportOps.scala" -> 1, // e05 mergeSchema
    "graft/ops/Relational.scala" -> 1, // q133 parquetAggPushdownRun
    "graft/AmplifySf.scala" -> 2)

  /** `.read`, then any chain of `.name(args)` calls (args nested at most
    * one level deep), then `.parquet(`. */
  private val chain =
    """\.read((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\(""".r

  /** The source with comment lines dropped: scaladoc mentions of
    * `spark.read.parquet(dir)` are prose, not reads. */
  private def code(f: java.io.File): String =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*") }
      .mkString("\n")

  private def inferring(src: String): Int =
    chain.findAllMatchIn(src).count(m => !m.group(1).contains(".schema("))

  test("the scan recognises inferring and schema-bearing reads") {
    assert(inferring("""val a = s.read.parquet(p)""") == 1)
    assert(inferring("s.read\n  .option(\"basePath\", root)\n  .parquet(files: _*)") == 1)
    assert(inferring("""spark.read.option("k", f(x)).parquet(p)""") == 1)
    assert(inferring("""s.read.schema(t).parquet(p)""") == 0)
    assert(inferring("""s.read.option("a", "b").schema(t.schema).parquet(p)""") == 0)
    assert(inferring("""s.readStream.parquet(p); TxTable.read(s, r).filter(c)""") == 0)
  }

  test("no schema-inferring parquet read in src/main/scala outside the allowed sites") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val n = inferring(code(f))
      if (n == 0) None else Some(root.toPath.relativize(f.toPath).toString -> n)
    }.toMap
    val unexpected = found.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(unexpected.isEmpty,
      s"schema-inferring parquet reads (use graft.Tables.readParquet or give .schema): $unexpected")
    assert(found == allowed, s"an allowed site is gone; update the list: $found")
  }
}
