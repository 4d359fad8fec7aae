package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every session in `src/main/scala` is built by
  * [[GraftSession]]. Spark reads `spark.sql.codegen.cache.maxEntries`
  * ([[GraftSession.CodegenCacheEntries]]) once per JVM, so a main that
  * built its own session with `SparkSession.builder()` and generated code
  * before any `GraftSession.builder` session existed would run at Spark's
  * 100 entries, and nothing would fail. Two sites are allowed:
  * `GraftSession.builder` itself and `GraftSession.extensionSession`, which
  * builds over an existing context and so inherits its static conf. */
class SessionBuilderScanSpec extends AnyFunSuite {

  private val allowed = Seq("GraftSession.builder", "GraftSession.extensionSession")

  private val site = """SparkSession\s*\.\s*builder\b""".r
  private val defn = """\bdef\s+(\w+)""".r

  /** The source with comment lines dropped, as in [[SchemaInferenceScanSpec]]. */
  private def code(f: java.io.File): String =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*") }
      .mkString("\n")

  /** One `obj.def` per `SparkSession.builder` in `src`, named by the
    * nearest `def` before it. */
  private def sites(obj: String, src: String): Seq[String] =
    site.findAllMatchIn(src).map { m =>
      defn.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        .fold(obj)(d => s"$obj.${d.group(1)}")
    }.toSeq

  test("the scan recognises builder sites and names their def") {
    assert(sites("M", "def main(a: Array[String]): Unit = {\n  val s = SparkSession.builder().getOrCreate()\n}") ==
      Seq("M.main"))
    assert(sites("M", "def a = 1\ndef b = SparkSession\n  .builder()\n  .master(m)") == Seq("M.b"))
    assert(sites("M", "def s = GraftSession.builder().getOrCreate()") == Nil)
    assert(sites("M", "def b: SparkSession.Builder = GraftSession.builder()") == Nil)
  }

  test("SparkSession.builder appears in src/main/scala only in GraftSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).filter(_.getName.endsWith(".scala"))
      .flatMap(f => sites(f.getName.stripSuffix(".scala"), code(f)))
    assert(found.sorted == allowed,
      s"build sessions with graft.GraftSession.builder, which sizes the codegen cache: $found")
  }
}
