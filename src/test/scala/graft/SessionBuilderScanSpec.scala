package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over `src/main/scala`.
  *
  * Every session is built by [[GraftSession.builder]]. Spark reads
  * `spark.sql.codegen.cache.maxEntries` ([[GraftSession.CodegenCacheEntries]])
  * once per JVM, so a main that built its own session with
  * `SparkSession.builder()` and generated code before any
  * `GraftSession.builder` session existed would run at Spark's 100
  * entries, and nothing would fail.
  *
  * No engine code writes session state to add a function, rule or
  * strategy: [[GraftExtensions]] binds them all at construction, so
  * `newSession()` and streaming clones carry them. A registry write or an
  * `experimental` strategy would reach only the session at hand. */
class SessionBuilderScanSpec extends AnyFunSuite {

  private val allowed = Seq("GraftSession.builder")

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

  /** The engine's Scala sources. */
  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala"))
  }

  test("SparkSession.builder appears in src/main/scala only in GraftSession") {
    val found = mainSources.flatMap(f => sites(f.getName.stripSuffix(".scala"), code(f)))
    assert(found.sorted == allowed,
      s"build sessions with graft.GraftSession.builder, which sizes the codegen cache: $found")
  }

  private val registryWrites = Seq(
    "createOrReplaceTempFunction".r, """experimental\s*\.\s*extra""".r,
    """(?<!def )\bregisterAll\s*\(""".r)

  /** `file: match` per session-state write in `src`. */
  private def writes(file: String, src: String): Seq[String] =
    registryWrites.flatMap(_.findAllMatchIn(src).map(m => s"$file: $m"))

  test("src/main/scala registers no function, rule or strategy on a live session") {
    assert(writes("M", "spark.sessionState.functionRegistry.createOrReplaceTempFunction(\"f\", b, \"x\")\n" +
      "s.experimental.extraStrategies = Nil\ngraft.functions.GraftFunctions.registerAll(s)\n" +
      "def registerAll(spark: SparkSession): Unit =\n" +
      "s.sql(\"CREATE OR REPLACE TEMPORARY FUNCTION f() RETURNS INT RETURN 1\")").size == 3)
    val found = mainSources.flatMap(f => writes(f.getName, code(f)))
    assert(found.isEmpty,
      s"bind functions, rules and strategies in graft.GraftExtensions: $found")
  }
}
