package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: a filesystem `rename(` in `src/main/scala` is a commit
  * step, and graft has one commit path. Files land in a table through
  * `TxTable.stage` and become visible through `TxTable.commit`, so every
  * rename lives in `TxTable.scala`; the one exception is
  * `ExportOps.migrateLayout`, which publishes a whole new layout
  * directory with one rename and has no versions. Each site is pinned
  * with its count per (file, enclosing def), so a hand-copied promote
  * loop anywhere else fails this spec. */
class RenameScanSpec extends AnyFunSuite {

  private val allowed = Map(
    ("graft/ops/TxTable.scala", "commit") -> 1, // the manifest flip
    ("graft/ops/TxTable.scala", "recordSchema") -> 1, // the schema sidecar
    ("graft/ops/TxTable.scala", "stage") -> 1, // the one promote step
    ("graft/ops/ExportOps.scala", "migrateLayout") -> 1)

  private val rename = """\brename\(""".r
  /** A member `def` of a top-level object or class (two-space indent);
    * nested helper defs belong to the member they sit in. */
  private val defName =
    """(?m)^  (?:(?:private|protected|final|override)(?:\[\w+\])? )*def\s+(\w+)""".r

  /** The source with comment lines dropped: scaladoc mentions of
    * `rename(staged, live)` are prose, not calls. */
  private def code(f: java.io.File): String =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*") }
      .mkString("\n")

  /** Each `rename(` call, keyed by the member `def` it sits in. */
  private def renames(src: String): Map[String, Int] =
    rename.findAllMatchIn(src).toSeq.map { m =>
      defName.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        .fold("<top>")(_.group(1))
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  test("the scan keys each rename by its enclosing member def") {
    val src = "  def a(): Unit = {\n    fs.rename(x, y)\n  }\n" +
      "  private[ops] def b(): Unit = {\n    def inner(p: Path) =\n" +
      "      fs.rename(p, y)\n    fs.rename(y, z)\n  }"
    assert(renames(src) === Map("a" -> 1, "b" -> 2))
    assert(renames("Files.renameTo(x); val renamed(x) = y") === Map.empty)
  }

  test("rename( in src/main/scala appears only at the TxTable and migrateLayout sites") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      renames(code(f)).map { case (d, n) => (rel, d) -> n }
    }.toMap
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"rename( outside TxTable (land files with TxTable.stage, publish with TxTable.commit): $unexpected")
    assert(found == allowed, s"an allowed site is gone; update the list: $found")
  }
}
