package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep beside [[SealSpec]]'s: the set of `"graft.<a>.<b>"`
  * session-conf literals under `src/main/scala` must equal the keys of
  * the README's "Session settings" table, so no knob can be added, or
  * left behind after its code is deleted, without the inventory saying
  * so.
  */
class SessionSettingsSpec extends AnyFunSuite {

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("sweep: every graft.* conf key in src/main is in the README settings table, and only those") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val literal = "\"(graft\\.[a-z0-9]*\\.[A-Za-z0-9.]*)\"".r
    val inCode = files(root).flatMap(f => literal.findAllMatchIn(read(f)).map(_.group(1))).toSet

    val readme = read(new java.io.File("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Session settings"))
    assert(section.isDefined, "README.md has no \"## Session settings\" section")
    val row = "^\\| `(graft\\.[^`]+)` \\|".r
    val inTable = section.get.split("\n").toSeq.flatMap(l => row.findFirstMatchIn(l).map(_.group(1)))
    assert(inTable.distinct.size == inTable.size, s"duplicate rows: ${inTable.diff(inTable.distinct)}")

    assert(inCode.nonEmpty, "found no graft.* conf literal at all — the sweep regex is broken")
    assert((inCode -- inTable).isEmpty,
      s"conf keys read in src/main but missing from the README table: ${(inCode -- inTable).toSeq.sorted}")
    assert((inTable.toSet -- inCode).isEmpty,
      s"README table rows for keys no code reads: ${(inTable.toSet -- inCode).toSeq.sorted}")
  }
}
