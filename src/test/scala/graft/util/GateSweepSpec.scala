package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Source sweeps beside [[SessionSettingsSpec]]'s and [[SealSpec]]'s:
  * each kind of size choice has one gate, so a hand-rolled copy cannot
  * come back.
  *  - An engine override (`"graft.<a>.impl"`) is read only as the key
  *    argument of [[Dispatch.engine]], which validates it and measures
  *    the input only when nothing is forced. `ScaleSmoke` and
  *    `ExplainAudit` may set or unset a key for their pins.
  *  - `DedupQueries` picks a broadcast only in `bcastHint`, the one
  *    rows-and-elements gate.
  */
class GateSweepSpec extends AnyFunSuite {

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root)
  }

  private def lineOf(text: String, at: Int): Int = text.substring(0, at).count(_ == '\n') + 1

  test("sweep: every graft.*.impl key in src/main is read only through Dispatch.engine") {
    val key = "\"graft\\.[a-z0-9.]*\\.impl\"".r
    val viaDispatch = "Dispatch\\.engine\\(\\s*[\\w.]+,\\s*(\"graft\\.[a-z0-9.]*\\.impl\")".r
    val setForPin = "spark\\.conf\\.(?:set|unset)\\((\"graft\\.[a-z0-9.]*\\.impl\")".r
    val pinMains = Set("ScaleSmoke.scala", "ExplainAudit.scala")
    var dispatched = 0
    val offenders = for {
      f <- mainSources
      text = read(f)
      allowed = {
        val d = viaDispatch.findAllMatchIn(text).map(_.start(1)).toSet
        dispatched += d.size
        if (pinMains(f.getName)) d ++ setForPin.findAllMatchIn(text).map(_.start(1)) else d
      }
      m <- key.findAllMatchIn(text)
      if !allowed(m.start)
    } yield s"${f.getPath}:${lineOf(text, m.start)}: ${m.matched}"
    assert(offenders.isEmpty,
      "engine override read outside Dispatch.engine (a hand-rolled size gate):\n" +
        offenders.mkString("\n"))
    assert(dispatched >= 10, s"found $dispatched Dispatch.engine key arguments — the sweep regex is broken")
  }

  test("sweep: DedupQueries picks a broadcast only in bcastHint") {
    val f = mainSources.find(_.getName == "DedupQueries.scala")
    assert(f.isDefined, "DedupQueries.scala not found")
    val lines = read(f.get).split("\n", -1).toVector
    val start = lines.indexWhere(_.contains("def bcastHint("))
    // the gate's body ends at the first line back at its indentation
    val body =
      if (start < 0) Range(0, 0)
      else {
        val indent = lines(start).takeWhile(_ == ' ').length
        val end = lines.indexWhere(l => l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent,
          start + 1)
        start until (if (end < 0) lines.size else end)
      }
    val gates = lines.indices.filter(i => lines(i).contains("broadcast else identity"))
    val outside = gates.filterNot(body.contains).map(i => s"${f.get.getPath}:${i + 1}: ${lines(i).trim}")
    assert(outside.isEmpty,
      "hand-rolled broadcast gate outside bcastHint:\n" + outside.mkString("\n"))
    assert(gates.exists(body.contains), "bcastHint no longer picks between broadcast and identity")
  }
}
