package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.dedup.{DedupQueries, GraphCC}
import graft.embed.EmbedQueries
import graft.text.TextQueries
import graft.tiles.Clustering

/** Size gates measure their input only when they decide. Every engine
  * site goes through `graft.util.Dispatch.engine`; one row per site
  * drives it through the same three checks:
  *  - a run that forces either engine issues no gate-statistic action;
  *  - an unforced run does (the positive control);
  *  - a wrong-case engine name and a typo are rejected, naming the key
  *    and both engines, with no gate-statistic action.
  *
  * A gate-statistic action is a SQL action whose call site lies inside
  * the site's `Dispatch.engine(...)` call for its key: the statistic is
  * a by-name argument, so Spark records the action at its own line
  * there (`count at Clustering.scala:<line>`). Call sites come from the
  * SQL executions, which Spark tags from the calling thread; the jobs
  * themselves may run on AQE's threads and carry no useful call site.
  */
class ForcedEngineGateSpec extends SparkTestBase {

  /** Call sites of the SQL actions `body` runs, plus one `job <id>`
    * entry per job (the listener bus is async, so it is drained before
    * and after). */
  private def actionSites(body: => Unit): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.add(s.description): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(s"job ${j.jobId}"): Unit
    }
    def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      sites.clear()
      body
      drain()
      sites.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def sourceOf(file: String): Seq[String] = {
    def find(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(find)
      else if (f.getName == file) Seq(f) else Nil
    val hits = find(new java.io.File("src/main/scala"))
    assert(hits.size == 1, s"expected one $file under src/main/scala, found $hits")
    val src = scala.io.Source.fromFile(hits.head, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** 1-based lines of every `Dispatch.engine(` call in `file` whose
    * argument list names `key`: from the call's line to the line that
    * closes its parenthesis. */
  private def gateLines(file: String, key: String): Set[Int] = {
    val lines = sourceOf(file)
    val text = lines.mkString("\n")
    val lineAt = text.scanLeft(1)((n, c) => if (c == '\n') n + 1 else n)
    val call = "Dispatch.engine("
    Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
      .takeWhile(_ >= 0)
      .flatMap { start =>
        var i = start + call.length
        var depth = 1
        while (depth > 0) {
          text(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case '"' => i = text.indexOf('"', i + 1)
            case _ =>
          }
          i += 1
        }
        if (text.substring(start, i).contains("\"" + key + "\""))
          (lineAt(start) to lineAt(i - 1)).toSeq
        else Nil
      }.toSet
  }

  /** One gate site: the conf that forces it, its two engines, a call
    * that runs the gate, and the file of its `Dispatch.engine` call. */
  private case class Site(title: String, what: String, key: String,
      engines: (String, String), file: String, run: () => Unit)

  private def ccCells = {
    import spark.implicits._
    Seq((0L, 0L), (0L, 1L), (5L, 5L)).toDF("x", "y")
  }

  /** A fresh directory holding the sf corpus's documents, so the BPE
    * merge-table memo (keyed on the directory) cannot answer. */
  private def freshDocsDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-bpe-gate")
    java.nio.file.Files.createSymbolicLink(d.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sf/documents.parquet").toAbsolutePath)
    d.toString
  }

  private val sites: Seq[Site] = Seq(
    Site("connectedComponents4", "engine", "graft.cc.impl", ("local", "df"), "Clustering.scala",
      () => Clustering.connectedComponents4(ccCells).collect(): Unit),
    Site("incrementalClusters", "engine", "graft.cc.impl", ("local", "df"), "Clustering.scala",
      () => {
        import spark.implicits._
        val existing = Seq((0L, 0L, 1L), (9L, 9L, 2L)).toDF("x", "y", "cluster_id")
        val cells = Seq((0L, 1L), (5L, 5L)).toDF("x", "y")
        Clustering.incrementalClusters(existing, cells).collect(): Unit
      }),
    Site("GraphCC", "engine", "graft.gcc.impl", ("local", "df"), "GraphCC.scala",
      () => {
        import spark.implicits._
        val vertices = (0L to 5L).toDF("id")
        val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("src", "dst")
        GraphCC.connectedComponents(vertices, edges).collect(): Unit
      }),
    Site("c108 graph-ann", "beam engine", "graft.beam.impl", ("local", "df"), "EmbedQueries.scala",
      () => EmbedQueries.c108GraphAnn(spark, sf): Unit),
    Site("c102 pagerank", "engine", "graft.pr.impl", ("local", "df"), "EmbedQueries.scala",
      () => EmbedQueries.c102Pagerank(spark, sf): Unit),
    Site("c115 k-center", "engine", "graft.kc.impl", ("local", "df"), "EmbedQueries.scala",
      () => EmbedQueries.c115KCenter(spark, sf): Unit),
    Site("c110 textrank", "engine", "graft.tr.impl", ("local", "df"), "TextQueries.scala",
      () => TextQueries.c110Textrank(spark, sf): Unit),
    Site("c59/c95 corpus BPE loop", "engine", "graft.bpeloop.impl", ("local", "df"),
      "TextQueries.scala",
      () => TextQueries.bpeMergesOn(Tables(spark, sf, "documents").select("doc_id", "text")): Unit),
    Site("bpe sample-learn", "engine", "graft.bpe.impl", ("local", "df"), "TextQueries.scala",
      () => TextQueries.learnedMerges(spark, freshDocsDir()): Unit),
    Site("c7 ngram-jaccard", "engine", "graft.dedup.c7.impl", ("classes", "docs"),
      "DedupQueries.scala", () => DedupQueries.c7NgramJaccard(spark, sf): Unit))

  for (site <- sites) {
    lazy val lines = gateLines(site.file, site.key)
    def gateActions(actions: Seq[String]): Seq[String] = {
      val at = s"^\\w+ at ${java.util.regex.Pattern.quote(site.file)}:(\\d+)$$".r
      actions.filter(a => at.findFirstMatchIn(a).exists(m => lines(m.group(1).toInt)))
    }

    test(s"${site.title}: a forced ${site.what} runs no gate count") {
      assert(lines.nonEmpty, s"no Dispatch.engine call for ${site.key} in ${site.file}")
      val gated = actionSites(site.run())
      assert(gateActions(gated).nonEmpty, s"gate probe sees no statistic: $gated")
      Seq(site.engines._1, site.engines._2).foreach { impl =>
        val forced = withConf(site.key, impl)(actionSites(site.run()))
        assert(gateActions(forced).isEmpty, s"${site.key}=$impl ran $forced")
      }
    }

    test(s"${site.title}: a wrong-case engine name and a typo are rejected with no gate statistic") {
      val (first, second) = site.engines
      Seq(first.capitalize, first.dropRight(1)).foreach { bad =>
        var err: IllegalArgumentException = null
        val ran = withConf(site.key, bad)(
          actionSites { err = intercept[IllegalArgumentException](site.run()) })
        assert(err.getMessage.contains(site.key) && err.getMessage.contains(s"$first|$second"),
          err.getMessage)
        assert(gateActions(ran).isEmpty, s"${site.key}=$bad ran $ran before failing")
      }
    }
  }

  /** `body` under `key=rdd` must throw an IllegalArgumentException that
    * names the key and the allowed engines, having run no job. */
  private def assertRejectedBeforeAnyJob(key: String)(body: => Unit): Unit = {
    var err: IllegalArgumentException = null
    val ran = withConf(key, "rdd")(actionSites { err = intercept[IllegalArgumentException](body) })
    assert(err.getMessage.contains(key) && err.getMessage.contains("local|df"), err.getMessage)
    assert(ran.isEmpty, s"$key=rdd ran $ran before failing")
  }

  test("graft.cc.impl: an unknown engine name is rejected before any job runs") {
    import spark.implicits._
    val cells = Seq((0L, 0L), (0L, 1L)).toDF("x", "y")
    val existing = Seq((9L, 9L, 1L)).toDF("x", "y", "cluster_id")
    assertRejectedBeforeAnyJob("graft.cc.impl")(Clustering.connectedComponents4(cells): Unit)
    assertRejectedBeforeAnyJob("graft.cc.impl")(
      Clustering.incrementalClusters(existing, cells): Unit)
  }

  test("graft.gcc.impl: an unknown engine name is rejected before any job runs") {
    import spark.implicits._
    val vertices = Seq(0L, 1L).toDF("id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    assertRejectedBeforeAnyJob("graft.gcc.impl")(
      GraphCC.connectedComponents(vertices, edges): Unit)
  }
}
