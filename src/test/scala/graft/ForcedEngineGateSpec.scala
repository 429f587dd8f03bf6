package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.dedup.GraphCC
import graft.embed.EmbedQueries
import graft.tiles.Clustering

/** Size gates count their input only when they decide: a conf that
  * forces the engine (`graft.cc.impl`, `graft.gcc.impl`,
  * `graft.beam.impl`) skips the gate's `count()` jobs, and an engine
  * name the gate does not know fails before any job runs. Actions are
  * told apart by their call site, which Spark records on each SQL
  * execution from the calling thread (`count at Clustering.scala:<line>`);
  * the jobs themselves may run on AQE's threads and carry no useful
  * call site.
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

  private def gateCounts(sites: Seq[String], file: String): Seq[String] =
    sites.filter(_.startsWith(s"count at $file:"))

  test("connectedComponents4: a forced engine runs no gate count") {
    import spark.implicits._
    val cells = Seq((0L, 0L), (0L, 1L), (5L, 5L)).toDF("x", "y")
    val gated = actionSites(Clustering.connectedComponents4(cells).collect(): Unit)
    assert(gateCounts(gated, "Clustering.scala").nonEmpty, s"gate probe sees no count: $gated")
    Seq("local", "df").foreach { impl =>
      val forced = withConf("graft.cc.impl", impl)(
        actionSites(Clustering.connectedComponents4(cells).collect(): Unit))
      assert(gateCounts(forced, "Clustering.scala").isEmpty, s"impl=$impl ran $forced")
    }
  }

  test("incrementalClusters: a forced engine runs no gate count") {
    import spark.implicits._
    val existing = Seq((0L, 0L, 1L), (9L, 9L, 2L)).toDF("x", "y", "cluster_id")
    val cells = Seq((0L, 1L), (5L, 5L)).toDF("x", "y")
    def run(): Unit = Clustering.incrementalClusters(existing, cells).collect(): Unit
    val gated = actionSites(run())
    assert(gateCounts(gated, "Clustering.scala").nonEmpty, s"gate probe sees no count: $gated")
    Seq("local", "df").foreach { impl =>
      val forced = withConf("graft.cc.impl", impl)(actionSites(run()))
      assert(gateCounts(forced, "Clustering.scala").isEmpty, s"impl=$impl ran $forced")
    }
  }

  test("c108 graph-ann: a forced beam engine runs no gate count") {
    // first call builds the memoized inputs, so the probes below see
    // only c108's own jobs
    EmbedQueries.c108GraphAnn(spark, sf).collect()
    val gated = actionSites(EmbedQueries.c108GraphAnn(spark, sf).collect(): Unit)
    assert(gateCounts(gated, "EmbedQueries.scala").nonEmpty, s"gate probe sees no count: $gated")
    Seq("local", "df").foreach { impl =>
      val forced = withConf("graft.beam.impl", impl)(
        actionSites(EmbedQueries.c108GraphAnn(spark, sf).collect(): Unit))
      assert(gateCounts(forced, "EmbedQueries.scala").isEmpty, s"impl=$impl ran $forced")
    }
  }

  test("GraphCC: a forced engine runs no gate count") {
    import spark.implicits._
    val vertices = (0L to 5L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("src", "dst")
    def run(): Unit = GraphCC.connectedComponents(vertices, edges).collect(): Unit
    val gated = actionSites(run())
    assert(gateCounts(gated, "GraphCC.scala").nonEmpty, s"gate probe sees no count: $gated")
    Seq("local", "df").foreach { impl =>
      val forced = withConf("graft.gcc.impl", impl)(actionSites(run()))
      assert(gateCounts(forced, "GraphCC.scala").isEmpty, s"impl=$impl ran $forced")
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
