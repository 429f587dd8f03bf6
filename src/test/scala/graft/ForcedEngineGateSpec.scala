package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.embed.EmbedQueries
import graft.tiles.Clustering

/** Size gates count their input only when they decide: a conf that
  * forces the engine (`graft.cc.impl`, `graft.beam.impl`) skips the
  * gate's `count()` jobs. Actions are told apart by their call site,
  * which Spark records on each SQL execution from the calling thread
  * (`count at Clustering.scala:<line>`); the jobs themselves may run on
  * AQE's threads and carry no useful call site.
  */
class ForcedEngineGateSpec extends SparkTestBase {

  /** Call sites of the SQL actions `body` runs (the listener bus is
    * async, so it is drained before and after). */
  private def actionSites(body: => Unit): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.add(s.description): Unit
        case _ =>
      }
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
}
