package graft.tiles

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkTestBase

/** The incremental batch loop compiles each plan shape once: with the
  * session's codegen settings ([[graft.GraftSession]]), same-shape
  * batches of [[Clustering.incrementalClusters]] hit the codegen cache
  * even when more than 100 unrelated shapes were compiled in between
  * (Spark's default cache holds 100 entries), and the labels follow
  * the documented adoption rule ([[AdoptionReplay]]).
  */
class CodegenReuseSpec extends SparkTestBase {

  import AdoptionReplay.{Cell, adopt}

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seeded positives in the 8-column strip `k` (x in [8k, 8k+8)). */
  private def strip(k: Int): Seq[Cell] = {
    val rnd = new scala.util.Random(1000L + k)
    for {
      x <- (8L * k) until (8L * k + 8)
      y <- 0L until 24L
      if rnd.nextDouble() < 0.45
    } yield (x, y)
  }

  /** `n` compiled shapes that share nothing with the batch: one stage
    * per union branch, each with its own literal. */
  private def unrelatedShapes(tag: Int, n: Int): Unit =
    (0 until n).grouped(12).foreach { g =>
      g.map(j => spark.range(2).select((col("id") * lit(tag * 100000L + j)).as("v")))
        .reduce(_ union _).collect()
    }

  test("same-shape batches compile nothing after the second; labels follow the adoption rule") {
    import spark.implicits._
    var truth = adopt(Map.empty, strip(0))
    var existing = truth.toSeq.map { case ((x, y), id) => (x, y, id) }
      .toDF("x", "y", "cluster_id").localCheckpoint()
    val perBatch = (1 to 5).map { k =>
      if (k > 1) {
        val c0 = compiles
        unrelatedShapes(k, 120)
        assert(compiles - c0 > 100, s"interlude before batch $k compiled ${compiles - c0}")
      }
      val cells = strip(k)
      val c0 = compiles
      val out = Clustering.incrementalClusters(existing, cells.toDF("x", "y"))
        .select("x", "y", "cluster_id").localCheckpoint()
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      val used = compiles - c0
      truth = adopt(truth, cells)
      assert(got.length == truth.size && got.toMap == truth, s"batch $k labels")
      existing = out
      used
    }
    info(s"compiles per batch: $perBatch")
    assert(perBatch.drop(2).forall(_ == 0L), s"compiles per batch: $perBatch")
  }
}
