package graft.tiles

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkTestBase

/** The incremental batch loop compiles each plan shape once: with the
  * session's codegen settings ([[graft.GraftSession]]), same-shape
  * batches of [[Clustering.incrementalClusters]] hit the codegen cache
  * even when more than 100 unrelated shapes were compiled in between
  * (Spark's default cache holds 100 entries), and the labels follow
  * the documented adoption rule.
  */
class CodegenReuseSpec extends SparkTestBase {

  private type Cell = (Long, Long)

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

  private def nbrs(c: Cell): Seq[Cell] =
    Seq((c._1 + 1, c._2), (c._1 - 1, c._2), (c._1, c._2 + 1), (c._1, c._2 - 1))

  /** The adoption rule of [[Clustering.incrementalClusters]], replayed
    * with a plain flood fill: a new component takes the smallest
    * 4-adjacent existing id, else max existing id + its rank by min
    * packed id among the components that adopt nothing. */
  private def adopt(existing: Map[Cell, Long], cells: Seq[Cell]): Map[Cell, Long] = {
    val live = cells.toSet
    val tmp = mutable.Map.empty[Cell, Long]
    cells.foreach { c0 =>
      if (!tmp.contains(c0)) {
        val comp = mutable.ArrayBuffer(c0)
        val seen = mutable.Set(c0)
        var i = 0
        while (i < comp.size) {
          nbrs(comp(i)).filter(n => live(n) && seen.add(n)).foreach(comp += _)
          i += 1
        }
        val id = comp.map(c => c._1 * Clustering.IdShift + c._2).min
        comp.foreach(tmp(_) = id)
      }
    }
    val members = tmp.toSeq.groupMap(_._2)(_._1)
    val adopted = members.flatMap { case (t, cs) =>
      cs.flatMap(nbrs).flatMap(existing.get).minOption.map(t -> _)
    }
    val maxId = existing.values.maxOption.getOrElse(0L)
    val fresh = members.keys.filterNot(adopted.contains).toSeq.sorted
      .zipWithIndex.map { case (t, i) => t -> (maxId + i + 1) }.toMap
    existing ++ tmp.map { case (c, t) => c -> adopted.getOrElse(t, fresh(t)) }
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
