package graft.tiles

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** [[Clustering.incrementalClusters]] on both engines: the single-task
  * `local` kernel and the distributed `df` plan label every batch as
  * the flood-fill adoption replay ([[AdoptionReplay]]) does, and the
  * kernel's job count and shuffle bytes do not grow with the persisted
  * state.
  */
class IncrementalClustersSpec extends SparkTestBase {
  import AdoptionReplay.{Cell, adopt}

  private val Engines = Seq("local", "df")
  private val YMax = Int.MaxValue.toLong // 2^31 − 1, the largest contract y

  private def withImpl[A](impl: String)(body: => A): A = {
    spark.conf.set("graft.cc.impl", impl)
    try body finally spark.conf.unset("graft.cc.impl")
  }

  /** (x, y) → (cluster_id, batch) as `impl` labels it. */
  private def run(existing: Map[Cell, Long], cells: Seq[Cell],
      impl: String): Map[Cell, (Long, Int)] = {
    import spark.implicits._
    val ex = existing.toSeq.map { case ((x, y), id) => (x, y, id) }.toDF("x", "y", "cluster_id")
    val out = withImpl(impl)(
      Clustering.incrementalClusters(ex, cells.toDF("x", "y")).collect())
    val got = out.map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3))))
    assert(got.length == got.map(_._1).distinct.length, s"impl=$impl: duplicate cells")
    got.toMap
  }

  /** Both engines equal the replay: existing rows unchanged as batch 1,
    * the new cells labeled by the adoption rule as batch 2. */
  private def checkBoth(existing: Map[Cell, Long], cells: Seq[Cell]): Map[Cell, Long] = {
    val truth = adopt(existing, cells)
    val want = truth.map { case (c, id) => c -> ((id, if (existing.contains(c)) 1 else 2)) }
    Engines.foreach(impl => assert(run(existing, cells, impl) == want, s"impl=$impl"))
    truth
  }

  test("seeded random batches: local kernel and df plan equal the adoption replay") {
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val grid = for (x <- 0L until 20L; y <- 0L until 20L) yield (x, y)
      val (old, rest) = grid.partition(_ => rnd.nextDouble() < 0.35)
      val existing = adopt(Map.empty, old)
      val cells = rest.filter(_ => rnd.nextDouble() < 0.4)
      withClue(s"seed $seed: ")(checkBoth(existing, rnd.shuffle(cells ++ cells.take(5))))
    }
  }

  test("empty batch returns the existing labels only") {
    checkBoth(Map((3L, 3L) -> 7L, (3L, 4L) -> 7L), Nil)
  }

  test("empty existing: fresh ids start at 1, ranked by min packed id") {
    val truth = checkBoth(Map.empty, Seq((5L, 0L), (0L, 9L), (0L, 8L), (9L, 9L)))
    assert(truth == Map((0L, 8L) -> 1L, (0L, 9L) -> 1L, (5L, 0L) -> 2L, (9L, 9L) -> 3L))
  }

  test("a single-cell batch adopts its neighbor's id or continues above the max") {
    val existing = Map((4L, 4L) -> 2L, (10L, 10L) -> 9L)
    assert(checkBoth(existing, Seq((4L, 5L)))((4L, 5L)) == 2L)
    assert(checkBoth(existing, Seq((0L, 0L)))((0L, 0L)) == 10L)
  }

  test("a bridge touching two clusters adopts the smaller id; the larger survives") {
    val existing = Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (5L, 0L) -> 2L, (5L, 1L) -> 2L)
    val truth = checkBoth(existing, (1L to 4L).map(x => (x, 0L)) :+ ((20L, 20L)))
    assert((1L to 4L).forall(x => truth((x, 0L)) == 1L))
    assert(truth((5L, 0L)) == 2L && truth((20L, 20L)) == 3L)
  }

  test("cells on the contract edges: id ± 1 and id ± 2^32 alias no other cell") {
    // under a 2^31 shift (0, 2^31−1) + 1 would be (1, 0): these pairs
    // are NOT adjacent and must not adopt each other's ids
    val existing = Map((1L, 0L) -> 3L, (5L, YMax) -> 4L, (0L, YMax - 5) -> 6L)
    val cells = Seq((0L, YMax), (0L, 0L), (6L, 0L), (2L, 0L), (5L, YMax - 1), (1L, YMax))
    val truth = checkBoth(existing, cells)
    assert(truth((0L, 0L)) == 3L && truth((2L, 0L)) == 3L && truth((5L, YMax - 1)) == 4L)
    assert(truth((6L, 0L)) > 6L)
    assert(truth((0L, YMax)) == truth((1L, YMax)) && truth((0L, YMax)) > 6L)
  }

  /** Jobs started and shuffle bytes written while `body` runs. */
  private def jobsAndShuffle(body: => Unit): (Int, Long) = {
    val jobs = new AtomicLong
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit)
    }
    def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get.toInt, bytes.get)
  }

  test("scale shape: a 300-cell batch costs the same jobs and shuffle against 10k or 200k labels") {
    import spark.implicits._
    // the batch lies along y = 0, the persisted labels fill the rows above
    val batch = (0L until 300L).map(x => (x, 0L)).toDF("x", "y").localCheckpoint()
    def persisted(n: Long): DataFrame = spark.range(n)
      .select((col("id") % 1000L).as("x"), (col("id") / 1000L + 1L).as("y"),
        (col("id") / 7L + 1L).as("cluster_id"))
      .localCheckpoint()
    val shapes = Seq(10000L, 200000L).map { n =>
      val existing = persisted(n)
      n -> jobsAndShuffle(
        Clustering.incrementalClusters(existing, batch).localCheckpoint(): Unit)
    }
    info(s"(|existing|, (jobs, shuffle bytes)): $shapes")
    val Seq((_, (jobsSmall, shuffleSmall)), (_, (jobsLarge, shuffleLarge))) = shapes
    assert(jobsSmall == jobsLarge && jobsLarge <= 6, s"$shapes")
    assert(shuffleLarge <= shuffleSmall, s"$shapes")
  }
}
