package graft.tiles


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Dispatch
import graft.util.Seal._

/** Connected components of positive tiles under 4-neighbor adjacency —
  * the reference's cluster detection (run_inference.py:21-60), which is a
  * driver-recursive DFS there.
  *
  * Two engines compute the same labeling (component label = min packed
  * id); the measured cell count picks one (see [[connectedComponents4]]):
  *  - `local`: small sets are LATENCY-bound — any per-round job
  *    scheduling dwarfs the compute — so ONE task runs a union-find and
  *    closes them with no per-round jobs;
  *  - `df`: large sets are THROUGHPUT-bound, so a DataFrame
  *    pointer-jumping loop runs on Tungsten rows (whole-stage codegen,
  *    off-heap shuffle). Each round does neighbor-min (label(c) ← min
  *    over c and its 4 neighbors), then two pointer jumps (label(c) ←
  *    label(label(c))): propagation distance grows ~4× per round, so
  *    rounds ≈ log4(diameter), where neighbor-min alone would need
  *    diameter-many rounds (a solar-farm blob at z21 can span thousands
  *    of tiles). On a 2M-cell serpentine its rounds measured ~10×
  *    cheaper than an RDD loop's co-partitioned narrow joins (boxed
  *    Tuple2 shuffles and cogroup hash maps), so no RDD engine is kept.
  *
  * At 100 TB the df loop holds: per-round traffic is O(|positive
  * cells|), never the full tile fact, and every key (cell id, label id)
  * is high-cardinality. Lineage is truncated every round through
  * [[graft.util.Seal]]: executor-local blocks by default, durable
  * checkpoints under `graft.seal.durable=true`, so a long cluster run
  * can survive executor loss.
  */
object Clustering {

  /** Label encoding: id = x * 2^32 + y. Real slippy coordinates reach
    * 2^zoom (z21 ≈ 2.1M > 100000), so the shift must clear 32 bits; the
    * packed id still fits a signed long for any zoom ≤ 30 and the
    * encoding stays monotone in (x, y) lexicographic order, so the
    * component representative (min id) is the same cell under any
    * order-preserving encoding.
    */
  val IdShift = 4294967296L // 2^32

  private def packId(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    x * lit(IdShift) + y

  /** Above this many distinct cells the DataFrame (Tungsten) loop takes
    * over from the single-task union-find — see [[connectedComponents4]].
    */
  val SmallLoopMax = 1000000L

  /** cells must have integer columns x, y (0 ≤ x, y < 2^31). Returns
    * (x, y, cluster_id) where cluster_id = min (x*2^32+y) over the
    * component.
    *
    * Up to [[SmallLoopMax]] distinct cells take the `local` engine: one
    * `mapPartitions` union-find task, adjacency implicit (each id unions
    * with id+1 / id+2^32 when present, so no edge list is ever
    * materialized). Larger sets take the `df` loop (class doc).
    */
  def connectedComponents4(cells: DataFrame, maxIter: Int = 60): DataFrame = {
    lazy val keys = cells.select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .distinct().seal()
    Dispatch.engine(cells.sparkSession, "graft.cc.impl", ("local", "df"),
        keys.count() <= SmallLoopMax) match {
      case "local" => ccLocal(keys)
      case _ => ccDf(keys, maxIter)
    }
  }

  /** Path-compressing union-find over long ids, unioning by MIN so a
    * component's root IS its smallest id — the single-task kernel of
    * both CC modules (the grid here, the edge list in
    * [[graft.dedup.GraphCC]]). Built inside a task, never shipped.
    */
  private[graft] final class MinUnionFind {
    private val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = p
        p = gp
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
  }

  /** [[MinUnionFind]] over a set of packed ids under 4-adjacency: each
    * id unions with its +x/+y neighbors when present (the −x/−y
    * directions are those same unions seen from the other side).
    * Returns the root lookup.
    */
  private def unionFind4(ids: java.util.HashSet[Long]): Long => Long = {
    val uf = new MinUnionFind
    ids.forEach { id =>
      // y+1 stays inside the same x-row iff y+1 < 2^32 (contract:
      // 0 ≤ y < 2^31, so id+1 can't alias the next row's y=0)
      if (ids.contains(id + 1L)) uf.union(id, id + 1L)
      if (ids.contains(id + IdShift)) uf.union(id, id + IdShift)
    }
    uf.find
  }

  /** Convergence metric of both CC modules' DataFrame loops: the sum of
    * `lbl` in DECIMAL(38,0), exact and overflow-free to ~1e19 labels. A
    * LongType sum of 2^32-packed ids would exceed 2^63 — and THROW under
    * ANSI mode (the Spark 4 default) — on any realistic real-zoom input
    * of the very sizes those loops are selected for.
    */
  private[graft] def lblSum(df: DataFrame): java.math.BigDecimal =
    df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head().getDecimal(0)

  /** Single-task union-find for small cell sets (see
    * [[connectedComponents4]]): one `mapPartitions` task builds the id
    * set and labels each id with its [[unionFind4]] root. Runs on an
    * executor, not the driver — no collect.
    */
  private def ccLocal(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select((col("x") * lit(IdShift) + col("y")).as("id")).as[Long]
      .coalesce(1)
      .mapPartitions { it =>
        val ids = new java.util.HashSet[Long]()
        it.foreach(ids.add)
        val root = unionFind4(ids)
        val out = Iterator.newBuilder[(Long, Long, Long)]
        ids.forEach(id => out += ((id / IdShift, id % IdShift, root(id))))
        out.result()
      }
      .toDF("x", "y", "cluster_id")
  }

  /** Tungsten loop for large label sets (class doc). One job per round:
    * the lazy per-round seal is materialized by the convergence sum.
    */
  private def ccDf(keys: DataFrame, maxIter: Int): DataFrame = {
    var labels = keys.withColumn("lbl", packId(col("x"), col("y"))).seal()
    var prevSum = lblSum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // neighbor-min: real cells ride along with a flag instead of being
      // re-joined against `keys` (min/max fold into one partial-agg
      // shuffle; phantom shifted cells drop cheap)
      val shifted = Seq((0L, 1L), (0L, -1L), (1L, 0L), (-1L, 0L)).map { case (dx, dy) =>
        labels.select((col("x") + lit(dx)).as("x"), (col("y") + lit(dy)).as("y"),
          col("lbl"), lit(0).as("real"))
      }.reduce(_ union _)
      val nmin = shifted.union(labels.withColumn("real", lit(1)))
        .groupBy("x", "y").agg(min("lbl").as("lbl"), max("real").as("real"))
        .filter(col("real") === 1)
      val ids = nmin.select(col("x"), col("y"),
        packId(col("x"), col("y")).as("id"), col("lbl"))
      val parents = ids.select(col("id").as("pid"), col("lbl").as("plbl"))
      // aliased frames + qualified names: `parents` joins twice, which
      // Dataset-column references would flag as an ambiguous self-join
      def jump(df: DataFrame, tag: String): DataFrame =
        df.as("l").join(parents.as(tag), col("l.lbl") === col(s"$tag.pid"), "left")
          .select(col("l.x").as("x"), col("l.y").as("y"), col("l.id").as("id"),
            least(col("l.lbl"), coalesce(col(s"$tag.plbl"), col("l.lbl"))).as("lbl"))
      val next = jump(jump(ids, "p1"), "p2").drop("id").seal(eager = false)
      val s = lblSum(next)
      done = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    labels.withColumnRenamed("lbl", "cluster_id")
  }

  /** Session-scoped memo of the positive-tile components per testdata
    * dir: four production queries (a7/a8/a13/a15) consume the identical
    * component labeling, so it's computed once and shared — an explicit
    * materialized intermediate, same determinism, same results.
    */
  private val ccCache = new graft.util.Memo[(String, String), DataFrame]

  def componentsFor(spark: SparkSession, dir: String): DataFrame =
    ccCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      connectedComponents4(GeoDerive.positives(spark, dir)).seal())

  /** Unrolled hook+jump min-label propagation as a DuckDB CTE chain —
    * the oracle-side replacement for the recursive transitive-closure
    * CC, whose working set is O(nodes x component-size): the sf0.01
    * grid's single 6,466-cell component made `reach` a 41.8M-row
    * fixpoint costing 40-95 s PER ORACLE, and ccCte is shared by ten
    * oracles (the round-7 driver sweep died on exactly this).
    *
    * Round r = one "hook" (label := min of current labels over the
    * closed neighborhood — one join with the edge table) followed by
    * one pointer "jump" (label := label(label(v)) — one self-join).
    * Labels are always node ids, monotonically non-increasing, with
    * fixpoint = component minimum; a run with too few rounds differs
    * from the converged Spark labels, so under-unrolling surfaces as a
    * LOUD driver hash mismatch, never a silent wrong answer.
    *
    * Round counts are calibrated on the real driver testdata (the grid
    * derivation is modulo-bounded at 97x89 cells for every SF, and the
    * data is deterministic): cell CC converges in 18/4/7 rounds at
    * sf0.01/0.001/0.1, outline CC in 33/4/7 — the unrolls below carry
    * >=30% margin. Cost per stage is one join over <=~35k rows, so the
    * whole chain replaces minutes of closure with ~0.1 s of hash joins.
    *
    * `nodesRef(keys..., nodeCol)` names an existing CTE of node rows;
    * `edgesRef(keys..., src, dst)` a symmetric edge list. The final
    * label map is the CTE `<prefix>_m<rounds>` with columns
    * (keys..., v, lbl).
    */
  def minLabelCtes(prefix: String, rounds: Int, keys: Seq[String],
      nodesRef: String, nodeCol: String, edgesRef: String): Seq[String] = {
    val k = keys.map(_ + ", ").mkString
    def on(a: String, b: String, extra: String): String =
      (keys.map(c => s"$a.$c = $b.$c") :+ extra).mkString(" AND ")
    val seed =
      s"${prefix}_m0 AS (SELECT $k$nodeCol AS v, $nodeCol AS lbl FROM $nodesRef)"
    seed +: (1 to rounds).flatMap { r =>
      val prev = s"${prefix}_m${r - 1}"
      Seq(
        s"""${prefix}_h$r AS MATERIALIZED (
           |  SELECT ${k}v, MIN(lbl) AS lbl FROM (
           |    SELECT ${keys.map(c => s"e.$c, ").mkString}e.dst AS v, m.lbl
           |    FROM $edgesRef e JOIN $prev m ON ${on("e", "m", "m.v = e.src")}
           |    UNION ALL SELECT ${k}v, lbl FROM $prev
           |  ) GROUP BY ${k}v)""".stripMargin,
        s"""${prefix}_m$r AS MATERIALIZED (
           |  SELECT ${keys.map(c => s"a.$c, ").mkString}a.v, b.lbl
           |  FROM ${prefix}_h$r a JOIN ${prefix}_h$r b ON ${on("a", "b", "b.v = a.lbl")})""".stripMargin)
    }
  }

  /** Cell-grid CC unroll depth: observed max 18 rounds (sf0.01) + margin. */
  val CcRounds = 24

  /** DuckDB twin: min-label CC via the unrolled hook+jump chain
    * (expects `pos`; defines `ids`, `edge`, and `cc(x, y, cluster_id)`).
    */
  val ccCte: String = (Seq(
    s"ids AS (SELECT x, y, x * $IdShift + y AS id FROM pos)",
    """edge AS MATERIALIZED (
      |  SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b
      |  ON (abs(a.x - b.x) + abs(a.y - b.y)) = 1
      |)""".stripMargin) ++
    minLabelCtes("ccp", CcRounds, Nil, "ids", "id", "edge") :+
    s"""cc AS (
       |  SELECT i.x, i.y, m.lbl AS cluster_id
       |  FROM ids i JOIN ccp_m$CcRounds m ON i.id = m.v
       |)""".stripMargin).mkString(",\n")

  /** Incremental cluster-id continuation — the reference's actual
    * per-batch operating mode (run_inference.py:21-41 clusters only
    * `cluster_id IS NULL` tiles each batch; solardb.py:245-252 draws
    * every new component's id from the DB sequence, i.e. above the
    * persisted max). Persisted labels are IMMUTABLE, exactly as in the
    * reference: a batch never relabels an existing cluster.
    *
    * `existing`: (x, y, cluster_id) — the persisted labeling.
    * `newCells`: (x, y) — this batch's not-yet-clustered positives.
    *
    * Semantics:
    *  1. new cells are clustered among THEMSELVES (4-adjacency);
    *  2. a new component 4-adjacent to one or more existing clusters
    *     adopts the smallest adjacent existing id (the "merge new
    *     positives into existing labels" mode; where the reference would
    *     mint a fresh id even for an adjacent tile, adoption is the
    *     useful incremental refinement — and deterministic);
    *  3. every other new component gets max(existing id) + its dense
    *     rank by min packed id — id continuation from the persisted max.
    * A new component bridging two existing clusters adopts the smaller
    * id and the larger survives unmerged — by design, since persisted
    * ids are immutable here and in the reference.
    *
    * Returns `existing` (batch 1) unioned with the labeled new cells
    * (batch 2). The engine is picked by the [[connectedComponents4]]
    * size gate on the batch's row count.
    *
    * Scale shape. A batch is orders of magnitude smaller than the
    * accumulated state, so the `local` engine labels it in O(batch)
    * jobs ([[incrementalLocal]]): one broadcast of the batch's neighbor
    * keys, then ONE task that reads `existing` narrowly (a map-side
    * semi-join against those keys, per-partition max ids) and runs the
    * union-find, the adoption rule and the fresh-id mint. No shuffle,
    * and the job count does not grow with |existing|; the one task's
    * scan of `existing` is serial, which at batch-loop sizes (~100k
    * labels) costs less than the jobs it replaces. Above
    * [[SmallLoopMax]] batch cells, or with `graft.cc.impl=df`, the
    * distributed plan runs instead ([[incrementalPlan]]): one CC
    * fixpoint over the new batch, one explode×4 equi-join against
    * `existing` for adjacency (O(4·|new|) shuffle rows, never
    * O(|existing|) fan-out), one 1-row max-id broadcast, and one
    * unpartitioned dense_rank over DISTINCT fresh component labels —
    * cardinality = number of NEW clusters in the batch, so the
    * single-task window is bounded by the farms the pipeline is trying
    * to find, not by the data.
    */
  def incrementalClusters(existing: DataFrame, newCells: DataFrame): DataFrame = {
    val exist = existing.select(col("x").cast("long").as("x"),
      col("y").cast("long").as("y"), col("cluster_id").cast("long").as("cluster_id"))
    val labeledNew = Dispatch.engine(existing.sparkSession, "graft.cc.impl", ("local", "df"),
        newCells.count() <= SmallLoopMax) match {
      case "local" => incrementalLocal(exist, newCells)
      case _ => incrementalPlan(exist, newCells)
    }
    exist.withColumn("batch", lit(1))
      .unionByName(labeledNew.withColumn("batch", lit(2)))
  }

  private type Tagged = (Int, Long, Long)

  /** The single-task batch kernel of [[incrementalClusters]]. Its one
    * task reads three tagged row kinds — 0: a batch cell, 1: an existing
    * cell 4-adjacent to the batch (with its id), 2: one partition's
    * max existing id — deduplicates the batch cells in its hash set,
    * runs [[unionFind4]], lets each component adopt the smallest
    * adjacent existing id, and numbers the rest max + rank by root
    * (min packed id). Neighbor ids of cells on the contract edges
    * (x = 0, y = 0, y = 2^31−1) pack to ids no contract cell has, so
    * they never match.
    */
  private def incrementalLocal(exist: DataFrame, newCells: DataFrame): DataFrame = {
    val spark = exist.sparkSession
    import spark.implicits._
    val batch = newCells.select(
      packId(col("x").cast("long"), col("y").cast("long")).as("id"))
    val nbrIds = batch.select(explode(array(col("id") + 1L, col("id") - 1L,
      col("id") + IdShift, col("id") - IdShift)).as("id"))
    val existIds = exist.filter(col("cluster_id").isNotNull)
      .select(packId(col("x"), col("y")).as("id"), col("cluster_id"))
    val adjacent = existIds.join(broadcast(nbrIds), Seq("id"), "left_semi")
      .select(lit(1), col("id"), col("cluster_id")).as[Tagged]
    val partialMax = existIds.select(col("cluster_id")).as[Long].mapPartitions { it =>
      if (it.hasNext) Iterator[Tagged]((2, 0L, it.max)) else Iterator.empty
    }
    batch.select(lit(0), col("id"), lit(0L)).as[Tagged]
      .union(adjacent).union(partialMax)
      .coalesce(1)
      .mapPartitions { rows =>
        val ids = new java.util.HashSet[Long]()
        val adj = new java.util.HashMap[Long, Long]()
        var maxId: Option[Long] = None
        rows.foreach {
          case (0, id, _) => ids.add(id)
          case (1, id, eid) => adj.put(id, math.min(eid, adj.getOrDefault(id, eid)))
          case (_, _, m) => maxId = Some(maxId.fold(m)(math.max(_, m)))
        }
        val root = unionFind4(ids)
        val label = new java.util.HashMap[Long, Long]()
        ids.forEach { id =>
          val r = root(id)
          Iterator(id + 1L, id - 1L, id + IdShift, id - IdShift).foreach { n =>
            if (adj.containsKey(n))
              label.put(r, math.min(adj.get(n), label.getOrDefault(r, Long.MaxValue)))
          }
        }
        val fresh = new java.util.TreeSet[Long]()
        ids.forEach { id => val r = root(id); if (!label.containsKey(r)) fresh.add(r) }
        var next = maxId.getOrElse(0L)
        fresh.forEach { r => next += 1L; label.put(r, next) }
        val out = Iterator.newBuilder[(Long, Long, Long)]
        ids.forEach(id => out += ((id / IdShift, id % IdShift, label.get(root(id)))))
        out.result()
      }
      .toDF("x", "y", "cluster_id")
  }

  /** The distributed plan of [[incrementalClusters]], for batches above
    * [[SmallLoopMax]] or a forced `df` engine.
    */
  private def incrementalPlan(exist: DataFrame, newCells: DataFrame): DataFrame = {
    val newCc = connectedComponents4(newCells).withColumnRenamed("cluster_id", "tmp")
    val nbrs = newCc.select(col("tmp"),
      explode(array(
        struct((col("x") + 1).as("x"), col("y").as("y")),
        struct((col("x") - 1).as("x"), col("y").as("y")),
        struct(col("x").as("x"), (col("y") + 1).as("y")),
        struct(col("x").as("x"), (col("y") - 1).as("y")))).as("n"))
      .select(col("tmp"), col("n.x").as("x"), col("n.y").as("y"))
    val adopt = nbrs.join(exist.withColumnRenamed("cluster_id", "eid"), Seq("x", "y"))
      .groupBy("tmp").agg(min("eid").as("adopt_id"))
    val fresh = newCc.select("tmp").distinct()
      .join(adopt, Seq("tmp"), "left_anti")
      .withColumn("rk",
        dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy("tmp"))
          .cast("long"))
    val maxId = exist.agg(coalesce(max("cluster_id"), lit(0L)).as("max_id"))
    newCc
      .join(adopt, Seq("tmp"), "left")
      .join(fresh, Seq("tmp"), "left")
      .crossJoin(broadcast(maxId))
      .select(col("x"), col("y"),
        coalesce(col("adopt_id"), col("max_id") + col("rk")).as("cluster_id"))
  }
}
