package graft.tiles


import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.util.Seal._

/** Connected components of positive tiles under 4-neighbor adjacency —
  * the reference's cluster detection (run_inference.py:21-60), which is a
  * driver-recursive DFS there, re-expressed as distributed pointer-jumping
  * label propagation.
  *
  * Each round does two steps:
  *   1. neighbor-min: label(c) ← min(label over c and its 4 neighbors);
  *   2. pointer jump ×2: label(c) ← label(label(c)) — propagation
  *      distance grows ~4× per round, so rounds ≈ log4(diameter).
  * Neighbor-min alone needs diameter-many rounds (a solar-farm blob at
  * z21 can span thousands of tiles); jumping makes the loop logarithmic.
  *
  * The loop body is the ONE deliberately RDD-shaped piece of this engine
  * (the carve-out SURVEY.md §6 reserves for genuinely iterative
  * fixpoints, the same reason GraphX is RDD-based): a DataFrame fixpoint
  * re-plans, re-codegens, and — crucially — re-SHUFFLES both sides of
  * every join on every round, because Catalyst cannot know two frames
  * share a partitioning across queries. Here the label RDD is hash-
  * partitioned by packed cell id ONCE; the membership filter and the
  * parent lookups are then narrow co-partitioned joins, so each round
  * moves only the neighbor messages and the (tiny) jump relinks. Lineage
  * is truncated every round (localCheckpoint on the persisted blocks);
  * convergence is the label-sum fixpoint, computed in the same action
  * that materializes the round.
  *
  * At 100 TB the same loop holds: the partition count scales with the
  * positive-cell count (`graft.cc.partitions` overrides), per-round
  * traffic is O(|positive cells|), never the full tile fact, and every
  * key (cell id, label id) is high-cardinality. localCheckpoint stores
  * blocks on executors — an executor loss on a long cluster run costs a
  * recompute from the last materialization; set a durable
  * `SparkContext.setCheckpointDir` and `graft.cc.durable=true` to trade
  * latency for fault tolerance.
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
    * Three interchangeable engines, picked by the measured input size
    * (`graft.cc.impl` forces `local`, `rdd`, or `df`):
    *  - small labeled sets are LATENCY-bound — ANY per-round scheduling
    *    dwarfs the compute — so one `mapPartitions` union-find task
    *    closes them with zero per-round jobs (adjacency stays implicit:
    *    each id unions with id+1 / id+2^32 when present, so no edge
    *    list is ever materialized);
    *  - the RDD micro-loop (narrow co-partitioned joins, no
    *    re-planning) remains selectable as the middle ground;
    *  - large sets are THROUGHPUT-bound — boxed Tuple2 shuffles and
    *    cogroup hash maps lose to Tungsten's off-heap rows by an order
    *    of magnitude — so the DataFrame loop takes over (measured on a
    *    2M-cell serpentine: DF rounds are ~10× cheaper than RDD rounds).
    * All run identical label algebra (component label = min packed id)
    * and yield identical labels. The size count runs only where it is
    * used: for the gate, or to size the `rdd` loop's partitions.
    */
  def connectedComponents4(cells: DataFrame, maxIter: Int = 60): DataFrame = {
    val spark = cells.sparkSession
    val keys = cells.select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .distinct().seal()
    lazy val n = keys.count()
    val impl = spark.conf.getOption("graft.cc.impl")
      .getOrElse(if (n <= SmallLoopMax) "local" else "df")
    impl match {
      case "local" => ccLocal(keys)
      case "rdd" => ccRdd(keys, n, maxIter)
      case _ => ccDf(keys, maxIter)
    }
  }

  /** Single-task union-find for small cell sets (see
    * [[connectedComponents4]]): one `mapPartitions` task builds the id
    * set, unions each id with its +x/+y neighbors when present (the
    * −x/−y directions are those same unions seen from the other side),
    * and resolves labels with path compression, unioning by MIN so the
    * root IS the component's smallest packed id. Runs on an executor,
    * not the driver — no collect.
    */
  private def ccLocal(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select((col("x") * lit(IdShift) + col("y")).as("id")).as[Long]
      .coalesce(1)
      .mapPartitions { it =>
        val ids = new java.util.HashSet[Long]()
        it.foreach(ids.add)
        val parent = new java.util.HashMap[Long, Long]()
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
        ids.forEach { id =>
          // y+1 stays inside the same x-row iff y+1 < 2^32 (contract:
          // 0 ≤ y < 2^31, so id+1 can't alias the next row's y=0)
          if (ids.contains(id + 1L)) union(id, id + 1L)
          if (ids.contains(id + IdShift)) union(id, id + IdShift)
        }
        val out = Iterator.newBuilder[(Long, Long, Long)]
        ids.forEach(id => out += ((id / IdShift, id % IdShift, find(id))))
        out.result()
      }
      .toDF("x", "y", "cluster_id")
  }

  /** RDD micro-loop for small label sets (see [[connectedComponents4]]). */
  private def ccRdd(keys: DataFrame, n: Long, maxIter: Int): DataFrame = {
    val spark = keys.sparkSession
    val sc = spark.sparkContext
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    def stamp(what: String): Unit =
      if (debug) System.err.println(s"[cc] $what t=${System.nanoTime() / 1e9}")
    val durable = spark.conf.getOption("graft.cc.durable").contains("true")
    def truncate[T](rdd: RDD[T]): RDD[T] =
      if (durable) { rdd.checkpoint(); rdd } else rdd.localCheckpoint()

    // Partition count scales with the labeled set (~100k ids/partition),
    // capped by the cluster's parallelism; the same partitioner is
    // reused every round so all id-keyed joins are narrow.
    val numParts = spark.conf.getOption("graft.cc.partitions").map(_.toInt).getOrElse(
      math.max(1L, math.min(sc.defaultParallelism.toLong, n / 100000L + 1L)).toInt)
    val part = new HashPartitioner(numParts)
    var labels: RDD[(Long, Long)] = truncate(
      keys.rdd.map(r => r.getLong(0) * IdShift + r.getLong(1))
        .map(id => (id, id))
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // Convergence metric: the label sum as an overflow-free (hi, lo)
    // pair — hi = Σ(lbl >> 32) ≤ 2^31·n, lo = Σ(lbl & 0xffffffff) <
    // 2^32·n, so neither half wraps for any n < 2^31 and pair equality
    // ⇔ true-sum equality (a plain Long sum of 2^32-packed labels wraps
    // — or throws under ANSI — already at millions of real-zoom cells).
    def lblSum(rdd: RDD[(Long, Long)]): (Long, Long) =
      rdd.map(_._2).aggregate((0L, 0L))(
        (acc, l) => (acc._1 + (l >>> 32), acc._2 + (l & 0xffffffffL)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    var prevSum = lblSum(labels)
    stamp(s"sum0 parts=$numParts")

    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // 1. neighbor-min: each cell messages its label to itself and its 4
      // neighbors; reduceByKey(min) lands on `part`, and the narrow join
      // against the live label set drops phantom ids (messages aimed at
      // non-cells; y±1 under/overflow packs to an id outside the 0 ≤ y <
      // 2^31 contract, so it can never alias a real cell).
      val nmin = labels
        .flatMap { case (id, lbl) =>
          Iterator((id, lbl), (id + 1L, lbl), (id - 1L, lbl),
            (id + IdShift, lbl), (id - IdShift, lbl))
        }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .join(labels) // same partitioner → narrow
        .mapValues { case (m, old) => math.min(m, old): Long }
      // 2. pointer jump ×2: re-key by label (one small shuffle), look the
      // label's own label up in the co-partitioned parent table, re-key
      // back. Labels are always live cell ids, so the lookup resolves.
      def jump(cur: RDD[(Long, Long)]): RDD[(Long, Long)] =
        cur.map { case (id, lbl) => (lbl, id) }
          .partitionBy(part)
          .join(cur) // (lbl, (id, parentLbl)) — narrow vs cur
          .map { case (lbl, (id, plbl)) => (id, math.min(lbl, plbl)) }
          .partitionBy(part)
      val nminP = nmin.persist(StorageLevel.MEMORY_AND_DISK)
      val next = truncate(jump(jump(nminP)).persist(StorageLevel.MEMORY_AND_DISK))
      val s = lblSum(next) // materializes the round
      nminP.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      done = s == prevSum
      prevSum = s
      labels = next
      iter += 1
      stamp(s"round $iter sum=$s done=$done")
    }
    val rows = labels.map { case (id, lbl) => Row(id / IdShift, id % IdShift, lbl) }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false))))
  }

  /** Tungsten loop for large label sets (see [[connectedComponents4]]):
    * same algebra as [[ccRdd]] in DataFrame form — whole-stage codegen
    * and off-heap shuffle, at the cost of per-round re-planning (cheap
    * relative to the data at this size). One job per round: the lazy
    * localCheckpoint is materialized by the convergence sum.
    */
  private def ccDf(keys: DataFrame, maxIter: Int): DataFrame = {
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    // same durable/local trade the RDD loop offers: graft.cc.durable=true
    // (+ SparkContext.setCheckpointDir) survives executor loss
    def truncate(df: DataFrame, eager: Boolean): DataFrame =
      if (df.sparkSession.conf.getOption("graft.cc.durable").contains("true"))
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
    var labels = truncate(keys.withColumn("lbl", packId(col("x"), col("y"))),
      eager = true)
    // DECIMAL(38,0) sum: exact and overflow-free to ~1e19 labels. A
    // LongType sum of 2^32-packed ids would exceed 2^63 — and THROW
    // under ANSI mode (the Spark 4 default) — on any realistic
    // real-zoom input of the very sizes this path is selected for.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
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
      val next = truncate(jump(jump(ids, "p1"), "p2").drop("id"), eager = false)
      val s = lblSum(next)
      done = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
      if (debug)
        System.err.println(s"[cc-df] round $iter sum=$s done=$done t=${System.nanoTime() / 1e9}")
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
    *
    * Scale shape: one CC fixpoint over the NEW batch only (a batch is
    * orders of magnitude smaller than the accumulated state), one
    * explode×4 equi-join against `existing` for adjacency (O(4·|new|)
    * shuffle rows, never O(|existing|) fan-out), one 1-row max-id
    * broadcast, and one unpartitioned dense_rank over DISTINCT fresh
    * component labels — cardinality = number of NEW clusters in the
    * batch (solar farms, not tiles), so the single-task window is
    * bounded by the thing the pipeline is trying to find, not the data.
    * A new component bridging two existing clusters adopts the smaller
    * id and the larger survives unmerged — by design, since persisted
    * ids are immutable here and in the reference.
    */
  def incrementalClusters(existing: DataFrame, newCells: DataFrame): DataFrame = {
    val newCc = connectedComponents4(newCells).withColumnRenamed("cluster_id", "tmp")
    val nbrs = newCc.select(col("tmp"),
      explode(array(
        struct((col("x") + 1).as("x"), col("y").as("y")),
        struct((col("x") - 1).as("x"), col("y").as("y")),
        struct(col("x").as("x"), (col("y") + 1).as("y")),
        struct(col("x").as("x"), (col("y") - 1).as("y")))).as("n"))
      .select(col("tmp"), col("n.x").as("x"), col("n.y").as("y"))
    val exist = existing.select(col("x").cast("long").as("x"),
      col("y").cast("long").as("y"), col("cluster_id").cast("long").as("cluster_id"))
    val adopt = nbrs.join(exist.withColumnRenamed("cluster_id", "eid"), Seq("x", "y"))
      .groupBy("tmp").agg(min("eid").as("adopt_id"))
    val fresh = newCc.select("tmp").distinct()
      .join(adopt, Seq("tmp"), "left_anti")
      .withColumn("rk",
        dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy("tmp"))
          .cast("long"))
    val maxId = exist.agg(coalesce(max("cluster_id"), lit(0L)).as("max_id"))
    val labeledNew = newCc
      .join(adopt, Seq("tmp"), "left")
      .join(fresh, Seq("tmp"), "left")
      .crossJoin(broadcast(maxId))
      .select(col("x"), col("y"),
        coalesce(col("adopt_id"), col("max_id") + col("rk")).as("cluster_id"))
    exist.withColumn("batch", lit(1))
      .unionByName(labeledNew.withColumn("batch", lit(2)))
  }
}
