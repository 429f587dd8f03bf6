package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tiles.Clustering.{MinUnionFind, lblSum}
import graft.util.Dispatch
import graft.util.Seal._

/** Generic min-label connected components over an arbitrary undirected
  * edge list — the graph twin of the grid-specialized
  * [[graft.tiles.Clustering]] loop, used to collapse near-duplicate
  * document pairs into canonical clusters (C19).
  *
  * Size-dispatched hybrid, same rationale as `Clustering`'s local/df
  * split (`graft.gcc.impl` forces `local` or `df`):
  *  - small edge lists are LATENCY-bound: the distributed fixpoint pays
  *    3 jobs × shuffle scheduling per round for ~log4(diameter) rounds
  *    (measured 6.7 s for a 5000-vertex/0.9M-edge graph that a single
  *    union-find task closes in well under a second) — so below
  *    [[SmallGraphMax]] edges the components come from ONE
  *    `mapPartitions` task running union-find with path compression;
  *  - large graphs take the DataFrame pointer-jumping loop: neighbor-min
  *    (one edge join + partial-agg shuffle per round) then double
  *    pointer jump (label(v) ← label(label(v))), rounds ≈
  *    log4(component diameter). Per-round traffic is O(|E| + |V|); at
  *    100 TB both shuffle keys (vertex id) are high-cardinality and
  *    skew-free after the LSH supernode stage has already collapsed
  *    exact-duplicate groups. Lineage is truncated per round through
  *    [[graft.util.Seal]] (executor-local blocks by default, durable
  *    checkpoints under `graft.seal.durable=true`), the last seal lazy
  *    and materialized by the convergence sum, which runs in
  *    DECIMAL(38,0) so packed/large ids can't overflow under ANSI.
  */
object GraphCC {

  /** Edge-count threshold for the single-task union-find fast path.
    * Sized so the per-task hash maps (~48 B/entry × |touched ids| ≤
    * 2·|E|) stay well inside one executor core's working memory.
    */
  val SmallGraphMax = 2000000L

  /** vertices: one `id` column; edges: `src`, `dst` (any orientation,
    * duplicates and self-loops fine — both are normalized). Returns
    * (id, cluster_id) where cluster_id = min vertex id of the component.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 40): DataFrame = {
    // The input is sealed before either engine reads it — they would
    // otherwise re-evaluate the (possibly expensive) edge derivation
    // subtree per job. Lazy, so a rejected engine name runs no job.
    lazy val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).seal()
    Dispatch.engine(vertices.sparkSession, "graft.gcc.impl", ("local", "df"),
        e0.count() <= SmallGraphMax) match {
      case "local" => ccLocal(vertices, e0)
      case _ => ccDf(vertices, e0, maxIter)
    }
  }

  /** Single-task union-find for small edge lists (see class doc): one
    * `mapPartitions` over the coalesced edges feeds a
    * [[graft.tiles.Clustering.MinUnionFind]], so every root is its
    * component's smallest id; singleton vertices come back via the left
    * join (no edge row → label = own id). Runs on an executor, not the
    * driver — no collect.
    */
  private def ccLocal(vertices: DataFrame, e0: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val touched = e0.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val uf = new MinUnionFind
      val ids = new java.util.HashSet[Long]()
      it.foreach { case (s, d) =>
        ids.add(s)
        ids.add(d)
        uf.union(s, d)
      }
      val out = Iterator.newBuilder[(Long, Long)]
      ids.forEach(id => out += ((id, uf.find(id))))
      out.result()
    }.toDF("id", "lbl")
    vertices.select(col("id")).distinct()
      .join(touched, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** DataFrame pointer-jumping fixpoint for large graphs (class doc). */
  private def ccDf(vertices: DataFrame, e0: DataFrame, maxIter: Int): DataFrame = {
    val und = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().seal()
    var labels = vertices.select(col("id")).distinct()
      .withColumn("lbl", col("id")).seal()
    var prevSum = lblSum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // neighbor-min: push labels across edges (every dst is a real
      // vertex, so no membership filter), aggregate the incoming
      // messages, and fold them into the vertex's own label with a left
      // join + least — deliberately NOT a union of the message and label
      // frames: union children sharing attribute lineage trip Catalyst's
      // constraint rewriting. Materialized eagerly so the two pointer
      // jumps below self-join a sealed frame and plans stay O(1).
      val msgs = und
        .join(labels.select(col("id").as("src"), col("lbl").as("mlbl")), "src")
        .groupBy("dst").agg(min("mlbl").as("mlbl"))
        .withColumnRenamed("dst", "id")
      val nmin = labels.join(msgs, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("mlbl"), col("lbl"))).as("lbl"))
        .seal()
      val parents = nmin.select(col("id").as("pid"), col("lbl").as("plbl"))
      def jump(df: DataFrame, tag: String): DataFrame =
        df.as("l").join(parents.as(tag), col("l.lbl") === col(s"$tag.pid"), "left")
          .select(col("l.id").as("id"),
            least(col("l.lbl"), coalesce(col(s"$tag.plbl"), col("l.lbl"))).as("lbl"))
      val next = jump(jump(nmin, "p1"), "p2").seal(eager = false)
      val s = lblSum(next)
      done = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    labels.withColumnRenamed("lbl", "cluster_id")
  }
}
