package graft

import org.apache.spark.sql.functions._

/** Scale smoke: exercises the two iterative/skew-sensitive paths on
  * synthetic data orders of magnitude beyond the driver testdata, as
  * evidence the designs survive a scale-up (SURVEY §6):
  *
  *  - connected components on an N-cell grid world with long snaking
  *    corridors (worst-case diameter >> sqrt(N));
  *  - supernode LSH expansion on a corpus with heavy exact duplication.
  *
  * Usage: runMain graft.ScaleSmoke [cells] [docs]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val nCells = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(200000L)

    // --- CC: a W-wide serpentine — rows fully filled, alternating ends
    // connected, so the whole grid is ONE component with diameter ~N/W*2.
    val w = 2000L
    val cells = spark.range(nCells)
      .select((col("id") % w).as("x"), expr(s"id div $w").as("y"))
    var t0 = System.nanoTime()
    val cc = graft.tiles.Clustering.connectedComponents4(
      cells.filter(col("x") =!= (col("y") % 2) * (w - 1) || col("y") % 2 === 0))
    val nComp = cc.select("cluster_id").distinct().count()
    val ccRows = cc.count()
    println(f"SCALE cc cells=$ccRows components=$nComp ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- box anti-join: OSM-scale point set vs 50k cluster boxes — the
    // a13 shape via ScaleOps.boxAntiJoin (bucket equi-join, no NLJ).
    t0 = System.nanoTime()
    val boxes = spark.range(50000).select(col("id"),
      (col("id") * 7919L % 100000L).as("minx"),
      (col("id") * 7919L % 100000L + col("id") * 104729L % 64L).as("maxx"),
      (col("id") * 12347L % 100000L).as("miny"),
      (col("id") * 12347L % 100000L + col("id") * 31L % 48L).as("maxy"))
    val points = spark.range(nCells)
      .select((col("id") * 48271L % 100064L).as("px"), (col("id") * 16807L % 100064L).as("py"))
    val kept = graft.scale.ScaleOps.boxAntiJoin(boxes, Seq("id"), points, 64L).count()
    println(f"SCALE boxAntiJoin boxes=50000 points=$nCells kept=$kept " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- bucketed range join: ONE pathological user owns 20% of an
    // event stream (the skew the (user, time-cell) key exists for) —
    // the B10 shape; per-task work stays bounded by events-per-window.
    t0 = System.nanoTime()
    val nEv = nCells / 2
    val ev = spark.range(nEv).select(col("id").as("event_id"),
      when(col("id") % 5L === 0L, 0L).otherwise(col("id") % 997L).as("user_id"),
      (col("id") * 13007L % 86400000000L * 30L).as("us"),
      when(col("id") % 2L === 0L, "click").otherwise("error").as("event_type"))
    val w24 = graft.relational.Queries.RangeWindowUs
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), expr(s"us div $w24").as("cell"),
        col("event_id").as("click_id"), col("us").as("click_us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("us").as("err_us"))
      .withColumn("cell", explode(sequence(
        expr(s"(err_us - $w24) div $w24"), expr(s"err_us div $w24"))))
    val nPairs = errors.join(clicks, Seq("user_id", "cell"))
      .filter(col("click_us").between(col("err_us") - w24, col("err_us")))
      .count()
    println(f"SCALE rangeJoin events=$nEv hotUserShare=0.2 pairs=$nPairs " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- LSH supernode: nDocs docs, only ~nDocs/1000 distinct texts →
    // massive signature groups, the hot-bucket worst case.
    t0 = System.nanoTime()
    val texts = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit(s"w$i"), ((col("id") % 1000L) * (i + 1) % 97L))): _*).as("text"))
    texts.createOrReplaceTempView("scale_docs")
    import graft.dedup.MinHashLsh._
    val sigs = texts
      .select(col("doc_id"), shingleHashes(col("text")).as("ths"))
      .select(col("doc_id"), signature(col("ths")).as("sig"))
      .select(col("doc_id") +: (0 until Bands).map(bn =>
        bandHash(col("sig"), bn).as(s"bh$bn")): _*)
    val groups = sigs.groupBy("bh0", "bh1").agg(min("doc_id").as("gid"), count(lit(1)).as("k"))
    val stats = groups.agg(count(lit(1)), max("k")).head()
    println(f"SCALE lsh docs=$nDocs groups=${stats.getLong(0)} maxGroup=${stats.getLong(1)} " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- prefix-containment dedup on LONG documents: families of 50
    // docs sharing a token stream at 7 truncation lengths (1000..2200
    // tokens) — the C33 shape where the O(L²) aggregate fold would pay
    // ~5M copies per doc; rolling_hashes keeps it one pass per doc and
    // the candidate join stays an equi-join on (hash, len).
    t0 = System.nanoTime()
    val nPd = nDocs / 10
    val longDocs = spark.range(nPd)
      .select(col("id").as("doc_id"),
        concat_ws(" ", expr(
          """transform(sequence(0L, 999 + (id % 7) * 200),
            |  j -> concat('w', ((id div 50) * 31 + j) % 9973))""".stripMargin))
          .as("text"))
    val nPairs2 = graft.text.TextQueries.prefixDups(longDocs).count()
    println(f"SCALE prefixDups docs=$nPd avgToks=1600 pairs=$nPairs2 " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- bottom_k sketch collection: 25× the cell count of raw rows
    // across 1000 groups — the B15 shape; shuffle bytes stay
    // O(k·partitions·groups) because each map task folds its partition
    // into ≤k-element buffers before the exchange.
    t0 = System.nanoTime()
    val nVals = nCells * 25L
    val skRows = spark.range(nVals)
      .select((col("id") % 1000L).as("g"),
        ((col("id") * 48271L + 11L) % 2147483647L).as("h"))
      .groupBy("g").agg(graft.functions.aggs.bottom_k(col("h"), 64).as("bk"))
      .count()
    println(f"SCALE bottomK rows=$nVals groups=$skRows k=64 " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // helper for the skew cases below: run an action while recording the
    // slowest task — the straggler metric the de-skewed plans bound.
    // (result, max task ms, mean task ms): a de-skewed plan shows
    // max ≈ mean; a straggler shows max >> mean. Task duration is
    // per-task WALL time, so on a fully-parallel flat stage max can
    // legitimately approach the stage's elapsed time.
    def withMaxTask[T](f: => T): (T, Long, Long) = {
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val sumMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val nTask = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null) {
            maxMs.getAndUpdate(m => math.max(m, te.taskInfo.duration)): Unit
            sumMs.addAndGet(te.taskInfo.duration): Unit
            nTask.incrementAndGet(): Unit
          }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = f
        org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
        (r, maxMs.get, sumMs.get / math.max(1L, nTask.get))
      } finally spark.sparkContext.removeSparkListener(l)
    }

    // --- B9 as-of join under pathological user skew: ONE user owns 50%
    // of 10M events. The time-cell plan bounds any task by
    // events-per-user-per-6h-cell (~42k here), not per-lifetime (5M);
    // the reported max task time is the straggler ceiling.
    t0 = System.nanoTime()
    val nAsof = nCells * 5L
    val asofEv = spark.range(nAsof).select(
      col("id").as("event_id"),
      when(col("id") % 2L === 0L, 0L).otherwise(col("id") % 100003L).as("user_id"),
      (col("id") * 2558363L % 2592000000000L).as("us"), // wraps ~10× over 30 days of micros
      when(col("id") % 3L === 0L, "click").otherwise("error").as("event_type"))
    val (nAsofPairs, asofMaxMs, asofMeanMs) = withMaxTask(
      graft.relational.Queries.asofJoinOn(asofEv).count())
    println(f"SCALE asofJoin events=$nAsof hotUserShare=0.5 pairs=$nAsofPairs " +
      f"maxTaskMs=$asofMaxMs meanTaskMs=$asofMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- C22 exact quantiles under language skew: 90% of 10M docs in
    // one language. The histogram-CDF plan's windows see one row per
    // DISTINCT length (≤20k), so the dominant language costs the same
    // as a rare one.
    t0 = System.nanoTime()
    val docs = spark.range(nAsof).select(
      when(col("id") % 10L < 9L, lit("en"))
        .otherwise(concat(lit("l"), col("id") % 40L)).as("lang"),
      (col("id") * 7919L % 20000L).as("n_chars"))
    val (nLangs, c22MaxMs, c22MeanMs) = withMaxTask(
      graft.text.TextQueries.lengthQuantilesOn(docs).count())
    println(f"SCALE lengthQuantiles docs=$nAsof dominantShare=0.9 langs=$nLangs " +
      f"maxTaskMs=$c22MaxMs meanTaskMs=$c22MeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- C9/C20 blocked cosine self-join: the one quadratic operator.
    // N is sized so N²/2 dots are a ~minute of local compute (full N²
    // at 1M+ is a cluster-scale job BY DESIGN — c11/c18 are the
    // approximate paths); what this pins is per-task FLATNESS, which is
    // N-invariant: all CosBlocks² buckets carry (N/B)² pairs, so max
    // task time ≈ mean, no broadcast, no NLJ.
    t0 = System.nanoTime()
    val nVec = math.max(60000L, nCells / 20L)
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      expr("cast(transform(sequence(0, 15), i -> " +
        "cast((id * (i + 7919) % 1000) as double) / 500.0 - 1.0) as array<float>)")
        .as("embedding"))
      .withColumn("n2", graft.functions.vector.vec_norm2(col("embedding")))
    val (nCosPairs, cosMaxMs, cosMeanMs) = withMaxTask(
      graft.embed.EmbedQueries.cosinePairFrameOn(vecs).count())
    println(f"SCALE cosBlocked vecs=$nVec dim=16 pairs=$nCosPairs " +
      f"maxTaskMs=$cosMaxMs meanTaskMs=$cosMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- A31 incremental clustering under adoption skew: ONE persisted
    // slab cluster spanning half the grid, a new batch where the even
    // half forms a SINGLE contiguous slab gluing onto it (one 1M-cell
    // adopting component — the hot key) and the odd half lands far away
    // as ~5,000 disconnected vertical strips (5,000 fresh ids, which
    // stresses the id-continuation dense_rank too). The giant component
    // is the hot key, but adopt/fresh are component-granular frames
    // (tiny) that Spark broadcasts back over the new batch, and the
    // unpartitioned dense_rank window sees one row per NEW CLUSTER, not
    // per cell — so max task ≈ mean however big the slab gets.
    t0 = System.nanoTime()
    val wInc = 10000L
    val existing = spark.range(nCells / 2)
      .select((col("id") % wInc).as("x"), expr(s"id div $wInc").as("y"),
        lit(1L).as("cluster_id"))
    val exRows = nCells / 2 / wInc // existing slab height
    val newBatch = spark.range(nCells)
      .select(
        // even half: (id div 2) covers EVERY x, so the glued slab is one
        // connected component (x = id % wInc would couple parity to x
        // and shred it into even-x strips); odd half: odd-x strips
        when(col("id") % 2L === 0L, expr(s"(id div 2) % $wInc"))
          .otherwise(col("id") % wInc).as("x"),
        when(col("id") % 2L === 0L,
          lit(exRows) + expr(s"(id div 2) div $wInc"))
          .otherwise(lit(exRows + 1000000L) + expr(s"(id div $wInc) div 2")).as("y"))
      .distinct()
    // pin the DF fixpoint engine (the 100 TB path): the local union-find
    // the size dispatch would pick at 1M cells is a deliberate
    // single-task engine and would read as a false straggler here
    spark.conf.set("graft.cc.impl", "df")
    val (incFrame, incMaxMs, incMeanMs) = try withMaxTask {
      val r = graft.tiles.Clustering.incrementalClusters(existing, newBatch)
      val ids = r.filter(col("batch") === 2).select("cluster_id").distinct().count()
      val rows = r.count()
      (ids, rows)
    } finally spark.conf.unset("graft.cc.impl")
    println(f"SCALE incrementalCluster existing=${nCells / 2} new=${incFrame._2 - nCells / 2} " +
      f"newClusterIds=${incFrame._1} maxTaskMs=$incMaxMs meanTaskMs=$incMeanMs " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- B21 salted join under hot-key skew: ONE user owns 50% of the
    // event fact. A plain shuffle join lands every hot row on one
    // reducer (a 5M-row straggler at this size, unbounded at 100 TB);
    // ScaleOps.saltedJoin spreads the hot key over SaltBuckets reducers,
    // so max task ≈ mean. This drives the same saltedJoin code path as
    // the b21 driver query.
    t0 = System.nanoTime()
    val nSj = nCells * 5L
    val sjFact = spark.range(nSj).select(
      when(col("id") % 2L === 0L, 0L).otherwise(col("id") % 100003L).as("user_id"),
      (col("id") % 7L).as("etype"), (col("id") % 1000L).as("value_c"))
    val sjDim = spark.range(100003L).select(col("id").as("user_id"),
      (col("id") % 50L + 1L).as("n_orders"))
    val (sjGroups, sjMaxMs, sjMeanMs) = withMaxTask(
      graft.scale.ScaleOps.saltedJoin(sjFact, sjDim.hint("shuffle_hash"), "user_id",
          graft.relational.Queries.SaltBuckets, "left")
        .groupBy("etype").agg(count(lit(1)).as("n"), sum("n_orders").as("s"))
        .count())
    println(f"SCALE saltedJoin events=$nSj hotUserShare=0.5 groups=$sjGroups " +
      f"maxTaskMs=$sjMaxMs meanTaskMs=$sjMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- C51 SemDeDup pair search on K BALANCED clusters — the
    // production contract (K grows with N, k-means keeps N/K bounded):
    // every cluster is one join group carrying (N/K)²/2 pair dots, so
    // the groups fill the partitions evenly and max task ≈ mean. A
    // skewed clustering is a k-means quality problem upstream, not a
    // shape this operator can (or should) absorb.
    t0 = System.nanoTime()
    val nSd = math.max(64000L, nCells / 30L)
    val kSd = 64L
    val sdVecs = spark.range(nSd).select(col("id").as("vec_id"),
      (col("id") % kSd).as("cluster"),
      expr("cast(transform(sequence(0, 15), i -> " +
        "cast((id * (i + 104729) % 1000) as double) / 500.0 - 1.0) as array<float>)")
        .as("embedding"))
      .withColumn("n2", graft.functions.vector.vec_norm2(col("embedding")))
      .localCheckpoint()
    val (sdStats, sdMaxMs, sdMeanMs) = withMaxTask {
      val r = graft.embed.EmbedQueries.semDedupOn(sdVecs)
      (r.count(), r.filter(col("keep") === 0L).count())
    }
    println(f"SCALE semDedup vecs=$nSd clusters=$kSd rows=${sdStats._1} dropped=${sdStats._2} " +
      f"maxTaskMs=$sdMaxMs meanTaskMs=$sdMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- C53 Bloom probe at 10M train grams vs a 100k-gram test side:
    // the measured path (3-probe explode → ≤1024-row broadcast join →
    // two per-doc partial aggs) is size-independent of the TEST side —
    // the filter is ≤ m rows however many grams built it (here it
    // saturates by design; production sizes m to the test cardinality).
    t0 = System.nanoTime()
    val nBg = nCells * 5L
    val bgTrain = spark.range(nBg).select(
      (col("id") % 1000000L).as("doc_id"),
      ((col("id") * 48271L + 7L) % 1000000007L).as("gh"))
    val bgTest = spark.range(100000L)
      .select(((col("id") * 16807L + 11L) % 1000000007L).as("gh"))
    val (bgRow, bgMaxMs, bgMeanMs) = withMaxTask(
      graft.text.TextQueries.bloomScreenOn(bgTrain, bgTest)
        .agg(sum("n_grams").as("g"), sum("bloom_hits").as("bh"), sum("exact_hits").as("eh"))
        .head())
    println(f"SCALE bloomScreen trainGrams=$nBg testGrams=100000 " +
      f"grams=${bgRow.getLong(0)} bloomHits=${bgRow.getLong(1)} exactHits=${bgRow.getLong(2)} " +
      f"maxTaskMs=$bgMaxMs meanTaskMs=$bgMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- C67 incremental dedup under duplicate-text skew: 10M docs,
    // ONE boilerplate text owning HALF the corpus (the empty-page /
    // cookie-banner flood every crawl has). The claim under test: both
    // dedup aggregates collapse the hot text map-side (min-id partial
    // agg), and the text-key join's build side carries one row per
    // DISTINCT text — so the flood cannot straggler any task.
    t0 = System.nanoTime()
    val nInc = nCells * 5L
    val incDocs = spark.range(nInc).select(col("id").as("doc_id"),
      when(col("id") % 2L === 0L, lit("the hot boilerplate duplicate text"))
        .otherwise(concat(lit("unique doc "), col("id"))).as("text"))
    val (incRows, idMaxMs, idMeanMs) = withMaxTask(
      graft.text.TextQueries.incrementalDedupOn(incDocs)
        .groupBy("status").count().orderBy("status").collect())
    val incBy = incRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    require(incBy.values.sum == nInc - (nInc - 1) / 2, s"batch size wrong: $incBy")
    require(incBy.getOrElse("dup_old", 0L) == nInc / 4, s"hot-text dups wrong: $incBy")
    println(f"SCALE incDedup docs=$nInc statuses=$incBy " +
      f"maxTaskMs=$idMaxMs meanTaskMs=$idMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- A36 quadtree cover on a 10M-tile filled slab + a ragged edge
    // row: drives the REAL mixedCoverOn body. The shape claim under
    // test: each level is one partial-agg shuffle that SHRINKS data 4×
    // (interiors collapse to z19 super-quads, only the ragged strip
    // stays at z21), so the output is a small fraction of the input
    // and no task ever holds more than its hash-range of parent cells.
    t0 = System.nanoTime()
    val cw = 3200L
    val ch = nCells * 5L / cw // 10M tiles at the default nCells
    val slab = spark.range(cw * ch).select(lit(0L).as("poly"),
      (col("id") % cw).as("x"), expr(s"id div $cw").as("y"))
    val ragged = spark.range(cw / 2).select(lit(0L).as("poly"),
      (col("id") * 2L).as("x"), lit(ch).as("y"))
    val (covRow, covMaxMs, covMeanMs) = withMaxTask(
      graft.tiles.GeoQueries.mixedCoverOn(slab.union(ragged))
        .agg(count(lit(1)).as("cells"), sum("n_tiles").as("tiles")).head())
    val (covCells, covTiles) = (covRow.getLong(0), covRow.getLong(1))
    require(covTiles == cw * ch + cw / 2, s"cover lost tiles: $covTiles")
    require(covCells < covTiles / 10, s"no compression: $covCells cells")
    println(f"SCALE mixedCover tiles=$covTiles cells=$covCells " +
      f"maxTaskMs=$covMaxMs meanTaskMs=$covMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- A37 RLE on a 10M-tile slab with periodic holes (every 5th
    // column missing → ~cw/5 runs per row): drives the REAL rleOn
    // body. The shape claim under test: the only window partitions by
    // (poly, y) and is bounded by the row WIDTH however tall the slab
    // grows, so max task ≈ mean (no row is hotter than another), and
    // the run count is exactly rows × holes-per-row — a 4:1 interval
    // compression here, arbitrarily higher on solid coverage.
    t0 = System.nanoTime()
    val holey = spark.range(cw * ch).select(lit(0L).as("poly"),
      (col("id") % cw).as("x"), expr(s"id div $cw").as("y"))
      .filter(col("x") % 5L =!= 4L)
    val (rleRow, rleMaxMs, rleMeanMs) = withMaxTask(
      graft.tiles.GeoQueries.rleOn(holey)
        .agg(count(lit(1)).as("runs"), sum("run_len").as("tiles")).head())
    require(rleRow.getLong(1) == cw * ch / 5L * 4L, s"RLE lost tiles: ${rleRow.getLong(1)}")
    require(rleRow.getLong(0) == ch * cw / 5L, s"unexpected run count: ${rleRow.getLong(0)}")
    println(f"SCALE tileRle tiles=${rleRow.getLong(1)} runs=${rleRow.getLong(0)} " +
      f"maxTaskMs=$rleMaxMs meanTaskMs=$rleMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- tilerange generation throughput: a 100M-tile bbox fully
    // generated and aggregated (count + coordinate checksum) through
    // the DSv2 reader; the closed-form COUNT path is spec-proven
    // separately, this measures the per-row generation loop.
    t0 = System.nanoTime()
    val side = math.max(1000L, math.min(10000L, math.round(math.sqrt(nCells.toDouble * 50))))
    val tiles = spark.read.format("tilerange")
      .option("minX", 0).option("maxX", side - 1)
      .option("minY", 0).option("maxY", side - 1)
      .option("zoom", 21).option("partitions", 64)
      .load()
    val cs = tiles.agg(sum(col("x") + col("y"))).head().getLong(0)
    println(f"SCALE tilerange tiles=${side * side} checksum=$cs " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- committed MERGE at volume (the B43 connector path): seed a
    // 2M-row table, merge a 1.5M-update batch (1M matched updates +
    // 0.5M inserts) through Spark's full RewriteMergeIntoTable →
    // ReplaceData pipeline. Exact-count checked; the cost under test
    // is the copy-on-write rewrite of the single group — the honest
    // whole-table cost a sharded store confines to touched groups.
    t0 = System.nanoTime()
    val nSeed = math.max(nCells / 4, 100000L)
    spark.sql("DROP TABLE IF EXISTS graft.scale_merge")
    spark.sql("CREATE TABLE graft.scale_merge (k BIGINT, n BIGINT)")
    spark.range(nSeed).selectExpr("id AS k", "id AS n")
      .writeTo("graft.scale_merge").append()
    spark.range(nSeed / 2, nSeed + nSeed / 4)
      .selectExpr("id AS k", "id * 2 AS n").createOrReplaceTempView("scale_merge_up")
    spark.sql(
      """MERGE INTO graft.scale_merge t USING scale_merge_up u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin)
    val mergedCnt = spark.table("graft.scale_merge").count()
    require(mergedCnt == nSeed + nSeed / 4, s"merge row count $mergedCnt")
    spark.sql("DROP TABLE graft.scale_merge")
    println(f"SCALE mergeCommitted seed=$nSeed merged=$mergedCnt " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- one-pass BPE apply (the C96 expression) with a 64-merge table
    // over 2M synthetic docs: scan-stage only, so max task ≈ mean —
    // the claim is that apply cost is flat per-row work with zero
    // shuffle, however long the merge list grows (K sequential passes
    // per doc here; a production 32k-merge kernel swaps in the
    // pair-heap variant behind the same expression contract).
    t0 = System.nanoTime()
    val mergeTab = (0 until 64).map(i => (s"t${i % 8}", s"t${(i / 8) % 8}"))
    val nBpeDocs = math.max(nCells / 4, 100000L)
    val bpeDocs = spark.range(nBpeDocs).select(col("id").as("doc_id"),
      expr("""concat_ws(' ', transform(sequence(0, 31),
              i -> concat('t', CAST((id + i) % 11 AS STRING))))""").as("text"))
    val (bpeRow, bpeMaxMs, bpeMeanMs) = withMaxTask(
      graft.text.TextQueries.bpeSegmentStatCols(bpeDocs, mergeTab)
        .agg(sum("n_toks").as("toks"), sum("seq_fp").as("fp")).head())
    println(f"SCALE bpeApply docs=$nBpeDocs merges=64 toks=${bpeRow.getLong(0)} " +
      f"maxTaskMs=$bpeMaxMs meanTaskMs=$bpeMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- retrieval doc-norm build (C99 run-B's only corpus-sized new
    // work) on a token stream where ONE head token owns 90% of all
    // occurrences (the natural-language worst case): the (doc, token)
    // tf agg and the doc-keyed norm agg are both map-side combinable,
    // so the hot token collapses per-partition before any shuffle, and
    // the df lookup joins against the vocab-sized stats frame as a
    // broadcast — no skewed shuffle key anywhere.
    t0 = System.nanoTime()
    val nTokRows = math.max(nCells / 2, 100000L)
    val nRetDocs = nTokRows / 32L
    val rtoks = spark.range(nTokRows).select(
      (col("id") % nRetDocs).as("doc_id"),
      when(col("id") % 10L =!= 0L, lit("the"))
        .otherwise(concat(lit("w"), (col("id") % 5003L).cast("string"))).as("token"))
    val rtf = rtoks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val rdf = rtf.groupBy("token").agg(count(lit(1)).as("df"))
    val (normRow, rMaxMs, rMeanMs) = withMaxTask(
      rtf.join(broadcast(rdf), "token")
        .withColumn("w2_nano", round(
          expr(s"(tf * ln(cast($nRetDocs as double) / df))" +
            s" * (tf * ln(cast($nRetDocs as double) / df))") * lit(1e9), 0)
          .cast("long"))
        .groupBy("doc_id").agg(sum("w2_nano").as("norm2_nano"))
        .agg(count(lit(1)).as("n"), sum("norm2_nano").as("chk")).head())
    require(normRow.getLong(0) == nRetDocs, s"norm rows ${normRow.getLong(0)}")
    println(f"SCALE retrievalNorms tokenRows=$nTokRows docs=$nRetDocs hotTokenShare=0.9 " +
      f"maxTaskMs=$rMaxMs meanTaskMs=$rMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- calibration bucket agg (the C101 shape) where 99% of docs
    // land in ONE confidence bucket (the realistic post-training
    // distribution): the agg keys onto a 10-value space, map-side
    // combine collapses the hot bucket per-partition; and the D29
    // leaderboard merge property checked at volume — topK of the
    // per-slice topKs equals the global topK on an adversarial
    // even/odd slicing.
    t0 = System.nanoTime()
    val nCal = math.max(nCells / 2, 100000L)
    val scoredCal = spark.range(nCal).select(col("id").as("doc_id"),
      when(col("id") % 100L =!= 0L, (col("id") % 50000L) + 950000L)
        .otherwise(col("id") % 900000L).as("conf_micro"),
      (col("id") % 3L === 0L).cast("long").as("pos"))
    val (calRows, cMaxMs, cMeanMs) = withMaxTask(
      scoredCal
        .withColumn("bucket", least(expr("conf_micro div 100000"), lit(9L)))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"),
          sum("conf_micro").as("sum_conf"), sum("pos").as("n_pos"))
        .collect())
    require(calRows.map(_.getAs[Long]("n_docs")).sum == nCal)
    val hotShare = calRows.map(_.getAs[Long]("n_docs")).max * 100L / nCal
    def top20(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy(col("conf_micro").desc, col("doc_id")).limit(20)
        .select("doc_id", "conf_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tAll = top20(scoredCal)
    val tEven = top20(scoredCal.filter(col("doc_id") % 2L === 0L))
    val tOdd = top20(scoredCal.filter(col("doc_id") % 2L === 1L))
    val merged = (tEven ++ tOdd).sortBy { case (id, s) => (-s, id) }.take(20)
    require(merged == tAll, "top-k merge property violated")
    println(f"SCALE calibrationTopk docs=$nCal hotBucketPct=$hotShare " +
      f"maxTaskMs=$cMaxMs meanTaskMs=$cMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- degree-ordered triangle counting (the C104 core) on a graph
    // with ONE celebrity hub: a star of H spokes (the naive
    // node-iterator would materialize H²/2 ≈ 2·10¹⁰ wedges at the hub)
    // plus T disjoint triangles. Orientation low-(deg,id) → high means
    // the hub's edges all point IN, so the star contributes ZERO
    // wedges and the whole run is bounded by the honest triangle work;
    // exact closed-form counts verify correctness at volume.
    t0 = System.nanoTime()
    val hubSpokes = math.max(nCells / 10, 100000L)
    val nTri = math.max(nCells / 30, 30000L)
    // node ids: hub = 0, spokes = 1..H, triangle nodes = H+1 .. H+3T
    val starEdges = spark.range(1, hubSpokes + 1)
      .select(lit(0L).as("vec_a"), col("id").as("vec_b"))
    val triBase = spark.range(nTri).select((col("id") * 3L + hubSpokes + 1L).as("n0"))
    val triEdges = triBase.select(col("n0").as("vec_a"), (col("n0") + 1L).as("vec_b"))
      .unionByName(triBase.select(col("n0").as("vec_a"), (col("n0") + 2L).as("vec_b")))
      .unionByName(triBase.select((col("n0") + 1L).as("vec_a"), (col("n0") + 2L).as("vec_b")))
    val (degF, triF) = graft.embed.EmbedQueries.triangleCounts(
      starEdges.unionByName(triEdges))
    val (triAgg, tMaxMs, tMeanMs) = withMaxTask(
      triF.agg(sum("tri").as("tri_sum"), count(lit(1)).as("n_nodes")).head())
    require(triAgg.getLong(0) == 3L * nTri,
      s"triangle mass ${triAgg.getLong(0)} != ${3L * nTri}")
    require(triAgg.getLong(1) == 3L * nTri, s"tri nodes ${triAgg.getLong(1)}")
    val hubDeg = degF.filter(col("id") === 0L).head().getLong(1)
    require(hubDeg == hubSpokes, s"hub degree $hubDeg")
    println(f"SCALE triangleHub spokes=$hubSpokes tris=$nTri " +
      f"maxTaskMs=$tMaxMs meanTaskMs=$tMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- HLL registers at volume (the C107 aggregate): nCells hashed
    // string values with a KNOWN distinct count — state per task is the
    // fixed 256-byte register buffer regardless of row count (the
    // mergeable-summary contract: only m-byte buffers cross the wire),
    // and the estimate must land within the m=256 error envelope
    // (σ ≈ 1.04/√256 = 6.5%; require < 3σ) against the closed-form
    // truth. str_poly_hash runs inside the scan stage (codegen).
    t0 = System.nanoTime()
    val nHll = math.max(nCells, 1000000L)
    val kDistinct = nHll / 20
    val hdf = spark.range(nHll).select(
      graft.functions.hashes.str_poly_hash(
        concat(lit("v"), (col("id") % kDistinct).cast("string"))).as("h"))
    val (hllRow, hMaxMs, hMeanMs) = withMaxTask(
      graft.text.TextQueries.hllFinalize(
        hdf.agg(graft.functions.aggs.hll_registers(col("h"), 8).as("regs")))
        .select(col("est"), col("n_zero")).head())
    val hllEst = hllRow.getDouble(0)
    require(math.abs(hllEst - kDistinct) / kDistinct < 0.195,
      s"hll estimate $hllEst vs true $kDistinct breaches 3 sigma")
    println(f"SCALE hllDistinct rows=$nHll distinct=$kDistinct est=$hllEst%.0f " +
      f"maxTaskMs=$hMaxMs meanTaskMs=$hMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- native AsOfJoinExec on the SAME skewed frame the b9 pin used:
    // the custom exec must produce the identical pair count at 10M
    // events — and its per-key sort honestly EXPOSES the hot-user
    // straggler the celled rewrite bounds (max vs mean task time is
    // the documented tradeoff, not a bug: the exec is the general
    // operator, the cell rewrite the hot-key escape hatch).
    t0 = System.nanoTime()
    val anErrors = asofEv.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("us").as("err_us"))
    val anClicks = asofEv.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("us").as("click_us"))
    val (nNativePairs, anMaxMs, anMeanMs) = withMaxTask(
      graft.plans.AsOfJoin.asof(anErrors, anClicks,
        "user_id", "c_user", "err_us", "click_us", "click_id").count())
    require(nNativePairs == nAsofPairs,
      s"native asof $nNativePairs != celled rewrite $nAsofPairs")
    println(f"SCALE asofNative events=$nAsof hotUserShare=0.5 pairs=$nNativePairs " +
      f"maxTaskMs=$anMaxMs meanTaskMs=$anMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- covariance moment pass (the C112/D32 shape) at nVec 64-dim
    // vectors: the Dims²-per-row flattened-transform fanout is the
    // scale risk — map-side combine must collapse ~nVec·4096 cell rows
    // to 4096 groups with flat tasks. Elements are exact milli ints by
    // construction, so a direct single-cell agg cross-checks the
    // moment table exactly.
    t0 = System.nanoTime()
    val nCov = math.max(nCells / 20L, 50000L)
    val dims = 64
    val vdf = spark.range(nCov).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dims - 1}), d -> CAST((id * 13 + d * 7) % 1000 AS BIGINT))")
        .as("q"))
    val cells64 = vdf.select(expr(
      s"""explode(concat(
         |  flatten(transform(q, (qi, i) -> transform(q, (qj, j) ->
         |    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, qi * qj AS p)))),
         |  transform(q, (qi, i) ->
         |    struct(CAST(i AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j, qi AS p)),
         |  array(struct(CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
         |    CAST(1 AS BIGINT) AS p))))""".stripMargin).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
    val (momRows, cvMaxMs, cvMeanMs) = withMaxTask(
      cells64.groupBy("i", "j").agg(sum("p").as("s")).collect())
    val moments = momRows.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    require(moments.size == dims * dims + dims + 1, s"cells ${moments.size}")
    require(moments((-1L, -1L)) == nCov)
    for (i <- 0 until dims; j <- 0 until i)
      require(moments((i.toLong, j.toLong)) == moments((j.toLong, i.toLong)))
    val spot = vdf.agg(sum(expr("q[4] * q[8]"))).head().getLong(0)
    require(moments((4L, 8L)) == spot, s"spot ${moments((4L, 8L))} != $spot")
    println(f"SCALE covMoments vecs=$nCov dims=$dims cells=${moments.size} " +
      f"maxTaskMs=$cvMaxMs meanTaskMs=$cvMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- the round-11 production shape for the same moments: ONE
    // moment_matrix aggregate — each map task folds its partition into
    // a fixed 33 KB buffer and only buffers cross the wire (the D32
    // fix: the exploded form above shuffles nVec·4161 cell rows; here
    // shuffle bytes are O(dims²·partitions), row-count independent).
    // The exploded table doubles as the independent verifier: every
    // one of the 4,161 sums must match bit-for-bit.
    t0 = System.nanoTime()
    val (mmArr, mmMaxMs, mmMeanMs) = withMaxTask(
      vdf.agg(graft.functions.aggs.moment_matrix(col("q"), dims).as("mm"))
        .head().getSeq[Long](0))
    require(mmArr.length == dims * dims + dims + 1, s"mm len ${mmArr.length}")
    require(mmArr.head == nCov, s"mm n ${mmArr.head} != $nCov")
    for (i <- 0 until dims)
      require(mmArr(1 + i) == moments((i.toLong, -1L)), s"mm sx $i")
    for (i <- 0 until dims; j <- 0 until dims)
      require(mmArr(1 + dims + i * dims + j) == moments((i.toLong, j.toLong)),
        s"mm sxy ($i,$j)")
    println(f"SCALE momentMatrix vecs=$nCov dims=$dims bufLongs=${mmArr.length} " +
      f"maxTaskMs=$mmMaxMs meanTaskMs=$mmMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- simplify-polygon fold (the A44 kernel) at volume: per-shape
    // work is O(1) (≤ 7 vertices), so the fold must scale linearly in
    // shape count with flat tasks — ONE narrow shuffle, no joins, no
    // checkpoints. Shapes cycle through 5 deterministic heptagon
    // classes, so determinism pins as exactly one distinct output
    // tuple per class.
    t0 = System.nanoTime()
    val nShapes = math.max(nCells / 10L, 100000L)
    val shapeVerts = spark.range(nShapes * 7L).select(
      expr("id div 7").as("shape_id"),
      ((col("id") % 7L) * 13L % 97L).as("vx"),
      (((col("id") % 7L) * 31L + expr("id div 7") % 5L * 7L) % 89L).as("vy"))
    val folded = shapeVerts.groupBy("shape_id")
      .agg(collect_list(struct(col("vx"), col("vy"))).as("verts"))
      .select(col("shape_id"), graft.functions.geo
        .simplify_polygon_stats(col("verts"), 6L, 24L, 5).as("st"))
      .filter(col("st.n_hull") >= 3)
    val (spRows, spMaxMs, spMeanMs) = withMaxTask(
      folded.groupBy(expr("shape_id % 5").as("cls"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("st.n_hull"), col("st.hull_area2"),
            col("st.n_kept"), col("st.simp_area2"), col("st.l1_perim"),
            col("st.buf_area2")).as("nd"))
        .collect())
    require(spRows.map(_.getAs[Long]("n")).sum == nShapes,
      s"simplifyFold folded ${spRows.map(_.getAs[Long]("n")).sum} of $nShapes shapes")
    spRows.foreach(r => require(r.getAs[Long]("nd") == 1L,
      s"class ${r.get(0)} output not deterministic"))
    println(f"SCALE simplifyFold shapes=$nShapes classes=${spRows.length} " +
      f"maxTaskMs=$spMaxMs meanTaskMs=$spMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- CDC chunking (the C127 kernel) at volume: boundaries, spans
    // and fingerprints are per-doc array HOFs — scan-stage, ZERO
    // shuffle before the (fp, clen) agg, so tasks must stay flat. The
    // partition property is the exact invariant: chunks tile the token
    // stream, so Σ clen == total tokens bit-exactly, and xxhash64-mixed
    // tokens guarantee boundaries genuinely fire (~2 extra chunks/doc).
    t0 = System.nanoTime()
    val nCdc = math.max(nCells / 10L, 100000L)
    val cdcDocs = spark.range(nCdc).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, 63), " +
        "i -> concat('t', pmod(xxhash64(id, i), 100000))), ' ')").as("text"))
    val (cdcRow, cdMaxMs, cdMeanMs) = withMaxTask(
      graft.text.TextQueries.cdcChunkFrame(cdcDocs, Seq("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum("clen").as("n_tokens")).head())
    val (cdcChunks, cdcToks) = (cdcRow.getLong(0), cdcRow.getLong(1))
    require(cdcToks == 64L * nCdc,
      s"CDC chunks do not tile the token stream: $cdcToks != ${64L * nCdc}")
    require(cdcChunks > nCdc, s"no CDC boundary ever fired ($cdcChunks chunks)")
    println(f"SCALE cdcChunks docs=$nCdc chunks=$cdcChunks " +
      f"maxTaskMs=$cdMaxMs meanTaskMs=$cdMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- WordPiece greedy apply (the C119 kernel) at volume: the
    // native expression must stay a flat scan-stage pass — per-word
    // cost is O(len·maxPieceLen) hash lookups, zero joins/shuffles.
    // The synthetic doc has a closed-form tokenization (greedy picks
    // 'ab' then '##ab' / '##c'), so the aggregate piece count is exact.
    t0 = System.nanoTime()
    val nWp = math.max(nCells / 4L, 100000L)
    val wpChars = Seq("a", "b", "c", "x")
    val wpInit = wpChars ++ Seq("ab")
    val wpCont = wpChars ++ Seq("ab")
    // per doc: "abab abc x" ×5 → 15 words; abab→2, abc→2, x→1 = 5 per
    // triple → 25 pieces per doc
    val wpDocs = spark.range(nWp).select(col("id"),
      lit(Seq.fill(5)("abab abc x").mkString(" ")).as("text"))
    val (wpPieces, wpMaxMs, wpMeanMs) = withMaxTask(
      wpDocs.select(graft.functions.textseg
          .wordpiece_segment(col("text"), wpInit, wpCont).as("p"))
        .agg(sum(size(col("p")).cast("long"))).head().getLong(0))
    require(wpPieces == nWp * 25L, s"wordpiece pieces $wpPieces != ${nWp * 25L}")
    println(f"SCALE wordpiece docs=$nWp pieces=$wpPieces " +
      f"maxTaskMs=$wpMaxMs meanTaskMs=$wpMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- unigram-LM Viterbi apply (the C132 kernel) at volume: the
    // same flat scan-stage contract as the wordpiece pin — per-word
    // forward DP, zero joins/shuffles. Costs make 'ab' (-2.0) beat
    // a+b (-1.2 + -1.3 = -2.5), so the doc has a closed-form decode:
    // abab→ab|ab, abc→ab|c, x→x = 5 pieces per triple, 25 per doc.
    t0 = System.nanoTime()
    val uniPieces = Seq("a", "b", "c", "x", "ab")
    val uniCosts = Seq(-1200000L, -1300000L, -1400000L, -1100000L, -2000000L)
    val (uniN, unMaxMs, unMeanMs) = withMaxTask(
      wpDocs.select(graft.functions.textseg
          .unigram_segment(col("text"), uniPieces, uniCosts).as("p"))
        .agg(sum(size(col("p")).cast("long"))).head().getLong(0))
    require(uniN == nWp * 25L, s"unigram pieces $uniN != ${nWp * 25L}")
    println(f"SCALE unigram docs=$nWp pieces=$uniN " +
      f"maxTaskMs=$unMaxMs meanTaskMs=$unMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- shuffle-form dedup scoring (the round-12 broadcast dispatch)
    // ABOVE the gate: a fully diverse corpus (reps == docs, consecutive
    // ids near-dup) with graft.dedup.maxBcastReps forced under the rep
    // count, so the set-rep joins run as plain equi-joins — the form a
    // 100 TB corpus takes. Flat tasks prove no per-task corpus-sized
    // build; the hinted run at default gates must emit the identical
    // edge set (the dispatch is an optimization, never semantics).
    t0 = System.nanoTime()
    val nDv = math.max(nDocs / 2L, 100000L)
    val dvDocs = spark.range(nDv).select(col("id").as("doc_id"),
      concat(concat_ws(" ", expr(
          "transform(sequence(0, 9), k -> concat('w', ((id div 2) * (k + 3)) % 9973))")),
        lit(" tail"), col("id") % 2L).as("text")).localCheckpoint(true)
    spark.conf.set("graft.dedup.maxBcastReps", (nDv / 2).toString)
    spark.conf.set("graft.dedup.maxBcastGroups", (nDv / 2).toString)
    val (shufEdges, dsMaxMs, dsMeanMs) = try withMaxTask(
      graft.dedup.DedupQueries.scoredRepPairsFor(dvDocs, 0.5)
        .agg(count(lit(1)), sum(col("src") + col("dst"))).head())
      finally {
        spark.conf.unset("graft.dedup.maxBcastReps")
        spark.conf.unset("graft.dedup.maxBcastGroups")
      }
    val (hintEdges, _, _) = withMaxTask(
      graft.dedup.DedupQueries.scoredRepPairsFor(dvDocs, 0.5)
        .agg(count(lit(1)), sum(col("src") + col("dst"))).head())
    // candidacy per family is deterministic-but-not-closed-form (each
    // pair's band agreement depends on its own minhashes; J=5/6 ⇒
    // ~40% of families are LSH candidates), so the pins are: the two
    // forms agree bit-exactly, the edge set is non-trivial, and tasks
    // stay flat — no per-task corpus-sized build in the shuffle form.
    require(shufEdges.getLong(0) > 0L, "degenerate fixture: no scored edges")
    require(shufEdges.getLong(0) == hintEdges.getLong(0)
        && shufEdges.getLong(1) == hintEdges.getLong(1),
      s"dispatch changed the edge set: $shufEdges vs $hintEdges")
    println(f"SCALE dedupShuffleForm docs=$nDv reps=$nDv edges=${shufEdges.getLong(0)} " +
      f"maxTaskMs=$dsMaxMs meanTaskMs=$dsMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- cross-snapshot OWNER screen (the d38 kernel) on a dup-heavy
    // ~10× snapshot pair: nDocs docs, only ~1000 distinct texts,
    // midpoint cut. The owner-compressed store emits ≤ Bands rows per
    // arriving doc BY CONSTRUCTION (pinned), while the raw member-join
    // counterfactual is quadratic — its pair mass (Σ_bucket k_old·m_new,
    // computed from COUNTS here, never materialized) is printed as the
    // avoided blowup. Tasks must stay flat: owner compression leaves no
    // hot bucket for a straggler to form on.
    t0 = System.nanoTime()
    val snapDocs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"s$i"), (col("id") % 1000L) * (i + 7) % 89L)): _*).as("text"))
      .localCheckpoint(true)
    val cut38 = nDocs / 2
    val oldRows = graft.dedup.DedupQueries.bandRowsOn(
      snapDocs.filter(col("doc_id") < cut38))
    val store38 = oldRows.groupBy("band", "bh").agg(min("doc_id").as("owner"))
      .localCheckpoint(true)
    val newRows = graft.dedup.DedupQueries.bandRowsOn(
        snapDocs.filter(col("doc_id") >= cut38))
      .localCheckpoint(true)
    val (nHits38, d38MaxMs, d38MeanMs) = withMaxTask(
      newRows.join(store38, Seq("band", "bh")).count())
    val nNew38 = nDocs - cut38
    val bandsN = Bands.toLong // graft.dedup.MinHashLsh.Bands (imported above)
    require(nHits38 <= nNew38 * bandsN,
      s"owner screen emitted $nHits38 rows > newDocs·Bands = ${nNew38 * bandsN}")
    require(nHits38 > 0L, "degenerate fixture: no cross-snapshot hits at all")
    val pairMass38 = oldRows.groupBy("band", "bh").agg(count(lit(1)).as("k"))
      .join(newRows.groupBy("band", "bh").agg(count(lit(1)).as("m")), Seq("band", "bh"))
      .agg(sum(col("k") * col("m"))).head.getLong(0)
    require(pairMass38 > nHits38 * 100L,
      s"fixture not dup-heavy enough to witness the avoided quadratic " +
        s"(pairs=$pairMass38 vs hits=$nHits38)")
    println(f"SCALE snapshotOwnerScreen docs=$nDocs newDocs=$nNew38 hits=$nHits38 " +
      f"avoidedPairRows=$pairMass38 maxTaskMs=$d38MaxMs meanTaskMs=$d38MeanMs " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- cross-snapshot SEMANTIC screen (the d40 kernel) at ~10× the
    // sf0.1 embeddings table: balanced K-cluster corpus, frozen
    // cluster-keyed member store, stream side assigns map-side and
    // equi-joins on the cluster id. Within-cluster vectors are
    // IDENTICAL (cos = 1, the dup-heavy worst case), so every
    // candidate passes the threshold and the emitted row count equals
    // the exact N/K-bounded candidate mass Σ_cluster m_new·k_old —
    // pinned closed-form. Flat tasks: the cluster key is balanced by
    // construction and the join carries no per-task corpus-sized build.
    t0 = System.nanoTime()
    import graft.functions.vector.{vec_dot, vec_norm2}
    val kCl = 64L
    val nVec40 = math.max(nDocs / 2L / 128L * 128L, 102400L)
    val vecs40 = spark.range(nVec40).select(col("id").as("vec_id"),
      (col("id") % kCl).as("cluster"),
      expr("transform(sequence(0, 15), " +
        "j -> cast(cast(((id % 64) * 31 + j * 7) % 97 + 1 as double) / 97.0 as float))")
        .as("embedding"))
    val cut40 = nVec40 / 2
    val store40 = vecs40.filter(col("vec_id") < cut40)
      .select(col("vec_id").as("corpus_id"), col("cluster"),
        col("embedding").as("ce"), vec_norm2(col("embedding")).as("cn"))
      .localCheckpoint(true)
    val fresh40 = vecs40.filter(col("vec_id") >= cut40)
      .select(col("vec_id").as("new_id"), col("cluster"),
        col("embedding").as("ne"), vec_norm2(col("embedding")).as("nn"))
    val (nMatch40, d40MaxMs, d40MeanMs) = withMaxTask(
      fresh40.join(store40, Seq("cluster"))
        .select(graft.embed.EmbedQueries.cosine(
          vec_dot(col("ne"), col("ce")), col("nn"), col("cn")).as("cos"))
        .filter(col("cos") >= graft.embed.EmbedQueries.CosThreshold)
        .count())
    val expect40 = (cut40 / kCl) * ((nVec40 - cut40) / kCl) * kCl
    require(nMatch40 == expect40,
      s"semantic screen emitted $nMatch40 rows, expected the exact " +
        s"within-cluster candidate mass $expect40")
    println(f"SCALE snapshotSemScreen vecs=$nVec40 clusters=$kCl matches=$nMatch40 " +
      f"maxTaskMs=$d40MaxMs meanTaskMs=$d40MeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- perceptual fingerprint fold (the d41 stream side) on a 10×
    // corpus of longer payloads: the stride-sequence fold must stay
    // bit-identical to the explode+agg store plan at scale, with flat
    // tasks (no per-row blowup — each byte is read once across the 48
    // block folds). The explode side is the heavy half here; the fold
    // is the one that must not regress to the 96-pass filter form.
    t0 = System.nanoTime()
    val nPf = math.max(nDocs / 4L, 50000L)
    val pfDocs = spark.range(nPf).select(col("id").as("doc_id"),
      concat_ws(" ", expr(
        "transform(sequence(0L, 59), j -> concat('w', ((id % 1000) * 31 + j) % 997))"))
        .as("text"))
      .localCheckpoint(true)
    val (pfRow, pfMaxMs, pfMeanMs) = withMaxTask {
      val folded = graft.multimodal.Multimodal.withPhashFold(pfDocs)
        .select(col("doc_id"), col("phash"))
      val exploded = graft.multimodal.Multimodal.phashOn(pfDocs)
        .withColumnRenamed("phash", "p2")
      folded.join(exploded, "doc_id")
        .agg(count(lit(1)),
          sum(when(col("phash") === col("p2"), 1L).otherwise(0L))).head()
    }
    require(pfRow.getLong(0) == nPf && pfRow.getLong(1) == nPf,
      s"fold/explode fingerprints disagree at scale: $pfRow of $nPf")
    println(f"SCALE phashFold docs=$nPf chars=~300 maxTaskMs=$pfMaxMs " +
      f"meanTaskMs=$pfMeanMs ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- batch perceptual screen (the c126 class-algebra kernel) on a
    // dup-heavy corpus: nDocs docs collapse onto ~1000 distinct texts,
    // the regime where the doc-level band self-join materializes
    // Σ_bucket k·(k−1)/2 member pairs (quadratic in class size). The
    // class form's join must move only distinct-phash collision rows —
    // pinned ≪ the member-pair mass (both computed from COUNTS; the
    // member mass is never materialized) — with flat tasks and the
    // full member-level candidate arithmetic still present in the
    // OUTPUT (sum(n_cand) = 2 × distinct member pairs ≥ within-class
    // mass, proving the algebra did the counting the join no longer
    // pays for).
    t0 = System.nanoTime()
    val c126Docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr(
          "transform(sequence(0L, 23), j -> concat('p', ((id % 1000) * 53 + j * 17) % 991))"))
          .as("text"))
      .localCheckpoint(true)
    val ph126 = graft.multimodal.Multimodal.phashOn(c126Docs).localCheckpoint(true)
    val cl126 = ph126.groupBy("phash").agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val nCl126 = cl126.count()
    val cb126 = graft.multimodal.Multimodal.bandsOf(cl126, col("cnt"))
    val crossRows = cb126.as("a").join(cb126.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.phash") =!= col("b.phash"))
      .select(col("a.phash"), col("b.phash")).distinct().count()
    val memberPairs = graft.multimodal.Multimodal.phashBands(ph126)
      .groupBy("k", "bv").agg(count(lit(1)).as("kk"))
      .agg(sum(expr("CAST(kk AS DECIMAL(38,0)) * (kk - 1) / 2")))
      .head.getDecimal(0).longValueExact()
    val (c126Row, c126MaxMs, c126MeanMs) = withMaxTask(
      graft.multimodal.Multimodal.phashCandCounts(c126Docs)
        .agg(count(lit(1)), sum("n_cand")).head())
    require(c126Row.getLong(0) == nDocs,
      s"c126 emitted ${c126Row.getLong(0)} rows, expected one per doc ($nDocs)")
    require(c126Row.getLong(1) / 2 >= memberPairs / 4,
      s"candidate arithmetic lost the member mass: sum(n_cand)=${c126Row.getLong(1)} " +
        s"vs bucket pair mass $memberPairs")
    require(crossRows * 100L < memberPairs,
      s"class join moved $crossRows rows — not ≪ member-pair mass $memberPairs; " +
        "the rewrite is not avoiding the quadratic")
    println(f"SCALE phashClassAlgebra docs=$nDocs classes=$nCl126 " +
      f"classJoinRows=$crossRows avoidedMemberPairs=$memberPairs " +
      f"maxTaskMs=$c126MaxMs meanTaskMs=$c126MeanMs " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- graph-ANN beam walk (the c136/c108 kernel) at 10× the sf0.1
    // vector count, on a synthetic regular graph of KNOWN max degree:
    // per hop, the candidate frame the walk scores is frontier ∪
    // neighbors(frontier) deduped per probe, so its row count must obey
    // |cands_h| ≤ nProbes·beam·(maxdeg+1) — a bound INDEPENDENT of the
    // corpus size (hop 1's frontier is the probe itself: ≤
    // nProbes·(maxdeg+1)). That is the claim that makes the walk
    // 100 TB-safe: each hop shuffles the probe-bounded frontier against
    // the edge list once and scores a probe-bounded candidate set;
    // NOTHING scales with the vector count except the (embarrassingly
    // partition-parallel) edge-list scan. Second pin: the same walk at
    // 1× vectors takes comparable wall time — the per-hop JOB FLOOR
    // (scheduling ~45 small jobs across the width sweep), not data
    // volume, dominates, which is why the driver bench reads ~5 s for
    // c136 at any test SF.
    val beamDeg = 6
    val beamB = graft.embed.EmbedQueries.BeamSweep.max
    val beamHops = graft.embed.EmbedQueries.BeamHops
    def beamWalkAt(nVec: Long): (Long, Seq[Long], Double) = {
      // 8-dim embeddings (the bound is about row movement, not dim
      // math); ring graph: node i ↔ i±1, i±2, i±3 → maxdeg = 6, mutual
      // by construction
      val vecs = spark.range(nVec).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 7), j -> cast((id * 31 + j * 17) % 97 as float))")
            .as("embedding"))
        .localCheckpoint(true)
      val emb = vecs.select(col("vec_id").as("cand"), col("embedding").as("ce"),
        aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, v) => a + v).as("cn"))
      val probes = vecs.filter(col("vec_id") % 100L === 0L)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, v) => a + v).as("pn"))
        .localCheckpoint(true)
      val adj = spark.range(nVec).select(col("id").as("node"),
          explode(expr(s"transform(sequence(1, ${beamDeg / 2}), " +
            s"d -> array((id + d) % $nVec, (id - d + $nVec) % $nVec))")).as("pair"))
        .select(col("node"), explode(col("pair")).as("nbr"))
        .filter(col("node") =!= col("nbr"))
      val nProbes = probes.count()
      val tw = System.nanoTime()
      val (beamFrame, hopCounts) = graft.embed.EmbedQueries.beamWalkCounts(
        probes, adj, emb, beamB, beamHops)
      beamFrame.count(): Unit // force the final beam too
      (nProbes, hopCounts, (System.nanoTime() - tw) / 1e9)
    }
    val (bigProbes, bigCounts, bigSec) = beamWalkAt(20000L)
    val (smallProbes, smallCounts, smallSec) = beamWalkAt(2000L)
    bigCounts.zipWithIndex.foreach { case (c, h) =>
      val cap = if (h == 0) bigProbes * (beamDeg + 1)
        else bigProbes * beamB * (beamDeg + 1)
      require(c <= cap,
        s"c136 hop ${h + 1} scored $c candidate rows > bound $cap — the " +
          "frontier is growing beyond beam×(maxdeg+1) per probe")
    }
    smallCounts.zipWithIndex.foreach { case (c, h) =>
      val cap = if (h == 0) smallProbes * (beamDeg + 1)
        else smallProbes * beamB * (beamDeg + 1)
      require(c <= cap, s"c136 (1×) hop ${h + 1} scored $c > bound $cap")
    }
    // 10× the vectors, 10× the probes — per-probe hop work is flat (the
    // hard require above); the wall-clock comparison is PRINTED as a
    // diagnostic only (r15 advice: a timing assertion on shared
    // hardware fails spuriously under JIT ordering / GC / load even
    // when the hop-candidate bound — the actual scale claim — holds)
    if (bigSec >= smallSec * 3 + 2.0)
      println(f"SCALE beamWalk WARN wall 10x=$bigSec%.1f s vs 1x=$smallSec%.1f s " +
        "(>3x+2s — expected the job floor to dominate; hop bounds held, " +
        "so treat as load/JIT noise unless it reproduces quiet)")
    println(f"SCALE beamWalk vec10x=20000 probes=$bigProbes b=$beamB " +
      f"hopCands=${bigCounts.mkString("/")} " +
      f"capPerHop=${bigProbes * beamB * (beamDeg + 1)} " +
      f"sec10x=$bigSec%.1f sec1x=$smallSec%.1f")

    // --- c93/c60 candidate boundedness: the sorted-merge scoring (c93)
    // and the S-curve decile pass (c60) both run over the LSH candidate
    // list — the scale claim is that the list is one row per colliding
    // pair, never |corpus|². Planted corpus: doc 2i (en) and 2i+1 (de)
    // share an identical SINGLE-token text of pair-UNIQUE LENGTH.
    // tokenHash is (length, first, last) only, so pair-unique length is
    // the one injective dimension available — same-length trickery
    // (earlier draft: 5 short id-suffixed tokens) collides thousands of
    // pairs onto one signature and quadratically explodes the very list
    // under test. With injective hashes: candidates == planted pairs
    // EXACTLY, c93 scores every one as a cross-lingual dup, zero noise.
    t0 = System.nanoTime()
    val xlPlanted = 10000L
    val xlDocs = spark.range(2L * xlPlanted).select(
      col("id").as("doc_id"),
      when(col("id") % 2L === 0L, "en").otherwise("de").as("lang"),
      expr("repeat('a', cast(10 + id div 2 as int))").as("text"))
    val xlCands = graft.dedup.DedupQueries.candidatePairsOn(xlDocs)
      .localCheckpoint(true)
    val candN = xlCands.count()
    require(candN == xlPlanted,
      s"c93/c60 candidate list has $candN rows for $xlPlanted planted pairs — " +
        "candidate generation is not pair-bounded")
    val xlN = graft.dedup.DedupQueries.crossLingualScore(xlDocs, xlCands).count()
    val curveRows = graft.dedup.DedupQueries.lshCurveScore(xlDocs, xlCands).count()
    println(f"SCALE c93c60 docs=${2 * xlPlanted} cands=$candN xlPairs=$xlN " +
      f"curveDeciles=$curveRows ${(System.nanoTime() - t0) / 1e9}%.1f s")
    require(xlN == xlPlanted,
      s"c93 scored $xlN cross-lingual pairs, expected the $xlPlanted planted")
    require(curveRows <= 10L, s"c60 emitted $curveRows deciles (> 10)")

    // --- c48 ExactSubstr span mining at 10×: span candidates come from
    // grouped window-fingerprint collisions, so the mined-span mass is
    // bounded by duplicated-gram mass, not docs². Planted corpus: 10%
    // of docs share one 12-token run (their only >= k-token windows,
    // modulo the id-bearing tail windows — id-token hash collisions can
    // duplicate those too, but they MERGE into the same per-doc span,
    // so the output stays one row per planted doc); the other 90% are
    // single-token (< k) and never window at all. Output must be
    // exactly one span row per planted-dup doc.
    t0 = System.nanoTime()
    val dupRun = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val spanDocs = spark.range(100000L).select(col("id").as("doc_id"),
      when(col("id") % 10L === 0L,
        concat(lit(dupRun + " tail nr "), col("id").cast("string")))
        .otherwise(concat(lit("u"), col("id").cast("string"))).as("text"))
    val spans = graft.text.TextQueries.dupSpans(spanDocs).localCheckpoint(true)
    val spanN = spans.count()
    val spanDocsN = spans.select("doc_id").distinct().count()
    println(f"SCALE c48 docs=100000 spanRows=$spanN spanDocs=$spanDocsN " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    require(spanN == 10000L && spanDocsN == 10000L,
      s"c48 mined $spanN span rows over $spanDocsN docs from 10000 " +
        "planted-dup docs — span mass is not duplicated-mass-bounded")

    // --- d30 replay-floor mechanics (r16 verdict item 4 — the last
    // multi-second bench key without a scale pin). The claim the 6 s
    // driver reading rests on: the cost is MICRO-BATCH SCHEDULING, not
    // data — 3 staged files ⇒ exactly 3 data micro-batches regardless
    // of corpus size (enforced inside d30 by requireDataBatches=3; a
    // completed run IS that assertion), and the stream-stream join's
    // retained state after the final sentinel batch is bounded by the
    // OPEN watermark windows (the 4 sentinel rows at +3d/+6d, which the
    // final watermark max+6d−2h has not closed), NOT by the 500k-row
    // corpus — the property that keeps a 100 TB/day replay's state
    // store flat. Wall time printed as the measured floor (c136's
    // convention: timing is diagnostic, the row bound is the REQUIRE).
    t0 = System.nanoTime()
    val (d30, prog) = graft.streaming.StreamingQueries.d30Replay(
      spark, "/root/testdata/sf0.1")
    val d30Rows = d30.count()
    // file-consuming batches by source-offset advance — the same
    // pruning-immune metric the in-operator require uses (r18)
    val dataBatches = prog.count(_.sources.exists(s =>
      s.endOffset != null && s.endOffset != s.startOffset))
    val finalState = prog.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(-1L)
    println(f"SCALE d30 events=500000 rows=$d30Rows batches=$dataBatches " +
      f"finalStateRows=$finalState ${(System.nanoTime() - t0) / 1e9}%.1f s")
    require(dataBatches == 3, s"d30 replay ran $dataBatches data batches, expected 3")
    require(finalState >= 0 && finalState <= 8,
      s"d30 retained $finalState state rows after the final sentinel batch — " +
        "state is not bounded by open watermark windows (expected ≤ 8: the " +
        "un-closed sentinel rows only)")

    spark.stop()
  }
}
