package graft.streaming

import java.nio.file.Files


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.util.Seal._

/** Driver-checkable executions of the D-block streaming operators
  * (SURVEY.md §2 D1–D4): each entry stages the events table as a file
  * source directory, runs the [[StreamingOps]] transform as a real
  * Structured Streaming query with `Trigger.AvailableNow`, collects the
  * memory-sink result, and returns it totally ordered — so the driver's
  * DuckDB oracle can hash-compare it like any batch query.
  *
  * The oracle SQL is the batch semantics of each stream (parity between
  * the streaming and batch application of the same transform is proven
  * in StreamingSpec): D1 ≡ B6's tumbling windows, D3 ≡ B5's sessions
  * minus each user's final (still-open) session, which a correct
  * append-mode sessionizer must keep in state, not emit.
  */
object StreamingQueries {

  /** One staged source dir per (session, sfDir) — the four queries (and
    * repeated bench runs) reuse the same copy.
    */
  private val stagedCache = new graft.util.Memo[(String, String, String), String]

  /** Split-fuzz mode: `GRAFT_STREAM_SPLIT=k` or `k:seed` stages every
    * staged()-sourced table as k watermark-respecting micro-batches
    * (see [[StreamingOps.stageTableDirSplit]]) and flips the file
    * sources to one-file-per-trigger — the batch-boundary adversary for
    * the stateful D folds, run by tools/fuzz.sh over ALL d* keys (no
    * exemption list: the d11/d23 `requireSingleBatch` contracts relax
    * under this env — see runToTable — because the ordered cuts make
    * the oracle compare itself the stronger gate). The seed is optional
    * (omitted ⇒ derived per (corpus, table), so one env value covers a
    * whole multi-seed fuzz.sh run).
    */
  private[streaming] def splitEnv: Option[(Int, Option[Long])] =
    sys.env.get("GRAFT_STREAM_SPLIT").map { s =>
      val parts = s.split(':')
      require(parts.length <= 2, s"GRAFT_STREAM_SPLIT wants k or k:seed, got '$s'")
      (parts(0).toInt, parts.lift(1).map(_.toLong))
    }

  private def staged(spark: SparkSession, sfDir: String, table: String = "events"): String = {
    val mode = splitEnv.fold("single") { case (k, seed) => s"split$k:$seed" }
    stagedCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, sfDir, s"$table#$mode"),
      track(splitEnv match {
        case Some((k, seedOpt)) if k > 1 =>
          val seed = seedOpt.getOrElse((sfDir + "#" + table).hashCode.toLong)
          StreamingOps.stageTableDirSplit(spark, sfDir, table, k, seed)
        case _ => StreamingOps.stageTableDir(spark, sfDir, table)
      }))
  }

  /** Staged copies and per-run checkpoints are deleted when the JVM
    * exits — repeated bench/verify sessions must not accumulate /tmp
    * garbage.
    */
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private lazy val cleanupHook: Unit = {
    sys.addShutdownHook {
      tracked.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(p))
      }
    }: Unit
  }
  private def track(path: String): String = { cleanupHook; tracked.add(path); path }

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the sink table. `complete` mode for windowed aggs so
    * not-yet-finalized tail windows are emitted too; `append` for
    * row-emitting operators.
    */
  /** State-store parallelism for these bounded replays: every shuffle
    * partition carries a state store whose init/commit cost is paid per
    * micro-batch regardless of data volume, so a bounded AvailableNow
    * replay wants few, fat state partitions. A live 100 TB/day stream
    * would size this to the cluster instead (it's baked into the
    * checkpoint at first start).
    */
  val StatePartitions = 8

  /** Micro-batches that CONSUMED at least one staged file, measured by
    * source-offset advance — the pruning-immune replay-contract metric
    * (see the comment in [[runToTable]]). Empty staged files count:
    * every file advances the file-source log exactly once.
    */
  private def fileBatchCount(
      q: org.apache.spark.sql.streaming.StreamingQuery): Int =
    q.recentProgress.count(_.sources.exists(s =>
      s.endOffset != null && s.endOffset != s.startOffset))

  private def runToTable(df: DataFrame, name: String, mode: String,
      requireSingleBatch: Boolean = false, requireDataBatches: Int = 0): DataFrame =
    replayToTable(df, name, mode, requireSingleBatch, requireDataBatches)._1

  /** [[runToTable]], also returning this replay's progress entries, so a
    * caller can assert the replay MECHANICS (ScaleSmoke's d30 pin: data
    * batches == staged files, final state rows bounded by open windows)
    * — per invocation, so concurrent replays never see each other's.
    */
  private def replayToTable(df: DataFrame, name: String, mode: String,
      requireSingleBatch: Boolean, requireDataBatches: Int)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = df.sparkSession
    val ckpt = track(Files.createTempDirectory(s"graft-ckpt-$name").toString)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val progress = try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (requireDataBatches > 0) {
        // multi-file staged replays (d17): the cross-batch state carry is
        // the thing under test, so a staging change that collapses the
        // replay to one batch must fail loudly, not pass vacuously.
        // "Consumed a file" is measured by SOURCE OFFSET ADVANCE, not
        // numInputRows > 0: the row count is pruning-sensitive — a
        // staged file whose rows are all removed by a pushed predicate
        // (d30's event_type filter against a file with no error/click
        // rows, a quarantine IsNotNull against an all-poisoned cut)
        // reports 0 input rows from its own perfectly-real micro-batch
        // (r18, found by the widened-fuzz rnd shift flipping seed 0's
        // single event to 'signup'). Every staged file — empty ones
        // included — advances the file-source log exactly once.
        val fb = fileBatchCount(q)
        require(fb == requireDataBatches,
          s"$name expects $requireDataBatches file micro-batches " +
            s"(staged replay contract), got $fb")
      }
      if (requireSingleBatch && splitEnv.isEmpty) {
        // d11's batch-ASOF oracle equality holds only when the replay is
        // ONE in-order micro-batch: the asofAttribute disorder guard
        // drops a late error whose carried click postdates it, so a
        // multi-file staging (or maxFilesPerTrigger) with interleaved
        // time ranges would diverge from the oracle as a silent hash
        // mismatch. Fail loudly here instead if staging ever changes.
        // EXCEPT under split-fuzz (GRAFT_STREAM_SPLIT): the split cuts
        // are event-time-ordered — no interleaving, no late data — so
        // the oracle compare itself becomes the (stronger) gate: a
        // mismatch there is a real cross-batch state-carry bug.
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches <= 1,
          s"$name expects a single data micro-batch (oracle contract), " +
            s"got $dataBatches — did the staged source become multi-file?")
      }
      q.recentProgress.toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    (spark.table(name), progress)
  }

  private def stream(spark: SparkSession, sfDir: String): DataFrame =
    StreamingOps.eventsStream(spark, sfDir, staged(spark, sfDir))

  // ---------------------------------------------------------------- D1
  /** Tumbling 1-hour windowed agg, executed as a stream. Oracle = B6's
    * batch windows (StreamingSpec proves the window() buckets equal the
    * integer-division buckets).
    */
  def d1StreamWindowed(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.windowedAgg(stream(spark, sfDir)), "graft_d1_sink", "complete")
      .orderBy("window_start", "event_type")

  val d1Sql: String = graft.relational.Queries.eventWindowedSql

  // ---------------------------------------------------------------- D2
  /** Streaming dedup on event_id. Only the id column is emitted so the
    * result is deterministic even if the source carried duplicate ids
    * (which row of a duplicate group survives is arrival-order dependent;
    * the set of ids is not).
    */
  def d2StreamDedup(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.dedup(stream(spark, sfDir)).select("event_id"),
        "graft_d2_sink", "append")
      .orderBy("event_id")

  val d2Sql: String =
    "WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)\nSELECT DISTINCT event_id FROM fev ORDER BY event_id"

  // ---------------------------------------------------------------- D3
  /** Stateful sessionization (flatMapGroupsWithState), append mode: emits
    * every session CLOSED by a >30-min gap; each user's final session
    * stays open in state — so the oracle is B5's sessions minus each
    * user's max sess_seq row.
    */
  def d3StreamSessions(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.sessionize(stream(spark, sfDir)).toDF(),
        "graft_d3_sink", "append")
      .select("user_id", "start_us", "end_us", "n_events", "sum_value_c")
      .orderBy("user_id", "start_us")

  val d3Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
      |g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(ROUND(value*100.0) AS BIGINT) AS value_c,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM fev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), s AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess_seq
      |  FROM g
      |), sess AS (
      |  SELECT user_id, sess_seq, COUNT(*) AS n_events, MIN(us) AS start_us,
      |    MAX(us) AS end_us, CAST(SUM(value_c) AS BIGINT) AS sum_value_c
      |  FROM s GROUP BY user_id, sess_seq
      |)
      |SELECT user_id, start_us, end_us, n_events, sum_value_c
      |FROM sess
      |WHERE sess_seq < (SELECT MAX(s2.sess_seq) FROM sess s2 WHERE s2.user_id = sess.user_id)
      |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------- D4
  /** Stream-static join + windowed agg, executed as a stream against the
    * broadcast customer dim.
    */
  def d4StreamEnriched(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        StreamingOps.enrichedWindowedAgg(stream(spark, sfDir),
          StreamingOps.userDim(spark, sfDir)),
        "graft_d4_sink", "complete")
      .orderBy("window_start", "c_mktsegment")

  val d4Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
      |SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
      |  c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100.0) AS BIGINT)) AS BIGINT) AS sum_value_c
      |FROM fev JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- D5
  /** Stream-stream interval join (two independent file-source streams
    * over the same staged dir), executed with AvailableNow — the single
    * micro-batch makes the inner-join output exactly the batch range
    * join, so the oracle is B10's inequality-join SQL verbatim.
    */
  def d5StreamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        StreamingOps.intervalJoin(stream(spark, sfDir), stream(spark, sfDir)),
        "graft_d5_sink", "append")
      .orderBy("event_id", "click_id")

  val d5Sql: String = graft.relational.Queries.rangeJoinSql

  // ---------------------------------------------------------------- D6
  /** Running totals per event_type, complete mode — final state after the
    * AvailableNow replay is exactly the batch GROUP BY.
    */
  def d6StreamTotals(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.typeTotals(stream(spark, sfDir)), "graft_d6_sink", "complete")
      .orderBy("event_type")

  val d6Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100.0) AS BIGINT)) AS BIGINT) AS sum_value_c
      |FROM fev GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- D7
  /** Running vocabulary counts over a streamed documents directory,
    * complete mode; top-k ranking happens on the sink table after the
    * replay (a streaming query can't sort in update/append, and the
    * top-k over final state is what a live dashboard reads anyway).
    * Oracle = C14's tf ranking (tf only: COUNT(DISTINCT doc_id) is not
    * a streamable aggregate — df would need a two-level agg chain,
    * which Structured Streaming disallows in one query).
    */
  def d7StreamVocab(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        StreamingOps.vocabCounts(
          StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))),
        "graft_d7_sink", "complete")
      .orderBy(col("tf").desc, col("token"))
      .limit(graft.text.TextQueries.VocabTopK)

  val d7Sql: String =
    s"""SELECT token, COUNT(*) AS tf
       |FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM fdoc)
       |GROUP BY token
       |ORDER BY tf DESC, token
       |LIMIT ${graft.text.TextQueries.VocabTopK}""".stripMargin

  // ---------------------------------------------------------------- D8
  /** Keyed upsert sink via foreachBatch: after the AvailableNow replay
    * the sink table holds each user's latest event — newest-wins MERGE
    * semantics (see [[StreamingOps.upsertLatest]]). The oracle is the
    * batch keep-latest window over the whole events table, which the
    * sink state must equal REGARDLESS of how the stream was
    * micro-batched, because the merge is associative.
    */
  def d8StreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val stateDir = track(Files.createTempDirectory("graft-d8-state").toString)
    val ckpt = track(Files.createTempDirectory("graft-ckpt-d8").toString)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try {
      val merge: (DataFrame, Long) => Unit =
        (batch, _) => StreamingOps.upsertLatest(batch, stateDir)
      val q = StreamingOps.latestPerUser(stream(spark, sfDir))
        .writeStream
        .foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.read.parquet(s"$stateDir/current").orderBy("user_id")
  }

  val d8Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
      |SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |  CAST(ROUND(value*100.0) AS BIGINT) AS value_c
      |FROM fev
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- D9
  /** Native session_window sessionization executed as a stream (append
    * mode): the sink holds every session the watermark closed; each
    * user's trailing sessions stay in state. The eviction boundary is
    * the session WINDOW end = last event + gap (numerically verified:
    * sessions with `end_us < wm` but `end_us + gap > wm` are retained),
    * and a window ending EXACTLY on the watermark IS emitted — the
    * StreamingSpec tie pin found Spark evicts on `window_end ≤ wm`, so
    * the oracle = the B17 session construction filtered to
    * `end_us + gap ≤` (global max event time − watermark delay).
    */
  def d9StreamSessionsNative(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.sessionWindowAgg(stream(spark, sfDir)),
        "graft_d9_sink", "append")
      .orderBy("user_id", "start_us")

  /** One shared session construction: the B17 body wrapped with the
    * watermark-eviction filter (no second hand-maintained copy).
    */
  val d9Sql: String =
    s"""WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
       |SELECT user_id, start_us, end_us, n_events, sum_value_c FROM (
       |${graft.relational.Queries.sessionWindowBodySql}
       |)
       |WHERE end_us + ${StreamingOps.SessionGapUs} <=
       |  (SELECT MAX(epoch_us(ts)) FROM fev) - ${StreamingOps.WatermarkDelayUs}
       |ORDER BY user_id, start_us""".stripMargin

  // --------------------------------------------------------------- D11
  /** Streaming as-of attribution ([[StreamingOps.asofAttribute]]):
    * after the single-batch replay the emitted matches are EXACTLY the
    * batch B9 as-of join, so the oracle is B9's DuckDB ASOF JOIN —
    * one definition, no drift (the stream keeps one (click_id,
    * click_us) record per user in state; B9's time-cell shuffle is the
    * batch re-expression of the same carry).
    */
  def d11StreamAsof(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.asofAttribute(stream(spark, sfDir)).toDF(),
        "graft_d11_sink", "append", requireSingleBatch = true)
      .orderBy("event_id")

  val d11Sql: String = graft.relational.Queries.asofJoinSql

  // --------------------------------------------------------------- D12
  /** Streaming windowed funnel: B19's view→click→purchase depth per
    * user, computed by the O(1)-state machine in
    * [[StreamingOps.funnelState]]. The sink holds one row per depth
    * ADVANCE (≤3 per user); the reader keeps the deepest and left-joins
    * the static user universe so depth-0 users surface exactly as in
    * the batch query — which is also the oracle.
    */
  def d12StreamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sunk = runToTable(StreamingOps.funnelState(stream(spark, sfDir)).toDF(),
      "graft_d12_sink", "append", requireSingleBatch = false)
    val w = Window.partitionBy("user_id").orderBy(col("depth").desc)
    val fin = sunk.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
    val users = graft.Tables.eventsWithUs(spark, sfDir).select("user_id").distinct()
    users.join(fin, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        coalesce(col("depth"), lit(0L)).as("depth"))
      .orderBy("user_id")
  }

  val d12Sql: String = graft.relational.Queries.eventFunnelSql

  // --------------------------------------------------------------- D10
  /** Streaming KMV distinct sketch (complete mode): after the replay the
    * sink holds one ≤k bottom-k buffer per event_type; the estimator
    * post-processing on the sink table is B15's exact-integer order
    * statistic. Oracle = the batch sketch over the same hash.
    */
  def d10StreamDistinctSketch(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.distinctSketch(stream(spark, sfDir)),
        "graft_d10_sink", "complete")
      .filter(size(col("bk")) > 0) // all-null-key group: oracle has no row
      .select(col("event_type"),
        size(col("bk")).cast("long").as("n_k"),
        element_at(col("bk"), size(col("bk"))).as("kth_min"))
      .withColumn("est_distinct", graft.relational.Queries.kmvEstimate)
      .orderBy("event_type")

  val d10Sql: String = {
    import graft.relational.Queries.{kmvEstimateSql, kmvHashSql, KmvK}
    s"""WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
       |h AS (
       |  -- NULL keys dropped explicitly: the Spark BottomK aggregate
       |  -- skips nulls, DuckDB's DISTINCT would keep an all-NULL row
       |  SELECT DISTINCT event_type, ${kmvHashSql("user_id")} AS h
       |  FROM fev WHERE user_id IS NOT NULL
       |), topk AS (
       |  SELECT event_type, h FROM h
       |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h) <= $KmvK
       |), sk AS (
       |  SELECT event_type, MAX(h) AS kth_min, COUNT(*) AS n_k
       |  FROM topk GROUP BY event_type
       |)
       |SELECT event_type, n_k, kth_min,
       |  $kmvEstimateSql AS est_distinct
       |FROM sk ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- D13
  /** Streaming quality gate: the STATELESS slice of the batch gate
    * ([[graft.text.TextQueries.gateCols]] — C3's stopword/length score
    * plus the too-short/low-quality verdict, no cross-document state)
    * applied to the documents stream in append mode. This is the
    * ingest-time filter a production curation pipeline runs as data
    * lands, hours before the stateful dedup passes; sharing the exact
    * column definitions with the batch gate means the two can never
    * drift. Stateless ⇒ no watermark, no state store, every micro-batch
    * emits immediately at any scale.
    */
  def d13StreamGate(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        graft.text.TextQueries.gateCols(
          StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))),
        "graft_d13_sink", "append")
      .orderBy("doc_id")

  val d13Sql: String = graft.text.TextQueries.gateColsSql

  /** D14: streaming decontamination — C29's benchmark n-gram screen as
    * the ingest-time filter a curation pipeline runs as training data
    * lands: every arriving train-split document is flagged if it shares
    * a [[graft.text.TextQueries.ContamN]]-gram with the held-out test
    * set. The test gram set is STATIC (eval suites are small and fixed
    * — that's what makes decontamination broadcastable at 100 TB): it
    * collapses to ONE sorted-array row and equi-joins the stream on a
    * literal key, so each micro-batch is stateless scan-stage array
    * math (append mode, no watermark, no state store) — the same
    * shape as D13's gate, with `array_intersect` doing the distinct-hit
    * count per row. Gram family and split are the C29/C23 definitions
    * ([[graft.text.TextQueries.gramHashes]] / `splitCol`), and the
    * oracle IS c29Sql — batch screen and stream screen can't drift.
    */
  def d14StreamDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val testSet = TextQueries.distinctGrams(spark, sfDir)
      .withColumn("split", TextQueries.splitCol)
      .filter(col("split") === "test")
      .agg(sort_array(collect_set(col("gh"))).as("test_ghs"))
      .withColumn("k", lit(1))
    val docs = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .withColumn("split", TextQueries.splitCol)
      .filter(col("split") === "train")
      .withColumn("toks", TextQueries.tokens(col("text")))
      .filter(size(col("toks")) >= TextQueries.ContamN)
      .withColumn("k", lit(1))
    // membership via the codegen'd sorted-merge intersect, NOT
    // array_intersect: the latter builds a boxed hash set of the whole
    // (tens-of-thousands-element) test array PER ROW — measured 14.7 s
    // at sf0.1 vs ~3 s for this primitive-long merge of two
    // sorted-distinct arrays (the C7/C19 scoring kernel, one shared
    // implementation)
    val flagged = docs.join(broadcast(testSet), "k")
      .select(col("doc_id"),
        graft.functions.sets.sorted_intersect_count(
          sort_array(array_distinct(TextQueries.gramHashes(col("toks")))),
          col("test_ghs")).as("n_hit"))
      .filter(col("n_hit") >= 1)
    runToTable(flagged, "graft_d14_sink", "append").orderBy("doc_id")
  }

  val d14Sql: String = graft.text.TextQueries.c29Sql

  /** D15: sliding-window agg (2 h window / 30 min slide) as a stream —
    * complete mode for the bounded replay (like D1, tail windows not
    * yet past the watermark must still reach the sink; a live deploy
    * runs append + watermark eviction). Oracle: every event belongs to
    * exactly width/slide = 4 windows, starts at `floor(t/slide)−k` slide
    * units for k ∈ 0..3 — the DuckDB twin expands that membership with
    * a 4-row unnest cross join and re-aggregates, the same exact
    * integer epoch-µs bucket math as B6/D1 (window starts are aligned
    * to the epoch in both engines).
    */
  def d15StreamSliding(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.slidingAgg(stream(spark, sfDir)), "graft_d15_sink", "complete")
      .orderBy("window_start", "event_type")

  val d15Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
      |SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000) AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100.0) AS BIGINT)) AS BIGINT) AS sum_value_c
      |FROM fev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** D16: the reference's ACTUAL operating loop as a stream — score a
    * batch, cluster its positives INTO the persisted labels, continue
    * ids above the persisted max (`run_inference.py:21-41` +
    * `solardb.py:245-252`), repeat. Each micro-batch runs A31's
    * `Clustering.incrementalClusters` against the accumulated label
    * state inside `foreachBatch` (the merge is driver-orchestrated but
    * every step is a distributed frame — state lives as a
    * localCheckpoint, never a driver collection). The two-batch replay
    * is DETERMINISTIC: the positives are staged as two parquet files
    * with spaced modification times (high-score batch first — the
    * reference scores center-outwards, A5), `maxFilesPerTrigger=1`
    * makes each file one micro-batch, and label immutability + the
    * dense-rank fresh-id mint make the final state independent of
    * everything but the file order. Starting from EMPTY state, batch 1
    * gets ids 1..n by component rank — exactly A31's `existing`
    * labels — so the oracle IS a31Sql (one definition, the D11/D12
    * pattern).
    */
  def d16StreamCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.tiles.{Clustering, GeoDerive, GeoQueries}
    import org.apache.spark.sql.types._
    val pos = GeoDerive.positives(spark, sfDir)
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d16-src").toString))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(
      pos.filter(col("score") >= GeoQueries.IncrementalSplit).select("x", "y"),
      dir, "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(
      pos.filter(col("score") < GeoQueries.IncrementalSplit).select("x", "y"),
      dir, "b1.parquet", now): Unit
    val schema = new StructType().add("x", LongType).add("y", LongType)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    var state = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      new StructType().add("x", LongType).add("y", LongType)
        .add("cluster_id", LongType).add("batch", IntegerType))
    val ckpt = track(Files.createTempDirectory("graft-ckpt-d16").toString)
    val q = src.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val merged = Clustering.incrementalClusters(
          state.select("x", "y", "cluster_id"), b)
        val newRows = merged.filter(col("batch") === 2)
          .select(col("x"), col("y"), col("cluster_id"),
            lit((id + 1).toInt).as("batch"))
        state = state.unionByName(newRows).seal()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // both staged halves must arrive as their own micro-batch; counted
    // by offset advance (pruning-immune, empty halves included)
    val fb16 = fileBatchCount(q)
    require(fb16 == 2,
      s"d16 expects 2 file micro-batches (oracle contract), got $fb16")
    state.orderBy("x", "y")
  }

  val d16Sql: String = graft.tiles.GeoQueries.a31Sql

  /** D17: streaming doc packing ([[StreamingOps.packDocs]]) — the
    * documents table staged as TWO files cut at the median doc_id with
    * spaced modTimes (`maxFilesPerTrigger=1` ⇒ two ordered micro-batches,
    * the D16 replay mechanism), so each source's running token cumsum is
    * genuinely carried across a batch boundary and the packing still
    * lands identically to the batch backfill: oracle = c27Sql, one
    * definition. The doc_id cut keeps per-source arrival order across
    * batches — C27's contiguous-fill contract (see packDocs).
    */
  def d17StreamPack(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    // staging-harness scalar (1 row), not operator code: pick the cut.
    // A fully-quarantined corpus leaves the view empty (NULL max) —
    // stage two empty halves and let the replay yield the empty table
    // the fdoc oracle also yields (the c115 empty-view rule, d28 form).
    val cutRow = docs.agg(max("doc_id")).head
    val cut = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0) / 2
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d17-src").toString))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") <= cut), dir,
      "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") > cut), dir,
      "b1.parquet", now): Unit
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    runToTable(StreamingOps.packDocs(src).toDF(), "graft_d17_sink", "append",
        requireDataBatches = 2) // both staged files, empty cuts included
      .orderBy("doc_id")
  }

  val d17Sql: String = graft.text.TextQueries.c27Sql

  // ---------------------------------------------------------------- D18
  /** D18: live exact length quantiles — C22's per-language p50/p90/p99
    * as a stream. The streaming query maintains ONLY the value
    * HISTOGRAM (complete-mode count per (lang, n_chars) — state bounded
    * by the value domain however long the stream runs, C22's scale
    * argument made a state-size argument); the CDF walk runs on the
    * sink table after the replay through the SAME
    * [[graft.text.TextQueries.quantilesFromHistogram]] the batch
    * operator ends with, so batch and stream share the finalize
    * definition and the oracle IS c22Sql. This is the dashboard shape:
    * the stream keeps the cheap sufficient statistic, the reader
    * derives the expensive answer on demand.
    */
  def d18StreamQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
    val hist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    graft.text.TextQueries.quantilesFromHistogram(
      runToTable(hist, "graft_d18_sink", "complete"))
  }

  val d18Sql: String = graft.text.TextQueries.c22Sql

  // ---------------------------------------------------------------- D19
  /** D19: streaming LSH near-dup screen ([[StreamingOps.lshDedup]]) —
    * the documents table staged as two doc_id-cut files (the D17 replay
    * mechanism, `requireDataBatches = 2`), so batch-2 documents are
    * genuinely screened against bucket state minted in batch 1. The
    * per-band verdicts aggregate per document on the sink table (the
    * D12 reader pattern): dup_bands counts bands with an earlier owner,
    * owner_min is the min prior owner (the doc itself when clean). The
    * oracle is the batch form of the same relation over the SHARED band
    * CTEs: per-bucket min doc_id, owner = that min when it precedes the
    * doc.
    */
  def d19StreamLshDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    // staging-harness scalar (1 row), not operator code: pick the cut.
    // Empty (fully-quarantined) view ⇒ NULL max ⇒ cut=0, empty halves,
    // empty replay == empty fdoc oracle (c115 empty-view rule).
    val cutRow = docs.agg(max("doc_id")).head
    val cut = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0) / 2
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d19-src").toString))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") <= cut), dir,
      "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") > cut), dir,
      "b1.parquet", now): Unit
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val verdicts = StreamingOps.lshDedup(graft.dedup.DedupQueries.bandRowsOn(src))
    runToTable(verdicts.toDF(), "graft_d19_sink", "append",
        requireDataBatches = 2) // both staged files, empty cuts included
      .groupBy("doc_id")
      .agg(sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("dup_bands"),
        min("owner").as("owner_min"))
      .withColumn("is_dup", (col("dup_bands") > 0L).cast("long"))
      .orderBy("doc_id")
  }

  val d19Sql: String =
    s"""WITH ${graft.dedup.DedupQueries.bandRowsCtes.mkString(",\n")},
       |bmin AS (SELECT band, bh, MIN(doc_id) AS mn FROM bands GROUP BY band, bh),
       |v AS (
       |  SELECT b.doc_id,
       |    CASE WHEN m.mn < b.doc_id THEN m.mn ELSE b.doc_id END AS owner
       |  FROM bands b JOIN bmin m ON m.band = b.band AND m.bh = b.bh
       |)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS dup_bands,
       |  MIN(owner) AS owner_min,
       |  CAST(MAX(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS is_dup
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- D20
  /** D20: the count-min sketch as a LIVE stream — the canonical
    * fixed-state streaming aggregate: the query maintains ONLY the
    * D×W = 1536 sketch cells (complete-mode count per (r, p)), so the
    * state store is constant-size BY CONSTRUCTION however long the
    * stream runs and whatever the vocabulary does — compare D7's vocab
    * stream, whose state grows with distinct tokens. The probe report
    * runs on the sink through the SAME
    * [[graft.text.TextQueries.cmsReportFrom]] finalize the batch C63
    * ends with (the D18 pattern), so the oracle IS c63Sql — one
    * definition, stream and batch sketches can't drift.
    */
  def d20StreamCms(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val toks = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .select(explode(TextQueries.tokens(col("text"))).as("token"))
    val cells = TextQueries.cmsCellsOn(toks)
    TextQueries.cmsReportFrom(
      runToTable(cells, "graft_d20_sink", "complete"), spark, sfDir)
  }

  val d20Sql: String = graft.text.TextQueries.c63Sql

  // ---------------------------------------------------------------- D21
  /** D21: streaming BUILD of the C53 decontamination Bloom filter — the
    * ingest-time form of the filter construction: as held-out/benchmark
    * documents land, the stream maintains the set-bit table
    * ([[graft.text.TextQueries.bloomBitsOn]], the SHARED definition
    * C53's broadcast filter projects from), so the screen's reference
    * side is always current without a batch rebuild. State is ≤ m =
    * 1024 rows BY CONSTRUCTION whatever the suite's gram cardinality —
    * D20's fixed-state family, with the counting-Bloom twist: each cell
    * carries its reference count, so gram deletions/TTL decrement
    * instead of corrupting the filter. Within-doc gram dedup is
    * map-side array_distinct, so no unbounded stream-distinct state
    * exists anywhere.
    */
  def d21StreamBloomBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
    runToTable(graft.text.TextQueries.bloomBitsOn(docs), "graft_d21_sink", "complete")
      .orderBy("pos")
  }

  val d21Sql: String = graft.text.TextQueries.bloomBitsSql

  // ---------------------------------------------------------------- D22
  /** D22: streaming k-means assignment — C50's cluster routing as an
    * ONLINE scorer: arriving embeddings are assigned to the static
    * codebook the moment they land (the ingest side of every IVF /
    * SemDeDup / cluster-balanced-sampling pipeline — route first, the
    * expensive per-cluster work happens downstream). The codebook is a
    * ONE-ROW static frame crossed in (stream-static broadcast join) and
    * the argmin is [[graft.embed.EmbedQueries.kmBestCol]] — a per-row
    * HOF fold sharing the batch assignment's exact fold, rounding and
    * (d, cid) tie rule — so the query is STATELESS append mode: no
    * state store, no watermark, nothing grows (D13's stateless family,
    * on the embedding side). The oracle IS c50Sql — one definition,
    * stream and batch routing can't drift; spec additionally pins
    * stream == batch row-for-row.
    */
  def d22StreamKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.embed.EmbedQueries
    val e = StreamingOps.embeddingsStream(spark, sfDir, staged(spark, sfDir, "embeddings"))
    val scored = e.crossJoin(broadcast(EmbedQueries.kmCentroidRow(spark, sfDir)))
      .select(col("vec_id"), EmbedQueries.kmBestCol.as("best"))
      .select(col("vec_id"), col("best.cid").cast("long").as("cluster"),
        expr("CAST(ROUND(best.d * 1000000) AS BIGINT)").as("dist_micro"))
    runToTable(scored, "graft_d22_sink", "append").orderBy("vec_id")
  }

  val d22Sql: String = graft.embed.EmbedQueries.c50Sql

  // ---------------------------------------------------------------- D23
  /** D23: streaming SCD2 — [[StreamingOps.scd2Stream]]'s closed validity
    * intervals over the events stream: each emitted row is immutable
    * (append-only SCD sink, no retractions), each user's open tail
    * lives only in the one-record state. The driver replay is the
    * single-file micro-batch (the D11 contract, asserted), so the sink
    * equals the batch B31 intervals minus each user's open tail — the
    * oracle states exactly that with B31's window shape on epoch-µs
    * columns.
    */
  def d23StreamScd2(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(StreamingOps.scd2Stream(stream(spark, sfDir)).toDF(),
        "graft_d23_sink", "append", requireSingleBatch = true)
      .orderBy("user_id", "version")

  val d23Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
      |ordered AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM fev
      |), changes AS (
      |  SELECT user_id, us, event_id, event_type FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS version,
      |  event_type, us AS from_us,
      |  LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_us
      |FROM changes
      |QUALIFY to_us IS NOT NULL
      |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------- D24
  /** D24: the C73 drift monitor as a LIVE stream — the deployment shape
    * of drift detection: the SNAPSHOT histogram is static (built once
    * batch-side from the persisted corpus, doc_id < cut), the stream
    * maintains only the ARRIVING side's token histogram (complete-mode
    * count per token — D7's vocabulary-bounded state class), and the
    * JS report runs on the sink through the SAME
    * [[graft.text.TextQueries.driftReportFrom]] finalize as batch C73
    * (the D18 pattern: stream keeps the cheap sufficient statistic,
    * the reader derives the expensive answer on demand). The arriving
    * side is the doc_id ≥ cut half of the staged stream — exactly
    * C73's split relation — so the oracle IS c73Sql: one definition,
    * stream and batch drift can never disagree.
    */
  def d24StreamDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val cut = TextQueries.driftCut(spark, sfDir)
    val newCounts = TextQueries.tokenCountsOn(
      StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
        .filter(col("doc_id") >= cut), "cnt_new")
    val sunk = runToTable(newCounts, "graft_d24_sink", "complete")
    val oldCounts = TextQueries.tokenCountsOn(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") < cut), "cnt_old")
    // sealed (r19): the snapshot-side histogram and the merge are part
    // of this key's one-time artifact derivation — without the seal the
    // finalize re-scanned the old corpus half on every invocation
    val merged = oldCounts.join(sunk, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"))
      .seal()
    TextQueries.driftReportFrom(merged)
  }

  val d24Sql: String = graft.text.TextQueries.c73Sql

  // ---------------------------------------------------------------- D25
  /** A38's re-inference snapshot diff maintained LIVE: re-scored
    * observations stream in and the add/remove/keep dashboard is
    * always current — the operational view a mapping team watches
    * DURING a model rollout instead of waiting for the batch diff.
    * ONE shared definition with the batch query
    * (GeoQueries.diffOn — the d13/d22/d24 contract: batch and stream
    * can never drift); state is one fixed-size (max s1, max s2) record
    * per TILE, bounded by the world grid however long the stream runs.
    * Oracle IS a38Sql (one definition).
    */
  def d25StreamDiff(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        graft.tiles.GeoQueries.diffOn(StreamingOps.lineitemStream(
          spark, sfDir, staged(spark, sfDir, "lineitem"))),
        "graft_d25_sink", "complete")
      .orderBy("poly", "x", "y")

  val d25Sql: String = graft.tiles.GeoQueries.a38Sql

  // ---------------------------------------------------------------- D26
  /** D26: streaming BM25 scoring against a FROZEN lexical index — the
    * index-time deployment shape of C88: corpus statistics (query
    * terms, df, N, Σdl) are computed once from the persisted corpus
    * and frozen into the plan as literals; every ARRIVING document is
    * then scored against all [[graft.text.TextQueries.Bm25Queries]]
    * queries entirely ROW-LOCALLY — per-term tf via a filter over the
    * doc's own token array, the per-query sum folded in the same
    * projection, a bounded 5-wide explode — so the stream is stateless
    * append with ZERO shuffles and state, the d13/d22 class. Scoring
    * math is C88's expression verbatim (idf literals precomputed with
    * the same `ln`), so the oracle is the batch scoring of the same
    * corpus with the same frozen stats.
    */
  def d26StreamBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    import org.apache.spark.sql.Column
    // r18: the frozen index (rarest-term table + corpus totals) comes
    // from the SESSION-shared bm25Stats memo — one derivation for the
    // whole retrieval family (c88/c99/c109 + this stream); the
    // orderBy+limit TakeOrderedAndProject selection rule (r17 verdict
    // item 5) now lives at that one site. Before this the stream key
    // re-ran both corpus stat passes privately at every invocation.
    val (terms, nDocs, sumDl) = TextQueries.bm25Stats(spark, sfDir)
    def contrib(term: String, df: Long): Column = {
      val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
      val tf = size(filter(col("toks"), x => x === lit(term))).cast("long")
      when(tf > 0L, round(lit(idf) * (tf * lit(2.2) / (tf + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") * lit(nDocs) / lit(sumDl))))
        * lit(1e9), 0).cast("long")).otherwise(lit(0L))
    }
    def hits(term: String): Column =
      when(size(filter(col("toks"), x => x === lit(term))) > 0, 1L).otherwise(0L)
    val perQuery = terms.groupBy(_._3).toSeq.sortBy(_._1).map { case (qid, ts) =>
      struct(lit(qid).as("qid"),
        ts.map(t => contrib(t._1, t._2)).reduce(_ + _).as("score_nano"),
        ts.map(t => hits(t._1)).reduce(_ + _).as("n_terms_hit"))
    }
    val scored = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .withColumn("toks", TextQueries.tokens(col("text")))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("h"))
      .filter(col("h.n_terms_hit") > 0L)
      .select(col("doc_id"), col("h.qid").as("qid"),
        col("h.score_nano").as("score_nano"), col("h.n_terms_hit").as("n_terms_hit"))
    runToTable(scored, "graft_d26_sink", "append").orderBy("doc_id", "qid")
  }

  /** Batch twin: C88's contrib chain without the rank cut. */
  val d26Sql: String = {
    import graft.text.TextQueries._
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), stats AS (
       |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
       |), terms AS (
       |  SELECT token, df, (rn - 1) // $Bm25TermsPerQuery AS qid FROM (
       |    SELECT token, df, ROW_NUMBER() OVER (ORDER BY df ASC, token) AS rn FROM stats
       |  ) WHERE rn <= ${Bm25Queries * Bm25TermsPerQuery}
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
       |), tot AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
       |), tf AS (
       |  SELECT t.doc_id, q.qid, q.token, q.df, COUNT(*) AS tf
       |  FROM toks t JOIN terms q USING (token)
       |  GROUP BY t.doc_id, q.qid, q.token, q.df
       |), contrib AS (
       |  SELECT f.doc_id, f.qid,
       |    CAST(ROUND(
       |      ln(1.0 + (CAST(o.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5)) *
       |      (f.tf * 2.2 / (f.tf + 1.2 *
       |        (0.25 + 0.75 * d.dl * o.n_docs / o.sum_dl)))
       |      * 1e9) AS BIGINT) AS contrib_nano
       |  FROM tf f JOIN dl d USING (doc_id) CROSS JOIN tot o
       |)
       |SELECT doc_id, qid, CAST(SUM(contrib_nano) AS BIGINT) AS score_nano,
       |  COUNT(*) AS n_terms_hit
       |FROM contrib GROUP BY doc_id, qid
       |ORDER BY doc_id, qid""".stripMargin
  }

  // ---------------------------------------------------------------- D28
  /** D28: streaming MERGE upsert — the d8 preview graduated to a real
    * COMMITTED sink: each micro-batch of the events stream aggregates
    * per-user deltas and `MERGE INTO`s them into a delta-mode
    * [[graft.sources.UpsertCatalog]] table inside `foreachBatch` (the
    * canonical Structured Streaming upsert pattern for
    * Delta/Iceberg-style sinks). The staged replay is forced to TWO
    * data micro-batches (the d17 contract) so the cross-batch
    * accumulate — matched totals grow, unseen users insert — is
    * actually exercised; per-batch merges are commutative adds, so the
    * final table equals the batch aggregation regardless of how the
    * stream was sliced, which is the oracle.
    */
  def d28StreamMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    val events = Tables.events(spark, sfDir) // b55 quarantined view
    val table = "graft.d28_user_totals"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (user_id BIGINT NOT NULL, n_events BIGINT, sum_value_c BIGINT)
         |TBLPROPERTIES ('write.mode'='delta', 'rowid'='user_id')""".stripMargin)
    // staging harness: two disjoint halves, forced one-file-per-trigger.
    // A fully-quarantined corpus leaves the view empty (NULL max) — stage
    // two empty halves and let the replay produce the empty table the
    // fev oracle also yields (the c115 empty-view rule).
    val cutRow = events.agg(max("event_id")).head
    val cut = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0) / 2
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d28-src").toString))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(events.filter(col("event_id") <= cut), dir,
      "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(events.filter(col("event_id") > cut), dir,
      "b1.parquet", now): Unit
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val ckpt = track(Files.createTempDirectory("graft-ckpt-d28").toString)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("v"))
          .createOrReplaceTempView("d28_batch")
        batch.sparkSession.sql(
          s"""MERGE INTO $table t USING d28_batch u ON t.user_id = u.user_id
             |WHEN MATCHED THEN UPDATE SET
             |  n_events = t.n_events + u.n, sum_value_c = t.sum_value_c + u.v
             |WHEN NOT MATCHED THEN INSERT (user_id, n_events, sum_value_c)
             |  VALUES (u.user_id, u.n, u.v)""".stripMargin): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fb = fileBatchCount(q)
    require(fb == 2,
      s"d28 expects 2 file micro-batches (staged replay contract), got $fb")
    spark.table(table).orderBy("user_id")
  }

  val d28Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_value_c
      |FROM fev GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- D27
  /** D27: streaming tokenizer apply — the C96 one-pass BPE segmentation
    * run over the staged documents STREAM with the batch-learned merge
    * table frozen at query start (the d26 frozen-index contract, and
    * exactly how production streaming tokenization works: the tokenizer
    * is a deployed artifact, never stream state). The per-document stat
    * projection is pure scan-stage column math — stateless, so the
    * append-mode replay needs no watermark and the result is
    * row-identical to the batch C96, which is the oracle (same SQL).
    */
  def d27StreamSegment(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val merges = TextQueries.learnedMerges(spark, sfDir)
    val seg = TextQueries.bpeSegmentStatCols(
      StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents")), merges)
    runToTable(seg, "graft_d27_sink", "append").orderBy("doc_id")
  }

  /** Batch twin: identical to the C96 oracle — the stream is stateless. */
  val d27Sql: String = graft.text.TextQueries.c96Sql

  // ---------------------------------------------------------------- D29
  /** D29: streaming top-K leaderboard — a running "best [[TopkK]]
    * documents by classifier score" maintained across micro-batches:
    * each batch scores its documents with C52's scan-stage projection,
    * keeps its own top-K, and merges into the K-row board, which is
    * correct because top-K is a MONOTONE MERGEABLE summary —
    * topK(A ∪ B) = topK(topK(A) ∪ topK(B)) — the property that lets a
    * 100 TB/day stream maintain a global leaderboard with per-batch
    * work proportional to the batch and state bounded at K rows,
    * independent of history. The staged replay is forced to TWO data
    * micro-batches (the d17/d28 contract) so the cross-batch merge is
    * actually exercised; the oracle is the batch top-K, equal by the
    * merge property regardless of how the stream was sliced (the spec
    * pins the property on adversarial slicings). The K-row board lives
    * on the driver (a leaderboard IS driver-sized by construction — the
    * d26 bounded-state contract); a production deploy would persist it
    * per-batch to a table, which the idempotent merge makes
    * restart-safe.
    */
  val TopkK = 20

  def d29StreamTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    // Empty (fully-quarantined) view ⇒ NULL max ⇒ cut=0, empty halves,
    // empty board == empty fdoc oracle (c115 empty-view rule).
    val cutRow = docs.agg(max("doc_id")).head
    val cut = if (cutRow.isNullAt(0)) 0L else cutRow.getLong(0) / 2
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d29-src").toString))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") <= cut), dir,
      "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(docs.filter(col("doc_id") > cut), dir,
      "b1.parquet", now): Unit
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val board = new java.util.concurrent.atomic.AtomicReference[Seq[(Long, Long)]](Seq.empty)
    val ckpt = track(Files.createTempDirectory("graft-ckpt-d29").toString)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val top = graft.text.TextQueries.clsScoreCols(batch)
          .select("doc_id", "score_micro")
          .orderBy(col("score_micro").desc, col("doc_id"))
          .limit(TopkK).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        board.updateAndGet { prev =>
          (prev ++ top).sortBy { case (id, s) => (-s, id) }.take(TopkK)
        }: Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fb = fileBatchCount(q)
    require(fb == 2,
      s"d29 expects 2 file micro-batches (staged replay contract), got $fb")
    import spark.implicits._
    board.get.zipWithIndex
      .map { case ((id, s), i) => (i + 1L, id, s) }
      .toDF("rnk", "doc_id", "score_micro")
  }

  val d29Sql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    (CASE WHEN text IS NULL THEN NULL
       |     ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(string_split(text, ' '),
       |         t -> (${graft.text.TextQueries.tokenHashSql("t")}
       |               % ${graft.text.TextQueries.ClsBuckets}) * 2654435761 % 2001 - 1000)),
       |       (x, y) -> x + y) END * 1000000)
       |      // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS score_micro
       |  FROM fdoc
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk,
       |  doc_id, score_micro
       |FROM sc ORDER BY score_micro DESC, doc_id LIMIT $TopkK""".stripMargin

  // ---------------------------------------------------------------- D30
  /** D30: stream-stream LEFT OUTER interval join over a staged 3-batch
    * replay — the watermark-driven NULL-emission semantics D5's inner
    * join never exercises. Batch b0 carries all real events; b1 and b2
    * each carry one far-future sentinel error (user −1) and click
    * (user −2) pair, 3 and 6 days past the real maximum. The sentinels
    * exist to ADVANCE BOTH watermarks past every real window: after b1
    * the joint watermark (maxTs + 3 d − the 2 h delay) proves every
    * real error's click window closed, so b2's state eviction emits
    * every real unmatched error with the −1 sentinel pair — emission
    * happens in the batch AFTER the watermark passes, which is exactly
    * why the replay needs 3 data batches (enforced loudly). Sentinel
    * rows themselves never match (negative user ids) and are filtered
    * from the SINK TABLE by `user_id >= 0` — deliberately after the
    * stream (see the inline comment); the result is then exactly the
    * batch LEFT JOIN, which is the oracle.
    */
  def d30StreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame =
    d30Replay(spark, sfDir)._1

  /** [[d30StreamOuterJoin]] with its replay's progress entries (none
    * when the corpus has no valid event time and nothing replays). */
  private[graft] def d30Replay(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    import graft.Tables
    import spark.implicits._
    // b55 quarantined view — this replay builds its OWN file stream
    // (not eventsStream), so the batch-side read is the quarantine point
    val ev = Tables.events(spark, sfDir)
    // a fully-quarantined corpus has no valid event time to anchor the
    // sentinel watermarks on — the fev oracle is empty, return it
    // directly (the c115 empty-view rule)
    val maxRow = StreamingOps.normalize(ev)
      .agg(max(unix_micros(col("event_time")))).head
    if (maxRow.isNullAt(0))
      return (Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("event_id", "user_id", "err_us", "click_id", "click_us"), Nil)
    val tsType = ev.schema("ts").dataType
    val maxUs = maxRow.getLong(0)
    def sentinels(us: Long, idBase: Long): DataFrame = {
      def one(id: Long, user: Long, etype: String) = ev.limit(1).select(
        lit(id).as("event_id"),
        timestamp_micros(lit(us)).cast(tsType).as("ts"),
        lit(user).as("user_id"),
        lit(etype).as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
      one(idBase, -1L, "error").unionByName(one(idBase - 1L, -2L, "click"))
    }
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d30-src").toString))
    val now = System.currentTimeMillis()
    val day = 86400000000L
    StreamingOps.stageFrameFile(ev, dir, "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(sentinels(maxUs + 3 * day, -10L), dir, "b1.parquet",
      now - 300000L): Unit
    StreamingOps.stageFrameFile(sentinels(maxUs + 6 * day, -20L), dir, "b2.parquet", now): Unit
    def src() = StreamingOps.normalize(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    // The sentinel filter MUST run on the sink table, not inside the
    // streaming query: a `user_id >= 0` predicate there is pushed below
    // the watermark operator (and through the equi-join key to BOTH
    // sources), so the sentinel rows would be dropped before they can
    // advance the watermark and the unmatched flush never happens — the
    // replay silently degrades to "got 1 data batch" (observed, hence
    // this comment).
    val (sink, progress) = replayToTable(
      StreamingOps.intervalJoinOuter(src(), src()),
      "graft_d30_sink", "append", requireSingleBatch = false, requireDataBatches = 3)
    (sink.filter(col("user_id") >= 0L).orderBy("event_id", "click_id"), progress)
  }

  /** Batch twin of the watermark-flushed outer join: plain LEFT JOIN
    * with the same range condition and sentinel coalesce.
    */
  val d30Sql: String =
    s"""WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
       |errors AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS err_us
       |  FROM fev WHERE event_type = 'error'),
       |clicks AS (
       |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
       |  FROM fev WHERE event_type = 'click')
       |SELECT e.event_id, e.user_id, e.err_us,
       |  COALESCE(c.click_id, -1) AS click_id,
       |  COALESCE(c.click_us, -1) AS click_us
       |FROM errors e LEFT JOIN clicks c
       |  ON c.user_id = e.user_id
       |  AND c.click_us >= e.err_us - ${graft.relational.Queries.RangeWindowUs}
       |  AND c.click_us <= e.err_us
       |ORDER BY event_id, click_id""".stripMargin

  // ---------------------------------------------------------------- D31
  /** D31: streaming HyperLogLog vocabulary — C107's register sketch
    * maintained by the live stream. The point is WHY the sketch exists:
    * `COUNT(DISTINCT)` is not a streamable aggregate (its state is the
    * distinct set itself — unbounded), and Structured Streaming rejects
    * it outright; the HLL registers ARE streamable state — 256 bytes
    * per language forever, merged across micro-batches by the
    * aggregate's elementwise-max path (the same merge the map-side
    * partial agg exercises). The estimate derives on the sink table
    * through [[graft.text.TextQueries.hllFinalize]] — the d18
    * finalize-on-sink pattern, one definition for batch and stream —
    * so the oracle is C107's CTE chain minus the n_distinct column the
    * stream, by design, cannot produce.
    */
  def d31StreamHll(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val h = TextQueries.hllTokenHashes(
      StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents")))
    val sink = runToTable(
      h.groupBy("lang").agg(count(lit(1)).as("n_tokens"),
        graft.functions.aggs.hll_registers(col("h"), 8).as("regs")),
      "graft_d31_sink", "complete")
    TextQueries.hllFinalize(sink)
      .select(col("lang"), col("n_tokens"), col("reg_fp"), col("n_zero"), col("est"))
      .orderBy("lang")
  }

  val d31Sql: String =
    s"""WITH ${graft.text.TextQueries.hllCtes}
       |SELECT b.lang, b.n_tokens, s.reg_fp,
       |  CAST(s.n_zero AS BIGINT) AS n_zero,
       |  ${graft.text.TextQueries.hllEstSql} AS est
       |FROM base b JOIN stats s ON b.lang IS NOT DISTINCT FROM s.lang
       |ORDER BY b.lang""".stripMargin

  // ---------------------------------------------------------------- D32
  /** D32: streaming covariance moments over the embedding stream — the
    * live companion to C112's anisotropy diagnostic. CENTERED
    * covariance is not a streamable aggregate (the mean isn't known
    * until the stream ends), but the RAW moments are: N, Σxᵢ, and
    * Σxᵢxⱼ are plain sums — the canonical mergeable summary — so the
    * stream maintains exactly those as Dims²+Dims+1 integer cells and
    * the covariance finalizes on the sink via the moment identity
    * N²·Cov(i,j) = N·Σxᵢxⱼ − Σxᵢ·Σxⱼ — EXACT integers, no mean
    * truncation anywhere (cleaner than the batch centered form, which
    * is why this op reports cov_n = the N²-scaled covariance).
    *
    * The moments ride in ONE [[graft.functions.MomentMatrix]] aggregate
    * (a TypedImperativeAggregate carrying the full [n, Σxᵢ, Σxᵢxⱼ]
    * buffer, Dims²+Dims+1 longs ≈ 33 KB): each map task folds its
    * partition locally and only fixed-size buffers cross the wire —
    * shuffle bytes O(Dims² · partitions), INDEPENDENT of row count
    * (the round-10 fix: the previous relational form exploded 4,161
    * cells per input vector into the shuffle). Streaming state is one
    * row forever (complete mode — the d26 bounded-state contract);
    * the covariance cells unpack on the SINK from that single row via
    * array HOFs. Elements quantize to MILLI (not C54's micro): the
    * moment products then hold in BIGINT to ~10⁷ vectors, the right
    * headroom trade for an unbounded stream (beyond that the C43/C87
    * DECIMAL rule applies, noted).
    */
  def d32StreamCovariance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.embed.EmbedQueries.Dims
    val es = StreamingOps.embeddingsStream(spark, sfDir,
      staged(spark, sfDir, "embeddings"))
    val q = es.select(expr(
      "transform(embedding, e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT))")
      .as("q"))
    val sink = runToTable(
      q.agg(graft.functions.aggs.moment_matrix(col("q"), d).as("mm")),
      "graft_d32_sink", "complete")
    // finalize on the one-row sink: mm[0]=n, mm[1+i]=Σxᵢ, mm[1+d+i·d+j]=Σxᵢxⱼ
    // (element_at is 1-based, hence the +1 on every subscript)
    sink.select(explode(expr(
      s"""flatten(transform(sequence(0, ${d - 1}), i ->
         |  transform(sequence(0, ${d - 1}), j -> struct(
         |    CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |    element_at(mm, 1 + $d + i * $d + j + 1) AS sxy,
         |    element_at(mm, 1) * element_at(mm, 1 + $d + i * $d + j + 1)
         |      - element_at(mm, i + 2) * element_at(mm, j + 2) AS cov_n))))"""
        .stripMargin)).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        col("c.sxy").as("sxy"), col("c.cov_n").as("cov_n"))
      .orderBy("i", "j")
  }

  val d32Sql: String =
    s"""WITH ${graft.embed.EmbedQueries.fembCte},
       |q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM femb
       |), cells AS (
       |  SELECT vec_id, d, q[d + 1] AS qd
       |  FROM q, range(0, ${graft.embed.EmbedQueries.Dims}) td(d)
       |), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM femb),
       |sx AS (SELECT d, CAST(SUM(qd) AS BIGINT) AS s FROM cells GROUP BY d),
       |sxy AS (
       |  SELECT a.d AS i, b.d AS j, CAST(SUM(a.qd * b.qd) AS BIGINT) AS sxy
       |  FROM cells a JOIN cells b ON b.vec_id = a.vec_id
       |  GROUP BY a.d, b.d)
       |SELECT x.i, x.j, x.sxy,
       |  CAST(t.n * x.sxy - si.s * sj.s AS BIGINT) AS cov_n
       |FROM sxy x
       |JOIN sx si ON si.d = x.i
       |JOIN sx sj ON sj.d = x.j
       |CROSS JOIN nt t
       |ORDER BY x.i, x.j""".stripMargin

  // ---------------------------------------------------------------- D37
  /** D37: streaming CDC chunk-dedup telemetry — C127's content-defined
    * chunking run LIVE against a frozen chunk store (the d14/d21/d26
    * frozen-artifact contract: the duplicated-chunk key set is built
    * once from the batch corpus and deployed as a static side, never
    * stream state — per-chunk keys grow with the corpus, so carrying
    * them as streaming state would violate the bounded-state rule).
    * The stream chunks each document scan-stage through the ONE
    * [[graft.text.TextQueries.cdcChunkFrame]] definition batch C127
    * uses (chunking is stateless — boundaries depend only on the
    * document itself, which is exactly why CDC streams: no cross-doc
    * coordination), stream-static left-joins the store, and ONE
    * lang-keyed agg carries K langs of state forever (complete mode).
    * Per lang: chunks, duplicated chunks, token mass both ways, and
    * the duplicated-mass ppm the corpus-intake dashboard watches.
    */
  def d37StreamCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val store = TextQueries
      .cdcChunkFrame(graft.Tables.documents(spark, sfDir), Seq("doc_id"))
      .groupBy("fp", "clen").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("fp"), col("clen"), lit(1L).as("hit"))
      // sealed: a frozen artifact is MATERIALIZED once — a stream-static
      // join re-evaluates its static side every micro-batch otherwise
      .seal()
    val chunks = TextQueries.cdcChunkFrame(
      StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents")),
      Seq("doc_id", "lang"))
    val flagged = chunks.join(store, Seq("fp", "clen"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
    runToTable(
        flagged.groupBy("lang").agg(
          count(lit(1)).as("n_chunks"),
          sum("hit").as("dup_chunks"),
          sum("clen").as("n_tokens"),
          sum(col("hit") * col("clen")).as("dup_tokens")),
        "graft_d37_sink", "complete")
      .withColumn("dup_mass_ppm", expr("(dup_tokens * 1000000) div n_tokens"))
      .orderBy("lang")
  }

  /** Batch twin: the same per-lang telemetry through the shared c127
    * CTE chain (the stream replays the full corpus, so the frozen
    * store's occ ≥ 2 test and the batch occurrence test agree).
    */
  val d37Sql: String =
    s"""WITH ${graft.text.TextQueries.cdcCtes},
       |occ AS (
       |  SELECT fp, clen FROM ch GROUP BY fp, clen HAVING COUNT(*) >= 2
       |), fl AS (
       |  SELECT ch.doc_id, ch.clen,
       |    CASE WHEN o.fp IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM ch LEFT JOIN occ o ON o.fp = ch.fp AND o.clen = ch.clen
       |)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(fl.hit) AS BIGINT) AS dup_chunks,
       |  CAST(SUM(fl.clen) AS BIGINT) AS n_tokens,
       |  CAST(SUM(fl.hit * fl.clen) AS BIGINT) AS dup_tokens,
       |  (CAST(SUM(fl.hit * fl.clen) AS BIGINT) * 1000000)
       |    // CAST(SUM(fl.clen) AS BIGINT) AS dup_mass_ppm
       |FROM fl JOIN fdoc d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- D38
  /** D38: cross-snapshot incremental NEAR-dup screen — "dedup
    * tomorrow's crawl against today's corpus", the production flow
    * that composes D21's frozen-reference discipline with C6's band
    * signatures (D19 screens a stream against its own history; C67
    * does the cross-snapshot flow for EXACT dups — this is its LSH
    * near-dup counterpart). The persisted snapshot's band-hash store
    * (old half at C67's midpoint cut) is built batch-side and frozen
    * at query start (the d14/d21/d26 frozen-artifact contract: the
    * store grows with the corpus, so it is an artifact, NEVER stream
    * state); each arriving new-snapshot document projects its band
    * rows scan-stage through the ONE [[graft.dedup.DedupQueries
    * .bandRowsOn]] definition the batch C6 family uses and
    * stream-static equi-joins the store on (band, bh) — completely
    * STATELESS: candidate emission needs no watermark and no state
    * store at all, so the screen runs at ingest line rate.
    *
    * The store is OWNER-compressed (D19's convention): one row per
    * corpus bucket carrying the min corpus doc_id as the dedup
    * WITNESS. This is the load-bearing scale decision: a raw
    * (new doc × bucket member) pair emission is QUADRATIC on a
    * dup-heavy corpus — one hot bucket with k old and m new members
    * emits k·m rows (measured: 34 s at sf0.1 where this form takes
    * ~2 s, and at 100 TB it is the difference between a screen and an
    * explosion) — while a dedup ROUTING decision needs one witness,
    * not the member list (pair-level detail stays batch C6's job).
    * Output is ≤ Bands rows per new doc by construction; the per-doc
    * verdict (hit-band count + min owner) finalizes on the sink (the
    * d36 late-finalize pattern). At 100 TB the store is a (band, bh)-
    * bucketed table one row per bucket, and the join is the C6 bucket
    * join with one side frozen.
    */
  def d38StreamSnapshotDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.DedupQueries
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    // staging-harness scalar (1 row), not operator code: the snapshot
    // cut. A fully-quarantined corpus leaves the view empty (NULL
    // aggregate) — return the empty frame the fdoc oracle also yields
    // instead of NPE-ing on getLong (the c115 empty-view rule).
    val cutRow = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long")).head
    if (cutRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long)]
        .toDF("new_id", "n_hit_bands", "owner_min")
    val cut = cutRow.getLong(0)
    val store = DedupQueries.bandRowsOn(docs.filter(col("doc_id") < cut))
      .groupBy("band", "bh").agg(min("doc_id").as("owner"))
      // sealed: the frozen owner store is materialized once, not
      // re-derived per micro-batch by the stream-static join
      .seal()
    val fresh = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .filter(col("doc_id") >= cut)
    val hits = DedupQueries.bandRowsOn(fresh)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
      .join(store, Seq("band", "bh"))
    runToTable(hits.select("new_id", "band", "owner"), "graft_d38_sink", "append")
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_hit_bands"), min("owner").as("owner_min"))
      .orderBy("new_id")
  }

  /** Batch twin: the same new-vs-corpus owner screen over the shared
    * band CTEs and the C67 midpoint-cut convention.
    */
  val d38Sql: String =
    s"""WITH ${graft.dedup.DedupQueries.bandRowsCtes.mkString(",\n")},
       |cut AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc),
       |ob AS (
       |  SELECT band, bh, MIN(doc_id) AS owner FROM bands, cut
       |  WHERE doc_id < cut GROUP BY band, bh),
       |nb AS (SELECT doc_id AS new_id, band, bh FROM bands, cut WHERE doc_id >= cut)
       |SELECT n.new_id, CAST(COUNT(*) AS BIGINT) AS n_hit_bands, MIN(o.owner) AS owner_min
       |FROM nb n JOIN ob o ON o.band = n.band AND o.bh = n.bh
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- D40
  /** D40: cross-snapshot SEMANTIC near-dup screen — D38's flow in
    * embedding space, completing the incremental-dedup triple (exact:
    * C67/D21; lexical near-dup: D38; semantic: here): arriving
    * embeddings are screened against a FROZEN corpus snapshot
    * (C67's midpoint-cut convention on vec_id) for paraphrase-level
    * duplicates that share no n-grams. The corpus snapshot rides as
    * two frozen artifacts — the K-row centroid codebook (broadcast
    * into the scan, D22's stateless assignment) and the
    * cluster-keyed member store (vec + norm per corpus vector, the
    * persisted C50 assignment) — so the stream side is completely
    * STATELESS: assign map-side, stream-static equi-join the store on
    * the cluster id, keep cosine ≥ CosThreshold (C51's SemDeDup
    * within-cluster discipline bounds per-vector work at N/K members;
    * K grows with N, so the bound is a constant at 100 TB). Matches
    * land in the sink (sparse by construction — the threshold IS the
    * near-dup bar); the per-vector verdict (match count, best cosine,
    * min witness at the best cosine) finalizes on the sink (d36/d38
    * pattern).
    */
  def d40StreamSemScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.embed.EmbedQueries
    import graft.functions.vector.{vec_dot, vec_norm2}
    import spark.implicits._
    val emb = graft.embed.EmbedQueries.vectors(spark, sfDir)
    // staging-harness scalar (1 row), not operator code: the snapshot
    // cut. A fully-quarantined corpus leaves the view empty (NULL
    // aggregate) — return the empty frame the oracle also yields
    // instead of NPE-ing on getLong (the c115 empty-view rule).
    val cutRow = emb.agg(((min("vec_id") + max("vec_id")) / 2).cast("long")).head
    if (cutRow.isNullAt(0))
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("new_id", "n_matches", "best_cos", "match_id")
    val cut = cutRow.getLong(0)
    val centRow = EmbedQueries.kmCentroidRow(spark, sfDir)
    val store = emb.filter(col("vec_id") < cut)
      .crossJoin(broadcast(centRow))
      .select(col("vec_id").as("corpus_id"),
        EmbedQueries.kmBestCol.getField("cid").cast("long").as("cluster"),
        col("embedding").as("ce2"), vec_norm2(col("embedding")).as("cn2"))
      // sealed: the frozen member store is materialized once, not
      // re-assigned against the codebook per micro-batch
      .seal()
    val fresh = StreamingOps.embeddingsStream(spark, sfDir,
        staged(spark, sfDir, "embeddings"))
      .filter(col("vec_id") >= cut)
      .crossJoin(broadcast(centRow))
      .select(col("vec_id").as("new_id"),
        EmbedQueries.kmBestCol.getField("cid").cast("long").as("cluster"),
        col("embedding").as("ne"), vec_norm2(col("embedding")).as("nn"))
    val hits = fresh.join(store, Seq("cluster"))
      .select(col("new_id"), col("corpus_id"),
        EmbedQueries.cosine(vec_dot(col("ne"), col("ce2")),
          col("nn"), col("cn2")).as("cos"))
      .filter(col("cos") >= EmbedQueries.CosThreshold)
    val sink = runToTable(hits, "graft_d40_sink", "append").seal()
    val best = sink.groupBy("new_id").agg(max("cos").as("best_cos"))
    sink.join(best, "new_id")
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_matches"), max("cos").as("best_cos"),
        min(when(col("cos") === col("best_cos"), col("corpus_id"))).as("match_id"))
      .orderBy("new_id")
  }

  /** Batch twin: the same cluster-bucketed cross-half screen through
    * the shared kmeans-assignment CTEs.
    */
  val d40Sql: String =
    s"""WITH ${graft.embed.EmbedQueries.d40Ctes}
       |SELECT h.new_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       |  MAX(h.cos) AS best_cos,
       |  MIN(CASE WHEN h.cos = b.best_cos THEN h.corpus_id END) AS match_id
       |FROM hits h JOIN (SELECT new_id, MAX(cos) AS best_cos FROM hits GROUP BY new_id) b
       |  ON b.new_id = h.new_id
       |GROUP BY h.new_id ORDER BY h.new_id""".stripMargin

  // ---------------------------------------------------------------- D41
  /** D41: cross-snapshot PERCEPTUAL near-dup screen — the fourth rung
    * of the incremental screen family (exact: C67/D21; lexical: D38;
    * semantic: D40; perceptual: here): arriving binary payloads are
    * screened against a FROZEN corpus snapshot for re-encodes/recrops
    * of the same asset, using C126's fingerprint verbatim (aHash-style
    * block-mean bits, 4×12-bit LSH bands, exact Hamming ≤ T verify).
    * The frozen store is the (band, bv, phash)-CLASS table with the
    * min-owner witness — the D38 owner-witness idea adapted to a
    * verify-carrying screen: a Hamming check needs the matched CLASS's
    * phash (not just an owner id), and compressing bucket members to
    * distinct phash classes keeps the same quadratic-proofing (a
    * million byte-identical re-uploads are ONE class row; rows per
    * arriving doc ≤ Bands · distinct-classes-per-bucket, never member
    * count). The stream side is fully STATELESS: the fingerprint is
    * computed by the column-level fold twin
    * ([[graft.multimodal.Multimodal.withPhashFold]] — bit-identical to
    * the store's explode plan, spec-pinned), bands project map-side,
    * and the screen is one stream-static equi-join on (k, bv); the
    * per-doc verdict (class-candidate count, Hamming-near count, min
    * near witness) finalizes on the sink (d36/d38/d40 pattern).
    */
  def d41StreamPhashScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    // staging-harness scalar (1 row), not operator code: the snapshot
    // cut. A fully-quarantined corpus leaves the view empty (NULL
    // aggregate) — return the empty frame the fdoc oracle also yields
    // instead of NPE-ing on getLong (the c115 empty-view rule).
    val cutRow = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long")).head
    if (cutRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("new_id", "n_cand", "n_near", "near_witness")
    val cut = cutRow.getLong(0)
    val store = Multimodal.phashBands(
        Multimodal.phashOn(docs.filter(col("doc_id") < cut)))
      .groupBy("k", "bv", "phash").agg(min("doc_id").as("owner"))
      .select(col("k"), col("bv"), col("phash").as("pold"), col("owner"))
      // sealed: the frozen class store is materialized once, not
      // re-fingerprinted per micro-batch by the stream-static join
      .seal()
    val fresh = Multimodal.withPhashFold(
      StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
        .filter(col("doc_id") >= cut))
    val hits = Multimodal.phashBands(fresh.select("doc_id", "phash"))
      .select(col("doc_id").as("new_id"), col("k"), col("bv"),
        col("phash").as("pnew"))
      .join(store, Seq("k", "bv"))
    val sink = runToTable(hits.select("new_id", "owner", "pold", "pnew"),
      "graft_d41_sink", "append")
    sink.distinct() // same class can hit in several bands — one verdict row
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_cand"),
        sum((expr("bit_count(pnew ^ pold)") <= PhashHamThreshold).cast("long"))
          .as("n_near"),
        coalesce(min(when(expr("bit_count(pnew ^ pold)") <= PhashHamThreshold,
          col("owner"))), lit(-1L)).as("near_witness"))
      .orderBy("new_id")
  }

  private val PhashHamThreshold = graft.multimodal.Multimodal.PhashHamT

  /** Batch twin: the same cross-half class screen through the shared
    * fingerprint/banding CTE chain.
    */
  val d41Sql: String =
    s"""WITH ${graft.multimodal.Multimodal.phashCtes},
       |cut AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc),
       |ob AS (
       |  SELECT k, bv, phash AS pold, MIN(doc_id) AS owner
       |  FROM bands, cut WHERE doc_id < cut GROUP BY k, bv, phash),
       |nb AS (SELECT doc_id AS new_id, k, bv, phash AS pnew
       |  FROM bands, cut WHERE doc_id >= cut),
       |h AS (
       |  SELECT DISTINCT n.new_id, o.owner, o.pold, n.pnew
       |  FROM nb n JOIN ob o ON o.k = n.k AND o.bv = n.bv)
       |SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |  CAST(SUM(CASE WHEN bit_count(xor(pnew, pold)) <= ${graft.multimodal.Multimodal.PhashHamT}
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |  COALESCE(MIN(CASE WHEN bit_count(xor(pnew, pold)) <= ${graft.multimodal.Multimodal.PhashHamT}
       |    THEN owner END), -1) AS near_witness
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- D36
  /** D36: streaming Gini — C118's token-mass concentration maintained
    * live: the (lang, token-count) histogram is a BOUNDED-KEY
    * mergeable summary (counts are value-domain bounded, the C22
    * argument — state is distinct lengths per lang, never documents),
    * so ONE streaming agg carries it in complete mode and the whole
    * Lorenz finalize — rank-run algebra, Gini, top-decile share — runs
    * on the SINK through the exact [[graft.text.TextQueries
    * .giniFromHistogram]] definition the batch query uses (one
    * finalize, batch + stream; the d18-quantile / d35-CUSUM pattern:
    * sort-needing statistics stream as histograms and finalize late).
    */
  def d36StreamGini(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val g = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .select(col("lang"),
        size(TextQueries.tokens(col("text"))).cast("long").as("cnt"))
      .groupBy("lang", "cnt").agg(count(lit(1)).as("m"))
    // the finalize self-joins the histogram; a memory-sink table's
    // attributes fail Spark's self-join dedup (INTERNAL_ERROR:
    // conflicting references), so snapshot the bounded state first
    TextQueries.giniFromHistogram(
      runToTable(g, "graft_d36_sink", "complete").seal())
  }

  /** Batch twin: identical to C118's oracle — the histogram is the
    * only stream-side state and it matches the batch histogram exactly.
    */
  val d36Sql: String = graft.text.TextQueries.c118Sql

  // ---------------------------------------------------------------- D34
  /** D34: streaming WordPiece apply — C119's greedy longest-match
    * segmentation over the documents STREAM with the batch-derived
    * vocab frozen at query start (D26/D27's frozen-artifact contract:
    * a deployed tokenizer is an artifact, never stream state). The
    * per-doc projection is pure scan-stage column math through the
    * native `WordPieceSegment` expression; the per-lang word/piece
    * sums are plain streamable aggregates (complete mode, K langs of
    * state forever). The DISTINCT-piece column C119 reports is
    * deliberately absent — COUNT(DISTINCT) is not streamable (D31's
    * lesson), and unlike the HLL case there is no register substitute
    * requested here; fertility finalizes on the sink.
    */
  def d34StreamWordpiece(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val (init, cont) = TextQueries.wpVocab(spark, sfDir)
    val seg = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .select(col("lang"),
        size(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .cast("long").as("n_words"),
        graft.functions.textseg.wordpiece_segment(col("text"), init, cont)
          .as("pieces"))
    runToTable(
        seg.groupBy("lang").agg(sum("n_words").as("n_words"),
          sum(size(col("pieces")).cast("long")).as("n_pieces")),
        "graft_d34_sink", "complete")
      .withColumn("fertility_nano", expr("(n_pieces * 1000000000) div n_words"))
      .orderBy("lang")
  }

  /** Batch twin: C119's chain minus the unstreamable distinct count. */
  val d34Sql: String =
    s"""${graft.text.TextQueries.wpBaseCtes}
       |SELECT lang, n_words, n_pieces,
       |  (n_pieces * 1000000000) // n_words AS fertility_nano
       |FROM base ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- D39
  /** D39: streaming unigram-LM apply — C132's Viterbi segmentation
    * over the documents STREAM with the hard-EM-learned piece table
    * frozen at query start, completing the tokenizer-family symmetry
    * (BPE streams as D27, WordPiece as D34, unigram here): a deployed
    * SentencePiece model is an ARTIFACT — EM training is a batch job,
    * never stream state — so the stream side is a pure scan-stage
    * projection through the native `UnigramSegment` expression plus
    * the same complete-mode per-lang sums as D34 (K langs of state
    * forever; the distinct-piece column stays batch-only, D31's
    * COUNT-DISTINCT lesson; fertility finalizes on the sink).
    */
  def d39StreamUnigram(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.TextQueries
    val (ps, cs) = TextQueries.uniVocab(spark, sfDir)
    val seg = StreamingOps.docsStream(spark, sfDir, staged(spark, sfDir, "documents"))
      .select(col("lang"),
        size(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .cast("long").as("n_words"),
        graft.functions.textseg.unigram_segment(col("text"), ps, cs)
          .as("pieces"))
    runToTable(
        seg.groupBy("lang").agg(sum("n_words").as("n_words"),
          sum(size(col("pieces")).cast("long")).as("n_pieces")),
        "graft_d39_sink", "complete")
      .withColumn("fertility_nano", expr("(n_pieces * 1000000000) div n_words"))
      .orderBy("lang")
  }

  /** Batch twin: C132's chain minus the unstreamable distinct count. */
  val d39Sql: String =
    s"""${graft.text.TextQueries.uniBaseCtes}
       |SELECT lang, n_words, n_pieces,
       |  (n_pieces * 1000000000) // n_words AS fertility_nano
       |FROM base ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- D35
  /** D35: streaming CUSUM inputs — B50's change-point statistic needs
    * the series TOTAL, which only exists at stream end, so the scan
    * (like D32's covariance) splits into a streamable half and a
    * finalize: per-day value sums are the canonical mergeable summary
    * (ONE streaming agg over calendar-bounded day keys — state is days,
    * not rows), and the deviation line dev_d = N·prefix_d − rank_d·T
    * computes on the SINK table where N and T are finally known. The
    * day spine is NOT gap-filled here (a stream cannot know a day is
    * over), so the finalize ranks over OBSERVED days only — the
    * documented semantic difference from B50's zero-filled spine; on
    * gap-free data (this corpus at sf ≥ 0.01, asserted by the spec)
    * the two agree exactly.
    */
  def d35StreamCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = StreamingOps.eventsStream(spark, sfDir, staged(spark, sfDir))
      .groupBy(expr("unix_micros(event_time) div 86400000000").as("day_idx"))
      .agg(sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("x_c"))
    val sink = runToTable(daily, "graft_d35_sink", "complete")
    val w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    val tot = sink.agg(sum("x_c").as("total_c"), count(lit(1)).as("n_days"))
    val filled = sink
      .withColumn("prefix_c", sum("x_c").over(w))
      .withColumn("rank_d", count(lit(1)).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dev_scaled",
        col("n_days") * col("prefix_c") - col("rank_d") * col("total_c"))
    filled.orderBy(abs(col("dev_scaled")).desc, col("day_idx")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("dev_scaled")).desc, col("day_idx"))))
      .select("rk", "day_idx", "x_c", "prefix_c", "dev_scaled", "n_days", "total_c")
      .orderBy("rk")
  }

  /** Batch twin over observed days (no spine — see the scaladoc). */
  val d35Sql: String =
    """WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
      |daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day_idx,
      |    CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS x_c
      |  FROM fev GROUP BY 1
      |), c AS (
      |  SELECT day_idx, x_c,
      |    CAST(SUM(x_c) OVER w AS BIGINT) AS prefix_c,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS rank_d
      |  FROM daily
      |  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), t AS (
      |  SELECT CAST(SUM(x_c) AS BIGINT) AS total_c,
      |    CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
      |)
      |SELECT CAST(ROW_NUMBER() OVER (
      |    ORDER BY abs(n_days * prefix_c - rank_d * total_c) DESC, day_idx) AS INTEGER) AS rk,
      |  day_idx, x_c, prefix_c,
      |  n_days * prefix_c - rank_d * total_c AS dev_scaled,
      |  n_days, total_c
      |FROM c, t
      |QUALIFY rk <= 10
      |ORDER BY rk""".stripMargin

  // ---------------------------------------------------------------- D33
  /** D33: unresolved-error alerts from the EVENT-TIME TIMEOUT path —
    * see [[StreamingOps.timeoutAlerts]] for the semantics. The staged
    * replay is D30's: all real events in batch 0, then two sentinel
    * batches (+3 d, +6 d — far past every real deadline) whose only
    * job is advancing the watermark so the timers actually fire; the
    * sentinel users are negative and filtered ON THE SINK (D30's
    * documented push-below-watermark trap applies identically here).
    * Oracle = the batch NOT EXISTS over the same forward TTL window:
    * an alert row iff no same-user click lands in
    * [err_us, err_us + AlertTtlUs].
    */
  def d33StreamTimeoutAlert(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables
    import spark.implicits._
    // b55 quarantined view + empty-view guard (see d30's scaladoc note)
    val ev = Tables.events(spark, sfDir)
    val maxRow = StreamingOps.normalize(ev)
      .agg(max(unix_micros(col("event_time")))).head
    if (maxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("event_id", "user_id", "err_us", "deadline_us")
    val tsType = ev.schema("ts").dataType
    val maxUs = maxRow.getLong(0)
    def sentinels(us: Long, idBase: Long): DataFrame = {
      def one(id: Long, user: Long, etype: String) = ev.limit(1).select(
        lit(id).as("event_id"),
        timestamp_micros(lit(us)).cast(tsType).as("ts"),
        lit(user).as("user_id"),
        lit(etype).as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
      one(idBase, -1L, "error").unionByName(one(idBase - 1L, -2L, "click"))
    }
    val dir = java.nio.file.Paths.get(track(
      Files.createTempDirectory("graft-d33-src").toString))
    val now = System.currentTimeMillis()
    val day = 86400000000L
    StreamingOps.stageFrameFile(ev, dir, "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(sentinels(maxUs + 3 * day, -10L), dir, "b1.parquet",
      now - 300000L): Unit
    StreamingOps.stageFrameFile(sentinels(maxUs + 6 * day, -20L), dir, "b2.parquet", now): Unit
    val src = StreamingOps.normalize(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    runToTable(StreamingOps.timeoutAlerts(src).toDF(),
        "graft_d33_sink", "append", requireDataBatches = 3)
      .filter(col("user_id") >= 0L)
      .orderBy("event_id")
  }

  val d33Sql: String =
    s"""WITH fev AS (SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
       |errors AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS err_us
       |  FROM fev WHERE event_type = 'error'),
       |clicks AS (
       |  SELECT user_id, epoch_us(ts) AS c_us
       |  FROM fev WHERE event_type = 'click')
       |SELECT e.event_id, e.user_id, e.err_us,
       |  e.err_us + ${StreamingOps.AlertTtlUs} AS deadline_us
       |FROM errors e
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM clicks c WHERE c.user_id = e.user_id
       |    AND c.c_us >= e.err_us
       |    AND c.c_us <= e.err_us + ${StreamingOps.AlertTtlUs})
       |ORDER BY e.event_id""".stripMargin


  // --------------------------------------------------------------- D42
  /** D42: streaming strict-JSON field rollup — b7's extraction pipeline
    * ([[graft.functions.StrictJson]] + the integral-lexeme guard) run
    * INSIDE a streaming aggregation, complete mode. The point of the
    * key: the strict-parse contract is a plain codegen'd scalar
    * expression, so it composes with grouped streaming aggs unchanged —
    * the dirty-props domain (fuzz plants ~27 classes) is first-class in
    * the D block too, and the oracle is b7's SQL verbatim. The sum is
    * associative over micro-batches (NULL-k rows add nothing), so the
    * result is replay-shape-free; the avg is derived on the sink table
    * from the exact integer sums, the b7 µ-unit rule.
    */
  def d42StreamJson(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(
        stream(spark, sfDir)
          .select(col("event_type"),
            graft.functions.json.json_strict_field(col("props"), "k").as("s"))
          .withColumn("k",
            expr("try_cast(CASE WHEN s RLIKE '^-?[0-9]+$' THEN s END AS BIGINT)"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k")),
        "graft_d42_sink", "complete")
      .withColumn("avg_k_micro", expr("(sum_k * 1000000) div n"))
      .orderBy("event_type")

  val d42Sql: String = graft.relational.Queries.jsonExtractSql

  /** Session memo of each D key's result frame (r19, guide §2.6 — the
    * c136 overlap idiom applied across the block): the dominant cost of
    * every D key is its AvailableNow replay — checkpoint setup,
    * per-micro-batch planning, state-store lifecycle, source staging —
    * a fixed ~1–2 s floor per key at ANY scale factor, 41 of which ran
    * strictly serially in the bench loop. The replays are INDEPENDENT
    * streaming jobs, so [[replayAll]] runs them once per session from a
    * thread pool (each worker on its own `spark.newSession()` clone —
    * the Verify isolation pattern: private SQLConf, temp views, memory
    * sinks), billed to the `stream_replays` prep line like every other
    * shared session store (bm25Stats, the dedup universe). Invoking a
    * key still executes its finalize plan over the replayed sink; only
    * the replay side-effect is shared. Keyed on applicationId —
    * nothing persists across runs; with no prior [[replayAll]] (subset
    * bench runs, specs, ScaleSmoke) the key's first invocation runs its
    * replay exactly as before, serially, in the caller's session.
    */
  private val resultCache = new graft.util.Memo[(String, String, String), DataFrame]

  private def memoized(name: String,
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, sfDir) => resultCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, sfDir, name), fn(spark, sfDir))

  /** Longest-replay-first dispatch (sf0.1 measurements) so the pool's
    * tail is the cheap stateless screens, not a straggling 7 s outer
    * join — Verify's LPT trick.
    */
  private val replayHeavyFirst = Seq(
    "d30_stream_outer_join", "d41_stream_phash_screen", "d33_stream_timeout_alert",
    "d5_stream_interval_join", "d14_stream_decontam", "d40_stream_sem_screen",
    "d37_stream_cdc", "d26_stream_bm25", "d19_stream_lsh_dedup",
    "d38_stream_snapshot_dedup", "d24_stream_drift", "d16_stream_cluster",
    "d9_stream_sessions_native", "d17_stream_pack", "d10_stream_distinct_sketch")

  /** The replay pool's width from `graft.stream.replayPar` (default 8):
    * a positive integer, capped at `replays` (a worker past the queue's
    * end exits at once); anything else is rejected naming the key.
    */
  private[graft] def replayWidth(conf: Option[String], replays: Int): Int =
    math.min(replays, conf.fold(8)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"graft.stream.replayPar=$v: expected a positive integer"))))

  /** Run every D-block replay once, overlapped. Pool width: the replays
    * are scheduler/IO-bound (tiny data at bench SF; micro-batch planning
    * and state-store commits dominate), so the width is about keeping
    * query-start latencies overlapped, not about cores — 8 matches the
    * Verify sweep's width; `graft.stream.replayPar` overrides (a live
    * cluster would size it to its driver, like StatePartitions).
    */
  private[graft] def replayAll(spark: SparkSession, sfDir: String): Unit = {
    val par = replayWidth(spark.conf.getOption("graft.stream.replayPar"), queries.size)
    val rank = replayHeavyFirst.zipWithIndex.toMap
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]
    queries.keys.toSeq.sortBy(n => (rank.getOrElse(n, Int.MaxValue), n))
      .foreach(queue.add(_): Unit)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def worker(): Thread = new Thread(() => {
      val session = spark.newSession()
      var name = queue.poll()
      while (name != null) {
        try { queries(name)(session, sfDir): Unit }
        catch { case e: Throwable =>
          failed.add(name): Unit
          System.err.println(s"[stream_replays] $name FAILED in overlapped replay: $e")
        }
        name = queue.poll()
      }
    })
    val threads = (1 to par).map(_ => worker())
    threads.foreach(_.start())
    threads.foreach(_.join())
    // fail the prep line loudly; the memo holder retries a failed body,
    // so the key's own bench/verify slot re-runs serially and reports
    // the real error in its own row — a broken replay can never hide
    if (!failed.isEmpty)
      sys.error(s"stream_replays: ${failed.size} replays failed: " +
        java.util.List.copyOf(failed))
  }

  /** Shared-memo prep registration (the [[graft.Prep]] contract). */
  private[graft] def prepItems: Seq[(String, (SparkSession, String) => Unit)] =
    Seq("stream_replays" -> ((s, d) => replayAll(s, d)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d42_stream_json" -> (d42StreamJson _),
    "d36_stream_gini" -> (d36StreamGini _),
    "d37_stream_cdc" -> (d37StreamCdc _),
    "d38_stream_snapshot_dedup" -> (d38StreamSnapshotDedup _),
    "d39_stream_unigram" -> (d39StreamUnigram _),
    "d40_stream_sem_screen" -> (d40StreamSemScreen _),
    "d41_stream_phash_screen" -> (d41StreamPhashScreen _),
    "d35_stream_cusum" -> (d35StreamCusum _),
    "d34_stream_wordpiece" -> (d34StreamWordpiece _),
    "d33_stream_timeout_alert" -> (d33StreamTimeoutAlert _),
    "d32_stream_covariance" -> (d32StreamCovariance _),
    "d31_stream_hll" -> (d31StreamHll _),
    "d30_stream_outer_join" -> (d30StreamOuterJoin _),
    "d29_stream_topk" -> (d29StreamTopk _),
    "d28_stream_merge_upsert" -> (d28StreamMergeUpsert _),
    "d27_stream_segment" -> (d27StreamSegment _),
    "d26_stream_bm25" -> (d26StreamBm25 _),
    "d25_stream_diff" -> (d25StreamDiff _),
    "d24_stream_drift" -> (d24StreamDrift _),
    "d23_stream_scd2" -> (d23StreamScd2 _),
    "d22_stream_kmeans" -> (d22StreamKmeans _),
    "d21_stream_bloom" -> (d21StreamBloomBuild _),
    "d20_stream_cms" -> (d20StreamCms _),
    "d19_stream_lsh_dedup" -> (d19StreamLshDedup _),
    "d1_stream_windowed" -> (d1StreamWindowed _),
    "d2_stream_dedup" -> (d2StreamDedup _),
    "d3_stream_sessions" -> (d3StreamSessions _),
    "d4_stream_enriched" -> (d4StreamEnriched _),
    "d5_stream_interval_join" -> (d5StreamIntervalJoin _),
    "d6_stream_totals" -> (d6StreamTotals _),
    "d7_stream_vocab" -> (d7StreamVocab _),
    "d8_stream_upsert" -> (d8StreamUpsert _),
    "d9_stream_sessions_native" -> (d9StreamSessionsNative _),
    "d10_stream_distinct_sketch" -> (d10StreamDistinctSketch _),
    "d11_stream_asof" -> (d11StreamAsof _),
    "d12_stream_funnel" -> (d12StreamFunnel _),
    "d13_stream_gate" -> (d13StreamGate _),
    "d14_stream_decontam" -> (d14StreamDecontam _),
    "d15_stream_sliding" -> (d15StreamSliding _),
    "d16_stream_cluster" -> (d16StreamCluster _),
    "d17_stream_pack" -> (d17StreamPack _),
    "d18_stream_quantile" -> (d18StreamQuantile _))
    .map { case (k, fn) => k -> memoized(k, fn) }

  val oracles: Map[String, String] = Map(
    "d42_stream_json" -> d42Sql,
    "d36_stream_gini" -> d36Sql,
    "d37_stream_cdc" -> d37Sql,
    "d38_stream_snapshot_dedup" -> d38Sql,
    "d39_stream_unigram" -> d39Sql,
    "d40_stream_sem_screen" -> d40Sql,
    "d41_stream_phash_screen" -> d41Sql,
    "d35_stream_cusum" -> d35Sql,
    "d34_stream_wordpiece" -> d34Sql,
    "d33_stream_timeout_alert" -> d33Sql,
    "d32_stream_covariance" -> d32Sql,
    "d31_stream_hll" -> d31Sql,
    "d30_stream_outer_join" -> d30Sql,
    "d29_stream_topk" -> d29Sql,
    "d28_stream_merge_upsert" -> d28Sql,
    "d27_stream_segment" -> d27Sql,
    "d26_stream_bm25" -> d26Sql,
    "d25_stream_diff" -> d25Sql,
    "d24_stream_drift" -> d24Sql,
    "d23_stream_scd2" -> d23Sql,
    "d22_stream_kmeans" -> d22Sql,
    "d21_stream_bloom" -> d21Sql,
    "d20_stream_cms" -> d20Sql,
    "d19_stream_lsh_dedup" -> d19Sql,
    "d1_stream_windowed" -> d1Sql,
    "d2_stream_dedup" -> d2Sql,
    "d3_stream_sessions" -> d3Sql,
    "d4_stream_enriched" -> d4Sql,
    "d5_stream_interval_join" -> d5Sql,
    "d6_stream_totals" -> d6Sql,
    "d7_stream_vocab" -> d7Sql,
    "d8_stream_upsert" -> d8Sql,
    "d9_stream_sessions_native" -> d9Sql,
    "d10_stream_distinct_sketch" -> d10Sql,
    "d11_stream_asof" -> d11Sql,
    "d12_stream_funnel" -> d12Sql,
    "d13_stream_gate" -> d13Sql,
    "d14_stream_decontam" -> d14Sql,
    "d15_stream_sliding" -> d15Sql,
    "d16_stream_cluster" -> d16Sql,
    "d17_stream_pack" -> d17Sql,
    "d18_stream_quantile" -> d18Sql)
}
