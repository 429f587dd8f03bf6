package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkTestBase, Tables}
import graft.relational.Queries

class StreamingSpec extends SparkTestBase {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): org.apache.spark.sql.DataFrame = {
    val ckpt = Files.createTempDirectory(s"graft-ckpt-$name").toString
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  private lazy val stagedDir = StreamingOps.stageEventsDir(spark, sf)

  test("graft.stream.replayPar: a positive integer, capped at the replay count") {
    // the parse alone: no replay runs and no thread starts here
    assert(StreamingQueries.replayWidth(None, 42) == 8)
    assert(StreamingQueries.replayWidth(Some("3"), 42) == 3)
    assert(StreamingQueries.replayWidth(Some("100000"), 42) == 42)
    for (bad <- Seq("x", "0", "-3")) {
      val e = intercept[IllegalArgumentException](StreamingQueries.replayWidth(Some(bad), 42))
      assert(e.getMessage.contains("graft.stream.replayPar"), e.getMessage)
    }
  }

  test("split staging: k files, lossless, event-time-ordered, ties never straddle") {
    val dir = StreamingOps.stageTableDirSplit(spark, sf, "events", 4, seed = 7L)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(files.length == 4, s"expected 4 staged files, got ${files.length}")
    // modTimes strictly increase with batch index (the file-source replay order)
    assert(files.map(_.lastModified).sliding(2).forall(p => p(0) < p(1)))
    val whole = Tables(spark, sf, "events")
    val parts = files.map(f => spark.read.parquet(f.getPath))
    assert(parts.map(_.count()).sum == whole.count(), "split staging lost rows")
    assert(parts.head.schema == whole.schema, "split staging changed the schema")
    // watermark-respecting: batch i's max ts < batch i+1's min ts —
    // STRICT, which also proves equal timestamps never straddle a cut
    // (ts arrives as parquet-nanos BIGINT or NTZ timestamp depending on
    // the reader flags — normalize to epoch-µs like Tables.eventsWithUs)
    def usCol(p: org.apache.spark.sql.DataFrame) = p.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    val spans = parts.map { p =>
      val r = p.agg(min(usCol(p)), max(usCol(p))).head
      (r.getLong(0), r.getLong(1))
    }
    spans.sliding(2).foreach { w =>
      val hi = w(0)._2
      val lo = w(1)._1
      assert(hi < lo, s"batch boundary not watermark-respecting: $hi >= $lo")
    }
    // determinism: same seed → same cut row counts
    val dir2 = StreamingOps.stageTableDirSplit(spark, sf, "events", 4, seed = 7L)
    val counts2 = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => spark.read.parquet(f.getPath).count()).toSeq
    assert(counts2 == parts.map(_.count()).toSeq)
  }

  test("D1 streaming windowed agg == batch B6 mirror (same buckets and sums)") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    // complete mode so not-yet-finalized tail windows are emitted too —
    // append mode would (correctly) hold back windows newer than the
    // watermark, which the batch mirror has no notion of
    val got = runToMemory(StreamingOps.windowedAgg(stream), "d1_windowed", "complete")
    // batch twin through the identical transform
    val batch = StreamingOps.windowedAgg(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
    // and the B6 production query agrees on every (window, type, n, sum)
    val b6 = Queries.eventWindowed(spark, sf)
    assert(b6.exceptAll(got.select(col("window_start"), col("event_type"),
      col("n"), col("sum_value_c"))).count() == 0)
  }

  test("D3 stateful sessionization: closed sessions match batch B5 exactly") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.sessionize(stream).toDF(), "d3_sessions", "append")
    // batch B5 sessions, minus each user's final (still-open) session —
    // exactly what the stream must have emitted after one batch
    val b5 = Queries.eventSessions(spark, sf)
    val lastSess = b5.groupBy("user_id").agg(max("sess_seq").as("sess_seq"))
    val closedBatch = b5.join(lastSess, Seq("user_id", "sess_seq"), "left_anti")
      .select("user_id", "start_us", "end_us", "n_events", "sum_value_c")
    val gotCmp = got.select("user_id", "start_us", "end_us", "n_events", "sum_value_c")
    assert(gotCmp.count() > 0)
    assert(gotCmp.exceptAll(closedBatch).count() == 0)
    assert(closedBatch.exceptAll(gotCmp).count() == 0)
  }

  test("D4 stream-static join: enriched windowed agg matches the batch twin") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val dim = StreamingOps.userDim(spark, sf)
    val got = runToMemory(
      StreamingOps.enrichedWindowedAgg(stream, dim), "d4_enriched", "complete")
    val batch = StreamingOps.enrichedWindowedAgg(
      StreamingOps.normalize(graft.Tables(spark, sf, "events")), dim)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("D5 stream-stream interval join matches the batch B10 range join exactly") {
    val got = runToMemory(
      StreamingOps.intervalJoin(
        StreamingOps.eventsStream(spark, sf, stagedDir),
        StreamingOps.eventsStream(spark, sf, stagedDir)),
      "d5_interval", "append")
    val b10 = Queries.rangeJoin(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(b10).count() == 0)
    assert(b10.exceptAll(got).count() == 0)
  }

  test("D2 streaming dedup drops nothing on unique ids and is idempotent") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(
      StreamingOps.dedup(stream).select("event_id"), "d2_dedup", "append")
    val distinctIds = Tables(spark, sf, "events").select("event_id").distinct().count()
    assert(got.count() == distinctIds)
  }

  test("D6 streaming running totals == batch GROUP BY after the replay") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.typeTotals(stream), "d6_totals", "complete")
    val want = StreamingOps.typeTotals(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D8 upsert merge is micro-batch-boundary independent (split replay == one-shot)") {
    val ev = StreamingOps.latestPerUser(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    // one-shot merge
    val oneDir = Files.createTempDirectory("d8-one").toString
    StreamingOps.upsertLatest(ev, oneDir)
    val one = spark.read.parquet(s"$oneDir/current")
    // two-batch replay split by event time (arbitrary boundary)
    val cut = ev.agg(expr("percentile_approx(us, 0.5)")).head.getLong(0)
    val splitDir = Files.createTempDirectory("d8-split").toString
    StreamingOps.upsertLatest(ev.filter(col("us") <= cut), splitDir)
    StreamingOps.upsertLatest(ev.filter(col("us") > cut), splitDir)
    val split = spark.read.parquet(s"$splitDir/current")
    assert(one.count() == Tables(spark, sf, "events").select("user_id").distinct().count())
    assert(one.exceptAll(split).count() == 0 && split.exceptAll(one).count() == 0)
  }

  test("D8 upsert recovers state parked at old/ by an interrupted swap") {
    val ev = StreamingOps.latestPerUser(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    val cut = ev.agg(expr("percentile_approx(us, 0.5)")).head.getLong(0)
    val dir = Files.createTempDirectory("d8-crash").toString
    StreamingOps.upsertLatest(ev.filter(col("us") <= cut), dir)
    // simulate a crash between the two swap renames: current -> old done,
    // next -> current not
    assert(new java.io.File(s"$dir/current").renameTo(new java.io.File(s"$dir/old")))
    StreamingOps.upsertLatest(ev.filter(col("us") > cut), dir)
    val got = spark.read.parquet(s"$dir/current")
    val oneDir = Files.createTempDirectory("d8-one2").toString
    StreamingOps.upsertLatest(ev, oneDir)
    val want = spark.read.parquet(s"$oneDir/current")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D9 native session_window stream emits exactly the watermark-closed B17 sessions") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.sessionWindowAgg(stream), "d9_sessions", "append")
    val maxUs = Tables.eventsWithUs(spark, sf).agg(max("us")).head.getLong(0)
    // eviction boundary = session WINDOW end (last event + gap) vs the
    // final watermark (max event time − delay); ≤ because a window
    // ending exactly on the watermark IS emitted (tie test below)
    val want = Queries.sessionWindow(spark, sf)
      .filter(col("end_us") + StreamingOps.SessionGapUs <=
        maxUs - StreamingOps.WatermarkDelayUs)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D9 watermark-boundary tie: a session ending EXACTLY on the final watermark is held back") {
    // Synthetic three-user micro-dataset engineered so one session's
    // eviction predicate is an exact tie: user 1's window end
    // (last event + gap) == final watermark (max ts − delay). Spark
    // emits on the tie (evict ⇔ window_end ≤ wm) — this pin originally
    // shipped asserting strict < and FAILED, exposing that the d9
    // oracle's < was a latent divergence real data never hit; the
    // oracle now encodes ≤ and this test keeps it honest.
    import StreamingOps.{SessionGapUs, WatermarkDelayUs}
    val base = 1000000000000L // µs
    val rows = Seq(
      (1L, base, 1L, "click", 1.0, "{}"), //  end+gap == wm: tie, emitted
      (2L, base - 1L, 2L, "click", 1.0, "{}"), // end+gap == wm−1: emitted
      (3L, base + SessionGapUs + WatermarkDelayUs, 3L, "click", 1.0, "{}")) // wm anchor, open
    val dir = Files.createTempDirectory("graft-d9-tie")
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), (col("us") * 1000L).as("ts"), // parquet-nanos shape
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = StreamingOps.normalize(
      spark.readStream.schema(spark.read.parquet(dir.toString).schema)
        .parquet(dir.toString))
    val got = runToMemory(StreamingOps.sessionWindowAgg(stream), "d9_tie", "append")
    assert(got.select("user_id").as[Long].collect().toSet == Set(1L, 2L),
      "the tie session is emitted (≤), the anchor's open session is not")
  }

  test("D11 streaming as-of attribution == batch B9 as-of join after the replay") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.asofAttribute(stream).toDF(), "d11_asof", "append")
    val want = Queries.asofJoin(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D11 as-of state carries across micro-batches (time-split two-batch replay == batch)") {
    // two sequential AvailableNow runs over the SAME checkpoint: batch 1
    // sees only the early half, batch 2 only the late half — errors in
    // batch 2 whose nearest click is in batch 1 can only match through
    // the per-user LastClick state the first run checkpointed
    val evUs = Tables.eventsWithUs(spark, sf)
    val cut = evUs.agg(expr("percentile_approx(us, 0.5)")).head.getLong(0)
    val srcDir = Files.createTempDirectory("d11-src")
    val outDir = Files.createTempDirectory("d11-out").toString
    val ckpt = Files.createTempDirectory("d11-ckpt").toString
    val cols = Tables(spark, sf, "events").columns.map(col)
    def run(): Unit = {
      val q = StreamingOps.asofAttribute(
          StreamingOps.eventsStream(spark, sf, srcDir.toString)).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // the file source only lists files directly under srcDir, so each
    // half is written to a scratch dir and its part file moved in
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"d11-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"$name.parquet"))
    }
    stage(evUs.filter(col("us") <= cut).select(cols: _*), "b1")
    run()
    stage(evUs.filter(col("us") > cut).select(cols: _*), "b2")
    run()
    val got = spark.read.parquet(outDir)
    val want = Queries.asofJoin(spark, sf)
    // cross-batch dependency really exercised: some error in the late
    // half must attribute to a click from the early half
    val crossCount = want.filter(col("err_us") > cut && col("click_us") <= cut).count()
    assert(crossCount > 0, "split must create cross-batch attributions")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D12 streaming funnel == batch B19 after the replay, including a two-batch split") {
    // one-shot replay equals the batch funnel
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    def finalize(sunk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("depth").desc)
      val fin = sunk.withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
      Tables.eventsWithUs(spark, sf).select("user_id").distinct()
        .join(fin, Seq("user_id"), "left")
        .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
          org.apache.spark.sql.functions.coalesce(col("depth"), lit(0L)).as("depth"))
    }
    val got = finalize(
      runToMemory(StreamingOps.funnelState(stream).toDF(), "d12_funnel", "append"))
    val want = Queries.eventFunnel(spark, sf)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)

    // time-split two-batch replay: a user whose later funnel steps land
    // in batch 2 can only advance through the checkpointed (t1,t2,t3)
    // state — pin that the carried state completes the chain
    val evUs = Tables.eventsWithUs(spark, sf)
    // cut inside the widest t1→t2 gap of a depth≥2 user, so batch 1
    // carries that user's t1 and batch 2 must finish the chain from
    // checkpointed state (a global-median cut can miss every funnel)
    val gapRow = want.filter(col("t2_us").isNotNull)
      .orderBy((col("t2_us") - col("t1_us")).desc).head
    val cut = (gapRow.getAs[Long]("t1_us") + gapRow.getAs[Long]("t2_us")) / 2
    val crossUsers = want.filter(col("t1_us") <= cut
      && (col("t2_us") > cut || col("t3_us") > cut)).count()
    assert(crossUsers > 0, "split must create cross-batch funnel advances")
    val srcDir = Files.createTempDirectory("d12-src")
    val outDir = Files.createTempDirectory("d12-out").toString
    val ckpt = Files.createTempDirectory("d12-ckpt").toString
    val cols = Tables(spark, sf, "events").columns.map(col)
    def run(): Unit = {
      val q = StreamingOps.funnelState(
          StreamingOps.eventsStream(spark, sf, srcDir.toString)).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"d12-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"$name.parquet"))
    }
    stage(evUs.filter(col("us") <= cut).select(cols: _*), "b1")
    run()
    stage(evUs.filter(col("us") > cut).select(cols: _*), "b2")
    run()
    val gotSplit = finalize(spark.read.parquet(outDir))
    assert(gotSplit.exceptAll(want).count() == 0
      && want.exceptAll(gotSplit).count() == 0)
  }

  test("D11 never attributes a click AFTER the error under cross-batch disorder") {
    // batch 1 carries user 1's click at t=100s; batch 2 delivers a LATE
    // error at t=50s. The carried state postdates the error — emitting
    // it would mean a negative gap, so the error must drop. User 2 is
    // the in-order control.
    val base = 2000000000000L
    val srcDir = Files.createTempDirectory("d11-dis")
    val outDir = Files.createTempDirectory("d11-dis-out").toString
    val ckpt = Files.createTempDirectory("d11-dis-ckpt").toString
    import spark.implicits._
    def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit = {
      val tmp = Files.createTempDirectory(s"d11-dis-$name")
      rows.toDF("event_id", "us", "user_id", "event_type")
        .select(col("event_id"), (col("us") * 1000L).as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(s"$name.parquet"))
    }
    def run(): Unit = {
      val stream = StreamingOps.normalize(
        spark.readStream.schema(spark.read.parquet(s"$srcDir").schema)
          .parquet(srcDir.toString))
      val q = StreamingOps.asofAttribute(stream).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    stage(Seq((1L, base + 100000000L, 1L, "click"),
      (2L, base, 2L, "click")), "b1")
    run()
    stage(Seq((3L, base + 50000000L, 1L, "error"), // late: before user 1's click
      (4L, base + 60000000L, 2L, "error")), "b2")
    run()
    val got = spark.read.parquet(outDir)
    assert(got.filter(col("gap_us") < 0).count() == 0, "no negative gaps ever")
    assert(got.select("event_id").as[Long].collect().toSet == Set(4L),
      "late error drops; in-order control attributes")
  }

  test("D10 streaming bottom_k sketch state == batch sketch after the replay") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.distinctSketch(stream), "d10_sketch", "complete")
    val want = StreamingOps.distinctSketch(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D7 streaming vocab counts == batch token counts after the replay") {
    val docsDir = StreamingOps.stageTableDir(spark, sf, "documents")
    val got = runToMemory(
      StreamingOps.vocabCounts(StreamingOps.docsStream(spark, sf, docsDir)),
      "d7_vocab", "complete")
    val want = StreamingOps.vocabCounts(Tables(spark, sf, "documents"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D13 streaming quality gate == the batch gate columns on the same corpus") {
    val docsDir = StreamingOps.stageTableDir(spark, sf, "documents")
    val got = runToMemory(
      graft.text.TextQueries.gateCols(StreamingOps.docsStream(spark, sf, docsDir)),
      "d13_gate", "append")
    val want = graft.text.TextQueries.gateCols(Tables(spark, sf, "documents"))
    assert(got.count() == Tables(spark, sf, "documents").count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the gate fires both ways on this corpus (a vacuous gate proves nothing)
    assert(got.filter(col("keep")).count() > 0)
    assert(got.filter(!col("keep")).count() > 0)
  }

  test("D14 streaming decontamination == the batch C29 screen") {
    val got = graft.streaming.StreamingQueries.queries("d14_stream_decontam")(spark, sf)
    val want = graft.text.TextQueries.c29Contamination(spark, sf)
    // a vacuous screen (no contaminated doc) would prove nothing
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D15 streaming sliding windows == batch twin; every event lands in exactly 4 windows") {
    val stream = StreamingOps.eventsStream(spark, sf, stagedDir)
    val got = runToMemory(StreamingOps.slidingAgg(stream), "d15_sliding", "complete")
    val batch = StreamingOps.slidingAgg(
      StreamingOps.normalize(Tables(spark, sf, "events")))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
    // width/slide = 4: summed window counts are exactly 4x the event count
    val nEvents = Tables(spark, sf, "events").count()
    assert(got.agg(sum("n")).head.getLong(0) == 4 * nEvents)
    // overlapping windows really overlap: consecutive starts are 30 min
    // apart while each window is 2 h wide, so there must be MORE sliding
    // windows than D1's tumbling ones over the same span
    val tumbling = runToMemory(StreamingOps.windowedAgg(
      StreamingOps.eventsStream(spark, sf, stagedDir)), "d15_tumbling_ref", "complete")
    assert(got.select("window_start").distinct().count() >
      tumbling.select("window_start").distinct().count())
  }

  test("D16 streaming incremental clustering == batch A31 (one definition)") {
    val got = graft.streaming.StreamingQueries.queries("d16_stream_cluster")(spark, sf)
    val want = graft.tiles.GeoQueries.queries("a31_incremental_cluster")(spark, sf)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // label immutability across the replay: every batch-1 row keeps an
    // id <= the batch-1 component count; fresh batch-2 components mint
    // ids strictly above the persisted max
    val max1 = got.filter(col("batch") === 1)
      .agg(max("cluster_id")).head.getLong(0)
    val batch2Fresh = got.filter(col("batch") === 2 && col("cluster_id") > max1)
    val batch2Adopted = got.filter(col("batch") === 2 && col("cluster_id") <= max1)
    // both modes occur on this data or the merge logic is untested
    assert(batch2Fresh.count() > 0 && batch2Adopted.count() > 0)
  }

  test("D17 streaming doc packing == batch C27 with a real cross-batch cumsum carry") {
    val got = graft.streaming.StreamingQueries.queries("d17_stream_pack")(spark, sf)
    val want = graft.text.TextQueries.c27DocPack(spark, sf)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the state carry must actually fire: for at least one source, the
    // first doc ABOVE the staging cut (second micro-batch) starts at a
    // nonzero offset — i.e. its position came from state, not a fresh 0
    val cut = Tables(spark, sf, "documents").agg(max("doc_id")).head.getLong(0) / 2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val carried = got.filter(col("doc_id") > cut)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && (col("seq_id") > 0 || col("seq_off") > 0))
    assert(carried.count() > 0, "no source crossed the batch boundary mid-sequence")
  }

  test("D18 streaming quantiles == batch C22 (shared finalize definition)") {
    val got = graft.streaming.StreamingQueries.queries("d18_stream_quantile")(spark, sf)
    val want = graft.text.TextQueries.c22LengthQuantiles(spark, sf)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D19 streaming LSH screen == batch bucket relation, with real cross-batch ownership") {
    import graft.dedup.DedupQueries
    val got = graft.streaming.StreamingQueries.queries("d19_stream_lsh_dedup")(spark, sf)
      .localCheckpoint()
    // batch twin from the SHARED band definition
    val bands = DedupQueries.bandRowsOn(graft.Tables(spark, sf, "documents"))
    val bmin = bands.groupBy("band", "bh").agg(min("doc_id").as("mn"))
    val want = bands.join(bmin, Seq("band", "bh"))
      .select(col("doc_id"),
        when(col("mn") < col("doc_id"), col("mn")).otherwise(col("doc_id")).as("owner"))
      .groupBy("doc_id")
      .agg(sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("dup_bands"),
        min("owner").as("owner_min"))
      .withColumn("is_dup", (col("dup_bands") > 0L).cast("long"))
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the replay is cut at the median doc_id; the cross-batch state
    // carry is only exercised if some batch-2 doc's owner came from
    // batch 1 — require it so a staging change can't make this vacuous
    val cut = graft.Tables(spark, sf, "documents").agg(max("doc_id")).head.getLong(0) / 2
    assert(got.filter(col("doc_id") > cut && col("owner_min") <= cut).count() > 0,
      "no batch-2 document was owned by a batch-1 bucket owner")
  }

  test("D20 streaming CMS: state is the fixed cell grid, report == batch C63") {
    import graft.text.TextQueries
    val got = graft.streaming.StreamingQueries.queries("d20_stream_cms")(spark, sf)
      .localCheckpoint()
    val want = TextQueries.c63CmsFreq(spark, sf)
    assert(got.count() == TextQueries.VocabTopK)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the whole point: the maintained state can never exceed D·W cells
    val cells = spark.table("graft_d20_sink")
    assert(cells.count() <= TextQueries.CmsD.toLong * TextQueries.CmsW)
  }

  test("D21 streaming Bloom build == batch bit table; state bounded by m") {
    import graft.text.TextQueries
    val got = graft.streaming.StreamingQueries.queries("d21_stream_bloom")(spark, sf)
      .localCheckpoint()
    val want = TextQueries.bloomBitsOn(graft.Tables(spark, sf, "documents"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the filter can never hold more than m cells, whatever the suite size
    assert(got.count() <= TextQueries.BloomM)
    assert(got.filter(col("pos") < 0 || col("pos") >= TextQueries.BloomM).count() == 0)
  }

  test("D23 streaming SCD2 == batch closed intervals, with a cross-batch carry") {
    val ev = Tables(spark, sf, "events")
    // time-cut staging keeps the per-user order contract across batches
    val cut = ev.agg(expr("approx_percentile(unix_micros(cast(ts as timestamp)), 0.5)")).head.getLong(0)
    val dir = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-d23-spec").toString)
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(ev.filter(expr(s"unix_micros(cast(ts as timestamp)) <= ${cut}L")),
      dir, "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(ev.filter(expr(s"unix_micros(cast(ts as timestamp)) > ${cut}L")),
      dir, "b1.parquet", now): Unit
    val src = StreamingOps.normalize(spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    val got = runToMemory(StreamingOps.scd2Stream(src).toDF(), "d23_spec", "append")
      .localCheckpoint()
    // batch twin: B31's intervals minus each user's open tail, in µs
    val want = Queries.scd2Intervals(spark, sf)
      .filter(col("effective_to").isNotNull)
      .select(col("user_id"), col("version"), col("event_type"),
        expr("unix_micros(cast(effective_from as timestamp))").as("from_us"),
        expr("unix_micros(cast(effective_to as timestamp))").as("to_us"))
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the carry must fire: some interval opens in batch 1, closes in batch 2
    assert(got.filter(col("from_us") <= cut && col("to_us") > cut).count() > 0,
      "no interval spanned the staging cut — the state carry went vacuous")
  }

  test("D22 streaming k-means routing == batch C50 assignment (one argmin definition)") {
    val got = graft.streaming.StreamingQueries.queries("d22_stream_kmeans")(spark, sf)
      .localCheckpoint()
    val want = graft.embed.EmbedQueries.c50KmeansAssign(spark, sf)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D24 streaming drift report == batch C73 (shared finalize definition)") {
    val got = graft.streaming.StreamingQueries.queries("d24_stream_drift")(spark, sf)
      .localCheckpoint()
    val want = graft.text.TextQueries.c73CorpusDrift(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("D26 streaming BM25: scores agree with c88's ranked subset, stateless coverage") {
    import graft.text.TextQueries
    val got = graft.streaming.StreamingQueries.queries("d26_stream_bm25")(spark, sf)
      .localCheckpoint()
    // every (qid, doc) c88 ranks must appear in the stream with the SAME
    // score and hit count (c88 is the ranked subset of this scoring)
    val ranked = TextQueries.c88Bm25(spark, sf)
      .select(col("qid"), col("doc_id"), col("score_nano"), col("n_terms_hit"))
    assert(ranked.join(got, Seq("qid", "doc_id", "score_nano", "n_terms_hit"))
      .count() == ranked.count())
    // coverage: a doc scores for a query iff it contains a query term
    assert(got.filter(col("n_terms_hit") < 1L
      || col("n_terms_hit") > TextQueries.Bm25TermsPerQuery).count() == 0)
    assert(got.count() >= ranked.count())
    // deterministic replay keys: no (doc, qid) appears twice
    assert(got.groupBy("doc_id", "qid").count().filter(col("count") > 1).count() == 0)
  }

  test("D25 streaming snapshot diff == batch A38 (shared diffOn definition)") {
    val got = graft.streaming.StreamingQueries.queries("d25_stream_diff")(spark, sf)
      .localCheckpoint()
    val want = graft.tiles.GeoQueries.a38SnapshotDiff(spark, sf)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // all three statuses survive the stream
    assert(got.select("status").distinct().count() == 3)
  }

  test("D29 streaming top-k: mergeable-summary property on adversarial slicings, board == batch") {
    import graft.text.TextQueries
    val k = StreamingQueries.TopkK
    val scored = TextQueries.clsScoreCols(graft.Tables(spark, sf, "documents"))
      .select("doc_id", "score_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def topk(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      xs.sortBy { case (id, sc) => (-sc, id) }.take(k)
    val all = topk(scored.toSeq)
    // topK(topK(A) ++ topK(B)) == topK(A ++ B) for adversarial slicings:
    // by parity, by an unbalanced 1%/99% cut, and singling out the best doc
    val slicings = Seq[((Long, Long)) => Boolean](
      { case (id, _) => id % 2 == 0 },
      { case (id, _) => id < scored.map(_._1).max / 100 },
      { case (id, _) => id == all.head._1 })
    slicings.foreach { p =>
      val (a, b) = scored.toSeq.partition(p)
      assert(topk(topk(a) ++ topk(b)) == all)
    }
    // the executed two-batch stream lands on exactly the batch top-k
    val out = StreamingQueries.d29StreamTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_micro")))
    assert(out.toSeq == all.zipWithIndex.map { case ((id, sc), i) => (i + 1L, id, sc) })
  }

  test("D30 left-outer interval join: watermark-flushed stream == batch LEFT JOIN") {
    val got = StreamingQueries.d30StreamOuterJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // batch twin, recomputed independently
    val ev = StreamingOps.normalize(graft.Tables(spark, sf, "events"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("event_time")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val w = graft.relational.Queries.RangeWindowUs
    val expected = ev.filter(_._3 == "error").flatMap { t =>
      val (eid, u, _, eus) = t
      val ms = clicks.filter(c => c._2 == u && c._4 >= eus - w && c._4 <= eus)
      if (ms.isEmpty) Seq((eid, u, eus, -1L, -1L))
      else ms.toSeq.map(c => (eid, u, eus, c._1, c._4))
    }.sortBy(t => (t._1, t._4))
    assert(got.toSeq == expected.toSeq)
    // the null-emission path is genuinely exercised...
    assert(got.exists(_._4 == -1L))
    // ...alongside real matches, and no sentinel row leaks into the sink
    assert(got.exists(_._4 >= 0L))
    assert(got.forall(_._2 >= 0L))
  }

  test("D31 streaming HLL == batch C107; COUNT DISTINCT itself is unstreamable") {
    import graft.text.TextQueries
    val got = StreamingQueries.d31StreamHll(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val want = TextQueries.c107HllVocab(spark, sf)
      .select("lang", "n_tokens", "reg_fp", "n_zero", "est").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == want.toSeq)
    // the sketch exists BECAUSE count_distinct is rejected on a stream
    val streamDocs = spark.readStream
      .schema(graft.Tables(spark, sf, "documents").schema)
      .parquet(java.nio.file.Files.createTempDirectory("d31-empty").toString)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      streamDocs.groupBy("lang").agg(count_distinct(col("text")))
        .writeStream.format("memory").queryName("d31_should_fail")
        .outputMode("complete").start()
    }
    assert(ex.getMessage.toLowerCase.contains("distinct"))
  }

  test("D32 streaming covariance: exact moment recompute, symmetry, merge identity") {
    val out = StreamingQueries.d32StreamCovariance(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("sxy"), r.getAs[Long]("cov_n")))).toMap
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v => BigDecimal(v.toDouble * 1e3)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
    val dims = vecs.head.length
    val n = vecs.length.toLong
    val sx = Array.tabulate(dims)(d => vecs.map(_(d)).sum)
    assert(out.size == dims * dims)
    for (i <- 0 until dims; j <- 0 until dims) {
      val sxy = vecs.map(v => v(i) * v(j)).sum
      val (gotSxy, gotCov) = out((i.toLong, j.toLong))
      assert(gotSxy == sxy, s"sxy ($i,$j)")
      assert(gotCov == n * sxy - sx(i) * sx(j), s"cov ($i,$j)")
    }
    // symmetry and nonnegative diagonal (it IS a covariance matrix)
    for (i <- 0 until dims; j <- 0 until i) {
      assert(out((i.toLong, j.toLong)) == out((j.toLong, i.toLong)))
    }
    (0 until dims).foreach(i => assert(out((i.toLong, i.toLong))._2 >= 0L))
    // the mergeable-summary property the streaming state relies on:
    // moments of the union are the sums of the halves' moments
    val (h1, h2) = vecs.splitAt(vecs.length / 2)
    for (i <- 0 until math.min(dims, 4); j <- 0 until math.min(dims, 4)) {
      val whole = vecs.map(v => v(i) * v(j)).sum
      assert(h1.map(v => v(i) * v(j)).sum + h2.map(v => v(i) * v(j)).sum == whole)
    }
    // round-11 shuffle contract: the stream carries ONE moment-matrix
    // row (dims²+dims+1 longs) — the aggregate buffer IS the wire
    // format, so shuffle volume is independent of input row count
    // (previously 4,161 exploded cells per vector crossed the shuffle)
    val sinkRows = spark.table("graft_d32_sink").collect()
    assert(sinkRows.length == 1, "d32 state must be a single moment row")
    assert(sinkRows.head.getSeq[Long](0).length == dims * dims + dims + 1)
  }

  test("D34 streaming wordpiece == batch C119 counts (frozen vocab, stateless scan)") {
    val got = StreamingQueries.d34StreamWordpiece(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[Long]("fertility_nano")))
    val want = graft.text.TextQueries.c119Wordpiece(spark, sf)
      .select("lang", "n_words", "n_pieces", "fertility_nano").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("D39 streaming unigram == batch C132 counts (frozen piece table, stateless scan)") {
    val got = StreamingQueries.queries("d39_stream_unigram")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[Long]("fertility_nano")))
    val want = graft.text.TextQueries.c132UnigramLm(spark, sf)
      .select("lang", "n_words", "n_pieces", "fertility_nano").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("D35 streaming cusum == batch B50 on gap-free data; the corpus IS gap-free") {
    val got = StreamingQueries.d35StreamCusum(spark, sf).collect().map(_.toSeq)
    val want = graft.relational.Queries.cusumChangepoint(spark, sf).collect().map(_.toSeq)
    // precondition for equality: every calendar day in [lo, hi] is
    // observed, so the no-spine stream finalize sees the same series
    val days = graft.Tables.eventsWithUs(spark, sf)
      .select(expr("us div 86400000000")).distinct().collect().map(_.getLong(0))
    assert(days.length.toLong == days.max - days.min + 1, "corpus has day gaps")
    assert(got.toSeq == want.toSeq)
  }

  test("D37 streaming CDC telemetry == batch c127 rolled up per lang") {
    val got = StreamingQueries.d37StreamCdc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val lang = graft.Tables(spark, sf, "documents").select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch per-doc dup stats share the occ >= 2 convention, so the
    // per-lang rollup must match the stream's frozen-store screen
    val want = graft.text.TextQueries.c127CdcChunks(spark, sf).collect()
      .map(r => (lang(r.getLong(0)), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (l, g) =>
        val (nTok, nCh, dupCh, dupTok) =
          (g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum, g.map(_._5).sum)
        (l, nCh, dupCh, nTok, dupTok, dupTok * 1000000L / nTok)
      }
    assert(got.toSeq == want)
    // both sides of the screen genuinely exercised
    assert(want.exists(_._5 > 0L) && want.exists(r => r._5 < r._4))
  }

  test("D38 cross-snapshot screen: verdicts straddle the cut, owner screen == batch join") {
    import org.apache.spark.sql.functions._
    val got = StreamingQueries.queries("d38_stream_snapshot_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = graft.Tables(spark, sf, "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val cut = (ids.min + ids.max) / 2
    // every verdict is new-vs-CORPUS: new docs flagged, witnesses old
    assert(got.nonEmpty, "no cross-snapshot candidates — screen untested")
    assert(got.forall { case (n, _, o) => n >= cut && o < cut },
      "a verdict fails the snapshot straddle")
    assert(got.forall(r => r._2 >= 1L &&
      r._2 <= graft.dedup.MinHashLsh.Bands.toLong))
    // batch recompute through the same band definition, executed as a
    // plain (non-streamed) join: the replay must add/lose nothing
    val bands = graft.dedup.DedupQueries.bandRowsOn(docs)
    val want = bands.filter(col("doc_id") >= cut)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
      .join(bands.filter(col("doc_id") < cut)
        .groupBy("band", "bh").agg(min("doc_id").as("owner")),
        Seq("band", "bh"))
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_hit_bands"), min("owner").as("owner_min"))
      .orderBy("new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // the output contract that makes the screen 100 TB-shaped: at most
    // Bands verdict rows per arriving doc, never member-pair fanout
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("D40 semantic screen: verdicts straddle the cut, cluster-bucketed recompute agrees") {
    import org.apache.spark.sql.functions._
    import graft.functions.vector.{vec_dot, vec_norm2}
    val got = StreamingQueries.queries("d40_stream_sem_screen")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.nonEmpty, "no semantic matches — screen untested")
    val emb = graft.Tables(spark, sf, "embeddings")
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val cut = (ids.min + ids.max) / 2
    // every verdict is a NEW vec matched against a CORPUS witness above τ
    assert(got.forall { case (n, _, c, m) =>
      n >= cut && m < cut && c >= graft.embed.EmbedQueries.CosThreshold })
    // plain batch recompute: same cluster assignment (c50's), same
    // cosine, cross-half filter — executed without any streaming
    val cl = graft.embed.EmbedQueries.c50KmeansAssign(spark, sf)
      .select(col("vec_id"), col("cluster"))
    val side = emb.join(cl, "vec_id")
      .select(col("vec_id"), col("cluster"), col("embedding"),
        vec_norm2(col("embedding")).as("n2"))
    val l = side.filter(col("vec_id") >= cut).select(col("vec_id").as("new_id"),
      col("cluster"), col("embedding").as("ne"), col("n2").as("nn"))
    val r = side.filter(col("vec_id") < cut).select(col("vec_id").as("corpus_id"),
      col("cluster"), col("embedding").as("ce"), col("n2").as("cn"))
    val hits = l.join(r, "cluster")
      .select(col("new_id"), col("corpus_id"),
        round(vec_dot(col("ne"), col("ce")) / sqrt(col("nn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= graft.embed.EmbedQueries.CosThreshold)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val want = hits.groupBy(_._1).toSeq.sortBy(_._1).map { case (nid, g) =>
      val best = g.map(_._3).max
      (nid, g.length.toLong, best,
        g.filter(_._3 == best).map(_._2).min)
    }
    assert(got == want)
  }

  test("D41 perceptual screen: fold == explode fingerprint, class screen == batch join") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.Multimodal
    val docs = graft.Tables(spark, sf, "documents")
    // 1. the stream-side column fold is bit-identical to the store-side
    // explode plan on every corpus doc — the property that lets the
    // screen stay stateless without changing the fingerprint
    val exploded = Multimodal.phashOn(docs.select("doc_id", "text"))
    val folded = Multimodal.withPhashFold(docs.select("doc_id", "text"))
      .select(col("doc_id"), col("phash"))
    val divergent = folded
      .join(exploded.withColumnRenamed("phash", "p2"), "doc_id")
      .filter(col("phash") =!= col("p2")).count()
    assert(divergent == 0, s"column fold diverged on $divergent docs")
    // row-PRESENCE parity too — an inner join can't see a fabricated or
    // dropped doc; both forms must emit one row per (non-null) doc
    assert(folded.count() == exploded.count(), "fold/explode row counts differ")
    // NULL text vanishes from BOTH forms (posexplode of a null array
    // emits nothing; the fold must not fabricate a phash=0 row)
    import spark.implicits._
    val withNull = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Multimodal.withPhashFold(withNull).select("doc_id", "phash").count() == 1L)
    assert(Multimodal.phashOn(withNull).count() == 1L)
    // 2. the screen itself
    val got = StreamingQueries.queries("d41_stream_phash_screen")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty, "no perceptual candidates — screen untested")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val cut = (ids.min + ids.max) / 2
    assert(got.forall { case (n, nc, nn, w) =>
      n >= cut && nc >= 1L && nn <= nc &&
        (if (w == -1L) nn == 0L else w < cut && nn >= 1L) },
      "a verdict fails the straddle/witness contract")
    // 3. batch recompute through the shared fingerprint/banding,
    // executed as a plain join: the replay must add/lose nothing
    val bands = Multimodal.phashBands(exploded)
    val ob = bands.filter(col("doc_id") < cut)
      .groupBy("k", "bv", "phash").agg(min("doc_id").as("owner"))
      .select(col("k"), col("bv"), col("phash").as("pold"), col("owner"))
    val near = expr("bit_count(pnew ^ pold)") <= Multimodal.PhashHamT
    val want = bands.filter(col("doc_id") >= cut)
      .select(col("doc_id").as("new_id"), col("k"), col("bv"),
        col("phash").as("pnew"))
      .join(ob, Seq("k", "bv"))
      .select("new_id", "owner", "pold", "pnew").distinct()
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_cand"),
        sum(near.cast("long")).as("n_near"),
        coalesce(min(when(near, col("owner"))), lit(-1L)).as("w"))
      .orderBy("new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // the near-verify axis genuinely exercised across the cut
    assert(got.exists(_._3 > 0L), "no Hamming-near pair straddles the cut")
  }

  test("D36 streaming gini == batch C118 row for row (histogram is the mergeable state)") {
    val got = StreamingQueries.d36StreamGini(spark, sf).collect().map(_.toSeq)
    val want = graft.text.TextQueries.c118Gini(spark, sf).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
    // the state the stream carries is genuinely bounded: distinct
    // (lang, length) pairs, far fewer than documents
    val nState = graft.Tables(spark, sf, "documents")
      .select(col("lang"), size(graft.text.TextQueries.tokens(col("text"))))
      .distinct().count()
    assert(nState < graft.Tables(spark, sf, "documents").count())
  }

  test("D33 timeout alerts: an equal-timestamp click resolves the error (order-free tie rule)") {
    // the batch contract is the interval test err_us <= click_us — a
    // click AT the error's timestamp resolves it regardless of which
    // event the fold sees first (the fuzz loop caught clicks-first
    // ordering letting an equal-us click slip past the error)
    import spark.implicits._
    val baseUs = 1704067200000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-d33-tie")
    def evDf(rows: Seq[(Long, Long, Long, String, Double, String)]) = rows
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val data = evDf(Seq(
      (1L, baseUs, 7L, "click", 0.0, "{}"), // same us as the error below
      (2L, baseUs, 7L, "error", 0.0, "{}"), // resolved by the tied click
      (3L, baseUs + 1L, 8L, "error", 0.0, "{}"), // 1 µs AFTER its click
      (4L, baseUs, 8L, "click", 0.0, "{}"))) // cannot resolve a later error
    // two pusher batches: the watermark only advances AFTER a batch, and
    // a timer only fires in a SUBSEQUENT batch (the d33 two-sentinel
    // mechanism). Sentinels must be CLICKS, not views: the
    // click/error filter is pushed below the watermark node, so a view
    // sentinel never reaches it and the watermark never advances.
    val push1 = evDf(Seq((5L, baseUs + 10L * 86400000000L, 9L, "click", 0.0, "{}")))
    val push2 = evDf(Seq((6L, baseUs + 20L * 86400000000L, 9L, "click", 0.0, "{}")))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(data, dir, "b0.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(push1, dir, "b1.parquet", now - 300000L): Unit
    StreamingOps.stageFrameFile(push2, dir, "b2.parquet", now): Unit
    val src = StreamingOps.normalize(
      spark.readStream.schema(data.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    val got = runToMemory(StreamingOps.timeoutAlerts(src).toDF(), "d33_tie", "append")
      .collect().map(_.getLong(0)).sorted
    // user 7's error is resolved (click_us == err_us); user 8's error is
    // NOT (its only click is 1 µs BEFORE the error, outside [err, err+ttl])
    assert(got.toSeq == Seq(3L), s"expected only event 3 to alert, got ${got.toSeq}")
  }

  test("D33 timeout alerts: a click in an EARLIER micro-batch still resolves a later-arriving error") {
    // cross-batch disorder within the watermark: the resolving click is
    // processed in batch 0, the equal-timestamped error arrives in
    // batch 1. The batch contract err_us <= click_us is arrival-order
    // free, so the click memory in state must resolve it — without it,
    // the click is forgotten and a spurious alert fires.
    import spark.implicits._
    val baseUs = 1704067200000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-d33-xbatch")
    def evDf(rows: Seq[(Long, Long, Long, String, Double, String)]) = rows
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val b0 = evDf(Seq((1L, baseUs, 7L, "click", 0.0, "{}")))
    val b1 = evDf(Seq(
      (2L, baseUs, 7L, "error", 0.0, "{}"), // equal ts — resolved by b0's click
      (3L, baseUs + 1L, 7L, "error", 0.0, "{}"))) // 1 µs after the click — alerts
    val push1 = evDf(Seq((4L, baseUs + 10L * 86400000000L, 9L, "click", 0.0, "{}")))
    val push2 = evDf(Seq((5L, baseUs + 20L * 86400000000L, 9L, "click", 0.0, "{}")))
    val now = System.currentTimeMillis()
    StreamingOps.stageFrameFile(b0, dir, "b0.parquet", now - 900000L): Unit
    StreamingOps.stageFrameFile(b1, dir, "b1.parquet", now - 600000L): Unit
    StreamingOps.stageFrameFile(push1, dir, "b2.parquet", now - 300000L): Unit
    StreamingOps.stageFrameFile(push2, dir, "b3.parquet", now): Unit
    val src = StreamingOps.normalize(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString))
    val got = runToMemory(StreamingOps.timeoutAlerts(src).toDF(), "d33_xbatch", "append")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(3L), s"expected only event 3 to alert, got ${got.toSeq}")
  }

  test("D33 timeout alerts: timer-path emission == batch NOT EXISTS, exactly once") {
    val got = StreamingQueries.d33StreamTimeoutAlert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch twin, recomputed independently: error with NO same-user
    // click inside its forward TTL window
    val ev = StreamingOps.normalize(graft.Tables(spark, sf, "events"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("event_time")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val ttl = StreamingOps.AlertTtlUs
    val expected = ev.filter(_._3 == "error").collect {
      case (eid, u, _, eus)
          if !clicks.exists(c => c._2 == u && c._4 >= eus && c._4 <= eus + ttl) =>
        (eid, u, eus, eus + ttl)
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    // exactly-once: no alert id repeats across the replay's batches
    assert(got.map(_._1).distinct.length == got.length)
    // the corpus genuinely exercises both paths: alerts fired AND
    // errors resolved by a later click (suppressed)
    assert(got.nonEmpty, "no alerts — TTL never elapsed unresolved")
    assert(got.length < ev.count(_._3 == "error"),
      "every error alerted — the click-resolution path is untested")
    // no sentinel row leaks into the sink
    assert(got.forall(_._2 >= 0L))
  }
}
