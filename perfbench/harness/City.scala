package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GeoJson
import graft.tiles.{Clustering, GeoQueries, GridOps, Outline}

/** The reference's city job (inference output → clusters → unmapped
  * clusters → MapRoulette challenge lines) over generated z21 cities,
  * composed from the program's public DataFrame functions.
  */
object City {

  /** Inference score at or above which a tile holds panels. */
  val Threshold = 0.5

  /** Set-ups per run; the first runs on a cold JVM. */
  val SetUps = 5

  private def manifest(ctx: Ctx): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(ctx.input, "manifest.txt")).asScala.toSeq
      .filter(_.trim.nonEmpty).map { l =>
        val Array(name, n) = l.trim.split("\\s+"); (name, n.toLong)
      }

  private def positives(tiles: DataFrame): DataFrame =
    tiles.filter(col("panel_softmax") >= lit(Threshold)).select("x", "y")

  /** Unit boundary edges of each cluster's tile union: a tile side
    * shared by two tiles of the same cluster cancels out. */
  private def outlineEdges(labels: DataFrame): DataFrame =
    labels.select(col("cluster_id"), explode(array(
      struct(col("x").as("x1"), col("y").as("y1"), (col("x") + 1).as("x2"), col("y").as("y2")),
      struct(col("x").as("x1"), (col("y") + 1).as("y1"), (col("x") + 1).as("x2"), (col("y") + 1).as("y2")),
      struct(col("x").as("x1"), col("y").as("y1"), col("x").as("x2"), (col("y") + 1).as("y2")),
      struct((col("x") + 1).as("x1"), col("y").as("y1"), (col("x") + 1).as("x2"), (col("y") + 1).as("y2"))
    )).as("e"))
      .groupBy(col("cluster_id"), col("e.x1").as("x1"), col("e.y1").as("y1"),
        col("e.x2").as("x2"), col("e.y2").as("y2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === 1)

  private val Zoom = 21
  private def lon(x: Column): Column = x / lit(math.pow(2, Zoom)) * 360.0 - 180.0
  private def lat(y: Column): Column =
    degrees(atan(sinh(lit(math.Pi) * (lit(1.0) - lit(2.0) * y / lit(math.pow(2, Zoom))))))

  /** One GeoJSON polygon feature per cluster, its rings in lon/lat. */
  private def challengeLines(rings: DataFrame): DataFrame =
    rings
      .withColumn("pts", arrays_zip(col("xs"), col("ys")))
      .withColumn("ring", concat(lit("["), array_join(transform(col("pts"), p =>
        format_string("[%.7f,%.7f]", lon(p("xs")), lat(p("ys")))), ","), lit("]")))
      .groupBy("cluster_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("ring_idx"), col("ring")))),
        r => r("ring")), ",").as("rings"))
      .select(format_string(
        "{\"type\":\"Feature\",\"properties\":{\"cluster_id\":%d},\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[%s]}}",
        col("cluster_id"), col("rings")).as("geojson"))

  /** Outline → rings → challenge file, for the clusters in `labels`. */
  private def writeChallenge(ctx: Ctx, labels: DataFrame, path: String, id: Int): Unit = {
    val rings = ctx.tracer.span("assembleRings", "tiles", "build", id)(
      Outline.assembleRings(outlineEdges(labels)).toDF())
    ctx.tracer.span("writeChallengeLines", "sources", "action", id)(
      GeoJson.writeChallengeLines(challengeLines(rings), path))
  }

  /** Set-up as the user sees it: session start until the first
    * operation can run. Repeated on fresh sessions; the median is
    * reported. */
  private def setUp(ctx: Ctx, body: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    (0 until SetUps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = ctx.startSession()
      body(spark)
      ctx.setups += (System.nanoTime() - t0) / 1e9
    }
    spark
  }

  /** Whole cities, one operation each, in passes over the generated set
    * until the measuring time is used. */
  def bulk(ctx: Ctx): SparkSession = {
    val cities = manifest(ctx)
    val spark = setUp(ctx, s => cities.foreach { case (c, _) =>
      // ready = every input's footer read and its schema resolved
      s.read.parquet(s"${ctx.input}/$c/tiles.parquet").schema
      s.read.parquet(s"${ctx.input}/$c/nodes.parquet").schema
    })
    val runs = ArrayBuffer.empty[Json.Raw]
    val w0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - w0) / 1e9 < ctx.seconds) {
      cities.foreach { case (c, n) =>
        val out = s"${ctx.out}/bulk/p$pass-$c"
        var top: Array[(Long, Long)] = Array.empty
        var unmapped: Array[Long] = Array.empty
        val o = ctx.op(c, "tiles", n) { id =>
          val tiles = ctx.tracer.span("read", "sources", "build", id)(
            spark.read.parquet(s"${ctx.input}/$c/tiles.parquet"))
          val pos = positives(tiles)
          val cc = ctx.tracer.span("connectedComponents4", "tiles", "build", id)(
            Clustering.connectedComponents4(pos))
          ctx.tracer.span("labels", "tiles", "action", id)(
            cc.select("x", "y", "cluster_id").write.parquet(s"$out/labels"))
          val labels = spark.read.parquet(s"$out/labels")
          top = ctx.tracer.span("ranking", "tiles", "action", id)(
            labels.groupBy("cluster_id").agg(count(lit(1)).as("n_tiles"))
              .orderBy(desc("n_tiles"), asc("cluster_id")).limit(10)
              .collect().map(r => (r.getLong(0), r.getLong(1))))
          val cleanup = ctx.tracer.span("dilate3x3", "tiles", "build", id)(
            tiles.filter(col("has_image")).select("x", "y")
              .join(GridOps.dilate3x3(pos), Seq("x", "y"), "left_anti"))
          ctx.tracer.span("imagery_cleanup", "tiles", "action", id)(
            cleanup.write.parquet(s"$out/cleanup"))
          val nodes = spark.read.parquet(s"${ctx.input}/$c/nodes.parquet")
            .select("x", "y").distinct()
          val um = ctx.tracer.span("exactSpatialAntiJoin", "tiles", "build", id)(
            GeoQueries.exactSpatialAntiJoin(labels, nodes))
          unmapped = ctx.tracer.span("unmapped", "tiles", "action", id)(
            um.select("cluster_id").collect().map(_.getLong(0)))
          writeChallenge(ctx, labels.join(um.select("cluster_id"), Seq("cluster_id"), "left_semi"),
            s"$out/challenge", id)
        }
        if (o.ok) runs += Json.Raw(Json.obj(Seq("op" -> o.id, "city" -> c, "out" -> out,
          "top" -> top.map { case (k, v) => Seq(k, v) }.toSeq, "unmapped" -> unmapped.toSeq)))
      }
      pass += 1
    }
    ctx.loopWallS = (System.nanoTime() - w0) / 1e9
    ctx.checks += "runs" -> runs.toSeq
    spark
  }

  private val Table = "graft.perfbench_city"

  /** Batches every run applies, whatever `--seconds` says: the first is
    * the warm-up operation, and the JVM is still warming over the next
    * few, so a fixed count keeps runs comparable. */
  val MinBatches = 6

  /** One seeded city clustered during set-up, then new inference
    * batches one at a time until the measuring time is used: merge the
    * batch into the catalog table (insert-or-ignore), extend the
    * cluster labels, and write challenge lines for the clusters the
    * batch touched. */
  def incremental(ctx: Ctx): SparkSession = {
    val batches = manifest(ctx)
    var labels: DataFrame = null
    val spark = setUp(ctx, s => {
      s.sql(s"DROP TABLE IF EXISTS $Table")
      s.sql(s"CREATE TABLE $Table (x BIGINT, y BIGINT, panel_softmax DOUBLE, has_image BOOLEAN)")
      val base = s.read.parquet(s"${ctx.input}/base.parquet")
      base.writeTo(Table).append()
      labels = Clustering.connectedComponents4(positives(base))
        .select("x", "y", "cluster_id").localCheckpoint(eager = true)
    })
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // blocks of the previous state, released once the next one is built
    var previous = persisted
    val lines = ArrayBuffer.empty[Json.Raw]
    val w0 = System.nanoTime()
    var j = 0
    while (j < batches.size && (j < MinBatches || (System.nanoTime() - w0) / 1e9 < ctx.seconds)) {
      val (b, n) = batches(j)
      val out = s"${ctx.out}/inc/$b"
      val before = persisted
      val o = ctx.op(b, "tiles", n) { id =>
        val batch = spark.read.parquet(s"${ctx.input}/$b.parquet")
        // positives the table does not hold yet: the rows the merge inserts
        val fresh = ctx.tracer.span("new_positives", "sources", "action", id)(
          positives(batch).join(spark.table(Table).select("x", "y"), Seq("x", "y"), "left_anti")
            .localCheckpoint(eager = true))
        ctx.tracer.span("merge", "sources", "action", id) {
          batch.createOrReplaceTempView("perfbench_batch")
          spark.sql(
            s"""MERGE INTO $Table t USING perfbench_batch b ON t.x = b.x AND t.y = b.y
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
        }
        val inc = ctx.tracer.span("incrementalClusters", "tiles", "build", id)(
          Clustering.incrementalClusters(labels, fresh))
        val next = ctx.tracer.span("labels", "tiles", "action", id)(
          inc.select("x", "y", "cluster_id", "batch").localCheckpoint(eager = true))
        val touched = next.filter(col("batch") === 2).select("cluster_id").distinct()
        writeChallenge(ctx, next.join(touched, Seq("cluster_id"), "left_semi"),
          s"$out/challenge", id)
        labels = next.select("x", "y", "cluster_id")
      }
      if (!o.ok) j = batches.size // later batches would build on a wrong state
      else {
        // outside the timing: the labels now live in this batch's blocks
        val created = persisted -- before
        previous.foreach(i => spark.sparkContext.getPersistentRDDs.get(i).foreach(_.unpersist()))
        previous = created
        lines += Json.Raw(Json.obj(Seq("op" -> o.id, "batch" -> b, "out" -> out)))
        j += 1
      }
    }
    ctx.loopWallS = (System.nanoTime() - w0) / 1e9
    // final state, for the checker
    labels.write.parquet(s"${ctx.out}/inc/final_labels")
    ctx.checks += "batches" -> lines.toSeq
    ctx.checks += "final_labels" -> s"${ctx.out}/inc/final_labels"
    ctx.checks += "table_rows" -> spark.table(Table).count()
    spark
  }
}
