package graft.tiles

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TileFunctionsSpec extends SparkTestBase {
  import TileFunctions._

  test("deg2num known values (reference process_city_shapes.py:18)") {
    val df = spark.range(1).select(
      lonToCol(lit(0.0), 1).as("cx"), latToRow(lit(0.0), 1).as("cy"),
      lonToCol(lit(-180.0), 1).as("wx"), latToRow(lit(85.0), 1).as("ny"))
    val r = df.head
    assert(r.getLong(0) == 1) // lon 0 -> east half
    assert(r.getLong(1) == 1) // equator -> south row (rows count from north)
    assert(r.getLong(2) == 0)
    assert(r.getLong(3) == 0)
  }

  test("num2deg(deg2num) roundtrip stays within one tile") {
    val df = spark.range(100).select(
      (lit(-180.0) + col("id") * 3.57).as("lon"),
      (lit(-80.0) + col("id") * 1.59).as("lat"))
      .select(col("lon"), col("lat"),
        colToLon(lonToCol(col("lon"))).as("lon2"),
        rowToLat(latToRow(col("lat"))).as("lat2"))
    val bad = df.filter(
      abs(col("lon") - col("lon2")) > lit(360.0 / (1 << 21) * 1.01)
        || abs(col("lat") - col("lat2")) > lit(0.001)).count()
    assert(bad == 0)
  }

  test("a26 quadkey decodes back to (qx, qy) and known corners encode correctly") {
    val r = GeoQueries.a26Quadkey(spark, sf).limit(2000).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (qx, qy, qk) = (row.getAs[Long]("qx"), row.getAs[Long]("qy"),
        row.getAs[String]("quadkey"))
      assert(qk.length == GeoQueries.QkZoom)
      val (dx, dy) = qk.foldLeft((0L, 0L)) { case ((x, y), c) =>
        val d = c - '0'
        (x * 2 + (d & 1), y * 2 + (d >> 1))
      }
      assert(dx == qx && dy == qy, s"decode($qk) = ($dx,$dy) != ($qx,$qy)")
    }
  }
}

class ClusteringSpec extends SparkTestBase {

  test("4-adjacency components: two clusters, min-label ids") {
    import spark.implicits._
    val cells = Seq((0L, 0L), (0L, 1L), (1L, 1L), (5L, 5L)).toDF("x", "y")
    val got = Clustering.connectedComponents4(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((0L, 0L)) == 0L)
    assert(got((0L, 1L)) == 0L)
    assert(got((1L, 1L)) == 0L)
    assert(got((5L, 5L)) == 5L * Clustering.IdShift + 5L)
  }

  test("label encoding clears 32 bits: no collision at real z21 coordinates") {
    import spark.implicits._
    // with the old x*100000+y encoding, (0, 200000) and (2, 0) collided
    // (0*100000+200000 == 2*100000+0) — two far-apart cells would merge
    val cells = Seq((0L, 200000L), (2L, 0L), (2097151L, 2097151L)).toDF("x", "y")
    val got = Clustering.connectedComponents4(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.values.toSet.size == 3) // all three isolated cells distinct
    assert(got((0L, 200000L)) == 200000L)
    assert(got((2L, 0L)) == 2L * Clustering.IdShift)
    assert(got((2097151L, 2097151L)) == 2097151L * Clustering.IdShift + 2097151L)
  }

  test("local and df engines produce identical labels") {
    val pos = GeoDerive.positives(spark, sf)
    def run(impl: String): Seq[(Long, Long, Long)] = {
      spark.conf.set("graft.cc.impl", impl)
      try Clustering.connectedComponents4(pos).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      finally spark.conf.unset("graft.cc.impl")
    }
    val local = run("local")
    val df = run("df")
    assert(local.nonEmpty && local == df)
    // durable-checkpoint df variant: same labels, lineage cut to disk
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set("graft.seal.durable", "true")
    try assert(local == run("df"))
    finally spark.conf.unset("graft.seal.durable")
    assert(java.nio.file.Files.walk(ckptDir).anyMatch(java.nio.file.Files.isRegularFile(_)),
      "graft.seal.durable=true wrote no checkpoint files for the df loop")
  }

  test("diagonal tiles are NOT connected (4-neighbor, run_inference.py:21)") {
    import spark.implicits._
    val cells = Seq((0L, 0L), (1L, 1L)).toDF("x", "y")
    val ids = Clustering.connectedComponents4(cells)
      .select("cluster_id").distinct().count()
    assert(ids == 2)
  }

  test("edge cases: empty and single-cell inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Clustering.connectedComponents4(empty).count() == 0)
    assert(GridOps.dilate3x3(empty).count() == 0)
    val one = Seq((7L, 7L)).toDF("x", "y")
    val cc1 = Clustering.connectedComponents4(one).collect()
    assert(cc1.length == 1 && cc1.head.getLong(2) == 7L * Clustering.IdShift + 7L)
    assert(GridOps.dilate3x3(one).count() == 9)
  }
}

class GeoQueriesSpec extends SparkTestBase {

  test("incremental clustering: persisted labels immutable, adjacent new cells adopt, fresh ids continue above max") {
    import spark.implicits._
    // persisted state: cluster 1 = {(0,0),(0,1)}, cluster 2 = {(5,0),(5,1)}
    val existing = Seq((0L, 0L, 1L), (0L, 1L, 1L), (5L, 0L, 2L), (5L, 1L, 2L))
      .toDF("x", "y", "cluster_id")
    // new batch: a bridge touching BOTH clusters + an isolated pair
    val batch2 = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L),
      (20L, 20L), (20L, 21L)).toDF("x", "y")
    val got = Clustering.incrementalClusters(existing, batch2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    // untouched persisted labels survive the second batch verbatim
    assert(got((0L, 0L)) == ((1L, 1)) && got((0L, 1L)) == ((1L, 1)))
    assert(got((5L, 0L)) == ((2L, 1)) && got((5L, 1L)) == ((2L, 1)))
    // the bridge component adopts the SMALLEST adjacent persisted id;
    // cluster 2 keeps its id (persisted ids are never merged/relabeled)
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .foreach(c => assert(got(c) == ((1L, 2)), s"bridge cell $c"))
    // the isolated component continues above the persisted max id
    assert(got((20L, 20L)) == ((3L, 2)) && got((20L, 21L)) == ((3L, 2)))
    assert(got.values.map(_._1).toSet == Set(1L, 2L, 3L))
  }

  test("a9 dilation is a superset of positives; a10 is disjoint from dilation") {
    val pos = GeoDerive.positives(spark, sf).select("x", "y")
    val dil = GridOps.dilate3x3(pos)
    assert(pos.join(dil, Seq("x", "y"), "left_anti").count() == 0)
    val cleanup = GeoQueries.a10ImageryCleanup(spark, sf)
    assert(cleanup.join(dil, Seq("x", "y"), "inner").count() == 0)
  }

  test("a15 outline edge count is even and bounds each cluster") {
    val outline = GeoQueries.a15ClusterOutline(spark, sf)
    // every rectilinear closed boundary has an even number of unit edges
    val odd = outline.groupBy("cluster_id").count()
      .filter(col("count") % 2 =!= 0).count()
    assert(odd == 0)
  }

  test("containsPoint handles a concave polygon (notch excluded, boundary inside)") {
    import spark.implicits._
    // CCW L-shape with the notch at the top-right quadrant
    val vs = Seq((0L, 0L), (4L, 0L), (4L, 2L), (2L, 2L), (2L, 4L), (0L, 4L))
    val edges = vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
      Polygons.Edge(x1, y1, x2, y2)
    }
    val pts = Seq(
      (1L, 1L, true), (3L, 1L, true), (1L, 3L, true), // interior
      (3L, 3L, false), (4L, 4L, false), (5L, 1L, false), // notch + outside
      (2L, 2L, true), (3L, 2L, true), (2L, 3L, true)) // vertices + edges
    val got = pts.toDF("x", "y", "want")
      .withColumn("edges", typedLit(edges))
      .withColumn("got", GridOps.containsPoint(col("edges"), col("x"), col("y")))
    assert(got.filter(col("got") =!= col("want")).count() == 0)
  }

  test("outline ring assembly: square is CCW, donut yields outer CCW + hole CW") {
    import graft.geom.Geometry
    def area(ring: Seq[(Long, Long)]): Double =
      Geometry.signedArea(ring.map(p => Geometry.Pt(p._1.toDouble, p._2.toDouble)))
    // unit square
    val sq = Outline.chainEdges(Seq(
      ((0L, 0L), (1L, 0L)), ((1L, 0L), (1L, 1L)), ((0L, 1L), (1L, 1L)), ((0L, 0L), (0L, 1L))))
    assert(sq.size == 1 && sq.head.size == 4 && area(sq.head) > 0)
    // 3x3 tile block minus the center tile: 12-edge outer ring + 4-edge hole
    val tiles = for (x <- 0 until 3; y <- 0 until 3 if (x, y) != ((1, 1))) yield (x.toLong, y.toLong)
    val edgeCount = scala.collection.mutable.Map.empty[((Long, Long), (Long, Long)), Int]
    tiles.foreach { case (x, y) =>
      Seq(((x, y), (x + 1, y)), ((x, y + 1), (x + 1, y + 1)),
        ((x, y), (x, y + 1)), ((x + 1, y), (x + 1, y + 1)))
        .foreach(e => edgeCount(e) = edgeCount.getOrElse(e, 0) + 1)
    }
    val boundary = edgeCount.filter(_._2 == 1).keys.toSeq
    val rings = Outline.chainEdges(boundary).sortBy(-_.size)
    assert(rings.map(_.size) == Seq(12, 4))
    assert(area(rings.head) > 0) // outer CCW
    assert(area(rings(1)) < 0) // hole CW
    // Emitted start vertices — the contract the a25_geojson_fp oracle
    // reconstructs: the directed interior-left walk starts EVERY ring
    // (outer and hole alike) at its lexicographically smallest vertex.
    assert(rings.head.head == ((0L, 0L)), "outer ring starts at its min vertex")
    assert(rings(1).head == ((1L, 1L)), "hole ring starts at its min vertex")
  }

  test("pinch + hole: non-crossing split, hole reversed, starts match the fp-oracle model") {
    import graft.geom.Geometry
    def area(ring: Seq[(Long, Long)]): Double =
      Geometry.signedArea(ring.map(p => Geometry.Pt(p._1.toDouble, p._2.toDouble)))
    // one 4-connected U-cluster enclosing the hole square (1,1); the
    // hole's ring and the outer ring SHARE the deg-4 pinch vertex (1,2)
    // (diagonal squares (0,1) and (1,2) filled, (0,2) and (1,1) empty)
    val tiles = Seq((0L, 1L), (0L, 0L), (1L, 0L), (2L, 0L), (2L, 1L), (2L, 2L), (1L, 2L))
    val edgeCount = scala.collection.mutable.Map.empty[((Long, Long), (Long, Long)), Int]
    tiles.foreach { case (x, y) =>
      Seq(((x, y), (x + 1, y)), ((x, y + 1), (x + 1, y + 1)),
        ((x, y), (x, y + 1)), ((x + 1, y), (x + 1, y + 1)))
        .foreach(e => edgeCount(e) = edgeCount.getOrElse(e, 0) + 1)
    }
    val rings = Outline.chainEdges(edgeCount.filter(_._2 == 1).keys.toSeq)
    // the left-turn (non-crossing) pairing at the pinch MERGES the hole
    // walk into the outer walk: one 16-edge closed ring visiting the
    // pinch vertex (1,2) twice, net signed area = outer − hole = 7 tiles
    assert(rings.map(_.size) == Seq(16))
    val r = rings.head
    assert(r.count(_ == ((1L, 2L))) == 2, "pinch vertex visited exactly twice")
    assert(area(r) == 7.0, "net signed area = 8 outer − 1 hole")
    // emitted-start contract the a25_geojson_fp oracle reconstructs:
    assert(r.head == ((0L, 0L)), "merged ring starts at its min vertex")
  }

  test("assembleRings covers every a15 boundary edge exactly once, closed") {
    val outline = GeoQueries.a15ClusterOutline(spark, sf)
    val rings = Outline.assembleRings(outline).collect()
    // every consecutive pair (and the wrap-around) is a unit step
    rings.foreach { r =>
      val vs = r.vertices
      (vs :+ vs.head).sliding(2).foreach { case Seq(a, b) =>
        assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1)
      }
    }
    // ring edges per cluster == a15 edge count per cluster
    val perCluster = rings.groupBy(_.cluster_id).view.mapValues(_.map(_.xs.size).sum)
    val want = outline.groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perCluster.toMap.map { case (k, v) => k -> v.toLong } == want)
  }

  test("a3 grid fill stays inside each polygon bbox") {
    val g = GridOps.fillPolygons(spark)
    val p = Polygons.df(spark).select("poly", "minx", "maxx", "miny", "maxy")
    val out = g.join(p, "poly")
      .filter(col("x") < col("minx") || col("x") > col("maxx")
        || col("y") < col("miny") || col("y") > col("maxy")).count()
    assert(out == 0)
  }

  test("a17 upsert keeps exactly one row per (x, y), first source wins") {
    val up = GeoQueries.a17UpsertIgnore(spark, sf)
    assert(up.groupBy("x", "y").count().filter(col("count") > 1).count() == 0)
    // every cell from batch 1 must surface with src=1
    val b1 = GeoDerive.cells(spark, sf).select("x", "y")
    assert(up.filter(col("src") === 1).join(b1, Seq("x", "y"), "left_anti").count() == 0)
  }

  test("a13 exact containment: L-shaped cluster keeps a node inside its bbox but outside its tile union") {
    import spark.implicits._
    // L-shape: column x=0, y=0..2 plus foot (1,2),(2,2). Bbox is
    // [0..2]×[0..2]; tile (2,0) is inside the bbox but NOT a member.
    val l = Seq((0L, 0L), (0L, 1L), (0L, 2L), (1L, 2L), (2L, 2L))
    // second cluster far away, actually containing its node -> dropped
    val sq = Seq((10L, 10L), (10L, 11L), (11L, 10L), (11L, 11L))
    val cc = (l.map { case (x, y) => (x, y, 1L) } ++
      sq.map { case (x, y) => (x, y, 2L) }).toDF("x", "y", "cluster_id")
    val nodes = Seq((2L, 0L), (10L, 11L)).toDF("x", "y")
    val kept = GeoQueries.exactSpatialAntiJoin(cc, nodes)
      .select("cluster_id").as[Long].collect().toSet
    // bbox-only semantics (rounds 1-5) dropped BOTH; exact containment
    // keeps the L (its union holds no node) and drops only the square
    assert(kept == Set(1L))
  }

  test("a32 simplification: corner counts even and >= 4, single tile collapses to 4 corners") {
    val r = GeoQueries.a32OutlineSimplify(spark, sf)
    assert(r.count() > 0)
    // a closed rectilinear boundary turns an even number of times, at
    // least the 4 of a rectangle; dropped vertices never exceed total
    assert(r.filter(col("n_corners") < 4).count() == 0)
    assert(r.filter(col("n_corners") % 2 =!= 0).count() == 0)
    assert(r.filter(col("n_dropped") < 0 || col("n_dropped") > col("n_vertices")).count() == 0)
    // every boundary edge contributes 2 endpoints; for a closed boundary
    // edges == vertices would only hold without pinches, so just bound it
    assert(r.filter(col("n_edges") < col("n_vertices")).count() == 0)
    // singleton clusters (1 tile, 4 edges) simplify to exactly 4 corners
    val singles = graft.tiles.Clustering.componentsFor(spark, sf)
      .groupBy("cluster_id").count().filter(col("count") === 1)
      .select("cluster_id")
    val joined = r.join(singles, "cluster_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("n_edges") =!= 4 || col("n_vertices") =!= 4 ||
      col("n_dropped") =!= 0 || col("n_corners") =!= 4).count() == 0)
  }

  test("a34 nearest positive: matches are positive tiles in radius, on-tile nodes get d2=0") {
    val r = GeoQueries.a34NearestPositive(spark, sf).localCheckpoint()
    val rad2 = 2L * GeoQueries.NearRadius * GeoQueries.NearRadius
    assert(r.count() > 0)
    assert(r.filter(col("d2") > rad2 || col("d2") < 0L).count() == 0)
    // every reported best tile IS a positive tile
    val pos = GeoDerive.positives(spark, sf)
      .select(col("x").as("best_x"), col("y").as("best_y"))
    assert(r.join(pos, Seq("best_x", "best_y"), "left_anti").count() == 0)
    // a node whose own tile is positive must match itself at distance 0
    val onTile = GeoDerive.nodes(spark, sf).select("nx", "ny").distinct()
      .join(pos.select(col("best_x").as("nx"), col("best_y").as("ny")), Seq("nx", "ny"))
    assert(onTile.count() > 0)
    assert(onTile.join(r, Seq("nx", "ny"))
      .filter(col("d2") =!= 0L || col("best_x") =!= col("nx") || col("best_y") =!= col("ny"))
      .count() == 0)
  }

  test("a42 score smoothing: brute-force 3x3 recompute, denoise direction sensible") {
    val out = GeoQueries.a42ScoreSmooth(spark, sf).collect()
    assert(out.nonEmpty)
    val cells = GeoDerive.cells(spark, sf).select("x", "y", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1000)))
      .toMap
    val t = math.round(GeoDerive.Threshold * 1e6)
    out.foreach { r =>
      val (x, y) = (r.getAs[Long]("x"), r.getAs[Long]("y"))
      val nbrs = (for (dx <- -1L to 1L; dy <- -1L to 1L)
        yield cells.get((x + dx, y + dy))).flatten
      assert(r.getAs[Long]("n_nbr") == nbrs.size)
      assert(r.getAs[Long]("smooth_micro") == nbrs.sum * 1000L / nbrs.size)
      assert(r.getAs[Long]("s_milli") == cells((x, y)))
      val (rawPos, smoothPos) =
        (cells((x, y)) * 1000L >= t, r.getAs[Long]("smooth_micro") >= t)
      val expect = if (rawPos && smoothPos) "kept"
        else if (smoothPos) "promoted" else "demoted"
      assert(r.getAs[String]("change") == expect)
    }
    // the filter smooths in both directions on this data
    val changes = out.map(_.getAs[String]("change")).toSet
    assert(changes.contains("promoted") && changes.contains("demoted"))
  }

  test("a41 shape stats: brute-force bbox recompute, ratios bounded") {
    val out = GeoQueries.a41ShapeStats(spark, sf).collect()
    assert(out.nonEmpty)
    val cc = Clustering.componentsFor(spark, sf)
      .select("cluster_id", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = cc.groupBy(_._1)
    assert(out.length == byCluster.size)
    out.foreach { r =>
      val g = byCluster(r.getLong(0))
      val (w, h) = (g.map(_._2).max - g.map(_._2).min + 1, g.map(_._3).max - g.map(_._3).min + 1)
      assert(r.getAs[Long]("n_tiles") == g.length)
      assert(r.getAs[Long]("w") == w && r.getAs[Long]("h") == h)
      assert(r.getAs[Long]("fill_ppm") == g.length * 1000000L / (w * h))
      assert(r.getAs[Long]("aspect_ppm") == math.max(w, h) * 1000000L / math.min(w, h))
      // fill can't exceed 1, aspect can't undercut 1, tiles fit the bbox
      assert(r.getAs[Long]("fill_ppm") <= 1000000L)
      assert(r.getAs[Long]("aspect_ppm") >= 1000000L)
      assert(g.length <= w * h)
    }
  }

  test("a40 degree histogram: brute-force recompute, mass conserved") {
    val out = GeoQueries.a40DegreeHistogram(spark, sf).collect()
    val pos = GeoDerive.positives(spark, sf).select("x", "y", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val posSet = pos.map(_._1).toSet
    val expect = pos.map { case ((x, y), s) =>
      val deg = Seq((1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L))
        .count { case (dx, dy) => posSet((x + dx, y + dy)) }
      (deg.toLong, math.round(s * 1000))
    }.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.map(_._2).sum * 1000L / g.length)).toMap
    assert(out.map(r => (r.getAs[Long]("degree"),
      (r.getAs[Long]("n_tiles"), r.getAs[Long]("mean_score_micro")))).toMap == expect.toMap)
    assert(out.map(_.getAs[Long]("n_tiles")).sum == pos.length)
    assert(out.forall(r => r.getAs[Long]("degree") >= 0 && r.getAs[Long]("degree") <= 4))
  }

  test("a39 conflation queue: decisions agree with a13's exclusions and a34's near band") {
    val out = GeoQueries.a39ConflationQueue(spark, sf).collect()
    assert(out.nonEmpty)
    val byDecision = out.groupBy(_.getAs[String]("decision"))
    // every cluster appears exactly once, all clusters covered
    val nClusters = Clustering.componentsFor(spark, sf)
      .select("cluster_id").distinct().count()
    assert(out.length == nClusters)
    // a13's unmapped set = the non-'mapped' clusters here
    val a13Ids = GeoQueries.a13SpatialAntijoin(spark, sf)
      .select("cluster_id").collect().map(_.getLong(0)).toSet
    val notMapped = out.filter(_.getAs[String]("decision") != "mapped")
      .map(_.getAs[Long]("cluster_id")).toSet
    assert(notMapped == a13Ids)
    // review rows carry a real distance in the band; mapped/challenge -1
    byDecision.getOrElse("review", Array.empty).foreach { r =>
      val d2 = r.getAs[Long]("min_d2")
      assert(d2 > 0 && d2 <= 2L * GeoQueries.NearRadius * GeoQueries.NearRadius)
    }
    assert(byDecision.getOrElse("challenge", Array.empty)
      .forall(_.getAs[Long]("min_d2") == -1L))
    assert(byDecision.keySet.contains("mapped"))
  }

  test("a38 snapshot diff: kept+removed = v1 positives, kept+added = v2 positives") {
    val out = GeoQueries.a38SnapshotDiff(spark, sf)
    val byStatus = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.keySet == Set("kept", "removed", "added"))
    // v1 positives are exactly GeoDerive's positive set
    val v1 = GeoDerive.cells(spark, sf).filter(col("score") >= GeoDerive.Threshold).count()
    assert(byStatus("kept") + byStatus("removed") == v1)
    // statuses are mutually exclusive per tile
    assert(out.groupBy("poly", "x", "y").count().filter(col("count") > 1).count() == 0)
    // the rescore is a real change: both churn directions are non-trivial
    assert(byStatus("removed") > 0 && byStatus("added") > 0)
  }

  test("a37 tile RLE: runs re-expand to exactly the a3 grid and are maximal") {
    val runs = GeoQueries.a37TileRle(spark, sf)
    val grid = GridOps.fillPolygons(spark).select("poly", "x", "y")
    // lossless: expanding every run reproduces the grid exactly
    val expanded = runs.select(col("poly"), col("y"),
        explode(expr("sequence(x_start, x_start + run_len - 1)")).as("x"))
      .select("poly", "x", "y") // except() is positional — align with grid
    assert(expanded.count() == grid.count())
    assert(expanded.except(grid).count() == 0 && grid.except(expanded).count() == 0)
    // maximal: no run's end touches the next run's start within a row
    val r = runs.collect().map(t => (t.getAs[Long]("poly"), t.getAs[Long]("y"),
      t.getAs[Long]("x_start"), t.getAs[Long]("run_len")))
    r.groupBy(t => (t._1, t._2)).values.foreach { row =>
      row.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 < b._3, s"touching runs $a $b")
        case _ =>
      }
    }
    // compression is real on solid polygons: fewer runs than tiles
    assert(runs.count() < grid.count())
  }

  test("a43 z-range plan: coverage, tightness to the Lmin grid, merged and disjoint") {
    val out = GeoQueries.a43ZrangePlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val pts = graft.Tables(spark, sf, "lineitem")
      .select("l_returnflag", "l_orderkey", "l_partkey").collect()
      .map { r =>
        val qx = (r.getLong(1) % 2097152L) / 512L
        val qy = ((r.getLong(2) * 104729L) % 2097152L) / 512L
        (r.getString(0), qx, qy)
      }
    def z(x: Long, y: Long): Long =
      (0 until GeoQueries.ZBits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val lminMask = (1L << GeoQueries.ZrLmin) - 1L
    pts.groupBy(_._1).foreach { case (flag, g) =>
      val ranges = out.filter(_._1 == flag).sortBy(_._2)
      assert(ranges.nonEmpty, s"no ranges for $flag")
      val (x0, x1) = (g.map(_._2).min, g.map(_._2).max)
      val (y0, y1) = (g.map(_._3).min, g.map(_._3).max)
      val (bx0, bx1) = (x0 + (x1 - x0 + 1) / 4, x0 + 3 * (x1 - x0 + 1) / 4)
      val (by0, by1) = (y0 + (y1 - y0 + 1) / 4, y0 + 3 * (y1 - y0 + 1) / 4)
      // 1. COVERAGE: every point inside the box falls in some range
      g.filter(p => p._2 >= bx0 && p._2 <= bx1 && p._3 >= by0 && p._3 <= by1)
        .foreach { p =>
          val zz = z(p._2, p._3)
          assert(ranges.exists(r => zz >= r._3 && zz <= r._4),
            s"$flag point $p z=$zz uncovered")
        }
      // 2. TIGHTNESS: ranges never reach beyond the box snapped OUT to
      // the 2^Lmin grid (the documented superset bound)
      val (sx0, sx1) = (bx0 & ~lminMask, bx1 | lminMask)
      val (sy0, sy1) = (by0 & ~lminMask, by1 | lminMask)
      ranges.foreach { r =>
        Seq(r._3, r._4).foreach { zz =>
          val x = (0 until GeoQueries.ZBits).map(i => ((zz >> (2 * i)) & 1L) << i).sum
          val y = (0 until GeoQueries.ZBits).map(i => ((zz >> (2 * i + 1)) & 1L) << i).sum
          assert(x >= sx0 && x <= sx1 && y >= sy0 && y <= sy1,
            s"$flag range endpoint ($x,$y) outside the snapped box")
        }
      }
      // 3. MERGED & DISJOINT: strictly increasing, never adjacent
      ranges.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + 1 < b._3, s"$flag unmerged $a $b")
        case _ =>
      }
      // 4. n_cells bookkeeping
      ranges.foreach(r => assert(r._5 == r._4 - r._3 + 1))
    }
    // the decomposition is non-trivial somewhere: >1 range for some box
    assert(out.groupBy(_._1).values.exists(_.size > 1))
  }
}
