package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.sparkJobs
import graft.fixtures.DeterministicGen
import graft.model.OsmView

/** Spatial layer conformance: cell index invariants; PIP vs an independent
  * JDK implementation (java.awt.geom even-odd winding); spatial join, kNN,
  * and tile join vs brute-force ground truth on the sf=0.001 fixture. */
class SpatialSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val nodes = {
    val els = DeterministicGen.elements(0.001)
    els.filter(_.otype == "node").map(e => (e.docId, e.lat.get, e.lon.get))
  }
  private lazy val nodesDF =
    nodes.toDF("doc_id", "lat", "lon").cache()

  // --- ZCell invariants --------------------------------------------------------

  test("cell encode/decode round-trip and nesting") {
    val rng = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val lat = rng.nextDouble() * 170 - 85
      val lon = rng.nextDouble() * 360 - 180
      val l = rng.nextInt(ZCell.MaxLevel + 1)
      val c = ZCell.encode(lat, lon, l)
      assert(ZCell.level(c) === l)
      val (latMin, latMax, lonMin, lonMax) = ZCellDecode.bounds(c)
      assert(lat >= latMin - 1e-9 && lat <= latMax + 1e-9)
      assert(lon >= lonMin - 1e-9 && lon <= lonMax + 1e-9)
      // parent contains child
      if (l > 0) {
        val pl = rng.nextInt(l)
        assert(ZCellDecode.parent(c, pl) === ZCell.encode(lat, lon, pl) ||
          // boundary points can flip cells between levels only by grid
          // rounding; center must agree
          ZCellDecode.parent(c, pl) === {
            val (clat, clon) = ZCellDecode.center(c)
            ZCell.encode(clat, clon, pl)
          })
      }
    }
  }

  test("ring sizes and cover correctness") {
    val c = ZCell.encode(52.52, 13.405, 10)
    assert(ZCell.ring(c, 0) === Seq(c))
    assert(ZCell.ring(c, 1).size === 8)
    assert(ZCell.ring(c, 2).size === 16)
    val cover = ZCell.coverBBox(52.50, 52.54, 13.38, 13.43, 12)
    val inside = ZCell.encode(52.52, 13.40, 12)
    assert(cover.contains(inside))
  }

  test("Column cell encoder equals the Scala core encoder") {
    val l = 14
    val got = nodesDF.select(col("doc_id"),
      SpatialOps.cellId(col("lat"), col("lon"), l).as("cell"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    nodes.foreach { case (id, lat, lon) =>
      assert(got(id) === ZCell.encode(lat, lon, l), s"cell of $id")
    }
    // edge rows: poles, the antimeridian, far out of range, NaN; a null
    // coordinate gives a null cell, and cellX/cellY decode what was encoded
    val edges = Seq[(Option[Double], Double)](
      (Some(90.0), 0.0), (Some(-90.0), 0.0), (Some(0.0), 180.0),
      (Some(0.0), -180.0), (Some(90.0), 180.0), (Some(-90.0), -180.0),
      (Some(1e300), -1e300), (Some(-1e300), 1e300), (Some(Double.NaN), 10.0),
      (Some(10.0), Double.NaN), (None, 10.0))
    val cell = SpatialOps.cellId(col("lat"), col("lon"), l)
    val rows = edges.toDF("lat", "lon")
      .select(col("lat"), col("lon"), cell.as("c"),
        SpatialOps.cellX(cell).as("x"), SpatialOps.cellY(cell).as("y"))
      .collect()
    assert(rows.length === edges.size)
    rows.foreach { r =>
      if (r.isNullAt(0)) assert((0 to 2).forall(i => r.isNullAt(2 + i)), "null lat")
      else {
        val exp = ZCell.encode(r.getDouble(0), r.getDouble(1), l)
        val at = s"(${r.getDouble(0)},${r.getDouble(1)})"
        assert(r.getLong(2) === exp, at)
        assert((r.getLong(3), r.getLong(4)) === ((ZCell.x(exp).toLong, ZCell.y(exp).toLong)), at)
      }
    }
  }

  test("Z cell expressions stay constant-size trees (no Column mirror)") {
    // a Column transliteration of the encoder doubles its tree at every
    // spread/compact step (1,342 nodes for cellId, 43,196 for
    // cellX(cellId)); the kernels keep each of these under 20
    val cell = SpatialOps.cellId(col("lat"), col("lon"), 12)
    Seq(cell, SpatialOps.cellX(cell),
      SpatialOps.cellX(SpatialOps.cellParent(cell, 12, 6))).foreach { c =>
      val e = nodesDF.select(c).queryExecution.analyzed.expressions.head
      val size = e.collect { case n => n }.size
      assert(size < 20, s"$size nodes in ${e.treeString}")
    }
  }

  test("Column cellParent equals the Scala core parent") {
    val got = nodesDF.select(col("doc_id"),
      SpatialOps.cellParent(SpatialOps.cellId(col("lat"), col("lon"), 16), 16, 12).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    nodes.foreach { case (id, lat, lon) =>
      assert(got(id) === ZCellDecode.parent(ZCell.encode(lat, lon, 16), 12))
    }
  }

  // --- PIP -----------------------------------------------------------------------

  private def awtContains(lat: Double, lon: Double,
                          rings: Seq[Seq[(Double, Double)]]): Boolean = {
    val path = new java.awt.geom.Path2D.Double(java.awt.geom.Path2D.WIND_EVEN_ODD)
    rings.foreach { ring =>
      path.moveTo(ring.head._2, ring.head._1)
      ring.tail.foreach { case (la, lo) => path.lineTo(lo, la) }
      path.closePath()
    }
    path.contains(lon, lat)
  }

  test("ray-cast PIP agrees with the independent JDK even-odd implementation") {
    val polys = DeterministicGen.polygons()
    val rng = new scala.util.Random(11)
    var checked = 0
    polys.foreach { p =>
      val outer = p.outer
      val latC = outer.map(_._1).sum / outer.size
      val lonC = outer.map(_._2).sum / outer.size
      (1 to 200).foreach { _ =>
        val lat = latC + rng.nextGaussian() * 0.02
        val lon = lonC + rng.nextGaussian() * 0.02
        val rings = p.rings.map(_.toSeq)
        assert(SpatialOps.pipScala(lat, lon, rings) === awtContains(lat, lon, rings),
          s"PIP mismatch at ($lat,$lon) poly ${p.polygon_id}")
        checked += 1
      }
    }
    assert(checked > 3000)
  }

  // --- joins ------------------------------------------------------------------------

  private lazy val polygonsDF = {
    val rows = DeterministicGen.polygons().map(p =>
      (p.polygon_id, p.rings.map(_.map { case (la, lo) => (la, lo) })))
    rows.toDF("polygon_id", "rings")
      .withColumn("rings", col("rings").cast(
        "array<array<struct<lat:double,lon:double>>>"))
  }

  test("polygon join equals brute-force point-in-polygon over all pairs") {
    val polys = DeterministicGen.polygons()
    val expected = (for {
      (id, lat, lon) <- nodes
      p <- polys
      if SpatialOps.pipScala(lat, lon, p.rings.map(_.toSeq))
    } yield (id, p.polygon_id)).toSet

    val got = SpatialOps.polygonJoin(nodesDF, polygonsDF, level = 13)
      .select("doc_id", "polygon_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture must produce contained points")
  }

  test("kNN equals exact brute-force top-k") {
    val k = 5
    val queries = Seq(
      (1L, 52.52, 13.405), (2L, 48.8566, 2.3522), (3L, 40.7128, -74.006),
      (4L, 52.53, 13.41), (5L, 0.0, 0.0)) // (5) far from any hotspot: fallback path
    val queriesDF = queries.toDF("query_id", "lat", "lon")

    def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val r = 6371008.8
      val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * r * math.asin(math.sqrt(a))
    }
    val expected = queries.map { case (qid, qlat, qlon) =>
      qid -> nodes.map { case (id, lat, lon) => (id, haversine(qlat, qlon, lat, lon)) }
        .sortBy(t => (t._2, t._1)).take(k).map(_._1).toSet
    }.toMap

    val got = SpatialOps.knn(nodesDF, queriesDF, k, level = 10, maxRing = 2)
      .select("query_id", "doc_id")
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getString(1)).toSet }
    queries.foreach { case (qid, _, _) =>
      assert(got(qid) === expected(qid), s"kNN mismatch for query $qid")
      assert(got(qid).size === k)
    }
  }

  test("kNN exactness: rings with >= k decoys but a nearer point OUTSIDE the cover") {
    // Adversarial layout at level 10 (cell ≈ 0.35° edge): the query's cover
    // (ring ≤ 2) holds 3 decoys near the far NE corner (~1.2° away), while
    // the true nearest points sit just past the east edge (~0.95°). A
    // count-only fallback rule would wrongly return the decoys.
    val level = 10
    val qlat = 10.0; val qlon = 10.0
    val c = ZCell.encode(qlat, qlon, level)
    val (_, _, _, lonMaxCell) = ZCellDecode.bounds(c)
    val cellDeg = 360.0 / (1 << level)
    val eastEdge = lonMaxCell + 2 * cellDeg      // east boundary of the cover
    val pts = Seq(
      ("decoy1", qlat + 2.4 * cellDeg, qlon + 2.4 * cellDeg),
      ("decoy2", qlat + 2.4 * cellDeg, qlon + 2.3 * cellDeg),
      ("decoy3", qlat + 2.3 * cellDeg, qlon + 2.4 * cellDeg),
      ("near1", qlat, eastEdge + 0.02),          // outside cover, closer
      ("near2", qlat + 0.01, eastEdge + 0.03))
    import spark.implicits._
    val ptsDF = pts.toDF("doc_id", "lat", "lon")
    val queryDF = Seq((1L, qlat, qlon)).toDF("query_id", "lat", "lon")
    val got = SpatialOps.knn(ptsDF, queryDF, k = 2, level = level, maxRing = 2,
      metric = SpatialOps.PlanarDegrees2Metric)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(got === Set("near1", "near2"),
      s"expected the out-of-cover nearest points, got $got")
  }

  test("kNN ring widening resolves maxRing-insufficient queries without a cross join") {
    // Same adversarial layout: the ring-2 cover cannot certify the result
    // (true nearest lie outside it), but doubling to ring 4 covers and
    // certifies them — so the widening ladder must finish with NO exact-scan
    // cross join in the executed plan.
    val level = 10
    val qlat = 10.0; val qlon = 10.0
    val c = ZCell.encode(qlat, qlon, level)
    val (_, _, _, lonMaxCell) = ZCellDecode.bounds(c)
    val cellDeg = 360.0 / (1 << level)
    val eastEdge = lonMaxCell + 2 * cellDeg
    val pts = Seq(
      ("decoy1", qlat + 2.4 * cellDeg, qlon + 2.4 * cellDeg),
      ("decoy2", qlat + 2.4 * cellDeg, qlon + 2.3 * cellDeg),
      ("decoy3", qlat + 2.3 * cellDeg, qlon + 2.4 * cellDeg),
      ("near1", qlat, eastEdge + 0.02),
      ("near2", qlat + 0.01, eastEdge + 0.03))
    import spark.implicits._
    val ptsDF = pts.toDF("doc_id", "lat", "lon")
    val queryDF = Seq((1L, qlat, qlon)).toDF("query_id", "lat", "lon")
    val df = SpatialOps.knn(ptsDF, queryDF, k = 2, level = level, maxRing = 2,
      metric = SpatialOps.PlanarDegrees2Metric)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"widening should avoid the exact-scan fallback, plan:\n$plan")
    val got = df.select("doc_id").collect().map(_.getString(0)).toSet
    assert(got === Set("near1", "near2"), got.toString)

    // and a query no widening can certify (k above the point count) still
    // gets the correct answer from the exact fallback's cross join
    val df0 = SpatialOps.knn(ptsDF, queryDF, k = pts.size + 1, level = level,
      maxRing = 2, metric = SpatialOps.PlanarDegrees2Metric)
    val plan0 = df0.queryExecution.executedPlan.toString
    assert(plan0.contains("CartesianProduct") ||
      plan0.contains("BroadcastNestedLoopJoin"), plan0)
    assert(df0.select("doc_id").collect().map(_.getString(0)).toSet ===
      pts.map(_._1).toSet)
  }

  test("kNN returns one column order whether or not a query needs widening") {
    // query 1 sits among its points and is certified on the first ring;
    // query 2's nearest points lie past its ring-2 cover, so it is widened
    val level = 10
    val (_, _, _, lonMaxCell) = ZCellDecode.bounds(ZCell.encode(30.0, 30.0, level))
    val eastEdge = lonMaxCell + 2 * 360.0 / (1 << level) // of query 2's ring-2 cover
    val pts = Seq(("a", 10.0, 10.0), ("b", 10.001, 10.001), ("c", 10.002, 10.0),
      ("far1", 30.0, eastEdge + 0.02), ("far2", 30.01, eastEdge + 0.03))
      .toDF("doc_id", "lat", "lon")
    val want = Seq("doc_id", "lat", "lon", "query_id", "qlat", "qlon", "dist_m")
    val certified = SpatialOps.knn(pts, Seq((1L, 10.0, 10.0)).toDF("query_id", "lat", "lon"),
      k = 2, level = level, maxRing = 2)
    val widened = SpatialOps.knn(pts,
      Seq((1L, 10.0, 10.0), (2L, 30.0, 30.0)).toDF("query_id", "lat", "lon"),
      k = 2, level = level, maxRing = 2)
    assert(certified.columns.toSeq === want)
    assert(widened.columns.toSeq === want)
    assert(widened.filter(col("query_id") === 2).select("doc_id").as[String]
      .collect().toSet === Set("far1", "far2"))
  }

  test("kNN drops queries and points with a null coordinate") {
    val pts = Seq[(String, java.lang.Double, java.lang.Double)](
      ("a", 10.0, 10.0), ("b", 10.001, 10.001), ("nolat", null, 10.0), ("nolon", 10.0, null))
      .toDF("doc_id", "lat", "lon")
    val qs = Seq[(Long, java.lang.Double, java.lang.Double)](
      (1L, 10.0, 10.0), (2L, null, 10.0), (3L, 10.0, null))
      .toDF("query_id", "lat", "lon")
    // k = 3 exceeds the located points, so query 1 reaches the exact fallback
    val got = SpatialOps.knn(pts, qs, k = 3, level = 10, maxRing = 2)
      .select("query_id", "doc_id", "dist_m").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a"), (1L, "b")))
    assert(got.forall(!_.isNullAt(2)))
  }

  test("kNN equals brute force when queries certify on the first ring, after widening, or never") {
    val level = 10
    val cellDeg = 360.0 / (1 << level)
    // queries 1 and 2 sit among their points and certify on the first ring;
    // query 3 is the adversarial layout above (its nearest points lie just
    // past its ring-2 cover), so it certifies only after widening; query 4
    // is ~40° from every point, beyond the widest ring, so it reaches the
    // exact fallback
    val (_, _, _, lonMaxCell) = ZCellDecode.bounds(ZCell.encode(30.0, 30.0, level))
    val eastEdge = lonMaxCell + 2 * cellDeg
    val pts = Seq(("a", 10.0, 10.0), ("b", 10.001, 10.001), ("c", 10.002, 10.0),
      ("d", -20.0, -40.0), ("e", -20.001, -40.002), ("f", -20.002, -40.001),
      ("decoy1", 30.0 + 2.4 * cellDeg, 30.0 + 2.4 * cellDeg),
      ("decoy2", 30.0 + 2.4 * cellDeg, 30.0 + 2.3 * cellDeg),
      ("near1", 30.0, eastEdge + 0.02), ("near2", 30.01, eastEdge + 0.03))
    val queries = Seq((1L, 10.0005, 10.0005), (2L, -20.001, -40.001), (3L, 30.0, 30.0),
      (4L, 60.0, -120.0))
    val k = 2
    def dist(qlat: Double, qlon: Double, lat: Double, lon: Double): Double =
      (lat - qlat) * (lat - qlat) + (lon - qlon) * (lon - qlon)
    val want = queries.flatMap { case (q, qlat, qlon) =>
      pts.map { case (id, lat, lon) => (q, id, dist(qlat, qlon, lat, lon)) }
        .sortBy(t => (t._3, t._2)).take(k)
    }.toSet
    def run(qs: Seq[(Long, Double, Double)]) = SpatialOps.knn(pts.toDF("doc_id", "lat", "lon"),
      qs.toDF("query_id", "lat", "lon"), k, level = level, maxRing = 2,
      metric = SpatialOps.PlanarDegrees2Metric)
    val got = run(queries)
    assert(got.select("query_id", "doc_id", "dist_m").as[(Long, String, Double)]
      .collect().toSet === want)
    val crossJoin = (df: org.apache.spark.sql.DataFrame) => {
      val p = df.queryExecution.executedPlan.toString
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(crossJoin(got), "query 4 must reach the exact fallback")
    assert(!crossJoin(run(queries.take(3))), "queries 1-3 must certify on a ring")
    // one ring step less when query 3 is left out: it needs the widening
    assert(sparkJobs(run(queries.take(2)).collect()) < sparkJobs(run(queries.take(3)).collect()))
  }

  test("Spark jobs of a kNN call whose queries certify on the first ring are pinned") {
    val points = nodesDF.localCheckpoint(true)
    val queries = Seq((1L, 52.52, 13.405), (2L, 48.8566, 2.3522), (3L, 52.53, 13.41))
      .toDF("query_id", "lat", "lon")
    var rows = 0
    val jobs = sparkJobs {
      rows = SpatialOps.knn(points, queries, k = 5, level = 10, maxRing = 2).collect().length
    }
    assert(rows === 15)
    // the ring step is one checkpointed query whose cell broadcast and
    // exchange map stage are jobs of their own under AQE, then the collect
    // (the certification aggregation, unsat join and probes made it 9)
    assert(jobs === 4)
  }

  test("tile join equals brute-force parent-cell assignment") {
    val tiles = DeterministicGen.rasterTiles(level = 12)
    val tilesDF = tiles.map(t => (t.cell, t.level)).toDF("cell", "tile_level")
    val tileSet = tiles.map(_.cell).toSet
    val expected = nodes.flatMap { case (id, lat, lon) =>
      val p = ZCellDecode.parent(ZCell.encode(lat, lon, 16), 12)
      if (tileSet.contains(p)) Some((id, p)) else None
    }.toSet
    val got = SpatialOps.tileJoin(nodesDF, tilesDF, pointLevel = 16, tileLevel = 12)
      .select("doc_id", "tile_cell")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("cellDensity equals plain groupBy counts per cell") {
    val plain = nodesDF
      .withColumn("cell", SpatialOps.cellId(col("lat"), col("lon"), 8))
      .groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SpatialOps.cellDensity(nodesDF, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === plain)
  }

  test("tilePyramid equals the per-level density union, one level per 5 low bits") {
    val got = SpatialOps.tilePyramid(nodesDF, 3, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (3 to 6).flatMap { l =>
      nodesDF.withColumn("cell", SpatialOps.cellId(col("lat"), col("lon"), l))
        .groupBy("cell").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }.toMap
    assert(got === expected)
    // each level's total equals the point count (every point in one cell)
    val n = nodesDF.count()
    (3 to 6).foreach { l =>
      assert(got.collect { case (c, cnt) if ZCell.level(c) == l => cnt }.sum === n)
    }
  }
}
