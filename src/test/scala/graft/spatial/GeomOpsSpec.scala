package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.SparkTestSession
import graft.fixtures.DeterministicGen
import graft.model.OsmView

/** GeomOps conformance: way-geometry assembly + exact-integer metrics vs a
  * driver-side recomputation (hand fixtures with missing refs / closed rings
  * / empty ways, then the whole sf=0.001 generated corpus); distance joins
  * vs brute force including
  * antimeridian and near-pole points; plan shape (no cartesian product). */
class GeomOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def viewOf(nodes: Seq[(Long, Double, Double)],
                     ways: Seq[(Long, Seq[Long])]) = {
    val n = nodes.toDF("id", "lat", "lon")
      .select(lit("node").as("type"), col("id"), col("lat"), col("lon"),
        lit(null).cast("array<long>").as("nds"))
    val w = ways.toDF("id", "nds")
      .select(lit("way").as("type"), col("id"),
        lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
        col("nds"))
    n.unionByName(w)
  }

  test("addLocations: order, missing refs, empty ways") {
    val view = viewOf(
      nodes = Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 3.0, 15.0)),
      ways = Seq(
        (10L, Seq(3L, 1L, 2L)),        // out of id order — must keep nds order
        (11L, Seq(1L, 99L, 2L)),       // missing middle ref
        (13L, Seq.empty[Long]),        // empty nds
        (14L, Seq(99L, 98L))))         // nothing resolves
    val out = GeomOps.addLocations(view).collect()
      .map(r => r.getLong(0) -> r).toMap

    val pts10 = out(10L).getSeq[Row](1)
    assert(pts10.map(_.getLong(1)) === Seq(3L, 1L, 2L)) // nds order, not id order
    assert(pts10.map(_.getDouble(2)) === Seq(3.0, 1.0, 2.0))
    assert(out(10L).getLong(2) === 3 && out(10L).getLong(3) === 3)

    val pts11 = out(11L).getSeq[Row](1)
    assert(pts11.map(_.getLong(1)) === Seq(1L, 99L, 2L))
    assert(pts11(1).isNullAt(2) && pts11(1).isNullAt(3))
    assert(out(11L).getLong(2) === 3 && out(11L).getLong(3) === 2)

    assert(out(13L).getSeq[Row](1).isEmpty)
    assert(out(13L).getLong(2) === 0 && out(13L).getLong(3) === 0)
    assert(out(14L).getLong(2) === 2 && out(14L).getLong(3) === 0)
  }

  test("wayMetrics: hand-computed bbox, path, shoelace area") {
    val view = viewOf(
      nodes = Seq((1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 1.0, 1.0), (4L, 1.0, 0.0)),
      ways = Seq(
        (20L, Seq(1L, 2L, 3L)),            // open: path = (0,1)->(1,1): 2e7 total
        (21L, Seq(1L, 2L, 3L, 4L, 1L)),    // closed unit square
        (22L, Seq(1L, 99L, 3L)),           // missing mid: path over resolved (1,3)
        (23L, Seq(1L, 2L, 1L)),            // first==last but only 3 resolved: open
        (24L, Seq.empty[Long])))
    val m = GeomOps.wayMetrics(GeomOps.addLocations(view)).collect()
      .map(r => r.getLong(0) -> r).toMap

    def f(id: Long, name: String) = {
      val r = m(id); val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    }
    // way 20: refs (0,0)(0,1)(1,1): |Δ| sums = (0+1e7) + (1e7+0) = 2e7
    assert(f(20L, "path_e7") === Some(20000000L))
    assert(f(20L, "min_lat_e7") === Some(0L) && f(20L, "max_lat_e7") === Some(10000000L))
    assert(f(20L, "area2_e5") === None)
    // way 21: unit square, closed: shoelace |sum| = 2·area = 2 deg² = 2e10 in E5²
    assert(f(21L, "area2_e5") === Some(2L * 100000L * 100000L))
    assert(f(21L, "path_e7") === Some(40000000L))
    // way 22: resolved = (0,0),(1,1): path = 1e7 + 1e7
    assert(f(22L, "path_e7") === Some(20000000L) && f(22L, "n_resolved") === Some(2L))
    // way 23: 3 resolved pts — not a ring (needs ≥ 4)
    assert(f(23L, "area2_e5") === None)
    // way 24: nothing resolved
    assert(f(24L, "path_e7") === Some(0L) && f(24L, "min_lat_e7") === None)
  }

  test("wayMetrics equals a driver-side recomputation on the sf=0.001 corpus") {
    val els = DeterministicGen.elements(0.001)
    val nodeMap: Map[Long, (Double, Double)] = els.collect {
      case e if e.otype == "node" => e.id -> (e.lat.get, e.lon.get)
    }.toMap
    val expected = els.filter(_.otype == "way").map { w =>
      val res = w.nds.flatMap(nodeMap.get)
      val la = res.map(p => math.round(p._1 * 1e7))
      val lo = res.map(p => math.round(p._2 * 1e7))
      val path = if (la.size < 2) 0L
        else (1 until la.size).map(i =>
          math.abs(la(i) - la(i - 1)) + math.abs(lo(i) - lo(i - 1))).sum
      val closed = la.size >= 4 && la.head == la.last && lo.head == lo.last
      val area = if (!closed) None else {
        val xs = lo.map(_ / 100); val ys = la.map(_ / 100)
        Some(math.abs((0 until xs.size - 1).map(i =>
          xs(i) * ys(i + 1) - xs(i + 1) * ys(i)).sum))
      }
      w.id -> (w.nds.size.toLong, res.size.toLong, path, area,
        if (la.isEmpty) None else Some(la.min))
    }.toMap

    val view = OsmView.derive(DeterministicGen.docsDF(spark, 0.001))
    val got = GeomOps.wayMetrics(GeomOps.addLocations(view)).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (nRefs, nRes, path, area, minLat) = expected(r.getLong(0))
      assert(r.getLong(r.fieldIndex("n_refs")) === nRefs, s"way ${r.getLong(0)}")
      assert(r.getLong(r.fieldIndex("n_resolved")) === nRes)
      assert(r.getLong(r.fieldIndex("path_e7")) === path)
      val ai = r.fieldIndex("area2_e5")
      assert((if (r.isNullAt(ai)) None else Some(r.getLong(ai))) === area)
      val mi = r.fieldIndex("min_lat_e7")
      assert((if (r.isNullAt(mi)) None else Some(r.getLong(mi))) === minLat)
    }
  }

  // --- relation geometry ----------------------------------------------------------

  private def viewWithRels(nodes: Seq[(Long, Double, Double)],
                           ways: Seq[(Long, Seq[Long])],
                           rels: Seq[(Long, Seq[(String, Long, String)])]) = {
    val base = viewOf(nodes, ways)
      .select(col("type"), col("id"), col("lat"), col("lon"), col("nds"),
        lit(null).cast("array<struct<mtype:string,ref:bigint,role:string>>").as("members"))
    val r = rels.toDF("id", "members")
      .select(lit("relation").as("type"), col("id"),
        lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
        lit(null).cast("array<long>").as("nds"),
        col("members").cast("array<struct<mtype:string,ref:bigint,role:string>>"))
    base.unionByName(r)
  }

  test("relationGeoms: member counts, path sum, bbox union") {
    val view = viewWithRels(
      nodes = Seq((1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 1.0, 1.0)),
      ways = Seq((10L, Seq(1L, 2L)), (11L, Seq(2L, 3L))),
      rels = Seq(
        (100L, Seq(("way", 10L, "outer"), ("way", 11L, "outer"),
          ("node", 1L, ""), ("way", 99L, "outer"))), // node + missing way
        (101L, Seq(("way", 10L, "outer"), ("way", 10L, "outer"))), // dup member
        (102L, Seq(("node", 1L, ""), ("relation", 100L, "")))))    // no ways
    val ways = GeomOps.wayMetrics(GeomOps.addLocations(view))
    val out = GeomOps.relationGeoms(view, ways).collect()
      .map(r => r.getLong(0) -> r).toMap
    def g(id: Long, f: String): Option[Long] = {
      val r = out(id); val i = r.fieldIndex(f)
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    }
    // way 10 path = 1e7 (lon 0->1), way 11 path = 1e7 (lat 0->1)
    assert(g(100L, "n_members") === Some(4L))
    assert(g(100L, "n_way_members") === Some(3L))
    assert(g(100L, "n_ways_resolved") === Some(2L))
    assert(g(100L, "sum_path_e7") === Some(20000000L))
    assert(g(100L, "min_lat_e7") === Some(0L) && g(100L, "max_lat_e7") === Some(10000000L))
    // duplicate membership counts twice, like member iteration would
    assert(g(101L, "n_ways_resolved") === Some(2L))
    assert(g(101L, "sum_path_e7") === Some(20000000L))
    assert(g(102L, "n_way_members") === Some(0L))
    assert(g(102L, "sum_path_e7") === Some(0L) && g(102L, "min_lat_e7") === None)
  }

  // --- distance joins -----------------------------------------------------------

  /** Clustered + scattered + adversarial points (antimeridian straddle,
    * near-pole) with unique ids. */
  private lazy val distPoints: Seq[(Long, Double, Double)] = {
    val rng = new scala.util.Random(42)
    val cluster = (0 until 120).map { i =>
      (i.toLong, 48.8 + rng.nextGaussian() * 0.3, 2.3 + rng.nextGaussian() * 0.4)
    }
    val scattered = (0 until 80).map { i =>
      (1000L + i, rng.nextDouble() * 170 - 85, rng.nextDouble() * 360 - 180)
    }
    val meridian = (0 until 40).map { i =>
      (2000L + i, -10.0 + rng.nextGaussian(),
        (if (i % 2 == 0) 179.8 else -179.8) + rng.nextGaussian() * 0.3)
    }
    val polar = (0 until 20).map { i =>
      (3000L + i, 89.2 + rng.nextDouble() * 0.7, rng.nextDouble() * 360 - 180)
    }
    cluster ++ scattered ++ meridian ++ polar
  }

  test("withinDistanceDeg equals brute force (planar, several levels)") {
    val df = distPoints.toDF("id", "lat", "lon").cache()
    val r = 1.5
    val brute = (for {
      a <- distPoints; b <- distPoints
      if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1)).toSet
    Seq(5, 6, 7).foreach { level =>
      val got = GeomOps.withinDistanceDeg(df, r, level)
        .select("key_a", "key_b").collect()
      assert(got.length === got.distinct.length, s"duplicate pairs at level $level")
      assert(got.map(x => (x.getLong(0), x.getLong(1))).toSet === brute,
        s"level $level")
    }
  }

  test("withinDistanceMeters equals brute force incl. wrap and pole") {
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val r = 6371008.8
      val dLat = math.toRadians(b._2 - a._2); val dLon = math.toRadians(b._3 - a._3)
      val h = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(a._2)) * math.cos(math.toRadians(b._2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * r * math.asin(math.sqrt(h))
    }
    val df = distPoints.toDF("id", "lat", "lon").cache()
    val radius = 120000.0 // 120 km: pairs inside the cluster, across the
                          // antimeridian seam, and around the pole
    val brute = (for {
      a <- distPoints; b <- distPoints
      if a._1 < b._1 && hav(a, b) <= radius
    } yield (a._1, b._1)).toSet
    assert(brute.exists { case (x, y) => x >= 2000 && x < 3000 && y >= 2000 && y < 3000 },
      "fixture must contain cross-antimeridian pairs")
    assert(brute.exists { case (x, y) => x >= 3000 && y >= 3000 },
      "fixture must contain polar pairs")
    Seq(6, 8).foreach { level =>
      val got = GeomOps.withinDistanceMeters(df, radius, level)
        .select("key_a", "key_b").collect()
      assert(got.length === got.distinct.length, s"duplicate pairs at level $level")
      assert(got.map(x => (x.getLong(0), x.getLong(1))).toSet === brute,
        s"level $level")
    }
  }

  test("distance join plans contain no cartesian product") {
    val df = distPoints.toDF("id", "lat", "lon")
    Seq(
      GeomOps.withinDistanceDeg(df, 1.0, 6),
      GeomOps.withinDistanceMeters(df, 50000.0, 8)
    ).foreach { out =>
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        plan.linesIterator.take(12).mkString("\n"))
    }
  }
}
