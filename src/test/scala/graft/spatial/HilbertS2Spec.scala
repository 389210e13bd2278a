package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Hilbert kernel + planar HCell + spherical S2Cell conformance: the packed
  * state-machine tables vs an INDEPENDENT loop implementation (the classic
  * rotate-and-recurse xy2d), the prefix/adjacency properties every consumer
  * depends on, scalar↔Column bit equality on adversarial points, cover-range
  * supersets, and the Hilbert-fragments-less-than-Z claim measured in
  * BASELINE.md ("Space-filling-curve comparison"). */
class HilbertS2Spec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Independent reference: Wikipedia's rotate/flip loop formulation —
    * shares NO tables or code with HilbertCurve's transducer. */
  private def xy2dLoop(order: Int, x0: Int, y0: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1 << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s.toLong * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("state machine == loop reference, exhaustive to order 6") {
    (1 to 6).foreach { order =>
      val n = 1 << order
      for (x <- 0 until n; y <- 0 until n)
        assert(HilbertCurve.xy2d(order, x, y) === xy2dLoop(order, x, y),
          s"order $order ($x,$y)")
    }
  }

  test("state machine == loop reference, sampled at orders 16 and 26") {
    val rng = new scala.util.Random(3)
    Seq(16, 26).foreach { order =>
      val n = 1 << order
      (1 to 2000).foreach { _ =>
        val x = rng.nextInt(n); val y = rng.nextInt(n)
        assert(HilbertCurve.xy2d(order, x, y) === xy2dLoop(order, x, y))
      }
    }
  }

  test("prefix property: coarser position is a 2-bit-per-level prefix") {
    val n = 1 << 6
    for (x <- 0 until n; y <- 0 until n)
      assert(HilbertCurve.xy2d(5, x >> 1, y >> 1) ===
        (HilbertCurve.xy2d(6, x, y) >>> 2))
    val rng = new scala.util.Random(5)
    (1 to 2000).foreach { _ =>
      val x = rng.nextInt(1 << 20); val y = rng.nextInt(1 << 20)
      val drop = 1 + rng.nextInt(19)
      assert(HilbertCurve.xy2d(20 - drop, x >> drop, y >> drop) ===
        (HilbertCurve.xy2d(20, x, y) >>> (2 * drop)))
    }
  }

  test("adjacency: consecutive curve positions are edge neighbors (Z is not)") {
    val order = 5
    val pts = (0L until (1L << (2 * order))).map(HilbertCurve.d2xy(order, _))
    pts.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1)
    }
    // contrast: Morton order does jump (this is the locality delta the
    // layout comparison banks on)
    val zJumps = (0L until (1L << (2 * order)) - 1).count { m =>
      val dx = math.abs(ZCell.compact(m) - ZCell.compact(m + 1))
      val dy = math.abs(ZCell.compact(m >> 1) - ZCell.compact((m + 1) >> 1))
      dx + dy > 1
    }
    assert(zJumps > 0)
  }

  test("d2xy inverts xy2d, exhaustive order 6 + sampled order 26") {
    val n = 1 << 6
    for (x <- 0 until n; y <- 0 until n)
      assert(HilbertCurve.d2xy(6, HilbertCurve.xy2d(6, x, y)) === ((x, y)))
    val rng = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val x = rng.nextInt(1 << 26); val y = rng.nextInt(1 << 26)
      assert(HilbertCurve.d2xy(26, HilbertCurve.xy2d(26, x, y)) === ((x, y)))
    }
  }

  // --- HCell ---------------------------------------------------------------

  test("HCell: same grid cell as ZCell, Hilbert address, parent is a shift") {
    val rng = new scala.util.Random(11)
    (1 to 2000).foreach { _ =>
      val lat = rng.nextDouble() * 170 - 85
      val lon = rng.nextDouble() * 360 - 180
      val l = rng.nextInt(HCell.MaxLevel + 1)
      val h = HCell.encode(lat, lon, l)
      val z = ZCell.encode(lat, lon, l)
      assert(HCellDecode.level(h) === l)
      // identical geometry: the Hilbert address decodes to ZCell's grid point
      assert((HCellDecode.x(h), HCellDecode.y(h)) === ((ZCell.x(z), ZCell.y(z))))
      if (l > 0) {
        val pl = rng.nextInt(l)
        assert(HCellDecode.parent(h, pl) === HCell.encode(lat, lon, pl))
      }
    }
  }

  test("HCell.coverRanges: superset of the box; same cover set as ZCell") {
    val rng = new scala.util.Random(13)
    val boxes = Seq(
      (10.005, 25.005, -60.005, -20.005),
      (-35.005, -5.005, 170.005, -150.005), // antimeridian wrap
      (80.005, 90.0, -180.0, 180.0)) ++
      (1 to 20).map { _ =>
        val la = rng.nextDouble() * 160 - 80
        val lo = rng.nextDouble() * 340 - 170
        (la, math.min(88.0, la + rng.nextDouble() * 30),
          lo, math.min(179.9, lo + rng.nextDouble() * 40 - 5))
      }
    var hRuns = 0L
    var zRuns = 0L
    boxes.foreach { case (latMin, latMax, lonMin, lonMax) =>
      val fine = 14
      val h = HCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, 64)
      // the Z curve's runs over the same budget-level cover: adjacent Morton
      // codes merge, expanded to fine-level value ranges as HCell does
      var l = fine
      while (l > 0 && ZCell.coverCount(latMin, latMax, lonMin, lonMax, l) > 64) l -= 1
      val shift = 2 * (fine - l) + 5
      val z = ZCell.mergeRanges(ZCell.coverBBox(latMin, latMax, lonMin, lonMax, l)
        .map { c => val m = ZCell.morton(c); (m << shift, (m + 1L) << shift) })
      h.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2)
        case _ => ()
      }
      // both cover the SAME cell set (budget rule shared) → equal total
      // extent; Hilbert fragments it into fewer runs ON AVERAGE (per-box
      // either can win — the aggregate is the operative claim)
      def extent(rs: Seq[(Long, Long)]) = rs.map { case (a, b) => b - a }.sum
      assert(extent(h) === extent(z))
      hRuns += h.size
      zRuns += z.size
      (1 to 60).foreach { _ =>
        val la = latMin + rng.nextDouble() * (latMax - latMin)
        val lonSpan = if (lonMin <= lonMax) lonMax - lonMin
                      else 360.0 - lonMin + lonMax
        val loRaw = lonMin + rng.nextDouble() * lonSpan
        val lo = if (loRaw > 180.0) loRaw - 360.0 else loRaw
        val c = HCell.encode(la, lo, fine)
        assert(h.exists { case (a, b) => c >= a && c < b },
          s"point ($la,$lo) escaped hilbert cover")
      }
    }
    assert(hRuns < zRuns,
      s"hilbert did not fragment less in aggregate: $hRuns vs $zRuns")
  }

  // --- S2Cell --------------------------------------------------------------

  test("S2Cell: face selection hits all six faces where expected") {
    assert(S2Cell.face(S2Cell.encode(0.0, 0.0, 10)) === 0)
    assert(S2Cell.face(S2Cell.encode(0.0, 90.0, 10)) === 1)
    assert(S2Cell.face(S2Cell.encode(89.9, 17.0, 10)) === 2)
    assert(S2Cell.face(S2Cell.encode(0.0, 180.0, 10)) === 3)
    assert(S2Cell.face(S2Cell.encode(0.0, -90.0, 10)) === 4)
    assert(S2Cell.face(S2Cell.encode(-89.9, 17.0, 10)) === 5)
  }

  test("S2Cell: parent is exact (floor/prefix commute), center re-encodes") {
    val rng = new scala.util.Random(17)
    (1 to 2000).foreach { _ =>
      val lat = rng.nextDouble() * 180 - 90
      val lon = rng.nextDouble() * 360 - 180
      val l = 1 + rng.nextInt(20)
      val c = S2Cell.encode(lat, lon, l)
      assert(S2Cell.level(c) === l)
      val pl = rng.nextInt(l)
      assert(S2CellDecode.parent(c, pl) === S2Cell.encode(lat, lon, pl))
      val (clat, clon) = S2CellDecode.center(c)
      assert(S2Cell.encode(clat, clon, l) === c,
        s"center ($clat,$clon) of cell at ($lat,$lon,$l) re-encodes elsewhere")
    }
  }

  test("S2Cell: cell areas are near-uniform (quadratic st), equirect's are not") {
    // solid-angle proxy: sample many random points uniformly ON THE SPHERE,
    // count hits per level-4 cell — S2 cells should be within a small
    // constant of each other, equirect (ZCell) pole rows nearly empty
    val rng = new scala.util.Random(19)
    val pts = (1 to 200000).map { _ =>
      val z = rng.nextDouble() * 2 - 1
      val lam = rng.nextDouble() * math.Pi * 2 - math.Pi
      (math.asin(z) / S2Cell.DegToRad, lam / S2Cell.DegToRad)
    }
    // s2 at level 3 (384 cells, ~520 pts each — Poisson noise ≪ the 2.1×
    // theoretical spread); equirect at level 5 where its pole rows starve
    val s2Counts = pts.groupBy { case (la, lo) => S2Cell.encode(la, lo, 3) }
      .values.map(_.size)
    val zCounts = pts.groupBy { case (la, lo) => ZCell.encode(la, lo, 5) }
      .values.map(_.size)
    val s2Ratio = s2Counts.max.toDouble / math.max(1, s2Counts.min)
    val zRatio = zCounts.max.toDouble / math.max(1, zCounts.min)
    assert(s2Ratio < 4.0, s"s2 area spread $s2Ratio")   // theory: ≤ ~2.1
    assert(zRatio > 10.0, s"equirect spread unexpectedly tight: $zRatio")
  }

  test("S2Cell: children partition the parent; circumradius shrinks with level") {
    val rng = new scala.util.Random(29)
    (1 to 500).foreach { _ =>
      val lat = rng.nextDouble() * 180 - 90
      val lon = rng.nextDouble() * 360 - 180
      val l = rng.nextInt(15)
      val c = S2Cell.encode(lat, lon, l)
      val kids = S2Cell.children(c)
      assert(kids.size === 4 && kids.distinct.size === 4)
      kids.foreach(k => assert(S2CellDecode.parent(k, l) === c))
      // the child containing the point is the point's own finer cell
      assert(kids.contains(S2Cell.encode(lat, lon, l + 1)))
      assert(S2Cell.circumRadiusRad(S2Cell.encode(lat, lon, l + 1)) <=
        S2Cell.circumRadiusRad(c) + 1e-12)
    }
  }

  test("S2Cell.coverCap is a superset of the cap, incl. poles and antimeridian") {
    val rng = new scala.util.Random(31)
    val caps = Seq(
      (48.9, 2.4, 500e3), (84.0, 0.0, 800e3), (-89.0, 10.0, 300e3),
      (0.0, 179.9, 1000e3), (-33.9, 151.2, 2000e3)) ++
      (1 to 15).map(_ => (rng.nextDouble() * 180 - 90,
        rng.nextDouble() * 360 - 180, rng.nextDouble() * 3000e3 + 10e3))
    caps.foreach { case (qla, qlo, r) =>
      val (cells, l) = S2Cell.coverCap(qla, qlo, r, level = 10)
      assert(cells.nonEmpty && cells.distinct.size === cells.size)
      cells.foreach(c => assert(S2Cell.level(c) === l))
      // sample points inside the cap: move from the center along random
      // bearings by a random fraction of the radius (spherical destination)
      val angR = r / S2Cell.EarthRadiusMeters
      (1 to 100).foreach { _ =>
        val brg = rng.nextDouble() * 2 * math.Pi
        val dist = rng.nextDouble() * angR
        val la1 = qla * S2Cell.DegToRad; val lo1 = qlo * S2Cell.DegToRad
        val la2 = math.asin(math.sin(la1) * math.cos(dist) +
          math.cos(la1) * math.sin(dist) * math.cos(brg))
        val lo2 = lo1 + math.atan2(
          math.sin(brg) * math.sin(dist) * math.cos(la1),
          math.cos(dist) - math.sin(la1) * math.sin(la2))
        val lat2 = la2 / S2Cell.DegToRad
        val lon2 = ((lo2 / S2Cell.DegToRad + 540.0) % 360.0) - 180.0
        assert(cells.contains(S2Cell.encode(lat2, lon2, l)),
          s"point ($lat2,$lon2) at ${dist * S2Cell.EarthRadiusMeters} m " +
            s"escaped the ($qla,$qlo,$r) cover at level $l")
      }
    }
  }

  test("s2RadiusJoin equals the brute haversine join on the sf0.001 nodes") {
    import graft.fixtures.DeterministicGen
    val nodes = DeterministicGen.elements(0.001)
      .filter(_.otype == "node").map(e => (e.id, e.lat.get, e.lon.get))
      .toDF("id", "lat", "lon")
    val qs = Seq((1L, 48.905, 2.405), (2L, -33.905, 151.205),
      (3L, 84.005, 0.005)).toDF("query_id", "lat", "lon")
    val r = 1500000.0
    val got = SpatialOps.s2RadiusJoin(nodes, qs, r, level = 8)
      .select("query_id", "id").as[(Long, Long)].collect().sorted
    val brute = nodes.crossJoin(qs.select(col("query_id"),
        col("lat").as("qla"), col("lon").as("qlo")))
      .filter(SpatialOps.haversineMeters(col("lat"), col("lon"),
        col("qla"), col("qlo")) <= r)
      .select("query_id", "id").as[(Long, Long)].collect().sorted
    assert(got.toSeq === brute.toSeq)
    assert(brute.nonEmpty, "degenerate fixture: no pairs in radius")
    // and the engine path builds no cartesian product
    val plan = SpatialOps.s2RadiusJoin(nodes, qs, r, level = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("s2RadiusJoin has the same columns for an empty and a non-empty query set") {
    val nodes = Seq((1L, 48.9, 2.4), (2L, -33.9, 151.2)).toDF("id", "lat", "lon")
    val qs = Seq((7L, 48.905, 2.405)).toDF("query_id", "lat", "lon")
    val some = SpatialOps.s2RadiusJoin(nodes, qs, 5000.0, level = 8)
    val none = SpatialOps.s2RadiusJoin(nodes, qs.limit(0), 5000.0, level = 8)
    assert(none.columns.toSeq === some.columns.toSeq)
    assert(none.schema.map(_.dataType) === some.schema.map(_.dataType))
    assert(none.count() === 0L)
    assert(some.select("query_id", "id").as[(Long, Long)].collect().toSeq === Seq((7L, 1L)))
  }

  test("s2RadiusJoin drops queries with a null coordinate") {
    val nodes = Seq((1L, 48.9, 2.4), (2L, -33.9, 151.2)).toDF("id", "lat", "lon")
    val qs = Seq[(Long, java.lang.Double, java.lang.Double)](
      (7L, 48.905, 2.405), (8L, null, 2.405), (9L, -33.9, null))
      .toDF("query_id", "lat", "lon")
    val got = SpatialOps.s2RadiusJoin(nodes, qs, 5000.0, level = 8)
      .select("query_id", "id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((7L, 1L)))
  }

  // --- Column mirrors ------------------------------------------------------

  private lazy val adversarialDF = {
    val rng = new scala.util.Random(23)
    val pts = Seq(
      (90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (-90.0, -180.0), // poles
      (0.0, 180.0), (0.0, -180.0), (0.005, 179.995),             // antimeridian
      (0.0, 0.0), (0.0, 90.0), (0.0, -90.0),                     // face centers
      (45.0, 45.0), (-45.0, 135.0), (35.26438968275465, 45.0),   // corners-ish
      (85.05, 0.0), (-85.05, 0.0)) ++
      (1 to 3000).map(_ => (rng.nextDouble() * 180 - 90,
        rng.nextDouble() * 360 - 180))
    pts.toDF("lat", "lon")
  }

  test("s2CellId Column == S2Cell scalar, bit-for-bit") {
    Seq(1, 7, 12, 20).foreach { level =>
      val rows = adversarialDF
        .select(col("lat"), col("lon"),
          SpatialOps.s2CellId(col("lat"), col("lon"), level).as("c"))
        .collect()
      rows.foreach { r =>
        val exp = S2Cell.encode(r.getDouble(0), r.getDouble(1), level)
        assert(r.getLong(2) === exp,
          s"(${r.getDouble(0)},${r.getDouble(1)}) level $level")
      }
    }
  }

  test("s2CellId stays inside whole-stage codegen (no CodegenFallback)") {
    val cg = {
      val z = SpatialOps.cellId(col("lat"), col("lon"), 12)
      val df = adversarialDF.select(
        SpatialOps.s2CellId(col("lat"), col("lon"), 12).as("c"),
        SpatialOps.hilbertCellId(col("lat"), col("lon"), 12).as("h"),
        z.as("z"), SpatialOps.cellX(z).as("zx"))
      import org.apache.spark.sql.execution.debug._
      codegenString(df.queryExecution.executedPlan)
    }
    assert(cg.contains("Found 1 WholeStageCodegen subtrees") ||
      cg.contains("WholeStageCodegen"), s"no codegen span:\n${cg.take(400)}")
    // CodegenFallback leaves `((Expression) references[i]).eval(...)` calls
    // in the generated code — the unrolled transducer must not
    assert(!cg.contains("(Expression) references"),
      "CodegenFallback present in the cell-encoder codegen")
  }

  test("hilbertCellId Column == HCell scalar, bit-for-bit") {
    Seq(1, 9, 16).foreach { level =>
      val rows = adversarialDF
        .select(col("lat"), col("lon"),
          SpatialOps.hilbertCellId(col("lat"), col("lon"), level).as("c"))
        .collect()
      rows.foreach { r =>
        val exp = HCell.encode(r.getDouble(0), r.getDouble(1), level)
        assert(r.getLong(2) === exp,
          s"(${r.getDouble(0)},${r.getDouble(1)}) level $level")
      }
    }
  }
}
