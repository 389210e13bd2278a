package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.fixtures.DeterministicGen

/** Hilbert layout conformance: cover-range math invariants, bbox pruning ==
  * full-scan filter on every box shape (wrap, pole, tiny, world), physical
  * plan pins (directory pruning + pushed zcell ranges), metadata round-trip,
  * skew splitting, and graceful degradation on non-layout tables and on
  * Z-sorted layouts written before Hilbert became the only curve. */
class SpatialLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val nodesDF = {
    val els = DeterministicGen.elements(0.001)
    els.filter(_.otype == "node")
      .map(e => (e.docId, e.id, e.lat.get, e.lon.get))
      .toDF("doc_id", "id", "lat", "lon")
  }

  private lazy val layoutPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-zlayout").toString
    SpatialLayout.materialize(nodesDF, dir, coarseLevel = 3, fineLevel = 14,
      numFiles = 8)
    dir
  }

  private val boxes = Seq(
    (10.005, 25.005, -60.005, -20.005),   // mid-size
    (-0.005, 0.005, -0.005, 0.005),       // tiny, equator/meridian crossing
    (80.005, 90.0, -180.0, 180.0),        // pole cap
    (-35.005, -5.005, 170.005, -150.005), // antimeridian wrap
    (-90.0, 90.0, -180.0, 180.0))         // world

  private lazy val polys = DeterministicGen.polygons()
    .map(p => (p.polygon_id, p.rings.map(_.map { case (la, lo) => (la, lo) })))
    .toDF("polygon_id", "rings")
    .withColumn("rings",
      col("rings").cast("array<array<struct<lat:double,lon:double>>>"))

  /** Sorted ids of the nodes inside the box (exact predicate, full scan). */
  private def exactIds(latMin: Double, latMax: Double, lonMin: Double,
                       lonMax: Double): Seq[Long] = {
    val lonPred =
      if (lonMin <= lonMax) col("lon") >= lonMin && col("lon") <= lonMax
      else col("lon") >= lonMin || col("lon") <= lonMax
    nodesDF.filter(col("lat") >= latMin && col("lat") <= latMax && lonPred)
      .select("id").as[Long].collect().sorted.toSeq
  }

  // --- HCell.coverRanges invariants ---------------------------------------

  test("coverRanges: sorted, disjoint, bounded, and a superset of the box") {
    val rng = new scala.util.Random(11)
    val allBoxes = boxes ++ (1 to 30).map { _ =>
      val la = rng.nextDouble() * 160 - 80
      val lo = rng.nextDouble() * 340 - 170
      (la, math.min(88.0, la + rng.nextDouble() * 30),
        // sometimes lonMin > lonMax (wrap); always inside [-180, 180]
        lo, math.min(179.9, lo + rng.nextDouble() * 40 - 5))
    }
    allBoxes.foreach { case (latMin, latMax, lonMin, lonMax) =>
      val fine = 14
      val ranges = HCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, 64)
      assert(ranges.nonEmpty)
      assert(ranges.size <= 64)
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"not merged/sorted: $ranges")
        case _ => ()
      }
      ranges.foreach { case (lo, hi) => assert(lo < hi) }
      // superset: points inside the box always land in a range
      (1 to 100).foreach { _ =>
        val la = latMin + rng.nextDouble() * (latMax - latMin)
        val lonSpan = if (lonMin <= lonMax) lonMax - lonMin
                      else 360.0 - lonMin + lonMax
        val loRaw = lonMin + rng.nextDouble() * lonSpan
        val lo = if (loRaw > 180.0) loRaw - 360.0 else loRaw
        val h = HCell.encode(la, lo, fine)
        assert(ranges.exists { case (a, b) => h >= a && h < b },
          s"point ($la,$lo) zcell $h escaped cover of " +
            s"($latMin,$latMax,$lonMin,$lonMax)")
      }
    }
  }

  test("coverCount matches the materialized cover size") {
    val rng = new scala.util.Random(13)
    (1 to 30).foreach { _ =>
      val la = rng.nextDouble() * 160 - 80
      val lo = rng.nextDouble() * 340 - 170
      val (latMin, latMax) = (la, la + rng.nextDouble() * 20)
      val (lonMin, lonMax) = (lo, lo + rng.nextDouble() * 40 - 10)
      val l = 2 + rng.nextInt(8)
      assert(ZCell.coverCount(latMin, latMax, lonMin, lonMax, l) ===
        ZCell.coverBBox(latMin, latMax, lonMin, lonMax, l).size.toLong)
    }
  }

  // --- correctness: pruned scan == full scan -------------------------------

  test("bboxFilter equals the exact full-scan filter on every box shape") {
    val layout = spark.read.parquet(layoutPath)
    boxes.foreach { case (latMin, latMax, lonMin, lonMax) =>
      val got = SpatialLayout.bboxFilter(layout, latMin, latMax, lonMin, lonMax)
        .select("id").as[Long].collect().sorted
      val want = exactIds(latMin, latMax, lonMin, lonMax)
      assert(got.toSeq === want,
        s"box ($latMin,$latMax,$lonMin,$lonMax): ${got.length} vs ${want.length}")
      assert(want.nonEmpty || (latMax - latMin) < 1,
        s"degenerate test box ($latMin,$latMax,$lonMin,$lonMax) matched nothing")
    }
  }

  test("all payload columns ride through the layout unchanged") {
    val layout = spark.read.parquet(layoutPath)
    val got = layout.select("doc_id", "id", "lat", "lon")
    assert(got.exceptAll(nodesDF).isEmpty && nodesDF.exceptAll(got).isEmpty)
  }

  // --- physical plan pins ---------------------------------------------------

  test("bbox prunes partition directories and pushes zcell ranges to the scan") {
    val layout = spark.read.parquet(layoutPath)
    val df = SpatialLayout.bboxFilter(layout, 10.005, 25.005, -60.005, -20.005)
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[pcell#\\d+ IN(SET | \\()".r.findFirstIn(p).isDefined,
      s"missing pcell directory pruning in:\n$p")
    // the plan STRING truncates long filter lists, so pin the pushed
    // range filter through the scan's pushedDownFilters, not substrings
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(zcell") ||
      pushed.contains("And(GreaterTh") || pushed.contains("zcell"),
      s"zcell ranges not pushed to the parquet scan: $pushed")
    // and the row-group skipping is real: the pruned scan reads fewer files
    // than the layout has (file-level min/max prune happens at planning)
    val readFiles = SpatialLayout
      .bboxFilter(layout, 10.005, 25.005, -60.005, -20.005)
      .select(input_file_name()).distinct().count()
    val allFiles = layout.select(input_file_name()).distinct().count()
    assert(readFiles < allFiles,
      s"bbox read all $allFiles files — no pruning effect")
  }

  test("grid levels round-trip through parquet column metadata") {
    val layout = spark.read.parquet(layoutPath)
    val f = layout.schema.fields.find(_.name == SpatialLayout.SortCol).get
    assert(f.metadata.getLong(SpatialLayout.MetaCoarse) === 3L)
    assert(f.metadata.getLong(SpatialLayout.MetaFine) === 14L)
    // the curve rides in metadata too: readers prune only a Hilbert column
    assert(f.metadata.getString(SpatialLayout.MetaCurve) === "hilbert")
    val cells = layout.select(SpatialLayout.SortCol, "lat", "lon")
      .as[(Long, Double, Double)].collect()
    assert(cells.forall { case (c, la, lo) => c === HCell.encode(la, lo, 14) })
  }

  // --- skew: a dense cell splits across files, clustering preserved --------

  test("range partitioning splits a dense hot cell across multiple sorted files") {
    // 90% of rows in one ~1° hotspot (one coarse cell), 10% uniform
    val pts = spark.range(0, 20000).select(
      col("id"),
      when(col("id") % 10 < 9,
        lit(48.8) + (col("id") % 97).cast("double") / 970.0)
        .otherwise((col("id") % 170).cast("double") - 85.0).as("lat"),
      when(col("id") % 10 < 9,
        lit(2.3) + (col("id") % 89).cast("double") / 890.0)
        .otherwise((col("id") % 360).cast("double") - 180.0).as("lon"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zskew").toString
    SpatialLayout.materialize(pts, dir, coarseLevel = 3, fineLevel = 14,
      numFiles = 8)
    val layout = spark.read.parquet(dir)
    val hotCell = ZCellDecode.parent(ZCell.encode(48.85, 2.35, 14), 3)
    val hotFiles = layout.filter(col(SpatialLayout.PartCol) === hotCell)
      .select(input_file_name()).distinct().count()
    assert(hotFiles >= 2,
      s"hot cell written as $hotFiles file(s) — skew not split")
    // clustering within the hot directory: each file's zcell span is tight
    // (disjoint sorted slices), so row-group stats stay selective
    val spans = layout.filter(col(SpatialLayout.PartCol) === hotCell)
      .groupBy(input_file_name().as("f"))
      .agg(min(SpatialLayout.SortCol).as("lo"), max(SpatialLayout.SortCol).as("hi"))
      .orderBy("lo").select("lo", "hi").as[(Long, Long)].collect()
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file z-spans overlap: ${spans.mkString(", ")}")
      case _ => ()
    }
  }

  // --- pruned spatial join ----------------------------------------------------

  test("layout polygonJoin equals the unpruned join and prunes the scan") {
    val layout = spark.read.parquet(layoutPath)
    val pruned = SpatialLayout.polygonJoin(layout, polys, level = 13)
    val plain = SpatialOps.polygonJoin(
      nodesDF.select("doc_id", "lat", "lon"), polys, level = 13)
    val got = pruned.select("polygon_id", "doc_id")
    val want = plain.select("polygon_id", "doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(want.count() > 0, "degenerate fixture: no polygon matches")
    // internal layout columns don't leak into the join output
    assert(!pruned.columns.contains(SpatialLayout.SortCol) &&
      !pruned.columns.contains(SpatialLayout.PartCol))
    // the layout-side scan carries both prune layers (join plans sit under
    // an AdaptiveSparkPlanExec wrapper whose leaves aren't walkable from
    // the root — unwrap it first)
    val phys = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = phys.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.getOrElse("PushedFilters", "").contains("zcell") => s
    }
    assert(scan.isDefined, "no pruned layout scan in the join plan")
    assert(scan.get.metadata.getOrElse("PartitionFilters", "").contains("pcell"),
      s"no directory pruning: ${scan.get.metadata.get("PartitionFilters")}")
  }

  // --- degradation -----------------------------------------------------------

  test("a Z-sorted layout without a hilbert curve value reads unpruned") {
    // a layout as written before Hilbert became the only curve: Z-addressed
    // zcell with the level metadata, the curve value "z" or absent
    val joinWant = SpatialOps.polygonJoin(nodesDF, polys, level = 13)
      .select("polygon_id", "doc_id")
    Seq(Some("z"), None).foreach { curve =>
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(SpatialLayout.MetaCoarse, 3L).putLong(SpatialLayout.MetaFine, 14L)
      curve.foreach(meta.putString(SpatialLayout.MetaCurve, _))
      val dir = java.nio.file.Files.createTempDirectory("graft-zlayout").toString
      nodesDF.select(col("*"),
          SpatialOps.cellId(col("lat"), col("lon"), 14).as(SpatialLayout.SortCol, meta.build()),
          SpatialOps.cellId(col("lat"), col("lon"), 3).as(SpatialLayout.PartCol))
        .repartitionByRange(8, col(SpatialLayout.SortCol))
        .sortWithinPartitions(SpatialLayout.SortCol)
        .write.mode("overwrite").partitionBy(SpatialLayout.PartCol).parquet(dir)
      val layout = spark.read.parquet(dir)
      boxes.foreach { case (latMin, latMax, lonMin, lonMax) =>
        val df = SpatialLayout.bboxFilter(layout, latMin, latMax, lonMin, lonMax)
        val pushed = df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metadata.getOrElse("PushedFilters", "")
        }.get
        assert(!pushed.contains(SpatialLayout.SortCol), s"$curve: ranges pushed: $pushed")
        assert(df.select("id").as[Long].collect().sorted.toSeq ===
          exactIds(latMin, latMax, lonMin, lonMax),
          s"$curve box ($latMin,$latMax,$lonMin,$lonMax)")
      }
      val out = SpatialLayout.polygonJoin(layout, polys, level = 13)
      assert(!out.columns.contains(SpatialLayout.SortCol) &&
        !out.columns.contains(SpatialLayout.PartCol), out.columns.mkString(", "))
      val joined = out.select("polygon_id", "doc_id")
      assert(joined.exceptAll(joinWant).isEmpty && joinWant.exceptAll(joined).isEmpty,
        s"$curve: polygonJoin differs from the unpruned join")
    }
    assert(joinWant.count() > 0)
  }

  test("a non-layout table degrades to the exact filter with identical rows") {
    val got = SpatialLayout.bboxFilter(nodesDF, 10.005, 25.005, -60.005, -20.005)
      .select("id").as[Long].collect().sorted
    val want = nodesDF.filter(col("lat") >= 10.005 && col("lat") <= 25.005 &&
      col("lon") >= -60.005 && col("lon") <= -20.005)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === want.toSeq)
  }
}
