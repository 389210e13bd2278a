package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Way-geometry materialization and distance joins — the geometry layer the
  * reference's data model implies but never materializes (SURVEY.md §2.6).
  *
  * The reference keeps way geometry POSITIONAL: a way row carries ordered
  * node refs (`way.nodes()`, reference include/object_filter.hpp:1243-1252)
  * and closedness is ref equality (`hpp:952-955`); actual coordinates live
  * on the node rows. libosmium resolves them with its single-node
  * `add_locations_to_ways` handler; at 100 TB that resolution is a
  * distributed equi-join, which is what [[addLocations]] is:
  *
  *   refs  = ways × posexplode(nds)            (one row per (way, pos, ref))
  *   join  = refs ⋈ nodes on ref               (shuffle equi-join, AQE skew-split:
  *                                              heavily shared junction nodes are
  *                                              the natural skew key)
  *   ways' = groupBy(way).agg(sort_array(collect_list(struct(pos, …))))
  *                                             (partial-agg reassembly; the sort
  *                                              is per-way over ≤ a few thousand
  *                                              points, never a global order)
  *
  * Nothing here collects to the driver and no stage is quadratic: the join
  * ships (ref, way_id, pos) + (ref, lat, lon) rows only, and reassembly is
  * one hash aggregation keyed by way id.
  *
  * Derived measures ([[wayMetrics]]) are EXACT-INTEGER on 1e7-scaled
  * coordinates (the fixture's native resolution — OSM itself stores lat/lon
  * as 1e7-scaled ints) so the DuckDB gate compares BIGINTs, not
  * trig-library floats: bbox, Manhattan path length, and the shoelace
  * cross-product sum for closed rings (1e5 scale keeps every term below
  * 2^63).
  */
object GeomOps {

  /** Resolve each way's ordered node refs against node coordinates.
    *
    * Input: an OsmView-shaped frame (`type`, `id`, `nds`, `lat`, `lon`).
    * Output: one row per way — (way_id, pts, n_refs, n_resolved) where
    * `pts` is array<struct<pos,ref,lat,lon>> in nds order (lat/lon null for
    * refs with no matching node, mirroring libosmium's undefined location).
    */
  def addLocations(view: DataFrame): DataFrame = {
    val nodes = view
      .filter(col("type") === "node" && col("lat").isNotNull)
      .select(col("id").as("ref"), col("lat").as("n_lat"), col("lon").as("n_lon"))
    val refs = view
      .filter(col("type") === "way")
      .select(col("id").as("way_id"), posexplode_outer(col("nds")))
      .withColumnRenamed("col", "ref")
    refs
      .join(nodes, Seq("ref"), "left")
      .groupBy("way_id")
      .agg(
        // when() keeps zero-nds ways as empty arrays: collect_list drops
        // nulls, and posexplode_outer emitted (null, null) for them
        sort_array(collect_list(when(col("pos").isNotNull,
          struct(col("pos"), col("ref"),
            col("n_lat").as("lat"), col("n_lon").as("lon"))))).as("pts"),
        count(col("ref")).as("n_refs"),
        count(col("n_lat")).as("n_resolved"))
  }

  /** Exact-integer geometry measures over [[addLocations]] output. Unresolved
    * refs are skipped (measures run over the resolved subsequence, in order):
    *  - bbox min/max lat/lon in 1e7-scaled units (null when nothing resolved)
    *  - `path_e7`: Σ |Δlat| + |Δlon| over consecutive resolved points (0 when
    *    fewer than 2)
    *  - `area2_e5`: |shoelace cross-product sum| in 1e5-scaled units, twice
    *    the enclosed area, for geometrically closed rings (≥ 4 resolved
    *    points, first == last); null otherwise
    */
  def wayMetrics(geoms: DataFrame): DataFrame = {
    val resolved = filter(col("pts"), p => p.getField("lat").isNotNull)
    val latE7 = transform(resolved, p => round(p.getField("lat") * 1e7).cast("long"))
    val lonE7 = transform(resolved, p => round(p.getField("lon") * 1e7).cast("long"))
    val base = geoms.withColumn("la", latE7).withColumn("lo", lonE7)
    val n = size(col("la"))
    val pathE7 = when(n >= 2,
      aggregate(sequence(lit(1), n - 1), lit(0L), (acc, i) =>
        acc + abs(get(col("la"), i) - get(col("la"), i - 1))
            + abs(get(col("lo"), i) - get(col("lo"), i - 1))))
      .otherwise(lit(0L))
    // E7 → E5 is exact: fixture coordinates are multiples of 1e5 in E7 units
    // (and real OSM at E5 loses only sub-meter precision in the AREA term,
    // whose fixed-point scale is a knob, not a semantic)
    val laE5 = transform(col("la"), v => (v / 100L).cast("long"))
    val loE5 = transform(col("lo"), v => (v / 100L).cast("long"))
    val isClosed = n >= 4 &&
      get(col("la"), lit(0)) === get(col("la"), n - 1) &&
      get(col("lo"), lit(0)) === get(col("lo"), n - 1)
    val shoelace = aggregate(sequence(lit(0), n - 2), lit(0L), (acc, i) =>
      acc + get(loE5, i) * get(laE5, i + 1) - get(loE5, i + 1) * get(laE5, i))
    base.select(
      col("way_id"), col("n_refs"), col("n_resolved"), col("pts"),
      array_min(col("la")).as("min_lat_e7"),
      array_max(col("la")).as("max_lat_e7"),
      array_min(col("lo")).as("min_lon_e7"),
      array_max(col("lo")).as("max_lon_e7"),
      pathE7.as("path_e7"),
      when(isClosed, abs(shoelace)).otherwise(lit(null).cast("long")).as("area2_e5"))
  }

  // --- relation geometry -------------------------------------------------------

  /** Relation-level geometry aggregation — the third level of the OSM
    * hierarchy (nodes → ways → relations): resolve each relation's
    * way-type members against [[wayMetrics]] output and aggregate
    * exact-integer measures. One row per relation:
    *  - `n_members` / `n_way_members`: member counts (all / mtype=way)
    *  - `n_ways_resolved`: way members whose geometry row exists
    *  - `sum_path_e7`: Σ path_e7 over resolved member ways (duplicate
    *    members count once per membership, like osmium's member iteration)
    *  - bbox union (min/max of the member ways' bboxes; null when no
    *    resolved member way has any resolved point)
    *
    * Scale shape: members explode to (rel_id, pos, ref) rows; the join
    * against way geometries is an equi-join on the way id (metrics side
    * carries a handful of BIGINTs, never the pts arrays); reassembly is one
    * hash aggregation per relation. Popular member ways (a coastline
    * segment in thousands of relations) are the natural skew key → AQE. */
  def relationGeoms(view: DataFrame, ways: DataFrame): DataFrame = {
    val m = view.filter(col("type") === "relation")
      .select(col("id").as("rel_id"), posexplode_outer(col("members")))
      .select(col("rel_id"), col("pos"),
        col("col").getField("mtype").as("mtype"),
        col("col").getField("ref").as("mref"))
    val w = ways.select(col("way_id").as("mref"), lit(1).as("w_ok"),
      col("path_e7").as("w_path"),
      col("min_lat_e7").as("w_min_lat"), col("max_lat_e7").as("w_max_lat"),
      col("min_lon_e7").as("w_min_lon"), col("max_lon_e7").as("w_max_lon"))
    m.join(w, m("mtype") === "way" && m("mref") === w("mref"), "left")
      .groupBy("rel_id")
      .agg(
        count(col("pos")).as("n_members"),
        count(when(col("mtype") === "way", 1)).as("n_way_members"),
        count(col("w_ok")).as("n_ways_resolved"),
        coalesce(sum(col("w_path")), lit(0L)).as("sum_path_e7"),
        min(col("w_min_lat")).as("min_lat_e7"),
        max(col("w_max_lat")).as("max_lat_e7"),
        min(col("w_min_lon")).as("min_lon_e7"),
        max(col("w_max_lon")).as("max_lon_e7"))
  }

  // --- distance join ---------------------------------------------------------

  private def wrap180(x: Double): Double = {
    val w = ((x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    w
  }

  /** Cells at `level` intersecting the bounding box of the radius-`rLatDeg`
    * disc around (lat, lon). `lonHalfWidthDeg` is the disc's half-extent in
    * longitude (≥ rLatDeg near the equator, growing with |lat| on the
    * sphere); callers pass an OVER-estimate, preserving the superset
    * guarantee. Distinct by [[ZCell.coverBBox]] construction. */
  private[graft] def discCover(lat: Double, lon: Double, rLatDeg: Double,
                               lonHalfWidthDeg: Double, level: Int): Seq[Long] = {
    val latMin = math.max(-90.0, lat - rLatDeg)
    val latMax = math.min(90.0, lat + rLatDeg)
    if (lonHalfWidthDeg >= 180.0)
      ZCell.coverBBox(latMin, latMax, -180.0, 180.0, level)
    else {
      val lo = wrap180(lon - lonHalfWidthDeg)
      val hi = wrap180(lon + lonHalfWidthDeg)
      // lo > hi after wrapping ⇒ coverBBox's antimeridian form
      ZCell.coverBBox(latMin, latMax, lo, hi, level)
    }
  }

  private val MetersPerLatDeg = math.Pi * 6371008.8 / 180.0 // ≈ 111194.93

  /** All point pairs within `radius` of each other: neighbor-cell cover
    * prejoin + exact refine — never a cross product.
    *
    * Probe side keys each point by its own cell; build side explodes each
    * point to every cell intersecting its radius-disc bounding box
    * ([[discCover]] — a provable superset, so if dist(a,b) ≤ r then a's
    * cell is in b's cover). Equi-join on cell + `key_a < key_b` emits each
    * qualifying pair EXACTLY once (a point's home cell is unique and the
    * cover is distinct). The exploded side ships (cell, key, lat, lon)
    * only; `level` trades explode factor (cover size ≈ (2·r/cell+1)²)
    * against candidate density — pick cell edge ≈ radius. Dense hotspot
    * cells are the natural skew key → AQE skew-join splits them; output
    * size is the answer's own pair count (quadratic only inside a radius
    * disc, which is the query's semantics, not a plan artifact).
    *
    * Planar-degrees form: radius and coordinates in degrees on the flat
    * model (wrap-ignorant refine — matches [[SpatialOps.PlanarDegrees2Metric]],
    * deterministic for cross-engine oracles). */
  def withinDistanceDeg(points: DataFrame, radiusDeg: Double, level: Int,
                        key: String = "id"): DataFrame = {
    val d2 = (col("lat_b") - col("lat_a")) * (col("lat_b") - col("lat_a")) +
      (col("lon_b") - col("lon_a")) * (col("lon_b") - col("lon_a"))
    withinDistance(points, level, key, radiusDeg, radiusDeg,
      d2 <= lit(radiusDeg * radiusDeg))
  }

  /** Great-circle form: radius in meters, haversine refine. The cover uses
    * the exact spherical disc bounding box (lon half-width
    * asin(sin r / cos φ)); discs reaching past a pole cover the full
    * longitude range. */
  def withinDistanceMeters(points: DataFrame, radiusMeters: Double, level: Int,
                           key: String = "id"): DataFrame = {
    val rLatDeg = radiusMeters / MetersPerLatDeg
    val dist = SpatialOps.haversineMeters(
      col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b"))
    withinDistance(points, level, key, rLatDeg, Double.NaN,
      dist <= lit(radiusMeters))
  }

  /** Shared candidate machinery. `lonHalfWidthDeg = NaN` selects the
    * spherical per-point widening (cos at the disc's extreme |lat|). */
  private def withinDistance(points: DataFrame, level: Int, key: String,
                             rLatDeg: Double, lonHalfWidthDeg: Double,
                             refine: Column): DataFrame = {
    require(level >= 0 && level <= ZCell.MaxLevel)
    val spherical = lonHalfWidthDeg.isNaN
    val coverUdf = udf { (lat: Double, lon: Double) =>
      val hw =
        if (!spherical) lonHalfWidthDeg
        else {
          // Exact spherical bounding box of the disc: it stays inside
          // meridians λ ± asin(sin r / cos φ) (the min distance from the
          // center to that meridian's great circle is R·asin(cosφ·sin hw) —
          // HaversineMetric.toMeridian — which equals r at this hw). Discs
          // reaching past a pole's cos wrap fully.
          val sinR = math.sin(math.toRadians(rLatDeg))
          val cosPhi = math.cos(math.toRadians(lat))
          if (sinR >= cosPhi) 180.0
          else math.toDegrees(math.asin(sinR / cosPhi))
        }
      discCover(lat, lon, rLatDeg, hw, level)
    }
    val a = points.select(col(key).as("key_a"),
      col("lat").as("lat_a"), col("lon").as("lon_a"))
      .withColumn("cell", SpatialOps.cellId(col("lat_a"), col("lon_a"), level))
    val b = points.select(col(key).as("key_b"),
      col("lat").as("lat_b"), col("lon").as("lon_b"))
      .withColumn("cell", explode(coverUdf(col("lat_b"), col("lon_b"))))
    a.join(b, Seq("cell"))
      .filter(col("key_a") < col("key_b"))
      .filter(refine)
      .select(col("key_a"), col("key_b"),
        col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b"))
  }
}
