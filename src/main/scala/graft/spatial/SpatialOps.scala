package graft.spatial

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import graft.exprs.{HilbertCellIdExpr, S2CellIdExpr, ZCellAxisExpr, ZCellIdExpr}
import graft.ops.Similarity

/** Spark-first spatial operators (north rule; the reference has no spatial
  * code — SURVEY.md §2.6): batched cell encoding, point-in-polygon, spatial
  * join via cell-cover prejoin + exact refine (the approximate-prejoin/refine
  * shape of the Raster-Intervals/Raptor pattern), kNN via ring-expansion
  * candidates + window top-k with exact fallback, raster↔vector prefix join.
  *
  * Every cell encoder is one codegen'd static call into its curve's scalar
  * kernel ([[graft.exprs.CellIdExprs]]), so it stays inside whole-stage
  * codegen with a constant-size expression tree, and a cover computed on
  * the driver ([[ZCell.coverBBox]]) and the probe encoded by Spark
  * ([[cellId]]) are the same code — no UDF, CodegenFallback or Column
  * mirror in the hot path. Polygon sides are broadcast (small per
  * BASELINE.json); dense-urban-cell skew is handled by map-side partial
  * aggregation, the map-side window group limit of the kNN rank and AQE
  * skew join.
  */
object SpatialOps {

  // --- cell encoders: one codegen'd static kernel per curve -----------------
  // (graft.exprs.CellIdExprs; the same kernels the driver-side covers call)

  private def encoded(lat: Column, lon: Column)(
      kernel: (Expression, Expression) => Expression): Column =
    GraftBridge.column(kernel(GraftBridge.expression(lat), GraftBridge.expression(lon)))

  /** Z-order cell of a point at `level` — [[ZCell.encode]] as a kernel. */
  def cellId(lat: Column, lon: Column, level: Int): Column =
    encoded(lat, lon)(ZCellIdExpr(_, _, level))

  /** Grid x/y of a Z cell — [[ZCell.x]]/[[ZCell.y]] as kernels. */
  def cellX(cell: Column): Column =
    GraftBridge.column(ZCellAxisExpr(GraftBridge.expression(cell), y = false))
  def cellY(cell: Column): Column =
    GraftBridge.column(ZCellAxisExpr(GraftBridge.expression(cell), y = true))

  /** Ancestor cell at a coarser level — a shift, so raster↔vector prefix
    * joins are plain integer equality (both levels statically known). */
  def cellParent(cell: Column, fromLevel: Int, toLevel: Int): Column = {
    require(toLevel <= fromLevel)
    shiftleft(shiftrightunsigned(shiftrightunsigned(cell, 5), 2 * (fromLevel - toLevel)), 5)
      .bitwiseOR(lit(toLevel.toLong))
  }

  /** Planar Hilbert cell at `level` — [[HCell.encode]] as a codegen'd
    * kernel: same equirect grid as [[cellId]] (identical floor/clamp
    * arithmetic, so the cell GEOMETRY matches ZCell's), Hilbert curve
    * position as the address. [[cellParent]] applies unchanged — the
    * `(pos << 5) | level` layout and the prefix property are shared. */
  def hilbertCellId(lat: Column, lon: Column, level: Int): Column =
    encoded(lat, lon)(HilbertCellIdExpr(_, _, level))

  /** S2-style spherical cell at `level` — [[S2Cell.encode]] as a codegen'd
    * kernel (cube-face selection + gnomonic uv + quadratic st + per-face
    * Hilbert). [[cellParent]] applies unchanged (face bits ride above the
    * position); the DuckDB oracle re-derives the full chain in SQL
    * (`spatial_s2_cell` / `spatial_s2_tile`). */
  def s2CellId(lat: Column, lon: Column, level: Int): Column =
    encoded(lat, lon)(S2CellIdExpr(_, _, level))

  /** Multi-level tile-density pyramid in ONE pass — the rollup a tiling
    * engine builds before serving (zoom z densities for z ∈ [minLevel,
    * maxLevel]). Each point is encoded once at `maxLevel`, explodes to that
    * cell's [[cellParent]] shift at every level, then one hash aggregation:
    * equivalent to `maxLevel − minLevel + 1` separate [[cellDensity]] jobs
    * but reads and shuffles the input ONCE, and map-side partial
    * aggregation collapses the per-level duplication before the exchange
    * (cells per partition, not rows × levels). The level rides in the cell
    * value's low 5 bits, so one output column serves every zoom.
    *
    * The encoder sits in its own projection below the explode, so each
    * point is encoded once and every level is a shift of that one cell. */
  def tilePyramid(points: DataFrame, minLevel: Int, maxLevel: Int): DataFrame = {
    require(0 <= minLevel && minLevel <= maxLevel && maxLevel <= ZCell.MaxLevel)
    val cells = array((minLevel to maxLevel)
      .map(l => cellParent(col("__fine"), maxLevel, l)): _*)
    points.select(cellId(col("lat"), col("lon"), maxLevel).as("__fine"))
      .select(explode(cells).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
  }

  /** Cover-cell budget of one [[s2RadiusJoin]] query cap. */
  private val MaxCellsPerQuery = 256

  /** Radius (spherical-cap) join on the S2 grid: every (query, point) pair
    * within `radiusMeters` great-circle distance. Queries
    * (`query_id`, `lat`, `lon`) are driver-collected (broadcast-small, the
    * [[polygonJoin]] contract); each cap covers via
    * [[S2Cell.coverCap]] (provable superset, conservative
    * circumradius descent) with at most [[MaxCellsPerQuery]] cells,
    * coarsening its level until it fits. Covers keep their OWN achieved
    * level (round 6 — normalizing to the batch's coarsest level let one
    * polar/large-radius query degrade join-key selectivity for every other
    * query): points are
    * encoded once at the finest present level, parent-shifted to each
    * present level, and the broadcast (query_id, level, cell) list
    * equi-joins on (level, cell); exact haversine refines. No cross
    * product at any scale: candidate volume is each query's cover cells ×
    * cell occupancy, not |queries| × |points|. A query with a null lat or
    * lon matches nothing. */
  def s2RadiusJoin(points: DataFrame, queries: DataFrame, radiusMeters: Double,
                   level: Int = 10): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val qs = queries.filter(col("lat").isNotNull && col("lon").isNotNull)
      .select(col("query_id").cast("long"),
        col("lat").cast("double"), col("lon").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val covers = qs.map { case (id, la, lo) =>
      (id, S2Cell.coverCap(la, lo, radiusMeters, level, MaxCellsPerQuery))
    }
    // PER-LEVEL join keys (round 6): covers keep their own achieved level
    // instead of all normalizing to the globally coarsest one — one
    // polar/large-radius query no longer degrades join-key selectivity for
    // the whole batch. Each point explodes to its ancestor cell at every
    // level PRESENT in the batch (usually 1-2), and the broadcast cover
    // list joins on (level, cell); candidate volume is each query's own
    // cover × occupancy. Exact haversine refine is unchanged, so results
    // are identical.
    if (qs.isEmpty) // empty query set ⇒ empty result, same columns and order
      return points.select(lit(0L).as("query_id"), col("*")).limit(0)
    val levels = covers.map(_._2._2).distinct.sorted
    val coverDF = covers.toSeq.flatMap { case (id, (cells, l)) =>
      cells.map(c => (id, l, c)).distinct
    }.toDF("query_id", "qlevel", "pcell")
    val qll = qs.toSeq.toDF("query_id", "q_lat", "q_lon")
    val fineL = levels.max
    // encode each point ONCE at the finest present level; coarser present
    // levels are a shift (face bits ride above the position, so cellParent's
    // shift applies)
    val fineCell = s2CellId(col("lat"), col("lon"), fineL)
    val pLevelCells = array(levels.map(l =>
      struct(lit(l).as("qlevel"), cellParent(fineCell, fineL, l).as("pcell"))): _*)
    points.withColumn("__lc", explode(pLevelCells))
      .withColumn("qlevel", col("__lc").getField("qlevel"))
      .withColumn("pcell", col("__lc").getField("pcell"))
      .drop("__lc")
      .join(broadcast(coverDF), Seq("qlevel", "pcell"))
      .join(broadcast(qll), "query_id")
      .filter(haversineMeters(col("lat"), col("lon"),
        col("q_lat"), col("q_lon")) <= radiusMeters)
      .drop("pcell", "qlevel", "q_lat", "q_lon")
  }

  /** Great-circle distance in meters (haversine), pure Column math. */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val r = 6371008.8
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * r) * asin(sqrt(a))
  }

  // --- point-in-polygon --------------------------------------------------------

  /** Even-odd ray cast over all rings (outer + holes). Driver-side scalar —
    * kept as the independent brute-force ORACLE the distributed join is
    * tested against (SpatialSpec); the executor hot path is [[pipFlat]]. */
  def pipScala(lat: Double, lon: Double, rings: Seq[Seq[(Double, Double)]]): Boolean = {
    var inside = false
    rings.foreach { ring =>
      var j = ring.length - 1
      var i = 0
      while (i < ring.length) {
        val (yi, xi) = ring(i)
        val (yj, xj) = ring(j)
        if ((yi > lat) != (yj > lat) &&
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
        j = i; i += 1
      }
    }
    inside
  }

  /** struct rings (array<array<struct<lat,lon>>>) → [lat, lon] double arrays
    * for the UDF boundary. */
  private def ringsAsArrays(rings: Column): Column =
    transform(rings, ring => transform(ring,
      p => array(p.getField("lat"), p.getField("lon"))))

  /** Ray cast over flattened rings (ring = [lat0,lon0,lat1,lon1,…]):
    * allocation-free hot loop for the candidate-refine path. */
  def pipFlat(lat: Double, lon: Double, rings: Array[Array[Double]]): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val n = ring.length / 2
      var j = n - 1
      var i = 0
      while (i < n) {
        val yi = ring(2 * i); val xi = ring(2 * i + 1)
        val yj = ring(2 * j); val xj = ring(2 * j + 1)
        if ((yi > lat) != (yj > lat) &&
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
        j = i; i += 1
      }
      r += 1
    }
    inside
  }

  /** Spatial join: points (lat, lon, …) × polygons (polygon_id, rings) →
    * matched pairs (point columns + polygon_id). Cell-cover equi-join
    * prejoin (broadcast polygon side) + exact PIP refine. Each point lands
    * in exactly one cell, so no dedup is needed. `level` trades candidate
    * count vs cover size (~12 for city-block polygons).
    *
    * The polygon side is BROADCAST-SMALL by contract (BASELINE.json), so its
    * rings are parsed ONCE on the driver into primitive double arrays and
    * captured by the refine UDF's closure; the broadcast join ships only
    * (cell, polygon_id). The previous shape carried the rings column through
    * the join and re-materialized nested Seq[Seq[Seq[Double]]] per CANDIDATE
    * ROW — at 24M points that allocation rate saturated memory bandwidth and
    * capped executor scaling at ~1.4× for 4× cores. */
  def polygonJoin(points: DataFrame, polygons: DataFrame, level: Int = 14): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val parsed: Array[(Long, Array[Array[Double]])] = polygons
      .select(col("polygon_id").cast("long"), ringsAsArrays(col("rings")))
      .collect()
      .map { row =>
        val rings = row.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](1)
          .map { ring =>
            val flat = new Array[Double](ring.length * 2)
            var i = 0
            ring.foreach { p => flat(2 * i) = p(0); flat(2 * i + 1) = p(1); i += 1 }
            flat
          }.toArray
        row.getLong(0) -> rings
      }
    val polyMap: Map[Long, Array[Array[Double]]] = parsed.toMap
    val polyCells = parsed.toSeq.flatMap { case (pid, rings) =>
      val outer = rings.head
      val lats = outer.indices.collect { case i if i % 2 == 0 => outer(i) }
      val lons = outer.indices.collect { case i if i % 2 == 1 => outer(i) }
      ZCell.coverBBox(lats.min, lats.max, lons.min, lons.max, level)
        .map(c => (c, pid))
    }.toDF("cell", "polygon_id")
    val pipFast = udf { (lat: Double, lon: Double, pid: Long) =>
      pipFlat(lat, lon, polyMap(pid))
    }
    points.withColumn("cell", cellId(col("lat"), col("lon"), level))
      .join(broadcast(polyCells), Seq("cell"))
      .filter(pipFast(col("lat"), col("lon"), col("polygon_id")))
      .drop("cell")
  }

  // --- kNN ------------------------------------------------------------------------

  /** Edges of the region covered by rings 0..ring around `cell`, as
    * (latTop, latBot, lonLeft, lonRight); null = that side reaches a pole /
    * wraps fully, so no uncovered region lies beyond it. Lon edges are
    * UNWRAPPED (may exceed ±180): trig metrics are periodic, and planar
    * metrics measure unwrapped offsets — both stay correct. */
  private def coverEdges(cell: Long, level: Int, ring: Int): Seq[java.lang.Double] = {
    val n = 1 << level
    val cx = ZCell.x(cell); val cy = ZCell.y(cell)
    def edge(exists: Boolean, at: => Double): java.lang.Double =
      if (exists) Double.box(at) else null
    val fullWrap = 2 * ring + 1 >= n
    Seq(edge(cy - ring > 0, 90.0 - (cy - ring).toDouble / n * 180.0),
      edge(cy + ring < n - 1, 90.0 - (cy + ring + 1).toDouble / n * 180.0),
      edge(!fullWrap, (cx - ring).toDouble / n * 360.0 - 180.0),
      edge(!fullWrap, (cx + ring + 1).toDouble / n * 360.0 - 180.0))
  }

  /** Distance model for kNN: point-to-point distance PLUS true lower bounds
    * on the distance to a parallel (lat edge) and a meridian (lon edge) —
    * the boundary bounds must never over-estimate or the exactness guarantee
    * breaks (e.g. the closest point on a meridian lies poleward of the
    * query, so a same-latitude projection is an over-estimate on the
    * sphere). */
  sealed trait SpatialMetric {
    def dist(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column
    /** ≤ true min distance from (qlat,qlon) to the parallel latEdge. */
    def toParallel(qlat: Column, qlon: Column, latEdge: Column): Column
    /** ≤ true min distance from (qlat,qlon) to the meridian lonEdge. */
    def toMeridian(qlat: Column, qlon: Column, lonEdge: Column): Column
  }

  /** Great-circle meters. Meridian bound: d = R·asin(cosφ·sin Δλ) (the
    * cross-track distance to the meridian's great circle — exact for
    * Δλ ≤ 90°, an under-estimate beyond, which is safe). */
  case object HaversineMetric extends SpatialMetric {
    private val R = 6371008.8
    def dist(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
      haversineMeters(lat1, lon1, lat2, lon2)
    def toParallel(qlat: Column, qlon: Column, latEdge: Column): Column =
      haversineMeters(qlat, qlon, latEdge, qlon) // same-lon projection is exact
    def toMeridian(qlat: Column, qlon: Column, lonEdge: Column): Column =
      lit(R) * asin(cos(radians(qlat)) * abs(sin(radians(lonEdge - qlon))))
  }

  /** Squared planar degrees (for deterministic cross-engine oracles on a
    * flat model; wrap-ignorant by definition). Edge projections are exact. */
  case object PlanarDegrees2Metric extends SpatialMetric {
    def dist(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
      (lat2 - lat1) * (lat2 - lat1) + (lon2 - lon1) * (lon2 - lon1)
    def toParallel(qlat: Column, qlon: Column, latEdge: Column): Column =
      (latEdge - qlat) * (latEdge - qlat)
    def toMeridian(qlat: Column, qlon: Column, lonEdge: Column): Column =
      (lonEdge - qlon) * (lonEdge - qlon)
  }

  /** k nearest points for each query row (query_id, lat, lon): ring-expanded
    * candidate cells + exact re-rank through the one per-query top-k
    * ([[graft.ops.Similarity.topKPerQuery]], ordered by (distance,
    * `tieBreak`)). The query side is broadcast-small by contract (as in
    * [[s2RadiusJoin]]) and collected once: the driver computes each query's
    * ring cells ([[ZCell.encode]], [[ZCell.ring]]) and cover edges, and the
    * cells join the points as a broadcast local relation carrying the
    * query's `bound`, a LOWER BOUND on the distance to the uncovered region.
    * EXACTNESS GUARANTEE: a query's ring result is kept only when its kth
    * candidate distance is ≤ that bound (≥ k candidates alone does NOT imply
    * the true k nearest are inside the rings). Each ring step is one Spark
    * query with one exchange: its ranked top-k (≤ queries·k rows) is
    * localCheckpoint'ed, and that same job observes the ids of the queries
    * it certifies, so the uncertified ones are known on the driver with no
    * further job. They retry with the ring radius widened ×4, up to twice —
    * each retry is another cell-join over a SHRINKING query set, so a skewed
    * query batch never forces a full-corpus cross join just because a few
    * queries sit in sparse regions; only queries still uncertified after the
    * widening ladder fall back to the exact scan. Queries and points with a
    * null lat or lon are dropped. Every branch returns the point columns,
    * then query_id, qlat, qlon and dist_m. */
  def knn(points: DataFrame, queries: DataFrame, k: Int,
          level: Int = 10, maxRing: Int = 2,
          metric: SpatialMetric = HaversineMetric,
          tieBreak: String = "doc_id"): DataFrame = {
    val spark = points.sparkSession
    val located = points.filter(col("lat").isNotNull && col("lon").isNotNull)
    val pCells = located.withColumn("cell", cellId(col("lat"), col("lon"), level))
    val dist = metric.dist(col("qlat"), col("qlon"), col("lat"), col("lon"))
    val out = (located.columns.toSeq ++ Seq("query_id", "qlat", "qlon", "dist_m")).map(col)
    def rankTopK(scored: DataFrame): DataFrame =
      Similarity.topKPerQuery(scored, k, Seq(col("dist_m"), col(tieBreak)))
    def local(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    val qSide = queries.filter(col("lat").isNotNull && col("lon").isNotNull)
      .select(col("query_id"), col("lat").as("qlat"), col("lon").as("qlon"))
    // each query's output row, and its coordinates as doubles for the cells
    var pending: Seq[(Row, Double, Double)] = qSide
      .select(col("*"), col("qlat").cast("double"), col("qlon").cast("double")).collect()
      .map(r => (Row(r(0), r(1), r(2)), r.getDouble(3), r.getDouble(4))).toSeq
    val cellSchema = qSide.schema.add("cell", LongType, nullable = false)
      .add("e_top", DoubleType).add("e_bot", DoubleType)
      .add("e_left", DoubleType).add("e_right", DoubleType)

    /** The pending queries' ring-`ring` candidates, with their distance and
      * the query's `bound`. */
    def scoredAt(ring: Int): DataFrame = {
      val cells = local(pending.flatMap { case (q, lat, lon) =>
        val c = ZCell.encode(lat, lon, level)
        val edges = coverEdges(c, level, ring)
        (0 to ring).flatMap(d => ZCell.ring(c, d))
          .map(cell => Row.fromSeq(q.toSeq ++ (cell +: edges)))
      }, cellSchema)
      // lower-bound distance to each uncovered-side edge
      val bound = least(
        metric.toParallel(col("qlat"), col("qlon"), col("e_top")),
        metric.toParallel(col("qlat"), col("qlon"), col("e_bot")),
        metric.toMeridian(col("qlat"), col("qlon"), col("e_left")),
        metric.toMeridian(col("qlat"), col("qlon"), col("e_right")))
      pCells.join(broadcast(cells.select(col("query_id"), col("qlat"), col("qlon"),
          col("cell"), bound.as("bound"))), Seq("cell"))
        .drop("cell").withColumn("dist_m", dist)
    }

    // (A ring-0 pre-pass to certify dense queries cheaply was measured and
    // rejected: it certified 27/99 bench queries but added a full pass for
    // the rest — 4.2 s vs 3.1 s against the ×4 ladder alone.)
    val pieces = Seq.newBuilder[DataFrame]
    var ring = maxRing
    var step = 0
    while (step <= KnnWidenSteps && pending.nonEmpty) {
      // certified: k candidates, the kth within the bound (or no bound)
      val obs = Observation()
      val ranked = rankTopK(scoredAt(ring))
        .observe(obs, collect_set(when(col("rn") === k &&
          (col("bound").isNull || col("dist_m") <= col("bound")), col("query_id")))
          .as("certified"))
        .localCheckpoint(true)
      val certified = obs.get("certified").asInstanceOf[scala.collection.Seq[Any]].toSet
      if (certified.size == pending.size) pieces += ranked
      else if (certified.nonEmpty)
        pieces += ranked.filter(col("query_id").isin(certified.toSeq: _*))
      pending = pending.filterNot(q => certified(q._1.get(0)))
      // ×4 widening (round 6): a query the certification rejected at ring
      // r usually sits in a region an order of magnitude sparser than the
      // certified ones — ×2 widening re-ran the full join+rank ladder for
      // a slowly-shrinking straggler set (measured 43 → 22 → 0 unsat over
      // three passes at the bench shape; ×4 reaches the same coverage in
      // two). Each pass is a full candidate join, so fewer, wider passes
      // win; the exact brute fallback still bounds the worst case.
      ring = math.max(ring * 4, ring + 1)
      step += 1
    }
    if (pending.nonEmpty)
      pieces += rankTopK(located.crossJoin(broadcast(local(pending.map(_._1), qSide.schema)))
        .withColumn("dist_m", dist))
    pieces.result() match {
      case Seq() => scoredAt(maxRing).select(out: _*) // no query: no rows
      case ps => ps.map(_.select(out: _*)).reduce(_ union _)
    }
  }

  /** Ring widenings [[knn]] tries before its exact fallback. */
  private val KnnWidenSteps = 2

  // --- raster ↔ vector ---------------------------------------------------------------

  /** Joins vector points to raster tiles keyed by coarse cell: the point's
    * fine cell is shifted to the tile level (prefix equality — no geometry
    * test needed because cells nest exactly). */
  def tileJoin(points: DataFrame, tiles: DataFrame,
               pointLevel: Int = 16, tileLevel: Int = 12): DataFrame = {
    val p = points.withColumn("tile_cell",
      cellParent(cellId(col("lat"), col("lon"), pointLevel), pointLevel, tileLevel))
    p.join(tiles.withColumnRenamed("cell", "tile_cell"), Seq("tile_cell"))
  }

  /** Per-cell density. One hash aggregation: Spark's built-in PARTIAL
    * (map-side) aggregation is already the two-phase skew defense for an
    * algebraic aggregate like count — each task emits one row per distinct
    * cell it saw, so a hotspot cell contributes at most `numPartitions`
    * rows to the exchange regardless of its point count. The explicit
    * (cell, salt) pre-aggregation this replaces added a full second
    * exchange for a property the partial already guarantees (guide §2.3
    * "aggregate before you shuffle"; round-6 measurement in
    * OPTIMIZATION_r06.md). Non-algebraic per-cell work (collect_list-style
    * state) would still need explicit salting, since map-side combining
    * cannot cap the hot key there. */
  def cellDensity(points: DataFrame, level: Int): DataFrame =
    points
      .withColumn("cell", cellId(col("lat"), col("lon"), level))
      .groupBy("cell").agg(count(lit(1)).as("n"))
}
