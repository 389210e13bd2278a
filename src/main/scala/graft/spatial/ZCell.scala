package graft.spatial

/** Z-order (Morton) quadtree cell index over lat/lon — the batched
  * H3/S2-style cell encoder mandated by the north rule. Public-knowledge
  * design: equirectangular quadtree with bit-interleaved cell addresses
  * (Morton/quadkey), packed into one Long so that
  *
  *  - `parent(cell, l)` is a shift (raster↔vector prefix joins are integer
  *    equality on `parent`),
  *  - equal-level cells sort spatially (Z-curve locality for range scans),
  *  - neighbors/ring expansion are constant-time bit arithmetic (kNN).
  *
  * Layout: `(morton << 5) | level`, level ∈ [0, 26], morton uses 2·level
  * bits (y-bit above x-bit per step, quadkey convention). x grows east from
  * lon=-180, y grows south from lat=+90.
  *
  * ZCell owns the grid arithmetic (encode, bbox cover, cover count) that
  * [[HCell]] re-addresses along the Hilbert curve. Z addresses serve the
  * cell joins, densities, kNN rings and the coarse partition directories of
  * [[SpatialLayout]]; the layout's fine SORT column is Hilbert-addressed,
  * because the Z curve's seams split a box cover into ~2× more value ranges
  * (BASELINE.md, "Space-filling-curve comparison").
  *
  * The reference engine has no cell index (its bbox/geometry filtering is
  * implied capability only — SURVEY.md §2.6); this is new Spark-first work.
  */
object ZCell {
  val MaxLevel = 26

  @inline private def clamp(v: Int, hi: Int): Int =
    if (v < 0) 0 else if (v > hi) hi else v

  /** Spread the low 26 bits of v so they occupy even bit positions. */
  @inline private[spatial] def spread(v0: Long): Long = {
    var v = v0 & 0x3ffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8))  & 0x00ff00ff00ff00ffL
    v = (v | (v << 4))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  @inline private[spatial] def compact(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1))  & 0x3333333333333333L
    v = (v | (v >> 2))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >> 4))  & 0x00ff00ff00ff00ffL
    v = (v | (v >> 8))  & 0x0000ffff0000ffffL
    v = (v | (v >> 16)) & 0x00000000ffffffffL
    v
  }

  def xyToCell(x: Int, y: Int, level: Int): Long = {
    val morton = (spread(y.toLong) << 1) | spread(x.toLong)
    (morton << 5) | level.toLong
  }

  /** Encode a point. Out-of-range coordinates clamp to the grid edge. */
  def encode(lat: Double, lon: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,$MaxLevel]")
    val n = 1 << level
    val x = clamp(math.floor((lon + 180.0) / 360.0 * n).toInt, n - 1)
    val y = clamp(math.floor((90.0 - lat) / 180.0 * n).toInt, n - 1)
    xyToCell(x, y, level)
  }

  def level(cell: Long): Int = (cell & 0x1fL).toInt
  def morton(cell: Long): Long = cell >>> 5
  def x(cell: Long): Int = compact(morton(cell)).toInt
  def y(cell: Long): Int = compact(morton(cell) >> 1).toInt

  /** Ancestor at a coarser level — a pure shift, hence prefix-joinable. */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = level(cell)
    require(parentLevel >= 0 && parentLevel <= l, s"parent level $parentLevel > $l")
    ((morton(cell) >> (2 * (l - parentLevel))) << 5) | parentLevel.toLong
  }

  /** Cell center (lat, lon). */
  def center(cell: Long): (Double, Double) = {
    val l = level(cell)
    val n = (1 << l).toDouble
    val cx = (x(cell) + 0.5) / n
    val cy = (y(cell) + 0.5) / n
    (90.0 - cy * 180.0, cx * 360.0 - 180.0)
  }

  /** Cell bounds (latMin, latMax, lonMin, lonMax). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val l = level(cell)
    val n = (1 << l).toDouble
    val x0 = x(cell) / n; val y0 = y(cell) / n
    val x1 = (x(cell) + 1) / n; val y1 = (y(cell) + 1) / n
    (90.0 - y1 * 180.0, 90.0 - y0 * 180.0, x0 * 360.0 - 180.0, x1 * 360.0 - 180.0)
  }

  /** Cells at Chebyshev grid distance exactly `d` from `cell` (same level);
    * d=0 yields the cell itself. x wraps around the antimeridian, y clamps at
    * the poles. Used by kNN ring expansion. */
  def ring(cell: Long, d: Int): Seq[Long] = {
    val l = level(cell)
    val n = 1 << l
    val cx = x(cell); val cy = y(cell)
    if (d == 0) return Seq(cell)
    val out = Seq.newBuilder[Long]
    var dy = -d
    while (dy <= d) {
      val yy = cy + dy
      if (yy >= 0 && yy < n) {
        val dxs: Seq[Int] =
          if (math.abs(dy) == d) (-d to d) else Seq(-d, d)
        dxs.foreach { dx =>
          val xx = ((cx + dx) % n + n) % n // wrap lon
          out += xyToCell(xx, yy, l)
        }
      }
      dy += 1
    }
    out.result().distinct
  }

  /** All cells at `level` intersecting the bbox (cover of a rectangle).
    * Handles antimeridian-crossing boxes (lonMin > lonMax). */
  def coverBBox(latMin: Double, latMax: Double, lonMin: Double,
                lonMax: Double, level: Int): Seq[Long] = {
    val n = 1 << level
    val yLo = clamp(math.floor((90.0 - latMax) / 180.0 * n).toInt, n - 1)
    val yHi = clamp(math.floor((90.0 - latMin) / 180.0 * n).toInt, n - 1)
    val xLo = clamp(math.floor((lonMin + 180.0) / 360.0 * n).toInt, n - 1)
    val xHi = clamp(math.floor((lonMax + 180.0) / 360.0 * n).toInt, n - 1)
    // wrap is decided by the INPUT (lonMin > lonMax), never by xLo <= xHi: a
    // wide wrap box whose two edges fall in the same (or adjacent) grid
    // column covers EVERY column — the uncovered sliver is narrower than a
    // cell, so no column is excludable at this level
    val xs: Seq[Int] =
      if (lonMin <= lonMax) xLo to xHi
      else if (xLo <= xHi + 1) 0 until n
      else (xLo until n) ++ (0 to xHi)
    for (yy <- yLo to yHi; xx <- xs) yield xyToCell(xx, yy, level)
  }

  /** Number of cells [[coverBBox]] would return at `level` (same floor/clamp
    * math, no materialization) — used to pick a cover level under a budget. */
  def coverCount(latMin: Double, latMax: Double, lonMin: Double,
                 lonMax: Double, level: Int): Long = {
    val n = 1 << level
    val yLo = clamp(math.floor((90.0 - latMax) / 180.0 * n).toInt, n - 1)
    val yHi = clamp(math.floor((90.0 - latMin) / 180.0 * n).toInt, n - 1)
    val xLo = clamp(math.floor((lonMin + 180.0) / 360.0 * n).toInt, n - 1)
    val xHi = clamp(math.floor((lonMax + 180.0) / 360.0 * n).toInt, n - 1)
    val xs = // mirrors coverBBox's wrap handling exactly
      if (lonMin <= lonMax) xHi - xLo + 1L
      else if (xLo <= xHi + 1) n.toLong
      else (n.toLong - xLo) + (xHi + 1L)
    (yHi - yLo + 1L) * xs
  }

  /** Sort + coalesce overlapping/adjacent `[lo, hi)` ranges. */
  def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((plo, phi) :: rest, (lo, hi)) if lo <= phi =>
        (plo, math.max(phi, hi)) :: rest
      case (acc, r) => r :: acc
    }.reverse
}
