package graft.spatial

/** Z-order (Morton) quadtree cell index over lat/lon — the batched
  * H3/S2-style cell encoder mandated by the north rule. Public-knowledge
  * design: equirectangular quadtree with bit-interleaved cell addresses
  * (Morton/quadkey), packed into one Long so that
  *
  *  - an ancestor is a shift ([[SpatialOps.cellParent]]; raster↔vector
  *    prefix joins are integer equality on it),
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

  /** Grid column of `lon` / row of `lat` on the `n`-wide grid: floor, then
    * clamp to the edge — the one point→grid mapping behind [[encode]] and
    * the covers, so a point inside a box encodes into the box's cover. */
  @inline private def gridX(lon: Double, n: Int): Int =
    clamp(math.floor((lon + 180.0) / 360.0 * n).toInt, n - 1)
  @inline private def gridY(lat: Double, n: Int): Int =
    clamp(math.floor((90.0 - lat) / 180.0 * n).toInt, n - 1)

  /** Encode a point. Out-of-range coordinates clamp to the grid edge. */
  def encode(lat: Double, lon: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,$MaxLevel]")
    val n = 1 << level
    xyToCell(gridX(lon, n), gridY(lat, n), level)
  }

  def level(cell: Long): Int = (cell & 0x1fL).toInt
  def morton(cell: Long): Long = cell >>> 5
  def x(cell: Long): Int = compact(morton(cell)).toInt
  def y(cell: Long): Int = compact(morton(cell) >> 1).toInt

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

  /** Grid rows and column runs of the cells at `level` intersecting the
    * bbox — the one span computation behind [[coverBBox]] and
    * [[coverCount]]. Handles antimeridian-crossing boxes (lonMin > lonMax).
    * Wrap is decided by the INPUT (lonMin > lonMax), never by xLo <= xHi: a
    * wide wrap box whose two edges fall in the same (or adjacent) grid
    * column covers EVERY column — the uncovered sliver is narrower than a
    * cell, so no column is excludable at this level. */
  private def coverSpan(latMin: Double, latMax: Double, lonMin: Double,
                        lonMax: Double, level: Int): (Range, Seq[Range]) = {
    val n = 1 << level
    val xLo = gridX(lonMin, n)
    val xHi = gridX(lonMax, n)
    val xs =
      if (lonMin <= lonMax) Seq(xLo to xHi)
      else if (xLo <= xHi + 1) Seq(0 until n)
      else Seq(xLo until n, 0 to xHi)
    (gridY(latMax, n) to gridY(latMin, n), xs)
  }

  /** All cells at `level` intersecting the bbox (cover of a rectangle). */
  def coverBBox(latMin: Double, latMax: Double, lonMin: Double,
                lonMax: Double, level: Int): Seq[Long] = {
    val (ys, xs) = coverSpan(latMin, latMax, lonMin, lonMax, level)
    for (yy <- ys; run <- xs; xx <- run) yield xyToCell(xx, yy, level)
  }

  /** Number of cells [[coverBBox]] would return at `level`, without
    * materializing them — used to pick a cover level under a budget. */
  def coverCount(latMin: Double, latMax: Double, lonMin: Double,
                 lonMax: Double, level: Int): Long = {
    val (ys, xs) = coverSpan(latMin, latMax, lonMin, lonMax, level)
    ys.size.toLong * xs.map(_.size.toLong).sum
  }

  /** Sort + coalesce overlapping/adjacent `[lo, hi)` ranges. */
  def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((plo, phi) :: rest, (lo, hi)) if lo <= phi =>
        (plo, math.max(phi, hi)) :: rest
      case (acc, r) => r :: acc
    }.reverse
}
