package graft.spatial

/** Hilbert-positioned cells over the SAME equirectangular grid as [[ZCell]]
  * — identical cell GEOMETRY (level-l cell (x, y) covers the same lat/lon
  * rectangle either way), different cell ADDRESS: the Hilbert curve
  * position replaces the Morton interleave. Value layout mirrors ZCell's,
  * `(hilbertPos << 5) | level`, so level/parent/range machinery carries
  * over unchanged — the Hilbert prefix property (a child's position at a
  * finer level has its parent's position as a 2-bits-per-level prefix,
  * HilbertS2Spec pins it) is exactly what makes `parent` a shift and a cover
  * cell a contiguous `[d << s, (d+1) << s)` value range of descendants.
  *
  * Purpose: the fine SORT column of [[SpatialLayout]], the one curve its
  * layouts are written with ([[SpatialLayout.materialize]]). A bbox covers
  * the same cell SET on either curve (geometry is shared), but merging
  * those cells into value ranges fragments differently — Hilbert's
  * edge-adjacency yields fewer, longer runs (1.89–1.97× fewer than the Z
  * curve on every box, BASELINE.md "Space-filling-curve comparison"), i.e.
  * a smaller pushed Or-of-ranges filter for equal prune precision.
  * Grid/cover arithmetic is DELEGATED to ZCell (decode its cover cells to
  * (x, y), re-address through the curve) so the two encoders cannot drift.
  */
object HCell {
  val MaxLevel: Int = ZCell.MaxLevel

  def encode(lat: Double, lon: Double, level: Int): Long = {
    val z = ZCell.encode(lat, lon, level)
    (HilbertCurve.xy2d(level, ZCell.x(z), ZCell.y(z)) << 5) | level.toLong
  }

  /** Sorted, disjoint `[lo, hi)` ranges of `fine`-level CELL VALUES
    * (`(pos << 5) | fine`) covering the bbox: the cover is taken at the
    * finest level whose cell count stays ≤ `maxCells`, each cover cell is
    * expanded to the value range of its `fine`-level descendants (the
    * prefix property makes the range contiguous), and adjacent ranges are
    * coalesced.
    *
    * SUPERSET GUARANTEE: the cover SET comes from [[ZCell.coverBBox]]
    * (shared grid arithmetic, antimeridian wrap included); a point inside
    * the bbox [[encode]]s (same monotone floor/clamp arithmetic) to a fine
    * cell whose ancestor is in the cover, hence whose value lies in one of
    * the ranges — so `zcell ∈ ranges` is a sound prefilter for the exact
    * bbox predicate. */
  def coverRanges(latMin: Double, latMax: Double, lonMin: Double,
                  lonMax: Double, fine: Int, maxCells: Int): Seq[(Long, Long)] = {
    require(fine >= 0 && fine <= MaxLevel && maxCells >= 1)
    var l = fine
    while (l > 0 && ZCell.coverCount(latMin, latMax, lonMin, lonMax, l) > maxCells) l -= 1
    val shift = 2 * (fine - l) + 5
    ZCell.mergeRanges(ZCell.coverBBox(latMin, latMax, lonMin, lonMax, l)
      .map { c =>
        val d = HilbertCurve.xy2d(l, ZCell.x(c), ZCell.y(c))
        ((d << shift) | fine.toLong, ((d + 1L) << shift) | fine.toLong)
      })
  }
}
