package graft.spatial

/** Cell decoders only the specs call (SpatialSpec, SpatialLayoutSpec,
  * HilbertS2Spec): centers, bounds, Hilbert grid coordinates and scalar
  * ancestors read back from a cell value to check the encoders against. */
object ZCellDecode {

  /** Ancestor at a coarser level — a pure shift, hence prefix-joinable. */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = ZCell.level(cell)
    require(parentLevel >= 0 && parentLevel <= l, s"parent level $parentLevel > $l")
    ((ZCell.morton(cell) >> (2 * (l - parentLevel))) << 5) | parentLevel.toLong
  }

  /** Cell center (lat, lon). */
  def center(cell: Long): (Double, Double) = {
    val n = (1 << ZCell.level(cell)).toDouble
    val cx = (ZCell.x(cell) + 0.5) / n
    val cy = (ZCell.y(cell) + 0.5) / n
    (90.0 - cy * 180.0, cx * 360.0 - 180.0)
  }

  /** Cell bounds (latMin, latMax, lonMin, lonMax). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val n = (1 << ZCell.level(cell)).toDouble
    val x0 = ZCell.x(cell) / n; val y0 = ZCell.y(cell) / n
    val x1 = (ZCell.x(cell) + 1) / n; val y1 = (ZCell.y(cell) + 1) / n
    (90.0 - y1 * 180.0, 90.0 - y0 * 180.0, x0 * 360.0 - 180.0, x1 * 360.0 - 180.0)
  }
}

object HCellDecode {
  def level(cell: Long): Int = (cell & 0x1fL).toInt
  def pos(cell: Long): Long = cell >>> 5

  def x(cell: Long): Int = HilbertCurve.d2xy(level(cell), pos(cell))._1
  def y(cell: Long): Int = HilbertCurve.d2xy(level(cell), pos(cell))._2

  /** Ancestor at a coarser level — a shift (Hilbert prefix property). */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = level(cell)
    require(parentLevel >= 0 && parentLevel <= l, s"parent level $parentLevel > $l")
    ((pos(cell) >>> (2 * (l - parentLevel))) << 5) | parentLevel.toLong
  }
}

object S2CellDecode {

  /** Ancestor at a coarser level — the identical shift ZCell/HCell use
    * (face bits stay above the shortened position). */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = S2Cell.level(cell)
    require(parentLevel >= 0 && parentLevel <= l, s"parent level $parentLevel > $l")
    (((cell >>> 5) >>> (2 * (l - parentLevel))) << 5) | parentLevel.toLong
  }

  /** Cell center (lat, lon) in degrees. */
  def center(cell: Long): (Double, Double) = {
    val l = S2Cell.level(cell)
    val n = (1 << l).toDouble
    val (i, j) = HilbertCurve.d2xy(l, S2Cell.pos(cell))
    val u = S2Cell.uvFromSt((i + 0.5) / n)
    val v = S2Cell.uvFromSt((j + 0.5) / n)
    val (x, y, z) = S2Cell.faceToXyz(S2Cell.face(cell), u, v)
    (math.atan2(z, math.sqrt(x * x + y * y)) / S2Cell.DegToRad,
      math.atan2(y, x) / S2Cell.DegToRad)
  }
}
