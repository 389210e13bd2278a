package graft.spatial

/** S2-style spherical cell encoder: cube-face projection + per-face Hilbert
  * curve — the spherical half of the "batched H3/S2 cell encoder" the north
  * rule names ([[ZCell]]/[[HCell]] are the planar/equirect half). The
  * construction is the public cube-sphere design s2geometry documents:
  *
  *  1. lat/lon → unit vector (x, y, z);
  *  2. dominant-axis face selection (6 cube faces);
  *  3. gnomonic (u, v) on the face (ratios of vector components);
  *  4. the quadratic u→s reprojection (S2's default `S2_QUADRATIC
  *     projection`: `s = √(1+3u)/2` for u ≥ 0, mirrored below) that evens
  *     out the ~5.2× corner-vs-center area distortion of the raw cube;
  *  5. (s, t) ∈ [0,1)² discretized to grid (i, j) at 2^level;
  *  6. per-face Hilbert position via [[HilbertCurve]].
  *
  * Cell value: `((face << 2·level) | hilbertPos) << 5 | level` — face bits
  * ride ABOVE the position, so an ancestor is the same shift as
  * ZCell/HCell's ([[SpatialOps.cellParent]]) and prefix range/equi-join
  * machinery applies unchanged;
  * equal-level cells sort by (face, curve position), i.e. spatially within
  * a face.
  *
  * S2-lite simplifications (documented contract, pinned by S2CellSpec —
  * NOT bit-compatible with s2geometry ids): every face starts the curve in
  * state 0, so cross-FACE curve continuity (s2geometry's per-face
  * orientation swaps) is not preserved — hierarchy, within-face locality
  * and all join machinery are unaffected; and the level rides in the low 5
  * bits (like ZCell) instead of s2geometry's trailing-1-bit scheme.
  *
  * Unlike the equirect grid, cell AREA here is near-uniform over the globe
  * (max/min ≈ 2.1 with the quadratic reprojection vs unbounded pole
  * distortion for equirect cells) — the right default for density/sharding
  * keys at planetary scale.
  */
object S2Cell {
  /** 3 face bits + 2·level position bits + 5 level bits ≤ 63. */
  val MaxLevel = 26

  /** Shared degrees→radians constant — the kernel and the SQL oracle
    * interpolate THIS value so both sides multiply by the same double. */
  val DegToRad: Double = math.Pi / 180.0

  /** Face of a unit vector: dominant axis, sign picks the hemisphere face.
    * 0:+x 1:+y 2:+z 3:−x 4:−y 5:−z. The comparison CHAIN (≥ with this
    * exact order) is part of the contract — the SQL oracle replicates it
    * literally so boundary points land identically. */
  private[spatial] def face(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) { if (x >= 0) 0 else 3 }
    else if (ay >= az) { if (y >= 0) 1 else 4 }
    else { if (z >= 0) 2 else 5 }
  }

  /** Gnomonic (u, v) of a unit vector on its face. */
  private[spatial] def faceUv(f: Int, x: Double, y: Double, z: Double): (Double, Double) =
    f match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, -x / z)
    }

  /** Center unit vector of face coordinates (u, v) — inverse of [[faceUv]]
    * up to normalization (consumers only feed it to atan2, which is
    * scale-invariant). */
  private[spatial] def faceToXyz(f: Int, u: Double, v: Double): (Double, Double, Double) =
    f match {
      case 0 => (1.0, u, v)
      case 1 => (-u, 1.0, v)
      case 2 => (-u, -v, 1.0)
      case 3 => (-1.0, -v, -u)
      case 4 => (v, -1.0, -u)
      case _ => (v, u, -1.0)
    }

  /** Quadratic u∈[−1,1] → s∈[0,1] reprojection (monotone; s ≥ ½ ⇔ u ≥ 0). */
  private[spatial] def stFromUv(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1.0 + 3.0 * u)
    else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  /** Inverse of [[stFromUv]]. */
  private[spatial] def uvFromSt(s: Double): Double =
    if (s >= 0.5) (4.0 * s * s - 1.0) / 3.0
    else (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0

  @inline private def clamp(v: Int, hi: Int): Int =
    if (v < 0) 0 else if (v > hi) hi else v

  /** Encode a point — the kernel [[graft.spatial.SpatialOps.s2CellId]]
    * calls. */
  def encode(lat: Double, lon: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,$MaxLevel]")
    val phi = lat * DegToRad
    val lam = lon * DegToRad
    val cp = math.cos(phi)
    val x = cp * math.cos(lam)
    val y = cp * math.sin(lam)
    val z = math.sin(phi)
    val f = face(x, y, z)
    val (u, v) = faceUv(f, x, y, z)
    val n = 1 << level
    val i = clamp(math.floor(stFromUv(u) * n).toInt, n - 1)
    val j = clamp(math.floor(stFromUv(v) * n).toInt, n - 1)
    ((f.toLong << (2 * level)) | HilbertCurve.xy2d(level, i, j)) << 5 | level.toLong
  }

  def level(cell: Long): Int = (cell & 0x1fL).toInt
  def face(cell: Long): Int = ((cell >>> 5) >>> (2 * level(cell))).toInt
  def pos(cell: Long): Long = (cell >>> 5) & ((1L << (2 * level(cell))) - 1L)

  /** Mean sphere radius in meters — the same constant
    * [[SpatialOps.haversineMeters]] uses, so angular/metric conversions
    * agree across the cover and the refine. */
  val EarthRadiusMeters: Double = 6371008.8

  private def unitVector(lat: Double, lon: Double): (Double, Double, Double) = {
    val cp = math.cos(lat * DegToRad)
    (cp * math.cos(lon * DegToRad), cp * math.sin(lon * DegToRad),
      math.sin(lat * DegToRad))
  }

  private def angle(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val dot = a._1 * b._1 + a._2 * b._2 + a._3 * b._3
    math.acos(math.max(-1.0, math.min(1.0, dot)))
  }

  private def centerVec(cell: Long): (Double, Double, Double) = {
    val l = level(cell)
    val n = (1 << l).toDouble
    val (i, j) = HilbertCurve.d2xy(l, pos(cell))
    val (x, y, z) = faceToXyz(face(cell),
      uvFromSt((i + 0.5) / n), uvFromSt((j + 0.5) / n))
    val m = math.sqrt(x * x + y * y + z * z)
    (x / m, y / m, z / m)
  }

  /** Max angular distance (radians) from the cell center to its four
    * corners — a circumradius bound for conservative intersection tests
    * (cells are spherical quadrilaterals; great-circle edges bulge INWARD
    * from the corner hull on a convex cell, so the corner max bounds every
    * boundary point for the cell sizes the cover descends through). */
  def circumRadiusRad(cell: Long): Double = {
    val l = level(cell)
    val n = (1 << l).toDouble
    val (i, j) = HilbertCurve.d2xy(l, pos(cell))
    val c = centerVec(cell)
    val f = face(cell)
    var worst = 0.0
    var ci = 0
    while (ci < 4) {
      val u = uvFromSt((i + (ci & 1)) / n)
      val v = uvFromSt((j + ((ci >> 1) & 1)) / n)
      val (x, y, z) = faceToXyz(f, u, v)
      val m = math.sqrt(x * x + y * y + z * z)
      val a = angle(c, (x / m, y / m, z / m))
      if (a > worst) worst = a
      ci += 1
    }
    worst
  }

  /** The four children of a cell (one level finer) — pure value arithmetic,
    * valid from the level-0 face cells down. */
  def children(cell: Long): Seq[Long] = {
    val l = level(cell)
    require(l < MaxLevel, s"cell already at MaxLevel $MaxLevel")
    (0 until 4).map(q => (((cell >>> 5) << 2) | q.toLong) << 5 | (l + 1).toLong)
  }

  /** Cells covering the spherical cap of `radiusMeters` around a point —
    * conservative recursive descent from the six face cells: a cell stays
    * in the frontier iff `dist(center, q) ≤ capAngle + circumRadius(cell)`
    * (triangle inequality ⇒ every cell intersecting the cap passes, so the
    * cover is a provable SUPERSET; some passing cells may miss the cap —
    * false positives cost scan, never correctness). Descends toward
    * `level` but stops early when the next level would exceed `maxCells`,
    * so the result is uniform-level: `(cells, achievedLevel)` — join
    * point-side cells at `achievedLevel` (encode or `cellParent`) against
    * the list. */
  def coverCap(lat: Double, lon: Double, radiusMeters: Double, level: Int,
               maxCells: Int = 256): (Seq[Long], Int) = {
    require(level >= 0 && level <= MaxLevel && radiusMeters >= 0 && maxCells >= 6)
    val q = unitVector(lat, lon)
    val capAngle = radiusMeters / EarthRadiusMeters
    var frontier: Seq[Long] = (0 until 6).map(f => (f.toLong << 5) | 0L)
    var l = 0
    while (l < level) {
      val next = frontier.flatMap(children)
        .filter(c => angle(centerVec(c), q) <= capAngle + circumRadiusRad(c))
      if (next.size > maxCells) return (frontier, l)
      frontier = next
      l += 1
    }
    (frontier, l)
  }
}
