package graft.spatial

/** Hilbert space-filling-curve kernel: grid (x, y) ↔ curve position, as a
  * 4-state transducer consuming one (x-bit, y-bit) pair per level from the
  * MSB down. Shared by the planar [[HCell]] encoder and the spherical
  * cube-face [[S2Cell]] encoder (the "H3/S2 cell encoder" the north rule
  * names — S2's curve IS a per-face Hilbert curve).
  *
  * Why Hilbert next to the existing Z/Morton ([[ZCell]]): both curves give
  * hierarchical prefix-joinable cells, but Hilbert preserves locality
  * strictly better — consecutive curve positions are always edge-adjacent
  * cells (no Z-curve "seams" that jump across the grid), so a rectangle
  * covers as FEWER contiguous position ranges. At 100 TB that is a smaller
  * Or-of-ranges filter tree for the same prune precision, or a finer cover
  * level for the same tree size. That measurement (BASELINE.md,
  * "Space-filling-curve comparison") made Hilbert the only fine sort curve
  * of [[SpatialLayout]]; Z cells remain the join, density and directory
  * addresses.
  *
  * The state machine is the standard public construction (Wikipedia
  * "Hilbert curve", xy2d/d2xy; same shape as s2geometry's lookup tables).
  * The four states are the dihedral orientations the curve's recursive
  * U-shape passes through; tables are packed 2-bit fields in one constant
  * so the per-level lookup is two shifts and two masks — branch-free in
  * scalar code, pure bit-arithmetic Columns in Spark (codegen-friendly,
  * also emittable as the DuckDB oracle SQL). Transition tables were derived
  * from the loop formulation and verified exhaustively against it
  * (HilbertS2Spec does the same in-tree).
  *
  * Packing: for state σ ∈ [0,4) and input q ∈ [0,4), field index
  * `σ·4 + q`, value at bits `[2·idx, 2·idx+2)`.
  *  - POS:  q = (xBit << 1) | yBit → 2-bit curve digit
  *  - NEXT: q = (xBit << 1) | yBit → next state
  *  - INV_Q / INV_NEXT: the inverse transducer, q = curve digit →
  *    (xBit << 1) | yBit and next state.
  */
object HilbertCurve {
  /** Max grid order: 2 bits of position per level must leave the packed
    * value room for payload bits above (callers enforce their own caps). */
  val MaxOrder = 28

  val Pos: Long = 0x1e369cb4L
  val Next: Long = 0xb7ca5c21L
  val InvQ: Long = 0x4b8778b4L
  val InvNext: Long = 0x7e2bd481L

  /** Curve position of grid point (x, y) on the order-`order` curve
    * (grid is 2^order × 2^order; x, y in [0, 2^order)). */
  def xy2d(order: Int, x: Int, y: Int): Long = {
    require(order >= 0 && order <= MaxOrder, s"order $order out of [0,$MaxOrder]")
    var d = 0L
    var state = 0L
    var k = order - 1
    while (k >= 0) {
      val q = (((x >> k) & 1) << 1) | ((y >> k) & 1)
      val idx2 = ((state << 2) | q).toInt << 1
      d = (d << 2) | ((Pos >>> idx2) & 3L)
      state = (Next >>> idx2) & 3L
      k -= 1
    }
    d
  }

  /** Grid point of curve position `d` on the order-`order` curve. */
  def d2xy(order: Int, d: Long): (Int, Int) = {
    require(order >= 0 && order <= MaxOrder, s"order $order out of [0,$MaxOrder]")
    var x = 0
    var y = 0
    var state = 0L
    var k = order - 1
    while (k >= 0) {
      val pos = (d >>> (2 * k)) & 3L
      val idx2 = ((state << 2) | pos).toInt << 1
      val q = (InvQ >>> idx2) & 3L
      state = (InvNext >>> idx2) & 3L
      x = (x << 1) | ((q >> 1) & 1L).toInt
      y = (y << 1) | (q & 1L).toInt
      k -= 1
    }
    (x, y)
  }
}
