package graft.exprs

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import graft.spatial.{HCell, S2Cell, ZCell}

/** Codegen'd cell-id kernels: the one Spark-side encoder of each curve.
  * Catalyst expressions have no let-binding, so a Column transliteration of
  * an encoder copies every subtree it reads twice. For the sequential
  * Hilbert/S2 transducer that is an O(level²) tree, measured at 30.7 s vs
  * 0.59 s for a 600k-row level-12 density (BASELINE.md round 5, "S2
  * encoder: the unrolled-Column trap"); even the stateless Z interleave
  * doubled per spread/compact step, to 1,342 nodes for `cellId` and 43,196
  * for `cellX(cellId)`, whose plans broadcast 5–7.5 MiB task binaries.
  *
  * Same resolution as [[DecodeOsmSpans]]/[[VectorDot]]: `doGenCode` emits
  * ONE static call into the scalar kernel ([[graft.spatial.ZCell.encode]],
  * [[graft.spatial.HCell.encode]], [[graft.spatial.S2Cell.encode]]), so
  * whole-stage codegen keeps a two-line body, driver-side covers and the
  * Spark-side probe run the same code, and the gates compare the scalar
  * kernel against DuckDB (SpatialSpec/HilbertS2Spec pin scalar == Column
  * bit equality, tree size and codegen).
  *
  * `level` is a constructor constant baked into the generated call site.
  * Coordinates cast implicitly to double; null propagates null.
  */
abstract class CellIdExpr extends BinaryExpression with ImplicitCastInputTypes {
  def level: Int

  override def dataType: DataType = LongType
  override def inputTypes = Seq(DoubleType, DoubleType)

  /** Fully-qualified static kernel, e.g. `graft.spatial.S2Cell.encode`. */
  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel($a, $b, $level);")
}

/** Z-order (Morton) cell on the equirect grid. */
case class ZCellIdExpr(left: Expression, right: Expression, level: Int)
  extends CellIdExpr {
  require(level >= 0 && level <= ZCell.MaxLevel)
  override def prettyName: String = "z_cell_id"
  override protected def kernel: String = "graft.spatial.ZCell.encode"
  override def nullSafeEval(a: Any, b: Any): Any =
    ZCell.encode(a.asInstanceOf[Double], b.asInstanceOf[Double], level)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZCellIdExpr =
    copy(left = newLeft, right = newRight)
}

/** S2-style spherical cell (cube face + quadratic st + per-face Hilbert). */
case class S2CellIdExpr(left: Expression, right: Expression, level: Int)
  extends CellIdExpr {
  require(level >= 0 && level <= S2Cell.MaxLevel)
  override def prettyName: String = "s2_cell_id"
  override protected def kernel: String = "graft.spatial.S2Cell.encode"
  override def nullSafeEval(a: Any, b: Any): Any =
    S2Cell.encode(a.asInstanceOf[Double], b.asInstanceOf[Double], level)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): S2CellIdExpr =
    copy(left = newLeft, right = newRight)
}

/** Planar Hilbert cell on the ZCell grid. */
case class HilbertCellIdExpr(left: Expression, right: Expression, level: Int)
  extends CellIdExpr {
  require(level >= 0 && level <= HCell.MaxLevel)
  override def prettyName: String = "hilbert_cell_id"
  override protected def kernel: String = "graft.spatial.HCell.encode"
  override def nullSafeEval(a: Any, b: Any): Any =
    HCell.encode(a.asInstanceOf[Double], b.asInstanceOf[Double], level)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertCellIdExpr =
    copy(left = newLeft, right = newRight)
}

/** Grid column (`y = false`) or row (`y = true`) of a Z cell as bigint —
  * [[graft.spatial.ZCell.x]]/[[graft.spatial.ZCell.y]] as one static call. */
case class ZCellAxisExpr(child: Expression, y: Boolean)
  extends UnaryExpression with ImplicitCastInputTypes {
  private def axis: String = if (y) "y" else "x"

  override def dataType: DataType = LongType
  override def inputTypes = Seq(LongType)
  override def prettyName: String = s"z_cell_$axis"

  override def nullSafeEval(c: Any): Any = {
    val cell = c.asInstanceOf[Long]
    (if (y) ZCell.y(cell) else ZCell.x(cell)).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"(long) graft.spatial.ZCell.$axis($c)")

  override protected def withNewChildInternal(newChild: Expression): ZCellAxisExpr =
    copy(child = newChild)
}
