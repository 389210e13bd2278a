package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import graft.spatial.{HCell, S2Cell}

/** Codegen'd cell-id kernels for the curve encoders whose per-level STATE
  * makes a pure-Column form pathological: a Hilbert position is a
  * sequential transducer (state k+1 depends on state k), and Catalyst
  * expressions have no let-binding — composing the chain as Columns
  * duplicates each level's state subtree into every later level (the d
  * accumulation AND the next-state line both reference it), an O(level²)
  * tree that fell out of efficient execution entirely: the unrolled
  * level-12 S2 encoder measured 30.7 s for a 600k-row density vs 0.59 s
  * for the Z/Morton encoder (BASELINE.md round 5, "S2 encoder: the
  * unrolled-Column trap") — a 52× penalty on
  * an operator that should differ from Morton by a table lookup per level.
  *
  * Same resolution as [[DecodeOsmSpans]]/[[VectorDot]]: a native
  * expression whose `doGenCode` emits ONE static call into the scalar
  * kernel ([[graft.spatial.S2Cell.encode]] / [[graft.spatial.HCell.encode]]
  * — the loop form the Column mirror was transliterating), so whole-stage
  * codegen keeps a two-line body and the engine-vs-oracle contract
  * collapses to "the gate compares the scalar kernel against DuckDB"
  * (HilbertS2Spec pins scalar == Column-wrapper bit-equality; the
  * `spatial_s2_cell`/`spatial_s2_tile` gates hash-verify it end-to-end).
  *
  * `level` is a constructor constant (mirrors the Column API where the
  * level is statically known), baked into the generated call site. Null
  * coordinates propagate null (BinaryExpression default).
  */
abstract class CellIdExpr extends BinaryExpression {
  def level: Int

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (lat: double, lon: double), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  /** Fully-qualified static kernel, e.g. `graft.spatial.S2Cell.encode`. */
  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel($a, $b, $level);")
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
