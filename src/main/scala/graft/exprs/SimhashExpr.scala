package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a text column in ONE pass — replaces the
  * explode-tokens → xxhash64 → 64-sum aggregation → recombine pipeline of
  * [[graft.ops.Dedup.simhashDF]]: the per-document simhash depends only on
  * that document's tokens, so distributing it as an aggregation pays a
  * corpus-wide exchange (and 64 aggregation buffers per group) for what is
  * a pure projection. Parity contract (pinned by OpsSpec against the HOF
  * form `OpsSpec.simhashHof`):
  *  - tokenization is `filter(split(lower(trim(text)), "[^\\p{L}\\p{N}]+"),
  *    length > 0)` via the SAME primitives the Column pipeline executes
  *    (UTF8String.trim/toLowerCase, then java.util.regex split with
  *    limit -1 — exactly what UTF8String.split delegates to);
  *  - per-token hash is xxhash64 (seed 42) over the token's UTF-8 bytes;
  *  - bit b is set iff strictly more tokens have bit b set than clear;
  *  - zero tokens yields 0L (callers coalesce null input to 0L, matching
  *    the aggregation's sum-of-no-rows → null → 0 chain).
  */
case class SimhashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash needs a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimhashKernel.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.exprs.SimhashKernel.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

object SimhashKernel {

  private val SEP = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  def simhash(text: UTF8String): Long = {
    // lower(trim(text)) with the Column primitives, then the same regex
    // split String.split would run (limit -1 keeps trailing empties; the
    // nonEmpty filter below is the `length > 0` HOF filter)
    val norm = text.trim().toLowerCase
    val parts = SEP.split(norm.toString, -1)
    val votes = new Array[Int](64)
    var i = 0
    var any = false
    while (i < parts.length) {
      val p = parts(i)
      if (p.nonEmpty) {
        any = true
        val u = UTF8String.fromString(p)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return 0L
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }
}
