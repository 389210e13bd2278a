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

  /** The word tokens of a text — `filter(split(lower(trim(text)),
    * "[^\\p{L}\\p{N}]+"), length > 0)` with the primitives that Column
    * pipeline executes: UTF8String.trim/toLowerCase, then the regex split
    * UTF8String.split delegates to (limit -1 keeps the empty parts, which
    * the nonEmpty filter drops). The one tokenizer of the simhash and
    * shingle kernels ([[MinhashKernel.shingles]]). */
  def tokens(text: UTF8String): Array[UTF8String] = {
    val parts = SEP.split(text.trim().toLowerCase.toString, -1)
    val out = new Array[UTF8String](parts.length)
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(n) = UTF8String.fromString(parts(i)); n += 1 }
      i += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def simhash(text: UTF8String): Long = {
    val toks = tokens(text)
    if (toks.isEmpty) return 0L
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val u = toks(i)
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }
}
