package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a text in ONE pass — the shingle stage
  * of [[graft.ops.Dedup.minhashDupPairs]] and
  * [[graft.ops.Dedup.jaccardDupPairs]]. The Column form it replaced
  * (OpsSpec's `shinglesHof`) sat its token expression inside a `transform`
  * lambda, so the split ran again at every n-gram position: O(tokens²) per
  * document. Parity contract (pinned by OpsSpec against that form):
  *  - tokens are [[SimhashKernel.tokens]], the simhash tokenizer;
  *  - a shingle is n consecutive tokens joined by one ' ' (concat_ws);
  *  - shingles are distinct, in first-occurrence order (array_distinct);
  *  - fewer than n tokens yield the one joined shingle of all of them, no
  *    tokens an empty array, null text null.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"need n >= 1, got n=$n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles needs a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.exprs.MinhashKernel.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** MinHash signature of a shingle set: slot i is the minimum over the
  * shingles of `xxhash64(shingle, i)` — the value OpsSpec's
  * `minhashSignatureHof` computes with `numHashes` interpreted
  * `array_min(transform(...))` passes. xxhash64 of (string, int) chains the
  * seed, `XXH64.hashInt(i, XXH64.hashUnsafeBytes(shingle, 42))`, so the
  * kernel hashes each shingle's bytes once and then mixes in each slot
  * index. An empty set gives `Long.MaxValue` in every slot, a null set a
  * null signature (the Column form's slots are all null there; the band
  * keys of [[graft.ops.Dedup.minhashDupPairs]] are equal either way, since
  * concat_ws skips nulls).
  */
case class MinhashSignature(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1, s"need numHashes >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.exprs.MinhashKernel.signature($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** Static shingle and signature kernels (top-level object → static
  * forwarders callable from generated Java). */
object MinhashKernel {

  private val Space = UTF8String.fromString(" ")

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = SimhashKernel.tokens(text)
    if (toks.length < n)
      return new GenericArrayData(
        if (toks.isEmpty) Array.empty[Any] else Array[Any](UTF8String.concatWs(Space, toks: _*)))
    val m = toks.length - n + 1
    val out = new Array[Any](m)
    var k = 0
    val seen = new java.util.HashSet[UTF8String](2 * m)
    var i = 0
    while (i < m) {
      val s = UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(toks, i, i + n): _*)
      if (seen.add(s)) { out(k) = s; k += 1 }
      i += 1
    }
    new GenericArrayData(if (k == m) out else out.take(k))
  }

  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < shingles.numElements()) {
      // xxhash64 skips a null argument, so a null shingle hashes as the seed
      val h = if (shingles.isNullAt(j)) 42L else {
        val s = shingles.getUTF8String(j)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      }
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashInt(i, h)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}
