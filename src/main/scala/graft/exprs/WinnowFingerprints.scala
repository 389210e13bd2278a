package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd winnowed document fingerprints (MOSS, Schleimer/Wilkerson/Aiken
  * 2003): normalize → hash every k-char gram → keep each w-window's minimum
  * hash → distinct. Replaces the HOF pipeline WinnowKernelSpec keeps as
  * its test oracle, whose
  * nested transform/slice/array_min tree is quadratic per row AND gets
  * re-inlined by the optimizer under Generate/join plans — measured 315 s to
  * explode 340 documents' fingerprints at sf0.01. This kernel is a single
  * O(chars + grams) pass per row (monotonic-deque sliding min — the rolling
  * structure a columnar HOF cannot express), stays inside whole-stage
  * codegen, and is immune to projection collapse because the whole
  * computation is one leaf call.
  *
  * Exact-parity contract with the HOF form (pinned by WinnowKernelSpec and
  * OpsSpec's driver-side reference):
  *  - normalization is `lower(regexp_replace(trim(text), "\\s+", " "))` with
  *    the SAME primitives Spark's Column functions use: UTF8String.trim
  *    (ASCII space), java.util.regex on the trimmed string, and
  *    UTF8String.toLowerCase (what `Lower` executes under the default
  *    UTF8_BINARY collation);
  *  - gram indexing is code-point based (Spark `substring` semantics);
  *  - per-gram hash is xxhash64(seed 42) over the gram's UTF-8 bytes —
  *    hashed in place from the normalized string, no per-gram allocation;
  *  - docs shorter than k code points yield the whole-text hash;
  *  - distinct preserves first-occurrence order (array_distinct).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  require(k >= 2 && w >= 1, s"need k >= 2 and w >= 1, got k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_fingerprints"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints needs a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    WinnowKernel.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.exprs.WinnowKernel.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Static winnowing kernel (top-level object → static forwarder callable from
  * generated Java). One pass: code-point offsets, in-place gram hashing, and
  * a monotonic deque for the sliding window minimum. */
object WinnowKernel {

  private val WS = java.util.regex.Pattern.compile("\\s+")
  private final val OFF = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** `lower(regexp_replace(trim(text), "\\s+", " "))` via the same primitives
    * the Column pipeline executes. */
  def normalize(text: UTF8String): UTF8String = {
    val trimmed = text.trim()
    val collapsed = WS.matcher(trimmed.toString).replaceAll(" ")
    UTF8String.fromString(collapsed).toLowerCase
  }

  /** ASCII fast path for [[normalize]]: trim ' ' (what UTF8String.trim
    * trims), collapse `\s` runs ([ \t\n\x0B\f\r] — the Java regex class is
    * ASCII-only) to one ' ', lowercase A-Z — one byte pass, zero String
    * materializations, and byte positions ARE code points so the winnower
    * skips offset bookkeeping too. Returns null when any non-ASCII byte is
    * seen (caller falls back to [[normalize]]); equivalence on ASCII input
    * is exact: Unicode lowercasing and `\s` agree with the byte forms
    * there. */
  private def normalizeAscii(text: UTF8String): (Array[Byte], Int) = {
    val nb = text.numBytes()
    var s = 0
    while (s < nb && text.getByte(s) == ' ') s += 1
    var e = nb
    while (e > s && text.getByte(e - 1) == ' ') e -= 1
    val out = new Array[Byte](e - s)
    var m = 0
    var i = s
    var inWs = false
    while (i < e) {
      val b = text.getByte(i)
      if ((b & 0x80) != 0) return null // non-ASCII: caller uses the slow path
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (ws) {
        if (!inWs) { out(m) = ' '; m += 1; inWs = true }
      } else {
        out(m) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        m += 1
        inWs = false
      }
      i += 1
    }
    (out, m)
  }

  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val fast = normalizeAscii(text)
    if (fast != null) {
      val (buf, n) = fast
      if (n < k)
        return UnsafeArrayData.fromPrimitiveArray(
          Array(XXH64.hashUnsafeBytes(buf, OFF, n, 42L)))
      val m = n - k + 1
      val grams = new Array[Long](m)
      var i = 0
      while (i < m) {
        grams(i) = XXH64.hashUnsafeBytes(buf, OFF + i, k, 42L)
        i += 1
      }
      return winnowGrams(grams, w)
    }

    val norm = normalize(text)
    val base = norm.getBaseObject
    val off = norm.getBaseOffset
    val nBytes = norm.numBytes()

    // code-point byte offsets: offsets(i) = byte position of code point i
    var cap = 16
    var offsets = new Array[Int](cap)
    var n = 0
    var pos = 0
    while (pos < nBytes) {
      if (n == cap) { cap *= 2; offsets = java.util.Arrays.copyOf(offsets, cap) }
      offsets(n) = pos
      n += 1
      pos += UTF8String.numBytesForFirstByte(norm.getByte(pos))
    }

    if (n < k) // short doc: the whole-text hash (substring(norm, 1, k) == norm)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUnsafeBytes(base, off, nBytes, 42L)))

    val m = n - k + 1 // gram count
    def gramEnd(i: Int): Int = if (i + k < n) offsets(i + k) else nBytes
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      grams(i) = XXH64.hashUnsafeBytes(
        base, off + offsets(i), gramEnd(i) - offsets(i), 42L)
      i += 1
    }
    winnowGrams(grams, w)
  }

  /** Sliding minimum over windows of w grams (single window of all m when
    * m < w), distinct preserving first-occurrence order — shared by the
    * ASCII and Unicode paths. */
  private def winnowGrams(grams: Array[Long], w: Int): ArrayData = {
    val m = grams.length
    val out = new Array[Long](math.max(m - w + 1, 1))
    var outN = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    def emit(v: Long): Unit = if (seen.add(v)) { out(outN) = v; outN += 1 }
    var i = 0
    if (m < w) {
      var mn = grams(0); i = 1
      while (i < m) { if (grams(i) < mn) mn = grams(i); i += 1 }
      emit(mn)
    } else {
      val deque = new Array[Int](m) // indices, increasing gram values
      var head = 0; var tail = 0 // [head, tail)
      i = 0
      while (i < m) {
        while (tail > head && grams(deque(tail - 1)) >= grams(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) emit(grams(deque(head)))
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, outN))
  }
}
