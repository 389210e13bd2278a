package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression,
  GetStructField, NamedExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tag predicates evaluated DIRECTLY on the spans array — the fusion of
  * `TagLookup(DecodeOsmSpans(spans).tags, key)` into one scan. The decode
  * path materializes the full tags array per row (an ArrayList, a cloned
  * byte buffer, a GenericInternalRow per tag and a GenericArrayData) only
  * for the lookup kernel to scan it once and throw it away; these
  * expressions scan the spans structs in place and allocate nothing until a
  * match's value must be returned. Installed by [[SpanPredicateFuse]], which
  * [[graft.model.OsmView.derive]] registers as an extra optimizer rule — the
  * rewrite only ever sees plans where `tags` provably came from a
  * [[DecodeOsmSpans]] over the spans column, so hot-column and parquet-array
  * reads are untouched.
  *
  * Parity with the decode + [[TagLookup]]/[[TagExists]] chain (pinned by
  * SpanTagExprsSpec): first matching tag span wins (span order = decoded
  * array order); a tag span with no '=' decodes to (text, "") so it matches
  * `key == text` with value ""; a span with a null kind or null text is
  * no tag span;
  * decoded keys/elements are never null, so exists is two-valued; null
  * spans input yields null.
  */
case class TagLookupSpans(child: Expression, key: String) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "tag_lookup_spans"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length >= 2 &&
      fields(0).dataType == StringType && fields(1).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tag_lookup_spans needs the spans array, got ${other.simpleString}")
  }

  private val keyU: UTF8String = UTF8String.fromString(key)

  override def nullSafeEval(input: Any): Any =
    SpanTagKernel.lookup(input.asInstanceOf[ArrayData], keyU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("tagKey", keyU,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.exprs.SpanTagKernel.lookup($c, $keyRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): TagLookupSpans =
    copy(child = newChild)
}

/** Has-key check directly on spans — fusion of
  * `TagExists(DecodeOsmSpans(spans).tags, key)`. Two-valued (decoded keys
  * are never null); null spans input yields null. */
case class TagExistsSpans(child: Expression, key: String) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "tag_exists_spans"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length >= 2 &&
      fields(0).dataType == StringType && fields(1).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tag_exists_spans needs the spans array, got ${other.simpleString}")
  }

  private val keyU: UTF8String = UTF8String.fromString(key)

  override def nullSafeEval(input: Any): Any =
    SpanTagKernel.exists(input.asInstanceOf[ArrayData], keyU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("tagKey", keyU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"graft.exprs.SpanTagKernel.exists($c, $keyRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TagExistsSpans =
    copy(child = newChild)
}

/** Static kernels: scan span structs (kind, text, …) for tag spans whose
  * text is `key=value` (or exactly `key`, decoding to value ""). */
object SpanTagKernel {

  private val K_TAG = UTF8String.fromString("tag")

  /** First matching tag's value (cloned — the input buffer may be reused);
    * null when no tag span carries the key. */
  def lookup(spans: ArrayData, key: UTF8String): UTF8String = {
    val n = spans.numElements()
    val klen = key.numBytes()
    var i = 0
    while (i < n) {
      val span = spans.getStruct(i, 4)
      val kind = span.getUTF8String(0)
      if (kind != null && kind.numBytes() == 3 && kind.getByte(0) == 't' &&
          kind.equals(K_TAG)) {
        val t = span.getUTF8String(1)
        val tlen = if (t == null) -1 else t.numBytes()
        if (tlen == klen) {
          if (t.equals(key)) return UTF8String.EMPTY_UTF8 // "key" with no '='
        } else if (tlen > klen && t.getByte(klen) == '=' &&
            ByteArrayEq.prefixEquals(t, key)) {
          val b = t.clone().getBytes
          return UTF8String.fromBytes(b, klen + 1, tlen - klen - 1)
        }
      }
      i += 1
    }
    null
  }

  /** True iff any tag span carries the key (value presence irrelevant). */
  def exists(spans: ArrayData, key: UTF8String): Boolean = {
    val n = spans.numElements()
    val klen = key.numBytes()
    var i = 0
    while (i < n) {
      val span = spans.getStruct(i, 4)
      val kind = span.getUTF8String(0)
      if (kind != null && kind.numBytes() == 3 && kind.getByte(0) == 't' &&
          kind.equals(K_TAG)) {
        val t = span.getUTF8String(1)
        val tlen = if (t == null) -1 else t.numBytes()
        if ((tlen == klen && t.equals(key)) ||
            (tlen > klen && t.getByte(klen) == '=' && ByteArrayEq.prefixEquals(t, key)))
          return true
      }
      i += 1
    }
    false
  }
}

/** Byte-prefix equality helper ('=' and tag keys are plain bytes; UTF-8
  * continuation bytes can never alias them, so byte comparison is exact). */
object ByteArrayEq {
  def prefixEquals(t: UTF8String, key: UTF8String): Boolean = {
    val n = key.numBytes()
    var i = 0
    while (i < n) {
      if (t.getByte(i) != key.getByte(i)) return false
      i += 1
    }
    true
  }
}

/** Extra optimizer rule: rewrites tag predicates that provably read the
  * tags field of a [[DecodeOsmSpans]] over some spans column into the
  * direct span-scanning kernels above. Registered idempotently via
  * `spark.experimental.extraOptimizations` by [[graft.model.OsmView.derive]],
  * ahead of [[DecodeMerge]]; extra rules run AFTER the main optimizer
  * batches, so the fused expressions are what physical planning sees, and
  * plans that read tags from parquet or hot columns never match the
  * pattern. */
object SpanPredicateFuse extends Rule[LogicalPlan] {
  private val TagsOrdinal = 10 // DecodeOsmSpans.schema field index of `tags`

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // a key containing '=' can never match a decoded tag (the decode splits
    // at the FIRST '='), but WOULD match the raw span text — keep such keys
    // on the decode path so semantics are identical. A decode whose mask
    // lacks FTags yields null tags, which the span kernels would not.
    case TagLookup(GetStructField(DecodeOsmSpans(spans, m), TagsOrdinal, _), k)
        if fusable(m, k) =>
      TagLookupSpans(spans, k)
    case TagExists(GetStructField(DecodeOsmSpans(spans, m), TagsOrdinal, _), k)
        if fusable(m, k) =>
      TagExistsSpans(spans, k)
  }

  private def fusable(mask: Int, key: String): Boolean =
    (mask & SpanDecode.FTags) != 0 && !key.contains('=')
}

/** Extra optimizer rule: one decode per spans column in each projection.
  * [[graft.model.OsmView.derive]] gives every typed column its own
  * single-field [[DecodeOsmSpans]], so column pruning drops the passes a
  * query never reads; a projection that keeps k columns would still scan
  * the spans array k times. Inside each `Project`, every decode over the
  * same child is rewritten to one decode whose mask is the OR of theirs, and
  * subexpression elimination then evaluates it once per row.
  *
  * Filter conditions are left alone: a narrow predicate keeps its early-exit
  * single-field pass. A decode that sits only in a conditional branch (not in
  * `ConditionalExpression.alwaysEvaluatedInputs`) keeps its own mask, since
  * widening it would parse fields for rows the branch never reads, and under
  * ANSI a dirty field can throw. Runs after [[SpanPredicateFuse]]: merging
  * only widens masks, so a tags lookup fused first leaves no `FTags` bit on
  * its sibling decodes. */
object DecodeMerge extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(list, _) =>
      val always = list.flatMap(alwaysEvaluated)
      val masks = always.groupMapReduce(_.child.canonicalized)(_.mask)(_ | _)
      if (always.forall(d => masks(d.child.canonicalized) == d.mask)) p
      else {
        val merge = always.map(_.canonicalized).toSet
        p.copy(projectList = list.map(_.transform {
          case d: DecodeOsmSpans if merge(d.canonicalized) =>
            d.copy(mask = masks(d.child.canonicalized))
        }.asInstanceOf[NamedExpression]))
      }
  }

  /** The decodes evaluated for every row that reaches the expression. */
  private def alwaysEvaluated(e: Expression): Seq[DecodeOsmSpans] = e match {
    case d: DecodeOsmSpans => Seq(d)
    case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(alwaysEvaluated)
    case other => other.children.flatMap(alwaysEvaluated)
  }
}
