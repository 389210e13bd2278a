package graft.exprs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, UTF8StringUtils}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Span decoder: spans array → the typed OSM struct in ONE traversal, with
  * a field `mask` so a decode that needs only a few fields skips the parse
  * work for the rest. The pure-Column reference derivation
  * ([[graft.model.OsmView.deriveHof]], the test oracle) needs ~12
  * higher-order-function passes over the same array (one per field), each
  * of them CodegenFallback; this expression is whole-stage-codegen capable:
  * `doGenCode` emits a static call into [[SpanDecode.decode]], keeping the
  * surrounding filter/project pipeline fused (no fallback glue, no
  * InternalRow conversion boundary).
  *
  * Unset mask bits leave their field null/empty — callers must only read the
  * fields they asked for. [[graft.model.OsmView.derive]] builds one
  * single-field decode per column, so Catalyst column pruning drops whole
  * passes, and [[DecodeMerge]] folds the decodes a projection keeps into
  * one. Semantics per field are identical to the HOF derivation (absent
  * header span or null header text ⇒ null; a span with a null kind, a
  * tag/nd/member span with null text, a member span whose text has fewer
  * than two '/' and a media span with a null `media_ref` are skipped, so
  * array elements are never null) and equivalence is tested against it.
  */
case class DecodeOsmSpans(child: Expression, mask: Int = SpanDecode.AllFields)
  extends UnaryExpression {

  override def dataType: DataType = DecodeOsmSpans.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "decode_osm_spans"

  override protected def withNewChildInternal(newChild: Expression): DecodeOsmSpans =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SpanDecode.decode(input.asInstanceOf[ArrayData], mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.SpanDecode.decode($c, $mask);")
}

object DecodeOsmSpans {
  val schema: StructType = StructType(Seq(
    StructField("type", StringType, nullable = true),
    StructField("id", LongType, nullable = true),
    StructField("version", LongType, nullable = true),
    StructField("visible", BooleanType, nullable = true),
    StructField("changeset", LongType, nullable = true),
    StructField("uid", LongType, nullable = true),
    StructField("user", StringType, nullable = true),
    StructField("timestamp", StringType, nullable = true),
    StructField("lat", DoubleType, nullable = true),
    StructField("lon", DoubleType, nullable = true),
    StructField("tags", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))), containsNull = false)),
    StructField("nds", ArrayType(LongType, containsNull = false)),
    StructField("members", ArrayType(StructType(Seq(
      StructField("mtype", StringType, nullable = false),
      StructField("ref", LongType, nullable = false),
      StructField("role", StringType, nullable = false))), containsNull = false)),
    StructField("media_refs", ArrayType(StringType, containsNull = false))))
}

/** The decode kernel, kept in a top-level object so scalac emits a static
  * forwarder (`graft.exprs.SpanDecode.decode(...)`) that generated Java can
  * call directly. Kind dispatch compares UTF8Strings against interned
  * constants (first-byte switch, then memcmp) — no per-span String
  * allocation; field text is materialized only for fields the mask asks for.
  */
object SpanDecode {

  // one bit per output field, in schema ordinal order
  final val FType = 1 << 0
  final val FId = 1 << 1
  final val FVersion = 1 << 2
  final val FVisible = 1 << 3
  final val FChangeset = 1 << 4
  final val FUid = 1 << 5
  final val FUser = 1 << 6
  final val FTimestamp = 1 << 7
  final val FLat = 1 << 8
  final val FLon = 1 << 9
  final val FTags = 1 << 10
  final val FNds = 1 << 11
  final val FMembers = 1 << 12
  final val FMediaRefs = 1 << 13
  final val AllFields: Int = (1 << 14) - 1

  /** view column name → mask bit (ordinal order matches the schema). */
  val fieldBits: Seq[(String, Int)] = Seq(
    "type" -> FType, "id" -> FId, "version" -> FVersion, "visible" -> FVisible,
    "changeset" -> FChangeset, "uid" -> FUid, "user" -> FUser,
    "timestamp" -> FTimestamp, "lat" -> FLat, "lon" -> FLon, "tags" -> FTags,
    "nds" -> FNds, "members" -> FMembers, "media_refs" -> FMediaRefs)

  private val K_TAG = UTF8String.fromString("tag")
  private val K_TYPE = UTF8String.fromString("type")
  private val K_TIMESTAMP = UTF8String.fromString("timestamp")
  private val K_ND = UTF8String.fromString("nd")
  private val K_MEMBER = UTF8String.fromString("member")
  private val K_MEDIA = UTF8String.fromString("media")
  private val K_ID = UTF8String.fromString("id")
  private val K_VERSION = UTF8String.fromString("version")
  private val K_VISIBLE = UTF8String.fromString("visible")
  private val K_CHANGESET = UTF8String.fromString("changeset")
  private val K_UID = UTF8String.fromString("uid")
  private val K_USER = UTF8String.fromString("user")
  private val K_LAT = UTF8String.fromString("lat")
  private val K_LON = UTF8String.fromString("lon")
  private val TRUE = UTF8String.fromString("true")

  private final val ArrayFields = FTags | FNds | FMembers | FMediaRefs

  def decode(spans: ArrayData, mask: Int): InternalRow = {
    val n = spans.numElements()
    var typ: UTF8String = null
    var id: Any = null; var version: Any = null
    var changeset: Any = null; var uid: Any = null
    var visible: Any = null
    var user: UTF8String = null
    var ts: UTF8String = null
    var lat: Any = null; var lon: Any = null
    val tags = if ((mask & FTags) != 0) new java.util.ArrayList[AnyRef]() else null
    val nds = if ((mask & FNds) != 0) new java.util.ArrayList[AnyRef]() else null
    val members = if ((mask & FMembers) != 0) new java.util.ArrayList[AnyRef]() else null
    val media = if ((mask & FMediaRefs) != 0) new java.util.ArrayList[AnyRef]() else null

    // Early exit: header fields occur at most once, so once every requested
    // SCALAR field has been seen there is nothing left to find — a mask with
    // no array bits (a single-field header decode) stops scanning instead of
    // walking the tag/nd/member tail. Order-independent: the exit fires only
    // on found fields, never on an assumed layout. `want` holds the header
    // fields requested and not yet seen, so on duplicate header spans the
    // FIRST one wins, even when its text is null — the HOF reference's
    // get(filter(...), 0) semantics.
    val scalarOnly = (mask & ArrayFields) == 0
    var want = mask & ~ArrayFields

    var i = 0
    while (i < n && !(scalarOnly && want == 0)) {
      val span = spans.getStruct(i, 4)
      val kind = span.getUTF8String(0)
      // a null kind matches no kind (the HOF reference's `kind === x` is
      // null there, and its filter drops the span): it falls to `case _`
      val b0: Int =
        if (kind != null && kind.numBytes() > 0) kind.getByte(0).toInt else 0
      b0 match {
        case 't' => // tag | type | timestamp
          if (kind.equals(K_TAG)) {
            val t0 = if (tags != null) span.getUTF8String(1) else null
            if (t0 != null) {
              // clone once (the input buffer may be reused), then split the
              // byte array in place: '=' is single-byte in UTF-8, so a byte
              // scan is exact and no String decode/encode round-trip is paid
              val t = t0.clone()
              val b = t.getBytes
              val nb = b.length
              var eq = 0
              while (eq < nb && b(eq) != '=') eq += 1
              if (eq >= nb)
                tags.add(new GenericInternalRow(Array[Any](t, UTF8String.EMPTY_UTF8)))
              else
                tags.add(new GenericInternalRow(Array[Any](
                  UTF8String.fromBytes(b, 0, eq),
                  UTF8String.fromBytes(b, eq + 1, nb - eq - 1))))
            }
          } else if (kind.equals(K_TYPE)) {
            if ((want & FType) != 0) { typ = text(span); want &= ~FType }
          } else if (kind.equals(K_TIMESTAMP)) {
            if ((want & FTimestamp) != 0) { ts = text(span); want &= ~FTimestamp }
          }
        case 'n' => // nd
          if (kind.equals(K_ND) && nds != null) {
            val t = span.getUTF8String(1)
            if (t != null) nds.add(java.lang.Long.valueOf(parseLong(t)))
          }
        case 'm' => // member | media
          if (kind.equals(K_MEMBER)) {
            val t = if (members != null) span.getUTF8String(1) else null
            if (t != null) {
              val b = t.clone().getBytes
              val nb = b.length
              var a = 0
              while (a < nb && b(a) != '/') a += 1
              var c = a + 1
              while (c < nb && b(c) != '/') c += 1
              // text without two '/' carries no (mtype, ref, role): skipped
              if (c < nb)
                members.add(new GenericInternalRow(Array[Any](
                  UTF8String.fromBytes(b, 0, a),
                  parseLong(UTF8String.fromBytes(b, a + 1, c - a - 1)),
                  UTF8String.fromBytes(b, c + 1, nb - c - 1))))
            }
          } else if (kind.equals(K_MEDIA)) {
            // copy: the input row buffer may be reused by the upstream iterator
            val r = if (media != null) span.getUTF8String(2) else null
            if (r != null) media.add(r.clone())
          }
        case 'i' =>
          if (kind.equals(K_ID) && (want & FId) != 0) { id = long(span); want &= ~FId }
        case 'v' => // version | visible
          if (kind.equals(K_VERSION)) {
            if ((want & FVersion) != 0) { version = long(span); want &= ~FVersion }
          } else if (kind.equals(K_VISIBLE)) {
            if ((want & FVisible) != 0) {
              val t = span.getUTF8String(1)
              visible = if (t == null) null else t.equals(TRUE)
              want &= ~FVisible
            }
          }
        case 'c' =>
          if (kind.equals(K_CHANGESET) && (want & FChangeset) != 0) {
            changeset = long(span); want &= ~FChangeset
          }
        case 'u' => // uid | user
          if (kind.equals(K_UID)) {
            if ((want & FUid) != 0) { uid = long(span); want &= ~FUid }
          } else if (kind.equals(K_USER)) {
            if ((want & FUser) != 0) { user = text(span); want &= ~FUser }
          }
        case 'l' => // lat | lon
          if (kind.equals(K_LAT)) {
            if ((want & FLat) != 0) { lat = degrees(span); want &= ~FLat }
          } else if (kind.equals(K_LON)) {
            if ((want & FLon) != 0) { lon = degrees(span); want &= ~FLon }
          }
        case _ => // unknown span kinds pass through untouched
      }
      i += 1
    }

    new GenericInternalRow(Array[Any](
      typ, id, version, visible, changeset, uid, user, ts, lat, lon,
      if (tags == null) null else new GenericArrayData(tags.toArray()),
      if (nds == null) null else new GenericArrayData(nds.toArray()),
      if (members == null) null else new GenericArrayData(members.toArray()),
      if (media == null) null else new GenericArrayData(media.toArray())))
  }

  /** Numeric span text → long with the parse an ANSI `cast(text as
    * bigint)` runs, so non-numeric text fails with the HOF derivation's
    * error (CAST_INVALID_INPUT), not a bare NumberFormatException. */
  private def parseLong(t: UTF8String): Long = UTF8StringUtils.toLongExact(t, null)

  // Header text readers: null text decodes to null, like the HOF
  // reference's cast of a null string.

  /** Header text, cloned (the input buffer may be reused). */
  private def text(span: InternalRow): UTF8String = {
    val t = span.getUTF8String(1)
    if (t == null) null else t.clone()
  }

  private def long(span: InternalRow): Any = {
    val t = span.getUTF8String(1)
    if (t == null) null else parseLong(t)
  }

  /** lat/lon text is fixed-point degrees × 1e7. */
  private def degrees(span: InternalRow): Any = {
    val t = span.getUTF8String(1)
    if (t == null) null else parseLong(t) / 1e7
  }
}
