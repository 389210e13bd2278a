package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span codec: derives the typed OSM view from the contract docs table with
  * the codegen'd [[graft.exprs.DecodeOsmSpans]] expression (no UDFs, no
  * RDDs). The inverse direction (typed → spans) lives in
  * [[OsmElement.toSpans]] and is used by the fixture generator; round-trip
  * equality is property-tested.
  *
  * Scale note: the derivation is a pure projection, so Catalyst prunes it —
  * a filter that only touches `id` and `tags` decodes only those fields and
  * reads only the spans column. For repeated interactive querying at 100 TB
  * you'd materialize this view once as a typed columnar projection (see
  * [[graft.engine.FilterEngine.materializeView]]) and let parquet column
  * pruning skip the untouched arrays entirely.
  */
object OsmView {

  /** First span text of the given kind (header fields occur exactly once).
    * `get` (0-based) is null-safe under ANSI mode, unlike `element_at` —
    * lat/lon spans are absent on ways/relations. */
  private def spanText(kind: String): Column =
    get(filter(col("spans"), s => s.getField("kind") === kind), lit(0))
      .getField("text")

  /** Single-pass variant of [[derive]]: one custom-Expression traversal of
    * `spans` for all fields (graft.exprs.DecodeOsmSpans). Same
    * output schema and values (equivalence-tested). Use it when ALL fields
    * are needed — full-view materialization runs 1.8× faster. For in-flight
    * FILTERS prefer [[derivePruned]] (what [[derive]] now delegates to):
    * its per-field masked decodes let Catalyst drop whole passes for
    * untouched fields AND stay codegen'd (~12× the HOF [[deriveHof]] path
    * on the bench suite); [[deriveHof]] remains the pure-Column reference
    * the decoders are equivalence-tested against.
    * The struct is
    * materialized once per row in an inner projection; the outer projection
    * extracts fields (CollapseProject keeps the expensive alias
    * un-duplicated — pinned by test). */
  def deriveFast(docs: DataFrame): DataFrame = {
    val hasType = docs.columns.contains("type")
    val hasSeq = docs.columns.contains("seq")
    val decoded = org.apache.spark.sql.GraftBridge.column(
      graft.exprs.DecodeOsmSpans(
        org.apache.spark.sql.GraftBridge.expression(col("spans"))))
    val base = docs.select(
      col("doc_id"), col("spans"),
      (if (hasType) col("type") else decoded.getField("type")).as("type"),
      (if (hasSeq) col("seq") else monotonically_increasing_id()).as("seq"),
      decoded.as("__osm"))
    val fields = Seq("id", "version", "visible", "changeset", "uid", "user",
      "timestamp", "lat", "lon", "tags", "nds", "members", "media_refs")
    base.select(
      Seq(col("doc_id"), col("spans"), col("type"), col("seq")) ++
        fields.map(f => col("__osm").getField(f).as(f)): _*)
  }

  /** Pruned-decode view: every typed column is its OWN single-field
    * [[graft.exprs.DecodeOsmSpans]] pass (mask = that field's bit), so
    * Catalyst column pruning removes whole decode passes for columns a query
    * never touches — a filter on `@version >= 2` decodes only `version`.
    * Each pass is whole-stage-codegen'd (static-call `doGenCode`), unlike
    * the HOF reference [[deriveHof]] whose per-field array lambdas are
    * CodegenFallback. A predicate touching k fields pays k tight linear
    * scans of the spans array; for the narrow predicates filters actually
    * use, that beats one full-decode pass ([[deriveFast]], which parses all
    * 14 fields including tag/member string splits). This is the in-flight
    * filter path ([[graft.engine.FilterEngine.filter]]); materialization
    * wants [[deriveFast]]. */
  def derivePruned(docs: DataFrame): DataFrame = {
    // fuse tag predicates over this view's decoded tags into direct span
    // scans (graft.exprs.SpanPredicateFuse scaladoc) — idempotent, and only
    // plans whose tags provably come from DecodeOsmSpans are rewritten
    val exp = docs.sparkSession.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(graft.exprs.SpanPredicateFuse))
        exp.extraOptimizations = exp.extraOptimizations :+ graft.exprs.SpanPredicateFuse
    }
    val hasType = docs.columns.contains("type")
    val hasSeq = docs.columns.contains("seq")
    def dec(bit: Int): Column = org.apache.spark.sql.GraftBridge.column(
      graft.exprs.DecodeOsmSpans(
        org.apache.spark.sql.GraftBridge.expression(col("spans")), bit))
    def f(name: String, bit: Int): Column = dec(bit).getField(name).as(name)
    val fields = graft.exprs.SpanDecode.fieldBits.collect {
      case (name, bit) if name != "type" => f(name, bit)
    }
    docs.select(
      Seq(col("doc_id"), col("spans"),
        (if (hasType) col("type")
         else dec(graft.exprs.SpanDecode.FType).getField("type")).as("type"),
        (if (hasSeq) col("seq") else monotonically_increasing_id()).as("seq")) ++
        fields: _*)
  }

  /** Typed view columns derived from `spans`. If the physical table already
    * carries `type`/`seq` (partition + order columns), they are reused so
    * partition pruning works; otherwise they are derived.
    *
    * Since round 6 this IS the pruned codegen'd decode ([[derivePruned]]):
    * the general-purpose view must not pay the ~12-pass CodegenFallback HOF
    * derivation (kept below as [[deriveHof]], the equivalence oracle) —
    * measured ~20× on the bench filter suite (spans_decode 89 s → ~4 s),
    * because each consumer's untouched fields prune to zero decode passes
    * and the remaining passes stay inside whole-stage codegen. Output
    * schema and values are identical (CodecSpec pins both decoders against
    * [[deriveHof]] field-for-field and against the generator's element
    * list). */
  def derive(docs: DataFrame): DataFrame = derivePruned(docs)

  /** The pure-Column HOF reference derivation — ~12 higher-order-function
    * passes over `spans`, each CodegenFallback. Kept ONLY as the
    * independent equivalence oracle for the codegen'd decoders
    * ([[deriveFast]]/[[derivePruned]], CodecSpec) and for the expected
    * rows of perfbench's output checks; never use on a hot path. */
  private[graft] def deriveHof(docs: DataFrame): DataFrame = {
    val hasType = docs.columns.contains("type")
    val hasSeq = docs.columns.contains("seq")
    val tagSpans = filter(col("spans"), s => s.getField("kind") === "tag")
    val tagStruct = (s: Column) => {
      val t = s.getField("text")
      val key = substring_index(t, "=", 1)
      struct(
        key.as("key"),
        t.substr(length(key) + lit(2), length(t)).as("value"))
    }
    docs.select(
      col("doc_id"),
      col("spans"),
      (if (hasType) col("type") else spanText("type")).as("type"),
      (if (hasSeq) col("seq") else monotonically_increasing_id()).as("seq"),
      spanText("id").cast("long").as("id"),
      spanText("version").cast("long").as("version"),
      (spanText("visible") === "true").as("visible"),
      spanText("changeset").cast("long").as("changeset"),
      spanText("uid").cast("long").as("uid"),
      spanText("user").as("user"),
      spanText("timestamp").as("timestamp"),
      (spanText("lat").cast("long") / 1e7).as("lat"),
      (spanText("lon").cast("long") / 1e7).as("lon"),
      transform(tagSpans, tagStruct).as("tags"),
      transform(
        filter(col("spans"), s => s.getField("kind") === "nd"),
        s => s.getField("text").cast("long")).as("nds"),
      transform(
        filter(col("spans"), s => s.getField("kind") === "member"),
        s => {
          val parts = split(s.getField("text"), "/", 3)
          struct(
            element_at(parts, 1).as("mtype"),
            element_at(parts, 2).cast("long").as("ref"),
            element_at(parts, 3).as("role"))
        }).as("members"),
      transform(
        filter(col("spans"), s => s.getField("kind") === "media"),
        s => s.getField("media_ref")).as("media_refs"))
  }
}
