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

  /** The typed view: `doc_id`, `spans`, `type`, `seq`, then one column per
    * decoded field. If the physical table already carries `type`/`seq`
    * (partition + order columns), they are reused so partition pruning
    * works; otherwise they are derived.
    *
    * Every typed column is its OWN single-field [[graft.exprs.DecodeOsmSpans]]
    * (mask = that field's bit), so column pruning removes the decode of
    * every column a query never touches, and a filter on `@version >= 2`
    * decodes only `version`, with the kernel's early exit. The two optimizer
    * rules installed here then shape what survives: [[graft.exprs.SpanPredicateFuse]]
    * turns tag lookups over the decoded tags into direct span scans, and
    * [[graft.exprs.DecodeMerge]] folds the decodes one projection keeps into
    * a single decode, so a wide select scans the spans array once per row.
    * Each decode is whole-stage-codegen'd, unlike the HOF reference
    * [[deriveHof]]; CodecSpec pins the two field-for-field. */
  def derive(docs: DataFrame): DataFrame = {
    // fusion first: merging only widens masks, so a merge ahead of it would
    // leave a fused lookup's FTags bit on its sibling decodes
    val exp = docs.sparkSession.experimental
    val rules = Seq(graft.exprs.SpanPredicateFuse, graft.exprs.DecodeMerge)
    exp.synchronized {
      if (!exp.extraOptimizations.containsSlice(rules))
        exp.extraOptimizations = exp.extraOptimizations.filterNot(rules.contains) ++ rules
    }
    val hasType = docs.columns.contains("type")
    val hasSeq = docs.columns.contains("seq")
    def dec(bit: Int): Column = org.apache.spark.sql.GraftBridge.column(
      graft.exprs.DecodeOsmSpans(
        org.apache.spark.sql.GraftBridge.expression(col("spans")), bit))
    val fields = graft.exprs.SpanDecode.fieldBits.collect {
      case (name, bit) if name != "type" => dec(bit).getField(name).as(name)
    }
    docs.select(
      Seq(col("doc_id"), col("spans"),
        (if (hasType) col("type")
         else dec(graft.exprs.SpanDecode.FType).getField("type")).as("type"),
        (if (hasSeq) col("seq") else monotonically_increasing_id()).as("seq")) ++
        fields: _*)
  }

  /** Same as [[derive]]; kept only because the frozen `graft.Bench` calls
    * it. */
  def derivePruned(docs: DataFrame): DataFrame = derive(docs)

  /** The pure-Column HOF reference derivation — ~12 higher-order-function
    * passes over `spans`, each CodegenFallback. Kept ONLY as the
    * independent equivalence oracle for [[derive]] (CodecSpec) and for the
    * expected rows of perfbench's output checks; never use on a hot path. */
  private[graft] def deriveHof(docs: DataFrame): DataFrame = {
    val hasType = docs.columns.contains("type")
    val hasSeq = docs.columns.contains("seq")
    // array spans without their payload (null text, null media_ref) carry
    // no element: they are dropped, as the decode skips them; so are member
    // spans whose text has fewer than two '/'
    def spansOf(kind: String, payload: String = "text"): Column =
      filter(col("spans"), s => s.getField("kind") === kind && s.getField(payload).isNotNull)
    val tagSpans = spansOf("tag")
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
        spansOf("nd"),
        s => s.getField("text").cast("long")).as("nds"),
      transform(
        filter(spansOf("member"), s => size(split(s.getField("text"), "/", 3)) === 3),
        s => {
          val parts = split(s.getField("text"), "/", 3)
          struct(
            element_at(parts, 1).as("mtype"),
            element_at(parts, 2).cast("long").as("ref"),
            element_at(parts, 3).as("role"))
        }).as("members"),
      transform(
        spansOf("media", "media_ref"),
        s => s.getField("media_ref")).as("media_refs"))
  }
}
