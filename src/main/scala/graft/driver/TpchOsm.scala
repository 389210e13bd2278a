package graft.driver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic OSM-docs derivation from the driver-provided `orders`
  * table, used by the DuckDB-checked correctness queries: every field is
  * pure integer arithmetic on `o_orderkey` (k) so an ANSI-SQL oracle can
  * re-derive the exact same values. The derivation builds REAL span arrays
  * (contract shape) which the engine's span codec then decodes — each
  * correctness query exercises the full spans → typed view → OFL compile →
  * filter pipeline.
  *
  * Derivation (mirrored in SparkEntry.oracleSql):
  *   t=k%20: <14 node, <19 way, else relation
  *   id   = -k when k%97=0 else k          (uint64-wrap coverage)
  *   version = k%9+1;  visible = (k%50 != 7);  changeset = k%1000
  *   uid = o_custkey;  user = o_orderpriority
  *   latE7 = (k*7919)%17000*100000 - 850000000   (nodes; lat = latE7/1e7)
  *   lonE7 = (k*104729)%36000*100000 - 1800000000
  *   tags: status=o_orderstatus; priority=o_orderpriority;
  *     +highway=HW[k%7] when k%3=0; +name='Order '||k%100 when k%4=0;
  *     +oneway=yes/no (k%10=0) when k%5=0; +addr:housenumber=k%250 when k%11=0
  *   nds (ways): j=1..k%5+2 → (k+j*11)%1000; +first again when k%3=0 (closed)
  *   members (relations): j=1..k%4+1 → (MT[(k+j)%3], (k+j*13)%500, RO[(k+j)%4])
  *   media: media://k%1000 when k%8=0
  */
object TpchOsm {

  val HW: Seq[String] = Seq("residential", "primary", "secondary",
    "primary_link", "secondary_link", "motorway", "service")
  val MT: Seq[String] = Seq("node", "way", "relation")
  val RO: Seq[String] = Seq("outer", "inner", "", "stop")
  val TS = "2020-01-01T00:00:00Z"

  private val spanType = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

  private def span(kind: String, text: Column): Column =
    struct(lit(kind).as("kind"), text.cast("string").as("text"),
      lit("").as("media_ref"), lit(0).as("offset"))

  private def mediaSpan(ref: Column): Column =
    struct(lit("media").as("kind"), lit("").as("text"),
      ref.cast("string").as("media_ref"), lit(0).as("offset"))

  private def emptySpans: Column = array().cast(spanType)

  private def one(s: Column): Column = array(s).cast(spanType)

  def docs(spark: SparkSession, sfDir: String): DataFrame = {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val k = col("o_orderkey")
    val t = k % 20
    val typ = when(t < 14, lit("node")).when(t < 19, lit("way")).otherwise(lit("relation"))
    val id = when(k % 97 === 0, -k).otherwise(k)
    val version = k % 9 + 1
    val visible = k % 50 =!= 7
    val changeset = k % 1000
    val latE7 = (k * 7919) % 17000 * 100000L - 850000000L
    val lonE7 = (k * 104729) % 36000 * 100000L - 1800000000L
    val hwArr = array(HW.map(lit): _*)
    val mtArr = array(MT.map(lit): _*)
    val roArr = array(RO.map(lit): _*)

    val base = array(
      span("type", typ),
      span("id", id),
      span("version", version),
      span("visible", when(visible, lit("true")).otherwise(lit("false"))),
      span("changeset", changeset),
      span("uid", col("o_custkey")),
      span("user", col("o_orderpriority")),
      span("timestamp", lit(TS))).cast(spanType)

    val latlon = when(typ === "node",
      array(span("lat", latE7), span("lon", lonE7)).cast(spanType))
      .otherwise(emptySpans)

    val tags = concat(
      array(
        span("tag", concat(lit("status="), col("o_orderstatus"))),
        span("tag", concat(lit("priority="), col("o_orderpriority")))).cast(spanType),
      when(k % 3 === 0,
        one(span("tag", concat(lit("highway="), get(hwArr, (k % 7).cast("int"))))))
        .otherwise(emptySpans),
      when(k % 4 === 0,
        one(span("tag", concat(lit("name=Order "), (k % 100).cast("string")))))
        .otherwise(emptySpans),
      when(k % 5 === 0,
        one(span("tag", when(k % 10 === 0, lit("oneway=yes")).otherwise(lit("oneway=no")))))
        .otherwise(emptySpans),
      when(k % 11 === 0,
        one(span("tag", concat(lit("addr:housenumber="), (k % 250).cast("string")))))
        .otherwise(emptySpans))

    val nds = when(typ === "way", concat(
      transform(sequence(lit(1L), k % 5 + 2), j => span("nd", (k + j * 11) % 1000))
        .cast(spanType),
      when(k % 3 === 0, one(span("nd", (k + 11) % 1000))).otherwise(emptySpans)))
      .otherwise(emptySpans)

    val members = when(typ === "relation",
      transform(sequence(lit(1L), k % 4 + 1), j =>
        span("member", concat(
          get(mtArr, ((k + j) % 3).cast("int")), lit("/"),
          ((k + j * 13) % 500).cast("string"), lit("/"),
          get(roArr, ((k + j) % 4).cast("int"))))).cast(spanType))
      .otherwise(emptySpans)

    val media = when(k % 8 === 0,
      one(mediaSpan(concat(lit("media://"), (k % 1000).cast("string")))))
      .otherwise(emptySpans)

    o.select(
      concat(substring(typ, 1, 1), id.cast("string")).as("doc_id"),
      concat(base, latlon, tags, nds, members, media).as("spans"),
      typ.as("type"),
      k.as("seq"))
  }

  /** Typed view over the derivation — full span-codec round trip, through
    * the engine's one decode path ([[graft.model.OsmView.derive]]) so the
    * DuckDB oracles attest the codegen'd decode, not just the HOF reference
    * derivation (the two are equivalence-tested in CodecSpec). */
  def view(spark: SparkSession, sfDir: String): DataFrame =
    graft.model.OsmView.derive(docs(spark, sfDir))
}
