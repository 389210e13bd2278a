package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.Compiler
import graft.model.OsmView
import graft.ofl.{EntityBits, Expr, OflTypeException, Parser, Pretty}

/** Hot tag keys materialized as top-level view columns (`t_<key>`, first
  * matching value, null when the key is absent) so equality/regex/has-key
  * filters on them reach the parquet scan as pushed predicates. The `tags`
  * array cannot benefit from row-group statistics — a `highway == x` filter
  * over 100 TB otherwise decodes every tags array; with the projection,
  * min/max + null-count stats skip row groups where the key never occurs.
  *
  * The key list is DERIVED FROM THE DATA at [[FilterEngine.materializeView]]
  * time (top-10 by key frequency — a corpus whose hot keys differ from OSM's
  * gets ITS hot keys projected, not a stale static list), and each hot
  * column carries its source key in column METADATA (`graft_hot_key`) —
  * persisted in the parquet footer's Spark schema, so [[forSchema]] reads
  * the mapping back from the view itself with no side file to lose or
  * drift. */
object HotTags {
  /** Metadata key carrying the source tag key on a hot view column. */
  val MetaKey = "graft_hot_key"

  def colName(key: String): String = "t_" + key.replaceAll("[^A-Za-z0-9]", "_")

  /** The materialization expression — the compiler's cold-path tag read
    * [[Compiler.tagLookup]] itself (codegen'd first match, null when
    * absent), so hot and cold reads are equal by construction. The
    * never-null-tag-VALUE invariant the hot compile shape relies on
    * (IsNotNull ⟺ key present) holds because the view's tags come from
    * [[graft.exprs.DecodeOsmSpans]], whose tag values are never null (a tag
    * with no '=' decodes to value ""). */
  def projection(key: String): Column = Compiler.tagLookup(key)

  /** Hot keys a view projects. */
  private val KeyCount = 10

  /** Top-10 tag keys by frequency in `view` (count desc, key asc for
    * determinism), deduped on the sanitized column name (two keys that
    * sanitize identically keep the more frequent one) — the derivation
    * [[FilterEngine.materializeView]] projects. One aggregation job over
    * the tags column; at 100 TB you'd run it on a row sample, which only
    * has to get the top-10 SET right, not exact counts. */
  def deriveKeys(view: DataFrame): Seq[String] = {
    // explode KEYS only (not the (key, value) structs): the shuffle ships
    // one short string per tag, and map-side partial aggregation collapses
    // it to (distinct keys × partitions) rows before the exchange
    val top = view
      .select(explode(transform(col("tags"), t => t.getField("key"))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key")).limit(KeyCount * 2)
      .collect().map(_.getString(0))
    top.foldLeft(Vector.empty[String]) { (acc, k) =>
      if (acc.size < KeyCount && !acc.exists(colName(_) == colName(k))) acc :+ k
      else acc
    }
  }

  /** key → column map read back from the view's schema: only
    * metadata-tagged columns count (a bare `t_<key>` column is just a
    * column), so a view with no tagged columns compiles cold-path. */
  def forSchema(schema: org.apache.spark.sql.types.StructType): Map[String, String] =
    schema.fields.iterator
      .filter(f => f.metadata.contains(MetaKey))
      .map(f => f.metadata.getString(MetaKey) -> f.name).toMap
}

/** The query lifecycle (SURVEY.md §3): parse → analyze (entity bits +
  * never-match abort) → compile → Catalyst. The reference's single-threaded
  * scan loop (main.cpp:182-199) becomes a declarative
  * `docs.filter(predicate)`; everything downstream (partition pruning,
  * vectorized parquet scan, whole-stage codegen, task parallelism) is stock
  * Catalyst/Tungsten.
  */
object FilterEngine {

  final case class Query(source: String, ast: Expr) {
    def entities: Int = EntityBits.entities(ast)
    def neverMatches: Boolean = entities == EntityBits.Nothing

    /** `-v` output: golden tree + entity mask line (main.cpp:118-134). */
    def explain: String =
      Pretty.print(ast) + "entities:" +
        EntityBits.names(entities).map(" " + _).mkString + "\n"
  }

  /** Parse + analyze — the `-n` dry-run surface (main.cpp:136-139).
    * `sugar` opts into the v2 extended syntax (see [[Parser.parse]]);
    * default off preserves reference grammar parity. */
  def parse(expression: String, sugar: Boolean = false): Query =
    Query(expression, Parser.parse(expression, sugar))

  /** Read a JSON-lines docs stream — the shape `-o - `/`-f json` emits
    * (docs-contract columns; extra top-level fields in the lines are
    * ignored by the schema-directed reader, so a previous filter's typed
    * view columns round-trip harmlessly). This is the stdin half of the
    * reference's shell-pipeline defaults (main.cpp:57-61): with Main's
    * `-` input, `graft -e … -o - IN | graft -e … -` composes two filters
    * the way two osmium-filter processes compose over OSM byte streams. */
  def readDocsJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[graft.model.OsmDocRow].schema)
      .json(path)

  /** Single-pass filter (reference R1): selects matching rows of the docs
    * table, never rewriting `spans` (span-sequence invariant is structural).
    * Returns the full docs shape plus the typed view columns. A never-match
    * expression throws [[OflTypeException]] from
    * [[Compiler.compileEffective]] (main.cpp:114-117). An id list read
    * from a file (`@id in (<'file')`) is loaded by `idLoader` and probed as
    * an in-memory `InSet`, like the reference's IdSet (hpp:1505-1559).
    * `docs` may be a
    * streaming frame (Structured Streaming, SURVEY.md §2.9): the predicate
    * is one stateless Column, so the result is start()-able with any sink. */
  def filter(docs: DataFrame, expression: String,
             idLoader: Compiler.IdListLoader = Compiler.noFiles,
             sugar: Boolean = false): DataFrame = {
    val q = parse(expression, sugar)
    // the predicate pays one early-exit spans pass per field it references;
    // the rows that pass decode the remaining columns in one merged pass
    OsmView.derive(docs).filter(Compiler.compileEffective(q.ast, idLoader))
  }

  /** `--complete-ways` two-pass semi-join (reference main.cpp:143-180):
    * pass 1 collects (type, positive_id) of every match plus node ids of all
    * node-refs of matching ways — note `positive_id()`/`positive_ref()`:
    * membership is on |id| (main.cpp:151-155); pass 2 rescans everything
    * unrestricted and emits objects whose (type, |id|) is in the set.
    *
    * Spark-first shape: the per-type IdSetDense bitset becomes a left-semi
    * join on (type, abs(id)); with AQE on, Spark broadcasts the id side at
    * runtime when it is small (the common case) and falls back to a shuffled
    * hash join when a non-selective filter makes it huge — exactly the
    * size-adaptive behavior the bitset hand-codes. Catalyst reuses the scan
    * of `docs` across the two logical passes (ReusedExchange). */
  def completeWays(docs: DataFrame, expression: String,
                   idLoader: Compiler.IdListLoader = Compiler.noFiles,
                   sugar: Boolean = false): DataFrame = {
    val matched = filter(docs, expression, idLoader, sugar)
    // one scan for BOTH id families (round 6): the object's own (type, |id|)
    // and, for ways, every node-ref — previously two branches that each
    // re-scanned and re-decoded pass 1; the concat+explode emits the same
    // distinct set from a single pass
    val wantedStruct = "array<struct<type:string,pid:bigint>>"
    val wanted = matched.select(explode(concat(
        array(struct(col("type").as("type"), abs(col("id")).as("pid"))),
        when(col("type") === "way",
          transform(col("nds"),
            n => struct(lit("node").as("type"), abs(n).as("pid"))))
          .otherwise(array().cast(wantedStruct)))).as("w"))
      .select(col("w.type").as("type"), col("w.pid").as("pid"))
      .distinct()
    // pass 2 decodes every column its consumers read, (type, id) for the join
    // key included, in one merged spans pass per row
    OsmView.derive(docs)
      .withColumn("pid", abs(col("id")))
      .join(wanted, Seq("type", "pid"), "left_semi")
      .drop("pid")
  }

  /** Write surviving rows in input order (reference preserves input order
    * byte-exactly; Spark output order is nondeterministic without an
    * explicit sort — SURVEY.md §7.4 #4). The docs-contract columns only.
    * `format` is the Spark-world analog of the reference's `-f` output
    * format switch (main.cpp:59-61,88-90): parquet (default), json, or csv
    * (csv cannot carry nested arrays, so `spans` is JSON-encoded there). */
  val OutputFormats: Seq[String] = Seq("parquet", "json", "csv")

  def writeOrdered(filtered: DataFrame, outPath: String,
                   format: String = "parquet"): Unit = {
    val ordered = filtered.select("doc_id", "spans", "type", "seq")
      .orderBy("seq")
    format match {
      case "parquet" => ordered.write.mode("overwrite").parquet(outPath)
      case "json"    => ordered.write.mode("overwrite").json(outPath)
      case "csv" =>
        ordered.withColumn("spans", to_json(col("spans")))
          .write.mode("overwrite").option("header", "true").csv(outPath)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported output format '$other' (${OutputFormats.mkString("|")})")
    }
  }

  /** Materializes the typed OSM view as a type-partitioned columnar
    * projection. The spans→view derivation is [[OsmView.derive]], whose
    * decodes merge into one [[graft.exprs.DecodeOsmSpans]] pass per row;
    * at scale you pay it ONCE here, and every subsequent filter reads plain
    * typed columns with vectorized scans, predicate pushdown, and partition
    * pruning. This is the Iceberg-style "derived projection" layout the
    * engine assumes for repeated querying of a 100 TB docs table.
    * The corpus's 10 most frequent tag keys ([[HotTags.deriveKeys]]) are
    * additionally projected as pushdown-eligible top-level columns. */
  def materializeView(docs: DataFrame, path: String): Unit = {
    // enforce the never-null-tags-ARRAY invariant (null spans decode to a
    // null array): a null array makes exists() three-valued (NULL, not
    // false), which would break HotTagRewrite's null-exactness under Not —
    // the view guarantees exists over tags is two-valued, where the rule
    // needs it. Tag VALUES are never null out of the decode (HotTags.projection).
    val base = OsmView.derive(docs).withColumn("tags", coalesce(col("tags"),
      array().cast("array<struct<key:string,value:string>>")))
    // hot keys come from THIS corpus's key-frequency stats (one extra
    // aggregation pass at build time), tagged into column metadata so
    // HotTags.forSchema reads the mapping back from the written view. The
    // stats scan decodes ONLY the tags field (column pruning leaves one
    // single-field decode), not the full derivation — at 24M rows the
    // full-decode + struct-explode variant ran the 8 GB driver out of
    // execution memory; this shape is a key-only explode over one pass
    val keys = HotTags.deriveKeys(base.select("tags"))
    val hotCols = keys.map { k =>
      val m = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(HotTags.MetaKey, k).build()
      HotTags.projection(k).as(HotTags.colName(k), m)
    }
    base.select(col("*") +: hotCols: _*)
      .write.mode("overwrite").partitionBy("type").parquet(path)
  }

  /** Filter over a materialized typed view (see [[materializeView]]):
    * same compiled predicate, no span decode on the hot path. Tag checks on
    * [[HotTags]] keys the view materialized compile to their top-level
    * columns — pushed into the parquet scan. */
  def filterView(view: DataFrame, expression: String,
                 idLoader: Compiler.IdListLoader = Compiler.noFiles): DataFrame = {
    val q = parse(expression)
    view.filter(Compiler.compileEffective(q.ast, idLoader,
      HotTags.forSchema(view.schema)))
  }

  /** Engine session defaults — 32 shuffle partitions for local[32], AQE for
    * runtime re-planning (skew joins, dynamic broadcast). */
  def session(master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
