package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestSession
import graft.exprs.{MinhashSignature, Shingles, TagLookup}
import graft.exprs.SpanDecode._
import graft.model.CodecSpec.decodeMasks
import graft.model.OsmView
import graft.compile.Compiler
import graft.fixtures.DeterministicGen
import graft.ofl.Parser
import graft.ops.Dedup
import graft.spatial.SpatialOps

/** Physical-plan quality pins: these are the properties that make the plans
  * survive a 100 TB scale-up — filter pushdown into the parquet scan, column
  * pruning, partition pruning from the entity mask, broadcast for the small
  * join sides, and whole-stage codegen around the scalar predicate path. */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val viewPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-view").toString
    FilterEngine.materializeView(DeterministicGen.docsDF(spark, 0.001), dir)
    dir
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // parquet-backed docs: a LocalRelation would be constant-folded before the
  // extra optimizer rules could shape the decodes
  private lazy val docsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    DeterministicGen.docsDF(spark, 0.001).write.mode("overwrite").parquet(dir)
    dir
  }

  test("scalar predicates push down into the typed-view parquet scan") {
    val view = spark.read.parquet(viewPath)
    val p = plan(FilterEngine.filterView(view, "@version >= 2 and @uid > 100"))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(version,2"), s"missing pushdown in:\n$p")
    assert(p.contains("GreaterThan(uid,100"), s"uid pushdown missing in:\n$p")
  }

  test("entity mask becomes a partition filter on the type-partitioned view") {
    val view = spark.read.parquet(viewPath)
    val p = plan(FilterEngine.filterView(view, "@closed_way"))
    assert(p.contains("PartitionFilters:") && p.contains("type#"),
      s"missing partition filter in:\n$p")
  }

  test("column pruning: an id-only query reads only the columns it needs") {
    val view = spark.read.parquet(viewPath)
    val df = FilterEngine.filterView(view, "@id > 100").select("id")
    val p = plan(df)
    val readSchema = "ReadSchema: ([^\\n]+)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("id"), p)
    assert(!readSchema.contains("spans"), s"spans not pruned: $readSchema")
    assert(!readSchema.contains("tags"), s"tags not pruned: $readSchema")
  }

  test("hot-tag filters push down to the scan and equal the cold array path") {
    val view = spark.read.parquet(viewPath)
    // pushdown pin: the materialized t_highway column carries the predicate
    // into the parquet scan (IsNotNull enables null-count row-group skips,
    // EqualTo enables min/max skips)
    val p = plan(FilterEngine.filterView(view, "highway == residential"))
    assert(p.contains("IsNotNull(t_highway)"), s"missing IsNotNull pushdown in:\n$p")
    assert(p.contains("EqualTo(t_highway,residential)"), s"missing EqualTo pushdown in:\n$p")
    // bare-key and regex checks also reach the scan via IsNotNull
    val p2 = plan(FilterEngine.filterView(view, "highway =~ '_link$'"))
    assert(p2.contains("IsNotNull(t_highway)"), s"regex IsNotNull missing in:\n$p2")
    // semantic pin: hot compile == cold compile on every tag-check shape,
    // including a non-hot key (cold path intact) and negations
    for (e <- Seq("highway == residential", "highway != residential",
      "highway =~ 'prim'", "highway !~ 'prim'", "highway",
      "oneway == yes and not (building == '12')", "priority == 'x'",
      "not highway")) {
      val hot = FilterEngine.filterView(view, e).select("doc_id")
      val cold = view.filter(Compiler.compileEffective(Parser.parse(e)))
        .select("doc_id")
      assert(hot.exceptAll(cold).isEmpty && cold.exceptAll(hot).isEmpty,
        s"hot/cold mismatch for: $e")
    }
  }

  test("hot keys are derived from the corpus, not a static list (foreign-key fixture)") {
    // a corpus whose tag vocabulary shares NOTHING with the legacy OSM list:
    // rewrite every highway=/name= tag to zzcustom=/qqname= in the spans
    val docs = DeterministicGen.docsDF(spark, 0.001)
      .withColumn("spans", transform(col("spans"), s =>
        struct(
          s.getField("kind").as("kind"),
          regexp_replace(regexp_replace(s.getField("text"),
            "^highway=", "zzcustom="), "^name=", "qqname=").as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-view-foreign").toString
    FilterEngine.materializeView(docs, dir)
    val view = spark.read.parquet(dir)
    val hot = HotTags.forSchema(view.schema)
    assert(hot.contains("zzcustom") && hot.contains("qqname"),
      s"frequency derivation missed the corpus's own hot keys: $hot")
    assert(!hot.contains("highway") && !hot.contains("name"),
      s"stale static keys leaked into the derived map: $hot")
    // and the derived column actually carries the pushdown
    val p = plan(FilterEngine.filterView(view, "zzcustom == residential"))
    assert(p.contains("IsNotNull(t_zzcustom)") &&
      p.contains("EqualTo(t_zzcustom,residential)"),
      s"derived hot key not pushed in:\n$p")
    // semantic pin on the foreign key, hot vs cold
    val hotDf = FilterEngine.filterView(view, "zzcustom =~ 'prim'").select("doc_id")
    val coldDf = view.filter(Compiler.compileEffective(Parser.parse("zzcustom =~ 'prim'")))
      .select("doc_id")
    assert(hotDf.exceptAll(coldDf).isEmpty && coldDf.exceptAll(hotDf).isEmpty)
  }

  test("Z layout over the hot view composes all three prune layers in one scan") {
    // directory pruning (pcell), row-group skipping (zcell ranges), and the
    // hot-tag pushdown must coexist on a single parquet scan: the Z layout
    // carries the t_<key> columns AND their graft_hot_key metadata through
    val nodes = spark.read.parquet(viewPath).filter(col("type") === "node")
    val dir = java.nio.file.Files.createTempDirectory("graft-zhot").toString
    graft.spatial.SpatialLayout.materialize(nodes, dir, coarseLevel = 3,
      fineLevel = 14, numFiles = 8)
    val layout = spark.read.parquet(dir)
    val df = FilterEngine.filterView(
      graft.spatial.SpatialLayout.bboxFilter(layout, -20.005, 40.005,
        -100.005, 30.005),
      "highway == residential")
    val p = plan(df)
    assert("PartitionFilters: \\[pcell#\\d+ IN(SET | \\()".r.findFirstIn(p).isDefined,
      s"missing pcell directory pruning in:\n$p")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(zcell"),
      s"zcell ranges not pushed: $pushed")
    assert(pushed.contains("EqualTo(t_highway,residential)"),
      s"hot-tag predicate not pushed alongside the spatial prunes: $pushed")
    // and the composition is semantically exact vs the unpruned view path
    val want = spark.read.parquet(viewPath)
      .filter(col("type") === "node" &&
        col("lat") >= -20.005 && col("lat") <= 40.005 &&
        col("lon") >= -100.005 && col("lon") <= 30.005)
      .filter(Compiler.compileEffective(Parser.parse("highway == residential")))
      .select("doc_id")
    val got = df.select("doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("whole-stage codegen covers the scalar filter path") {
    val view = spark.read.parquet(viewPath)
    val p = plan(FilterEngine.filterView(view, "@version >= 2 and @id != 7"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(p.contains("*(1) Filter"), s"no codegen span in:\n$p")
  }

  test("in-flight span filter decodes only the fields the predicate touches") {
    val docs = spark.read.parquet(docsPath)
    val df = FilterEngine.filter(docs, "@version >= 2").select("id")
    val optimized = df.queryExecution.optimizedPlan.toString
    val masks = "decode_osm_spans\\([^,)]+, (\\d+)\\)".r
      .findAllMatchIn(optimized).map(_.group(1).toInt).toSet
    assert(masks === Set(FId, FVersion),
      s"expected only id+version decode passes, got masks $masks in:\n$optimized")
    // and the decode path itself runs inside whole-stage codegen
    val p = plan(df)
    assert("\\*\\(\\d+\\) Filter".r.findFirstIn(p).isDefined ||
      "\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined,
      s"no codegen span around the decode filter in:\n$p")
  }

  test("a wide select decodes once; a fused tag lookup leaves no tags bit") {
    val docs = spark.read.parquet(docsPath)
    val highway = GraftBridge.column(TagLookup(GraftBridge.expression(col("tags")), "highway"))
    val df = OsmView.derive(docs).select(col("id"), col("version"), highway.as("highway"))
    val optimized = df.queryExecution.optimizedPlan
    assert(decodeMasks(optimized) === Seq("Project" -> Set(FId | FVersion)), optimized)
    assert(optimized.toString.contains("tag_lookup_spans"), optimized)
    val whole = OsmView.derive(docs).queryExecution.optimizedPlan
    assert(decodeMasks(whole) === Seq("Project" -> Set(AllFields & ~FType)), whole)
  }

  test("filters and conditional branches keep their own decode masks") {
    val docs = spark.read.parquet(docsPath)
    val filtered = FilterEngine.filter(docs, "@version >= 2").queryExecution.optimizedPlan
    assert(decodeMasks(filtered).toMap === Map(
      "Filter" -> Set(FVersion), "Project" -> Set(AllFields & ~FType)), filtered)
    val branch = OsmView.derive(docs)
      .select(col("id"), when(col("type") === "way", col("version")).as("v"))
      .queryExecution.optimizedPlan
    assert(decodeMasks(branch) === Seq("Project" -> Set(FId, FVersion)), branch)
  }

  /** The optimized plan of [[FilterEngine.materializeView]]'s write. */
  private def materializeViewWritePlan(): LogicalPlan = {
    // the lazy fixture writes parquet too: write it before the listener
    // registers, so the listener sees only the view's write
    val docs = spark.read.parquet(docsPath)
    val written = new java.util.concurrent.LinkedBlockingQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
          written.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-view-once").toString
      FilterEngine.materializeView(docs, dir)
      val p = written.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, "no write plan seen")
      p
    } finally spark.listenerManager.unregister(listener)
  }

  test("materializeView writes its view through one decode") {
    val p = materializeViewWritePlan()
    assert(decodeMasks(p).map(_._2) === Seq(Set(AllFields & ~FType)), p)
  }

  test("materializeView builds its hot columns with the codegen'd tag lookup") {
    val p = materializeViewWritePlan()
    val exprs = p.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[TagLookup]) === 10, p)
    assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), s"ArrayFilter in:\n$p")
    assert(!exprs.exists(_.isInstanceOf[CodegenFallback]), s"CodegenFallback in:\n$p")
  }

  /** Function name and executed plan of every action `run` takes; `run`
    * ends with its `collects`-th collect. */
  private def executedPlans(run: => Unit, collects: Int = 1): Seq[(String, SparkPlan)] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // the bus delivers in order: once run's final collect is seen, every
      // earlier action of run has been seen too
      val out = Seq.newBuilder[(String, SparkPlan)]
      var last: (String, SparkPlan) = null
      var left = collects
      while ({
        last = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        last != null && { out += last; if (last._1 == "collect") left -= 1; left > 0 }
      }) ()
      assert(last != null, "no collect plan seen")
      out.result()
    } finally spark.listenerManager.unregister(listener)
  }

  private lazy val dedupDocsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-docs").toString
    DeterministicGen.highVocabDocsDF(spark, 300, vocab = 400)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("minhash and jaccard dedup plans run codegen'd kernels, no higher-order function") {
    val docs = spark.read.parquet(dedupDocsPath)
    def exprs(run: => Unit): Seq[(String, Expression)] = executedPlans(run).flatMap {
      case (f, p) => AdaptivePlans.flatMap(p)(_.expressions.flatMap(_.collect { case e => f -> e }))
    }
    val minhash = exprs(Dedup.minhashDupPairs(docs, col("text"), col("doc_id")).collect())
    val jaccard = exprs(Dedup.jaccardDupPairs(docs, col("text"), col("doc_id")).collect())
    // the signature derivation runs in the eager localCheckpoint's own job
    assert(minhash.exists { case (f, e) => f == "localCheckpoint" && e.isInstanceOf[Shingles] },
      minhash.map(_._1).distinct)
    assert(minhash.exists(_._2.isInstanceOf[MinhashSignature]))
    assert(jaccard.exists(_._2.isInstanceOf[Shingles]))
    Seq("minhashDupPairs" -> minhash, "jaccardDupPairs" -> jaccard).foreach { case (op, es) =>
      val bad = es.collect {
        case (f, e) if e.isInstanceOf[CodegenFallback] || e.isInstanceOf[ArrayTransform] =>
          s"$f: ${e.prettyName}"
      }
      assert(bad.isEmpty, s"$op runs $bad")
    }
  }

  test("jaccard dedup builds no cross product; minhash verify broadcasts the pair list") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val docs = spark.read.parquet(dedupDocsPath)
    def nodes(p: SparkPlan): Seq[SparkPlan] = AdaptivePlans.flatMap(p)(Seq(_))
    val jaccard = executedPlans(
      Dedup.jaccardDupPairs(docs, col("text"), col("doc_id")).collect()).flatMap(p => nodes(p._2))
    assert(jaccard.nonEmpty)
    assert(!jaccard.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]), jaccard.map(_.nodeName).distinct)
    // the verify joins (the final collect) broadcast the materialized pair
    // list, bare and then with key_a's shingles attached; the (key, sh)
    // table streams and is never broadcast or shuffled
    val verify = executedPlans(
      Dedup.minhashDupPairs(docs, col("text"), col("doc_id")).collect()).last
    assert(verify._1 === "collect")
    val names = (n: SparkPlan) => n.output.map(_.name).toSet
    val broadcasts = nodes(verify._2).collect { case b: BroadcastExchangeExec => names(b) }
    assert(broadcasts.size === 2 && broadcasts.forall(o => o("key_a") && o("key_b")), broadcasts)
    assert(broadcasts.count(_("p_a")) === 1, broadcasts)
    val shuffled = nodes(verify._2).collect { case x: ShuffleExchangeExec => names(x) }
    assert(!shuffled.exists(o => o("p_a") || o("p_b")), shuffled)
  }

  test("a bare t_highway column without hot-key metadata is not pushed") {
    // a view whose columns carry no graft_hot_key metadata compiles cold
    val tagged = spark.read.parquet(viewPath)
    val dir = java.nio.file.Files.createTempDirectory("graft-view-bare").toString
    tagged.select(tagged.columns.toSeq.map(c => col(c).as(c, Metadata.empty)): _*)
      .write.mode("overwrite").parquet(dir)
    val bare = spark.read.parquet(dir)
    assert(bare.columns.contains("t_highway") && HotTags.forSchema(bare.schema).isEmpty)
    val df = FilterEngine.filterView(bare, "highway == residential")
    val p = plan(df)
    assert(!p.contains("EqualTo(t_highway") && !p.contains("IsNotNull(t_highway)"),
      s"bare column pushed:\n$p")
    val want = FilterEngine.filterView(tagged, "highway == residential").select("doc_id")
    assert(df.select("doc_id").exceptAll(want).isEmpty && want.exceptAll(df.select("doc_id")).isEmpty)
  }

  test("polygon join broadcasts the polygon side") {
    val nodes = spark.read.parquet(viewPath)
      .filter(col("type") === "node").select("doc_id", "lat", "lon")
    val polys = DeterministicGen.polygons()
      .map(p => (p.polygon_id, p.rings.map(_.map { case (la, lo) => (la, lo) })))
      .toDF("polygon_id", "rings")
      .withColumn("rings", col("rings").cast("array<array<struct<lat:double,lon:double>>>"))
    val p = plan(SpatialOps.polygonJoin(nodes, polys, level = 13))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"polygon side not broadcast in:\n$p")
  }

  test("knn ranks through one query_id window, limited before its exchange") {
    val points = spark.read.parquet(viewPath)
      .filter(col("type") === "node").select("doc_id", "lat", "lon")
    val queries = Seq((1L, 48.85, 2.35), (2L, 52.52, 13.405)).toDF("query_id", "lat", "lon")
    // the ring step's ranked plan runs in its checkpoint job; knn collects
    // its query side first
    val ranked = executedPlans(SpatialOps.knn(points, queries, k = 5).collect(), collects = 2)
      .map(p => AdaptivePlans.flatMap(p._2)(Seq(_))).filter(_.exists(_.isInstanceOf[WindowExec]))
    assert(ranked.nonEmpty, "no ranked plan seen")
    ranked.foreach { nodes =>
      val p = nodes.head
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.size === 1, p)
      assert(windows.head.partitionSpec.map {
        case a: Attribute => a.name
        case e => e.sql
      } === Seq("query_id"), p)
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, p)
      // a Partial group limit feeds the exchange: no task sorts a query's
      // whole candidate set
      assert(exchanges.head.child.exists {
        case l: WindowGroupLimitExec => l.mode == Partial
        case _ => false
      }, p)
    }
  }

  test("complete-ways wanted-ids side is adaptive (AQE decides broadcast at runtime)") {
    val docs = DeterministicGen.docsDF(spark, 0.001)
    val df = FilterEngine.completeWays(docs, "highway == primary")
    df.count() // materialize so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan"), s"AQE not active in:\n$p")
    assert(p.contains("LeftSemi"), s"not a semi join in:\n$p")
  }
}

/** Walks an executed plan through its adaptive query stages. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
