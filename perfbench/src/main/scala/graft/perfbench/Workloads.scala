package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Bench
import graft.compile.Compiler
import graft.engine.FilterEngine
import graft.fixtures.DeterministicGen
import graft.model.OsmView
import graft.ofl.Parser
import graft.ops.Dedup
import graft.spatial.{GeomOps, SpatialOps}

/** Where a run keeps its cached inputs and its own outputs, and its seed.
  * Job outputs go under `workDir/jobs`, which is emptied after warm-up. */
final case class Ctx(dataDir: String, workDir: String, seed: Long, cores: Int) {
  def jobsDir: String = s"$workDir/jobs"
}

/** One finished benchmark job. `digest` is set for results sunk with an
  * observed digest, `written` for results written to files; `layer` holds
  * the job's per-layer metrics (traced jobs only). */
final case class JobOut(kind: String, wallS: Double, inputRows: Long,
                        digest: Option[Digest], written: Option[String],
                        layer: Map[String, Double])

/** A closed loop of jobs over seeded inputs. `generate` writes the inputs
  * (cached on disk by seed and size), `setup` reads and caches them in a
  * fresh session, `expected` computes every kind's digest independently of
  * the operators under test. */
abstract class Workload(val ctx: Ctx) {
  /** Distinct job kinds; warm-up runs each once. */
  def kinds: IndexedSeq[String]
  /** One pass of the timed loop (kinds may repeat to weight the mix). */
  def pass: IndexedSeq[String] = kinds
  /** Size facts recorded in the run record. */
  def sizes: Map[String, Long]
  def generate(spark: SparkSession): Seq[(String, Digest)]
  /** Returns set-up facts recorded as metrics (for example view build time). */
  def setup(spark: SparkSession): Map[String, Double]
  def release(): Unit = ()
  def expected(spark: SparkSession): Map[String, Digest]
  def job(kind: String, j: Int, t: Tracer): JobOut

  protected var spark: SparkSession = _

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Span-derived wall time: the root span when traced, else measured. */
  protected def timed(j: Int, t: Tracer)(f: => Unit): Double = {
    t.job = j
    val t0 = System.nanoTime()
    t.span("harness.job")(f)
    if (t.enabled) t.jobSpans(j).find(_.name == "harness.job").get.seconds else secs(t0)
  }

  protected def spanS(t: Tracer, j: Int, name: String): Double =
    t.jobSpans(j).filter(_.name == name).map(_.seconds).sum

  protected def spanOf(t: Tracer, j: Int, name: String): Span =
    t.jobSpans(j).find(_.name == name).get

  /** Totals over the job's own spans (legs excluded) of one module. */
  protected def moduleTasks(t: Tracer, j: Int, module: String): TaskTotals =
    t.jobSpans(j).filter(s => s.module == module && !s.name.endsWith("_leg"))
      .map(s => t.tasksOf(s.id)).foldLeft(new TaskTotals)(_ add _)

  protected def moduleAudit(t: Tracer, j: Int, module: String): Audit =
    t.jobSpans(j).filter(s => s.module == module && !s.name.endsWith("_leg"))
      .map(s => t.auditOf(s.id)).foldLeft(Audit.empty)(_ + _)
}

object Inputs {
  /** Seeded docs table, type-partitioned parquet like production input. */
  def docs(spark: SparkSession, ctx: Ctx, n: Long): (String, Digest) = {
    val path = s"${ctx.dataDir}/docs_s${ctx.seed}_n$n"
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      DeterministicGen.distributedDocs(spark, n, parts = 8, seed = ctx.seed)
        .repartition(8, col("seq"))
        .write.mode("overwrite").partitionBy("type").parquet(path)
    (path, Checks.digest(spark.read.parquet(path), "doc_id", "seq"))
  }

  def dirBytes(path: String): Long = {
    val fs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
    fs.filter(f => f.isFile && !f.getName.startsWith(".")).map(_.length).sum
  }
}

/** `filter`: CLI-shaped jobs over the raw docs parquet, re-read from disk for
  * every job and written in input order — the 10-expression suite as
  * single-pass filters plus three `--complete-ways` jobs. Kinds are
  * labelled `filter: <expr>` and `complete_ways: <expr>`. */
final class OflWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds: IndexedSeq[String] = Bench.filterSuite.toVector.map("filter: " + _) ++
    Vector("highway == residential", "highway == primary", "building").map("complete_ways: " + _)
  /** Elements in the docs table. */
  val docsRows: Long = OflWorkload.DocsRows
  def sizes: Map[String, Long] = Map("docs_rows" -> docsRows)

  private def split(kind: String): (Boolean, String) = {
    val i = kind.indexOf(": ")
    (kind.startsWith("complete_ways"), kind.substring(i + 2))
  }

  private var docsPath = ""
  private val outCols = Seq("doc_id", "spans", "type", "seq")

  def generate(s: SparkSession): Seq[(String, Digest)] = {
    val (p, d) = Inputs.docs(s, ctx, docsRows)
    docsPath = p
    Seq("docs" -> d)
  }

  def setup(s: SparkSession): Map[String, Double] = {
    spark = s
    spark.read.parquet(docsPath).count()
    Map.empty
  }

  /** Reference semantics over the HOF derivation. */
  def expected(s: SparkSession): Map[String, Digest] = {
    val hof = OsmView.deriveHof(s.read.parquet(docsPath)).cache()
    try {
      val (cw, plain) = kinds.map(k => k -> split(k)).partition(_._2._1)
      // every single-pass filter in one aggregation over the cached view
      val h = Checks.rowHash(col("doc_id"), col("seq"))
      val aggs = plain.flatMap { case (_, (_, e)) =>
        val p = Compiler.compileEffective(Parser.parse(e))
        Seq(count_if(p), coalesce(sum(when(p, h)), lit(0L)))
      }
      val r = hof.agg(aggs.head, aggs.tail: _*).head()
      val filters = plain.zipWithIndex.map { case ((kind, _), i) =>
        kind -> Digest(r.getLong(2 * i), r.getLong(2 * i + 1))
      }
      // complete-ways: the two-pass closure over (type, |id|) and way refs
      val closures = cw.map { case (kind, (_, e)) =>
        val matched = hof.filter(Compiler.compileEffective(Parser.parse(e)))
        val own = matched.select(col("type"), abs(col("id")).as("pid"))
        val refs = matched.filter(col("type") === "way")
          .select(lit("node").as("type"), explode(col("nds")).as("ref"))
          .select(col("type"), abs(col("ref")).as("pid"))
        val result = hof.withColumn("pid", abs(col("id")))
          .join(own.union(refs).distinct(), Seq("type", "pid"), "left_semi")
        kind -> Checks.digest(result, "doc_id", "seq")
      }
      (filters ++ closures).toMap
    } finally hof.unpersist()
  }

  /** Typed-view columns a compiled predicate reads. */
  private def fieldsOf(pred: Column): Seq[String] =
    org.apache.spark.sql.GraftBridge.expression(pred)
      .collect { case u: UnresolvedAttribute => u.nameParts.head }.distinct

  def job(kind: String, j: Int, t: Tracer): JobOut = {
    val (completeWays, e) = split(kind)
    val out = s"${ctx.jobsDir}/job_$j"
    val wall = timed(j, t) {
      val ast = t.span("ofl.parse")(Parser.parse(e))
      t.span("compile.compile")(Compiler.compileEffective(ast))
      val docs = spark.read.parquet(docsPath)
      val result =
        if (completeWays) t.span("engine.complete_ways")(FilterEngine.completeWays(docs, e))
        else t.span("engine.filter")(FilterEngine.filter(docs, e))
      if (t.enabled) t.span("engine.plan") {
        result.select(outCols.map(col): _*).orderBy("seq").queryExecution.executedPlan
      }
      t.span("engine.sink")(FilterEngine.writeOrdered(result, out))
    }
    val layer = if (t.enabled) legs(completeWays, e, j, t, out) else Map.empty[String, Double]
    JobOut(kind, wall, docsRows, None, Some(out), layer)
  }

  /** Noop-sink legs after a traced job: scan, decode of the fields the job
    * reads, the operator; the differences attribute the job to layers. */
  private def legs(completeWays: Boolean, e: String, j: Int, t: Tracer,
                   out: String): Map[String, Double] = {
    val docs = spark.read.parquet(docsPath)
    val fields = (fieldsOf(Compiler.compileEffective(Parser.parse(e))) ++
      (if (completeWays) Seq("type", "id", "nds") else Nil)).distinct
    val viewCols = (Seq("doc_id", "seq") ++ fields).distinct
    // the scan leg reads the columns the job reads but copies no span arrays
    t.span("model.scan_leg") {
      Checks.noop(docs.select(col("doc_id"), col("type"), col("seq"), size(col("spans"))))
    }
    t.span("model.decode_leg")(Checks.noop(OsmView.derive(docs).select(viewCols.map(col): _*)))
    t.span("engine.filter_leg") {
      Checks.noop(FilterEngine.filter(docs, e).select(outCols.map(col): _*))
    }
    if (completeWays) t.span("engine.complete_ways_leg") {
      Checks.noop(FilterEngine.completeWays(docs, e).select(outCols.map(col): _*))
    }
    val scan = spanS(t, j, "model.scan_leg")
    val decode = spanS(t, j, "model.decode_leg")
    val filt = spanS(t, j, "engine.filter_leg")
    val op = if (completeWays) spanS(t, j, "engine.complete_ways_leg") else filt
    val sink = spanOf(t, j, "engine.sink")
    val tasks = moduleTasks(t, j, "engine")
    val audit = t.auditOf(sink.id)
    Map(
      "ofl.parse_s" -> spanS(t, j, "ofl.parse"),
      "compile.compile_s" -> spanS(t, j, "compile.compile"),
      "engine.plan_s" -> spanS(t, j, "engine.plan"),
      "model.scan_s" -> scan,
      "model.scan_bytes" -> t.tasksOf(sink.id).bytesRead.toDouble,
      "model.decode_s" -> (decode - scan),
      "model.decode_passes" -> audit.decodePasses.toDouble,
      "exprs.predicate_s" -> (filt - decode),
      "exprs.codegen_fallback_nodes" -> audit.fallbackExprs.toDouble,
      "exprs.wscg_stages" -> audit.wscgStages.toDouble,
      "engine.filter_s" -> filt,
      "engine.sink_s" -> (sink.seconds - op),
      "engine.output_bytes" -> Inputs.dirBytes(out).toDouble,
      "engine.shuffle_write_bytes" -> tasks.shuffleWrite.toDouble,
      "engine.shuffle_read_bytes" -> tasks.shuffleRead.toDouble,
      "engine.fetch_wait_s" -> tasks.fetchWaitMs / 1e3,
      "engine.spill_bytes" -> tasks.spill.toDouble,
      "engine.sort_merge_joins" -> audit.sortMergeJoins.toDouble,
      "engine.broadcast_joins" -> audit.broadcastJoins.toDouble,
      "engine.spark_jobs" -> tasks.jobs.toDouble,
      "engine.input_rows" -> docsRows.toDouble) ++
      (if (completeWays) Map("engine.complete_ways_s" -> op) else Map.empty)
  }
}

object OflWorkload {
  val DocsRows = 12000L
}

/** `spatial`: joins over the node points of a materialized view, cached in
  * Spark memory; each kind has its own seeded query batch. */
final class SpatialWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds: IndexedSeq[String] =
    Vector("polygon_join", "s2_radius_join", "knn", "within_distance")
  val docsRows: Long = OflWorkload.DocsRows
  val radiusM = 250.0
  val knnK = 10
  val pairDistM = 20.0
  private val rng = new Random(ctx.seed * 31 + 7)

  /** Block-sized (~100-300 m) and city-sized (~2-5 km) jittered k-gons over
    * the generator's hotspots. */
  private val polygons: Seq[(Long, Seq[(Double, Double)])] = (0 until 12).map { i =>
    val (hlat, hlon) = DeterministicGen.hotspots(rng.nextInt(DeterministicGen.hotspots.size))
    val city = i % 3 == 0
    val r = if (city) 0.02 + rng.nextDouble() * 0.025 else 0.001 + rng.nextDouble() * 0.002
    val clat = hlat + rng.nextGaussian() * 0.01
    val clon = hlon + rng.nextGaussian() * 0.015
    val k = 5 + rng.nextInt(20)
    i.toLong -> (0 until k).map { v =>
      val a = 2 * math.Pi * v / k
      (clat + r * math.sin(a) * (0.7 + 0.6 * rng.nextDouble()),
        clon + r * math.cos(a) * 1.5 * (0.7 + 0.6 * rng.nextDouble()))
    }
  }
  private def queryBatch(n: Int): Seq[(Long, Double, Double)] = (0 until n).map { i =>
    val (hlat, hlon) = DeterministicGen.hotspots(rng.nextInt(DeterministicGen.hotspots.size))
    (i.toLong, hlat + rng.nextGaussian() * 0.012, hlon + rng.nextGaussian() * 0.018)
  }
  private val radiusQueries = queryBatch(40)
  private val knnQueries = queryBatch(20)
  /** Dense window for the self-join: one hotspot's core. */
  private val window = {
    val (hlat, hlon) = DeterministicGen.hotspots(rng.nextInt(DeterministicGen.hotspots.size))
    (hlat - 0.006, hlat + 0.006, hlon - 0.009, hlon + 0.009)
  }

  private var docsPath = ""
  private var nodes: DataFrame = _
  private var windowPts: DataFrame = _
  private var polys: DataFrame = _
  private var radiusQ: DataFrame = _
  private var knnQ: DataFrame = _
  private var nNodes = 0L
  private var nWindow = 0L

  def sizes: Map[String, Long] = Map("docs_rows" -> docsRows, "nodes" -> nNodes,
    "window_points" -> nWindow, "polygons" -> polygons.size.toLong,
    "radius_queries" -> radiusQueries.size.toLong, "knn_queries" -> knnQueries.size.toLong)

  def generate(s: SparkSession): Seq[(String, Digest)] = {
    val (p, d) = Inputs.docs(s, ctx, docsRows)
    docsPath = p
    Seq("docs" -> d)
  }

  def setup(s: SparkSession): Map[String, Double] = {
    spark = s
    import s.implicits._
    val viewPath = s"${ctx.workDir}/view"
    val t0 = System.nanoTime()
    FilterEngine.materializeView(s.read.parquet(docsPath), viewPath)
    val materialize = secs(t0)
    nodes = s.read.parquet(viewPath).filter(col("type") === "node")
      .select(col("doc_id"), col("lat"), col("lon")).cache()
    nNodes = nodes.count()
    val (la0, la1, lo0, lo1) = window
    windowPts = nodes.filter(col("lat").between(la0, la1) && col("lon").between(lo0, lo1)).cache()
    nWindow = windowPts.count()
    polys = polygons.map { case (id, ring) => (id, Seq(ring)) }.toDF("polygon_id", "rings")
      .withColumn("rings", col("rings").cast("array<array<struct<lat:double,lon:double>>>"))
    radiusQ = radiusQueries.toDF("query_id", "lat", "lon")
    knnQ = knnQueries.toDF("query_id", "lat", "lon")
    Map("engine.materialize_view_s" -> materialize)
  }

  override def release(): Unit = {
    if (nodes != null) nodes.unpersist()
    if (windowPts != null) windowPts.unpersist()
  }

  private def keysOf(kind: String): (String, String) = kind match {
    case "polygon_join"    => ("doc_id", "polygon_id")
    case "within_distance" => ("key_a", "key_b")
    case _                 => ("doc_id", "query_id")
  }

  private def op(kind: String): DataFrame = kind match {
    case "polygon_join"   => SpatialOps.polygonJoin(nodes, polys, level = 14)
    case "s2_radius_join" => SpatialOps.s2RadiusJoin(nodes, radiusQ, radiusM)
    case "knn"            => SpatialOps.knn(nodes, knnQ, k = knnK, level = 14, maxRing = 2)
    case "within_distance" =>
      GeomOps.withinDistanceMeters(windowPts, pairDistM, level = 20, key = "doc_id")
  }

  /** Exact answers by scanning every (point, query) pair — no cover. */
  def expected(s: SparkSession): Map[String, Digest] = {
    val rings = polygons.toMap
    val pip = udf((lat: Double, lon: Double, pid: Long) =>
      SpatialOps.pipScala(lat, lon, Seq(rings(pid))))
    val polyIds = polys.select("polygon_id")
    val q = radiusQ.select(col("query_id"), col("lat").as("q_lat"), col("lon").as("q_lon"))
    val kq = knnQ.select(col("query_id"), col("lat").as("qlat"), col("lon").as("qlon"))
    val byDist = Window.partitionBy("query_id").orderBy(col("dist_m"), col("doc_id"))
    val a = windowPts.select(col("doc_id").as("key_a"), col("lat").as("lat_a"), col("lon").as("lon_a"))
    val b = windowPts.select(col("doc_id").as("key_b"), col("lat").as("lat_b"), col("lon").as("lon_b"))
    Map(
      "polygon_join" -> Checks.digest(nodes.crossJoin(polyIds)
        .filter(pip(col("lat"), col("lon"), col("polygon_id"))), "doc_id", "polygon_id"),
      "s2_radius_join" -> Checks.digest(nodes.crossJoin(q).filter(SpatialOps.haversineMeters(
        col("lat"), col("lon"), col("q_lat"), col("q_lon")) <= radiusM), "doc_id", "query_id"),
      "knn" -> Checks.digest(nodes.crossJoin(kq)
        .withColumn("dist_m", SpatialOps.HaversineMetric.dist(
          col("qlat"), col("qlon"), col("lat"), col("lon")))
        .withColumn("rn", row_number().over(byDist)).filter(col("rn") <= knnK),
        "doc_id", "query_id"),
      "within_distance" -> Checks.digest(a.crossJoin(b)
        .filter(col("key_a") < col("key_b"))
        .filter(SpatialOps.haversineMeters(col("lat_a"), col("lon_a"),
          col("lat_b"), col("lon_b")) <= pairDistM), "key_a", "key_b"))
  }

  def job(kind: String, j: Int, t: Tracer): JobOut = {
    t.pairKeys = Some(keysOf(kind))
    val (ka, kb) = keysOf(kind)
    var got: Digest = null
    val wall = timed(j, t) {
      val df = t.span(s"spatial.$kind")(op(kind))
      got = t.span("spatial.sink")(Checks.sink(df, ka, kb))
    }
    val points = if (kind == "within_distance") windowPts else nodes
    val inRows = if (kind == "within_distance") nWindow else nNodes
    val layer =
      if (!t.enabled) Map.empty[String, Double]
      else {
        val encoder = kind match {
          case "s2_radius_join"  => SpatialOps.s2CellId(col("lat"), col("lon"), 10)
          case "within_distance" => SpatialOps.cellId(col("lat"), col("lon"), 20)
          case _                 => SpatialOps.cellId(col("lat"), col("lon"), 14)
        }
        t.span("spatial.base_leg")(Checks.noop(points.select(col("lat"), col("lon"))))
        t.span("spatial.encode_leg")(Checks.noop(points.select(encoder.as("cell"))))
        val tasks = moduleTasks(t, j, "spatial")
        val candidates = moduleAudit(t, j, "spatial").pairRows
        Map(
          s"spatial.${kind}_s" -> wall,
          "spatial.cell_encode_s" ->
            (spanS(t, j, "spatial.encode_leg") - spanS(t, j, "spatial.base_leg")),
          "spatial.candidates" -> candidates.toDouble,
          "spatial.matches" -> got.rows.toDouble,
          "spatial.spark_jobs" -> tasks.jobs.toDouble,
          "spatial.shuffle_bytes" -> tasks.shuffleWrite.toDouble,
          "spatial.spill_bytes" -> tasks.spill.toDouble)
      }
    JobOut(kind, wall, inRows, Some(got), None, layer)
  }
}

/** `dedup`: the two dedup pipelines over a cached high-vocabulary corpus
  * whose only near-duplicates are its seeded exact copies. */
final class DedupWorkload(ctx: Ctx) extends Workload(ctx) {
  val kinds: IndexedSeq[String] = Vector("winnow_pipeline", "minhash")
  val docsRows = 3000L
  val dupEvery = 50
  /** The seed picks the corpus: its vocabulary and which docs are copies. */
  val vocab: Long = 40000L + Math.floorMod(ctx.seed * 7919L, 20000L)
  val dupOffset: Int = 1 + Math.floorMod(ctx.seed, (dupEvery - 1).toLong).toInt
  def sizes: Map[String, Long] = Map("docs_rows" -> docsRows, "vocab" -> vocab,
    "dup_every" -> dupEvery.toLong, "dup_offset" -> dupOffset.toLong)

  private var path = ""
  private var docs: DataFrame = _

  def generate(s: SparkSession): Seq[(String, Digest)] = {
    path = s"${ctx.dataDir}/hvdocs_n${docsRows}_v${vocab}_e${dupEvery}_o$dupOffset"
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      DeterministicGen.highVocabDocsDF(s, docsRows, vocab = vocab,
        dupEvery = dupEvery, dupOffset = dupOffset)
        .repartition(ctx.cores * 2)
        .write.mode("overwrite").parquet(path)
    Seq("hvdocs" -> Checks.digest(s.read.parquet(path), "doc_id", "text"))
  }

  def setup(s: SparkSession): Map[String, Double] = {
    spark = s
    docs = s.read.parquet(path).cache()
    docs.count()
    Map.empty
  }

  override def release(): Unit = if (docs != null) docs.unpersist()

  /** The seeded copies: doc i copies doc i-1 when i % dupEvery == dupOffset. */
  def expected(s: SparkSession): Map[String, Digest] = {
    val ids = s.range(0, docsRows).toDF("doc_id")
    val copy = pmod(col("doc_id"), lit(dupEvery.toLong)) === dupOffset
    Map(
      "winnow_pipeline" -> Checks.digest(ids.filter(!copy), "doc_id"),
      "minhash" -> Checks.digest(ids.filter(copy)
        .select((col("doc_id") - 1).as("key_a"), col("doc_id").as("key_b")), "key_a", "key_b"))
  }

  private def winnow(): DataFrame = Dedup.winnowedDupPairs(docs, col("text"), col("doc_id"),
    k = 8, w = 4, threshold = 0.8, maxDocFreq = 1000)

  def job(kind: String, j: Int, t: Tracer): JobOut = {
    t.pairKeys = Some(("key_a", "key_b"))
    var got: Digest = null
    val wall = timed(j, t) {
      kind match {
        case "winnow_pipeline" =>
          val pairs = t.span("ops.winnow")(winnow())
          val clusters = t.span("ops.clusters")(Dedup.dupClusters(pairs.select("key_a", "key_b")))
          val survivors = t.span("ops.dedup_by_clusters") {
            Dedup.dedupByClusters(docs, col("doc_id"), clusters)
          }
          got = t.span("ops.sink")(Checks.sink(survivors, "doc_id"))
        case "minhash" =>
          val pairs = t.span("ops.minhash")(Dedup.minhashDupPairs(docs, col("text"),
            col("doc_id"), ngram = 3, numHashes = 16, bands = 4, threshold = 0.5))
          got = t.span("ops.sink")(Checks.sink(pairs, "key_a", "key_b"))
      }
    }
    val layer =
      if (!t.enabled) Map.empty[String, Double]
      else {
        val tasks = moduleTasks(t, j, "ops")
        val candidates = moduleAudit(t, j, "ops").pairRows
        val (pairsOut, timing) = kind match {
          case "winnow_pipeline" =>
            val leg = t.span("ops.winnow_leg")(Checks.sink(winnow(), "key_a", "key_b"))
            val w = spanS(t, j, "ops.winnow_leg")
            (leg.rows, Map("ops.winnow_s" -> w, "ops.clusters_s" -> (wall - w)))
          case _ => (got.rows, Map("ops.minhash_s" -> wall))
        }
        timing ++ Map(
          "ops.candidate_pairs" -> candidates.toDouble,
          "ops.pairs_out" -> pairsOut.toDouble,
          "ops.spark_jobs" -> tasks.jobs.toDouble,
          "ops.result_bytes" -> tasks.resultBytes.toDouble,
          "ops.shuffle_bytes" -> tasks.shuffleWrite.toDouble,
          "ops.spill_bytes" -> tasks.spill.toDouble)
      }
    JobOut(kind, wall, docsRows, Some(got), None, layer)
  }
}

/** `spatial_dedup`: the spatial joins (each twice per pass) and the two
  * dedup pipelines (once each) in one seed-shuffled pass, so the median
  * job is a spatial join and the dedup pipelines form the tail. */
final class SpatialDedupWorkload(ctx: Ctx) extends Workload(ctx) {
  private val spatial = new SpatialWorkload(ctx)
  private val dedup = new DedupWorkload(ctx)
  val kinds: IndexedSeq[String] = spatial.kinds ++ dedup.kinds
  override val pass: IndexedSeq[String] = spatial.kinds ++ spatial.kinds ++ dedup.kinds
  def sizes: Map[String, Long] =
    spatial.sizes.map { case (k, v) => s"spatial.$k" -> v } ++
      dedup.sizes.map { case (k, v) => s"dedup.$k" -> v }
  private def of(kind: String): Workload = if (spatial.kinds.contains(kind)) spatial else dedup
  def generate(s: SparkSession): Seq[(String, Digest)] = spatial.generate(s) ++ dedup.generate(s)
  def setup(s: SparkSession): Map[String, Double] = spatial.setup(s) ++ dedup.setup(s)
  override def release(): Unit = { spatial.release(); dedup.release() }
  def expected(s: SparkSession): Map[String, Digest] = spatial.expected(s) ++ dedup.expected(s)
  def job(kind: String, j: Int, t: Tracer): JobOut = of(kind).job(kind, j, t)
}
