package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.compile.Compiler
import graft.engine.FilterEngine
import graft.fixtures.DeterministicGen
import graft.ofl.Parser
import graft.spatial.SpatialOps

/** Scaling-efficiency evidence run (BASELINE.md): the SAME jobs on the SAME
  * 6M-document fixture at two parallelism levels (the sandbox stand-in for
  * N vs 4N executors). The fixture is large enough that fixed costs (job
  * dispatch, codegen compile ≈0.5 s) are noise against 30 s+ of work.
  *
  * Usage: runMain graft.tools.ScalingBench <cpus> [nDocs]
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    // master: "8"/"32" → local[N] (thread mode), or a full master string like
    // "local-cluster[2,4,6144]" → separate executor PROCESSES (the faithful
    // N-executors stand-in; single-JVM thread mode hits a GC/runtime ceiling
    // well below 32 threads on this host)
    val masterArg = if (args.nonEmpty) args(0) else "8"
    val master = if (masterArg.forall(_.isDigit)) s"local[$masterArg]" else masterArg
    val cores: Int = "local-cluster\\[(\\d+),(\\d+),".r.findFirstMatchIn(master)
      .map(m => m.group(1).toInt * m.group(2).toInt)
      .orElse("local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt))
      .getOrElse(8)
    val n = if (args.length > 1) args(1).toLong else 6000000L
    val jdk17Opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      // co-tenant CPU-steal bursts on this host starve executor threads past
      // the 10 s default heartbeat — killed a 24M view build mid-fixture;
      // generous timeouts keep fixture builds alive (they do not make a
      // steal-slowed timed row valid: rerun the pair instead)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
    val spark = (if (master.startsWith("local-cluster")) {
      val jar = new java.io.File("target/scala-2.13")
        .listFiles().filter(_.getName.endsWith(".jar")).maxBy(_.lastModified).getAbsolutePath
      builder
        .config("spark.jars", jar)
        .config("spark.executor.memory", "5g")
        .config("spark.executor.extraJavaOptions", jdk17Opens)
    } else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // mode "typed" (default) / "decode": the filter+spatial suites below.
    // mode "ops": the shuffling training-data operators (minhash-LSH,
    // winnowed dedup, brute cosine top-k) — N-vs-4N evidence for the ops
    // layer, where the shuffle (band keys / fingerprint keys) is the thing
    // whose scaling needs proving; `n` is the hv-doc count (default 300k).
    if (args.length > 2 && args(2) == "ops") {
      runOps(spark, master, cores, if (args.length > 1) args(1).toLong else 300000L)
      spark.stop()
      return
    }

    // mode "geom": the way-geometry join family — refs-explode → node
    // equi-join → ordered reassembly (addLocations+wayMetrics over the docs
    // fixture's typed view) and the all-pairs-within-radius self-join over
    // the 12M-point hotspot fixture. Both are shuffle-bound joins whose
    // N-vs-4N behavior the filter/spatial suites don't stand in for.
    if (args.length > 2 && args(2) == "geom") {
      runGeom(spark, master, cores, n)
      spark.stop()
      return
    }

    // mode "s2": the spherical-cell family — level-12 S2 density (native
    // encoder kernel + hash agg) and the coverCap radius join over the
    // 12M-point hotspot fixture. The encode is map-side; the join's
    // broadcast-cover + refine is what needs the N-vs-4N pair.
    if (args.length > 2 && args(2) == "s2") {
      // `n` here is the POINT count (default 48M — the 12M fixture's 1-3 s
      // walls were dispatch-dominated and under-read the efficiency)
      runS2(spark, master, cores,
        if (args.length > 1) args(1).toLong else 48000000L)
      spark.stop()
      return
    }

    // mode "typed" (default) measures the materialized-view suite (cold
    // array-path compile, comparable with the r2/r3 tables); mode "hot"
    // measures the same suite over the HotTags layout with the hot-aware
    // compile — the current filterView production path; mode "decode"
    // measures the in-flight pruned-codegen decode suite (the
    // FilterEngine.filter production path). The decode suite is CPU-bound
    // per element, so it evidences executor scaling well below this host's
    // ~16-effective-core JVM ceiling / IO caps that the (much faster) typed
    // scan hits at 16 cores.
    val mode = if (args.length > 2) args(2) else "typed"
    val docsPath = s"/root/repo/target/bench/docs_dist_n$n"
    val viewPath = docsPath + (if (mode == "hot") "_view_h2" else "_view")
    if (!new java.io.File(docsPath + "/_SUCCESS").exists())
      DeterministicGen.distributedDocs(spark, n,
        parts = math.max(128, (n / 200000).toInt)) // ~200k docs per gen task
        .write.mode("overwrite").partitionBy("type").parquet(docsPath)
    if (mode != "decode" && !new java.io.File(viewPath + "/_SUCCESS").exists())
      FilterEngine.materializeView(spark.read.parquet(docsPath), viewPath)
    val view =
      if (mode == "decode") graft.model.OsmView.derive(spark.read.parquet(docsPath))
      else spark.read.parquet(viewPath)
    val nDocs = view.count()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Build each suite DataFrame ONCE and reuse it across timed runs:
    // re-compiling the predicate per run would create fresh Column instances
    // → plan-cache misses → per-query Catalyst analysis + Janino codegen on
    // the DRIVER, a fixed serial cost that doesn't scale with executors and
    // (post decode-codegen) would dominate the measurement. Scaling evidence
    // must measure the distributed scan, so warm once, then time steady
    // state — same median-of-N-protocol as Bench.
    val hotMap = if (mode == "hot") graft.engine.HotTags.forSchema(view.schema)
      else Map.empty[String, String]
    val suiteDfs = graft.Bench.filterSuite.map { e =>
      view.filter(Compiler.compileEffective(Parser.parse(e), Compiler.noFiles, hotMap))
    }
    suiteDfs.foreach(_.count()) // warm: analysis + codegen + JIT

    def suiteOnce(): Unit = suiteDfs.foreach(_.count())
    // best-of-3: per-run JIT/GC hiccups dominate variance in this sandbox
    val tFilter = Seq(time(suiteOnce()), time(suiteOnce()), time(suiteOnce())).min
    val filterEps = nDocs.toDouble * graft.Bench.filterSuite.size / tFilter

    import spark.implicits._
    val nodes = view.filter(col("type") === "node")
      .select(col("doc_id"), col("lat"), col("lon"))
    val nNodes = nodes.count()
    val polys = DeterministicGen.polygons()
      .map(p => (p.polygon_id, p.rings.map(_.map { case (la, lo) => (la, lo) })))
      .toDF("polygon_id", "rings")
      .withColumn("rings", col("rings").cast("array<array<struct<lat:double,lon:double>>>"))
    val spatialDfs = Seq(
      SpatialOps.polygonJoin(nodes, polys, level = 13),
      SpatialOps.tileJoin(nodes,
        DeterministicGen.rasterTiles(level = 12).map(t => (t.cell, t.level))
          .toDF("cell", "tile_level"), pointLevel = 16, tileLevel = 12),
      SpatialOps.cellDensity(nodes, 12))
    spatialDfs.foreach(_.count()) // warm (same rationale as the filter suite)
    val names = Seq("pip", "tile", "density")
    names.zip(spatialDfs).foreach { case (nm, df) =>
      System.err.println(f"SPATIAL_PART $nm ${time(df.count())}%.2f s")
    }
    def spatialOnce(): Unit = spatialDfs.foreach(_.count())
    val tSpatial = Seq(time(spatialOnce()), time(spatialOnce())).min
    val spatialRps = nNodes.toDouble * 3 / tSpatial

    println(f"""{"scaling_probe":true,"mode":"$mode","master":"$master","cores":$cores,"docs":$nDocs,"filter_sec":$tFilter%.2f,"filter_elements_per_sec":$filterEps%.0f,"spatial_sec":$tSpatial%.2f,"spatial_rows_per_sec":$spatialRps%.0f}""")
    spark.stop()
  }

  /** Geometry-join scaling run (fixtures cached and shared across both
    * parallelism levels, like runOps). Way assembly reads the materialized
    * view of the docs fixture; the distance join reads the 12M-point
    * fixture with a 5 m radius at ~10 m cells (answer ≈ 13M pairs — the
    * query's own output, not a plan artifact). */
  private def runGeom(spark: SparkSession, master: String, cores: Int,
                      n: Long): Unit = {
    import graft.spatial.GeomOps
    val docsPath = s"/root/repo/target/bench/docs_dist_n$n"
    val viewPath = docsPath + "_view"
    if (!new java.io.File(docsPath + "/_SUCCESS").exists())
      DeterministicGen.distributedDocs(spark, n,
        parts = math.max(128, (n / 200000).toInt))
        .write.mode("overwrite").partitionBy("type").parquet(docsPath)
    if (!new java.io.File(viewPath + "/_SUCCESS").exists())
      FilterEngine.materializeView(spark.read.parquet(docsPath), viewPath)
    val view = spark.read.parquet(viewPath)
    val nDocs = view.count()

    val ptsN = 12000000L
    val ptsPath = s"/root/repo/target/bench/pts_dist_n$ptsN"
    if (!new java.io.File(ptsPath + "/_SUCCESS").exists())
      DeterministicGen.pointsDF(spark, ptsN)
        .write.mode("overwrite").parquet(ptsPath)
    val points = spark.read.parquet(ptsPath)
      .withColumnRenamed("doc_id", "id")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val wayGeom = GeomOps.wayMetrics(GeomOps.addLocations(view))
    wayGeom.count() // warm: analysis + codegen + JIT
    val tWay = Seq(time(wayGeom.count()), time(wayGeom.count()),
      time(wayGeom.count())).min
    System.gc()
    System.err.println(f"GEOM_PART way_geom $tWay%.2f s")

    val dist = GeomOps.withinDistanceMeters(points, 5.0, level = 21)
    val nPairs = dist.count() // warm
    val tDist = Seq(time(dist.count()), time(dist.count())).min
    System.err.println(f"GEOM_PART distance_join $tDist%.2f s ($nPairs pairs)")

    println(f"""{"scaling_probe":true,"mode":"geom","master":"$master","cores":$cores,"docs":$nDocs,"pts_rows":$ptsN,"dist_pairs":$nPairs,"way_geom_sec":$tWay%.2f,"way_geom_rows_per_sec":${nDocs / tWay}%.0f,"distance_join_sec":$tDist%.2f,"distance_join_rows_per_sec":${ptsN / tDist}%.0f}""")
  }

  /** S2-family scaling run: level-12 density over the shared 12M-point
    * hotspot fixture, and the spherical-cap radius join (the hotspot
    * centers as queries, 100 km radius, level-10 covers). Fixture cached
    * and shared across both parallelism levels. */
  private def runS2(spark: SparkSession, master: String, cores: Int,
                    ptsN: Long): Unit = {
    import graft.spatial.SpatialOps
    val ptsPath = s"/root/repo/target/bench/pts_dist_n$ptsN"
    if (!new java.io.File(ptsPath + "/_SUCCESS").exists())
      DeterministicGen.pointsDF(spark, ptsN)
        .write.mode("overwrite").parquet(ptsPath)
    val points = spark.read.parquet(ptsPath)
      .withColumnRenamed("doc_id", "id")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val density = points
      .select(SpatialOps.s2CellId(col("lat"), col("lon"), 12).as("cell"))
      .groupBy("cell").count()
    density.count() // warm
    val tDen = Seq(time(density.count()), time(density.count()),
      time(density.count())).min
    System.err.println(f"S2_PART density $tDen%.2f s")

    import spark.implicits._
    val queries = DeterministicGen.hotspots.zipWithIndex
      .map { case ((la, lo), i) => (i.toLong, la, lo) }
      .toDF("query_id", "lat", "lon")
    val radius = SpatialOps.s2RadiusJoin(points, queries, 100000.0, level = 10)
    val nPairs = radius.count() // warm
    val tRad = Seq(time(radius.count()), time(radius.count())).min
    System.err.println(f"S2_PART radius_join $tRad%.2f s ($nPairs pairs)")

    println(f"""{"scaling_probe":true,"mode":"s2","master":"$master","cores":$cores,"pts_rows":$ptsN,"radius_pairs":$nPairs,"s2_density_sec":$tDen%.2f,"s2_density_rows_per_sec":${ptsN / tDen}%.0f,"radius_join_sec":$tRad%.2f,"radius_join_rows_per_sec":${ptsN / tRad}%.0f}""")
  }

  /** Ops-layer scaling run: same parquet fixtures, same jobs, two
    * parallelism levels. Both fixtures are materialized once and shared by
    * the N and 4N runs so the comparison is on identical bytes. */
  private def runOps(spark: SparkSession, master: String, cores: Int,
                     hvN: Long): Unit = {
    import graft.ops.{Dedup, Similarity}
    // UNBOUNDED-vocabulary corpus (constant work per doc: candidates are
    // the seeded duplicates only) so N-vs-4N and weak-scaling ratios
    // measure the OPERATOR, not corpus collision statistics that grow with
    // size (see highVocabDocsDF scaladoc); vocab-tagged path so a stale
    // bounded-vocab cache is never silently reused
    val hvPath = s"/root/repo/target/bench/hvdocs_dist_n${hvN}_vinf"
    if (!new java.io.File(hvPath + "/_SUCCESS").exists())
      DeterministicGen.highVocabDocsDF(spark, hvN, vocab = Long.MaxValue)
        .repartition(math.max(64, (hvN / 25000).toInt))
        .write.mode("overwrite").parquet(hvPath)
    val embN = 3000000L
    val embPath = s"/root/repo/target/bench/emb_dist_n${embN}_d64"
    if (!new java.io.File(embPath + "/_SUCCESS").exists())
      DeterministicGen.embeddingsDF(spark, embN, dim = 64)
        .write.mode("overwrite").parquet(embPath)

    val hv = spark.read.parquet(hvPath)
    val emb = spark.read.parquet(embPath)
    val nHv = hv.count(); val nEmb = emb.count()
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 20)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // per op: build the DataFrame once, warm (analysis+codegen+JIT),
    // best-of-3 on the SAME instance — the protocol of the suites above.
    // The DataFrame is scoped to its op and a GC nudge follows: shuffle
    // files live until the driver's ContextCleaner sees their dependency
    // objects collected, and the accumulated warm+3 runs of every op
    // otherwise pile up tens of GB of dead shuffle data at the 400k-doc
    // size (measured: 11 GB per executor — enough to fill the disk and
    // kill executors in a respawn loop).
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame, Long)] = Seq(
      ("minhash_lsh", () => Dedup.minhashDupPairs(hv, col("text"), col("doc_id"),
        ngram = 3, numHashes = 16, bands = 4, threshold = 0.5), nHv),
      ("winnowed", () => Dedup.winnowedDupPairs(hv, col("text"), col("doc_id"),
        k = 8, w = 4, threshold = 0.8, maxDocFreq = 1000), nHv),
      ("brute_topk", () => Similarity.bruteTopK(emb, q, 10), nEmb))
    // each trial RECONSTRUCTS the operator (round 6): the dedup operators
    // now execute their candidate generation eagerly at construction
    // (localCheckpoint + guarded collects), so timing count() on a shared
    // instance would measure only the verify tail — the frozen bench's
    // protocol (fresh construction per trial) is the correct one here too
    val timed = ops.map { case (name, mkDf, rows) =>
      val t = {
        mkDf().count() // warm (fresh instance: codegen + JIT)
        Seq(time(mkDf().count()), time(mkDf().count()), time(mkDf().count())).min
      }
      System.gc() // dfs are out of scope: let ContextCleaner drop shuffles
      System.err.println(f"OPS_PART $name $t%.2f s")
      (name, t, rows / t)
    }

    // --- driver-coordinated ops: construction itself runs jobs (Lloyd
    // training collects, dupClusters rounds checkpoint, kNN's widening
    // ladder probes), so each trial re-runs the WHOLE operator — warm once
    // for codegen/JIT, then best-of-2 full executions. These are the op
    // family whose N-vs-4N behavior a fixed-shuffle measurement can't
    // stand in for: per-round driver synchronization is a serial cost that
    // does not shrink with executors.
    import graft.spatial.SpatialOps
    // ~5.6M chain edges in 17-vertex components (diameter 16): real
    // multi-round closure, decoupled from the hv corpus size; sized so one
    // full execution is ≥30 s at the 4N config (fixed per-round driver
    // costs <5%) without making the 3-execution N-config run take an hour
    val edgeRange = 8000000L
    val edges = spark.range(0, edgeRange, 1, math.max(64, cores * 4))
      .filter(col("id") % 23 < 16)
      .select(col("id").as("key_a"), (col("id") + 1).as("key_b"))
    val edgeN = edges.count() // actual edges (16/23 of the range), not the range
    val ptsN = 12000000L
    val ptsPath = s"/root/repo/target/bench/pts_dist_n$ptsN"
    if (!new java.io.File(ptsPath + "/_SUCCESS").exists())
      DeterministicGen.pointsDF(spark, ptsN)
        .write.mode("overwrite").parquet(ptsPath)
    val points = spark.read.parquet(ptsPath)
    import spark.implicits._
    val knnQueries = DeterministicGen.hotspots.zipWithIndex.flatMap {
      case ((la, lo), i) =>
        (0 until 33).map(j => ((i * 33 + j).toLong, la + j * 0.003, lo + j * 0.002))
    }.toDF("query_id", "lat", "lon")
    val fullOps: Seq[(String, () => Long, Long)] = Seq(
      ("ivf_topk", () => Similarity.ivfTopK(emb, q, 10, dim = 64,
        nCentroids = 16, nProbe = 4).count(), nEmb),
      ("dup_clusters", () => Dedup.dupClusters(edges).count(), edgeN),
      ("knn", () => SpatialOps.knn(points, knnQueries, k = 10,
        level = 14, maxRing = 2).count(), ptsN))
    val timedFull = fullOps.map { case (name, run, rows) =>
      run() // warm
      val t = Seq(time(run()), time(run())).min
      System.gc()
      System.err.println(f"OPS_PART $name $t%.2f s")
      (name, t, rows / t)
    }

    val fields = (timed ++ timedFull).map { case (name, t, rps) =>
      f""""${name}_sec":$t%.2f,"${name}_rows_per_sec":$rps%.0f""" }.mkString(",")
    println(f"""{"scaling_probe":true,"mode":"ops","master":"$master","cores":$cores,"hv_docs":$nHv,"emb_rows":$nEmb,"edge_rows":$edgeN,"pts_rows":$ptsN,$fields}""")
  }
}
