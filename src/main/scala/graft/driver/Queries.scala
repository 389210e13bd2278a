package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.Compiler
import graft.engine.FilterEngine
import graft.ops.{Dedup, LangId, Similarity, TextOps}
import graft.spatial.{GeomOps, S2Layout, SpatialLayout, SpatialOps}

/** The driver-verified query suite: one entry per operator family
  * (SURVEY.md §2 + training-data ops + spatial layer). Every query is a real
  * engine path — OFL text parsed and compiled by the engine over the
  * span-encoded TpchOsm derivation, or a Dedup/Similarity/Text/Spatial
  * operator — and every oracle below re-derives the expected result in
  * DuckDB-ANSI SQL over the same base tables. Counts are cast to bigint to
  * match DuckDB's count/len types; floats are avoided or rounded. */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def ofl(expr: String)(project: DataFrame => DataFrame): Q =
    (spark, sfDir) => project(
      TpchOsm.view(spark, sfDir)
        .filter(Compiler.compileEffective(graft.ofl.Parser.parse(expr))))

  /** Registers a recursive delete of `dir` at JVM exit (idempotent per
    * path). Gate queries that materialize scratch data route through this
    * so repeated Verify runs never accumulate under /tmp. */
  private val exitDirs = scala.collection.mutable.Set.empty[String]
  private[driver] def deleteOnExit(dir: String): Unit = exitDirs.synchronized {
    if (exitDirs.add(dir))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(dir))
      }))
  }

  /** Per-process scratch materialization, built once per (kind, sfDir) —
    * gates that share an expensive layout (the hot-key view, the spatial
    * layout) pay its build cost once per Verify run, pid-suffixed so
    * concurrent runs never clobber each other, cleaned up at exit. */
  private val scratch = scala.collection.mutable.Map.empty[String, String]
  private def materializedOnce(kind: String, sfDir: String)
                              (build: String => Unit): String =
    scratch.synchronized {
      scratch.getOrElseUpdate(kind + ":" + sfDir, {
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-$kind-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
            "-" + ProcessHandle.current().pid()).toString
        deleteOnExit(dir)
        build(dir)
        dir
      })
    }

  /** The hot-key materialized view (FilterEngine.materializeView), shared
    * by `ofl_hot_filter` and the layout-composition gates. */
  private def hotViewDir(spark: SparkSession, sfDir: String): String =
    materializedOnce("hotview", sfDir) { dir =>
      FilterEngine.materializeView(TpchOsm.docs(spark, sfDir), dir)
    }

  /** The nodes layout (SpatialLayout.materialize over id/lat/lon), shared
    * by `spatial_bbox_prune`, `spatial_bbox_hilbert` and
    * `spatial_pip_pruned`. */
  private def layoutDir(spark: SparkSession, sfDir: String): String =
    materializedOnce("layout", sfDir) { dir =>
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      SpatialLayout.materialize(nodes, dir, coarseLevel = 3, fineLevel = 14)
    }

  /** Two bboxes through the pruned [[layoutDir]] path (nodes materialized
    * as a Hilbert-clustered table) — box 1 mid-ocean, box 2 wraps the
    * antimeridian. */
  private val bboxPrune: Q = { (spark, sfDir) =>
    val layout = spark.read.parquet(layoutDir(spark, sfDir))
    val a = SpatialLayout.bboxFilter(layout, 10.005, 25.005, -60.005, -20.005)
      .select(lit(1L).as("box_id"), col("id"))
    val b = SpatialLayout.bboxFilter(layout, -35.005, -5.005, 170.005, -150.005)
      .select(lit(2L).as("box_id"), col("id"))
    a.unionByName(b).orderBy("box_id", "id")
  }

  /** The `spatial_pip`/`spatial_pip_pruned` polygon fixture (mid-ocean
    * rectangles + a triangle; oracle = half-plane inequalities). */
  private def pipPolys(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Seq(Seq((-20.005, -60.005), (-20.005, -20.005), (20.005, -20.005), (20.005, -60.005)))),
      (2L, Seq(Seq((30.005, 100.005), (30.005, 150.005), (60.005, 150.005), (60.005, 100.005)))),
      (3L, Seq(Seq((0.005, 100.005), (30.005, 160.005), (-30.005, 160.005)))))
      .toDF("polygon_id", "rings")
      .withColumn("rings",
        col("rings").cast("array<array<struct<lat:double,lon:double>>>"))
  }

  /** Deterministic id-list file for `in (<'file')`: "3 6 9 … 300". */
  private lazy val idFilePath: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempFile("graft-oracle-ids", ".txt")
    p.toFile.deleteOnExit()
    java.nio.file.Files.writeString(p, (3 to 300 by 3).mkString(" "))
    p
  }

  val all: Map[String, Q] = Map(
    // --- OFL filter engine over the span-encoded derivation -----------------
    "ofl_tag_version" -> ofl("status == 'F' and @version >= 2") { v =>
      v.select(col("id"), col("version"), col("user").as("usr")).orderBy("id")
    },
    "ofl_regex_prefix" -> ofl("priority =~ 'URGENT$' and @user =^ '1'") { v =>
      v.select(col("id"), col("user").as("usr")).orderBy("id")
    },
    "ofl_count_tags" -> ofl("@tags >= 4") { v =>
      v.select(col("id"), size(col("tags")).cast("long").as("n_tags")).orderBy("id")
    },
    "ofl_idlist" -> ofl("@id in (3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987, 1597, 2584, 4181, 6765, 10946)") { v =>
      v.select(col("id"), col("type").as("otype")).orderBy("id")
    },
    "ofl_idfile" -> { (spark, sfDir) =>
      val loader = Compiler.fileLoader(_ => idFilePath)
      TpchOsm.view(spark, sfDir)
        .filter(Compiler.compileEffective(
          graft.ofl.Parser.parse("@id in (<'ids')"), loader))
        .select(col("id")).orderBy("id")
    },
    "ofl_bool_not" -> ofl("@way and not (status == 'O')") { v =>
      v.select(col("id")).orderBy("id")
    },
    "ofl_closed_way" -> ofl("@closed_way") { v =>
      v.select(col("id")).orderBy("id")
    },
    "ofl_nodes_count" -> ofl("@nodes[@ref >= 500] >= 2") { v =>
      v.select(col("id"),
        size(filter(col("nds"), r => r >= 500)).cast("long").as("n_match"))
        .orderBy("id")
    },
    "ofl_members_role" -> ofl("@members[@role == 'outer'] > 0") { v =>
      v.select(col("id"),
        size(filter(col("members"), m => m.getField("role") === "outer"))
          .cast("long").as("n_outer"))
        .orderBy("id")
    },
    "ofl_user_regex" -> ofl("@user =~ '^[12]-' or not @visible") { v =>
      v.select(col("id")).orderBy("id")
    },
    // F17: bare key = has-key check (reference hpp:1342)
    "ofl_has_key" -> ofl("highway") { v =>
      v.select(col("id")).orderBy("id")
    },
    // F19 `i` flag: case-insensitive tag regex (reference hpp:1417-1431)
    "ofl_regex_ci" -> ofl("priority =~ 'urgent$'i") { v =>
      v.select(col("id")).orderBy("id")
    },
    // entity-mask quirk: `@tags > @nodes` raw-evals true on tagged nodes but
    // the mask is way-only, so only ways are emitted (main.cpp:182 semantics)
    "ofl_mask_quirk" -> ofl("@tags > @nodes") { v =>
      v.select(col("id"), col("type").as("otype")).orderBy("id")
    },
    // the HOT compile path end-to-end: materialize the view (with t_<key>
    // pushdown columns), then filterView so tag checks on hot keys compile
    // to the projected columns — the predicate mixes hot equality
    // (highway, oneway, addr:housenumber), a hot has-key on an
    // ALL-NULL column (building never occurs in the derivation), and a
    // cold key (priority is not in HotTags), so both compile paths are
    // oracle-checked in one query
    "ofl_hot_filter" -> { (spark, sfDir) =>
      val view = spark.read.parquet(Queries.hotViewDir(spark, sfDir))
      // '110' keeps the oneway/housenumber conjunct LIVE at sf0.01 (six
      // matching rows): k%10=0 ∧ k%11=0 ∧ k%250=110 is satisfiable,
      // unlike '42' (k%250=42 forces k%10=2 — contradiction), so a hot
      // column compiling to always-null would fail this gate
      FilterEngine.filterView(view,
        "highway == residential or (oneway == yes and 'addr:housenumber' == '110') " +
          "or building or (priority =~ '^3' and highway)")
        .select(col("id")).orderBy("id")
    },
    "ofl_complete_ways" -> { (spark, sfDir) =>
      FilterEngine.completeWays(TpchOsm.docs(spark, sfDir), "highway == primary")
        .select(col("type").as("otype"), col("id")).orderBy("otype", "id")
    },

    // --- spatial layer -------------------------------------------------------
    "spatial_grid_density" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir).filter(col("type") === "node")
      val cell = SpatialOps.cellId(col("lat"), col("lon"), 12)
      nodes.select(SpatialOps.cellX(cell).as("cx"), SpatialOps.cellY(cell).as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
        .orderBy("cx", "cy")
    },
    "spatial_pip" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      SpatialOps.polygonJoin(nodes, Queries.pipPolys(spark), level = 5)
        .select(col("polygon_id"), col("id")).orderBy("polygon_id", "id")
    },
    // the same join answered through the layout: the scan prefilters to
    // the polygons' cover ranges (directory pruning + pushed zcell ranges)
    // before the cover-prejoin + refine — must match spatial_pip's oracle
    "spatial_pip_pruned" -> { (spark, sfDir) =>
      val layout = spark.read.parquet(Queries.layoutDir(spark, sfDir))
      SpatialLayout.polygonJoin(layout, Queries.pipPolys(spark), level = 5)
        .select(col("polygon_id"), col("id")).orderBy("polygon_id", "id")
    },
    "spatial_knn" -> { (spark, sfDir) =>
      import spark.implicits._
      val queries = Seq((1L, 10.005, -30.005), (2L, -45.005, 100.005),
        (3L, 60.005, 160.005)).toDF("query_id", "lat", "lon")
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      SpatialOps.knn(nodes, queries, k = 5, level = 5, maxRing = 2,
        metric = SpatialOps.PlanarDegrees2Metric, tieBreak = "id")
        .select(col("query_id"), col("id"))
        .orderBy("query_id", "id")
    },
    "spatial_tile_join" -> { (spark, sfDir) =>
      // raster side: tiles derived from `part` at level 6; vector side:
      // order-derived nodes at level 12, joined on the parent-cell prefix
      val k = col("p_partkey")
      val plat = ((k * 7919) % 17000 * 100000L - 850000000L) / 1e7
      val plon = ((k * 104729) % 36000 * 100000L - 1800000000L) / 1e7
      val tiles = spark.read.parquet(s"$sfDir/part.parquet")
        .select(col("p_partkey"),
          SpatialOps.cellId(plat, plon, 6).as("cell"))
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      SpatialOps.tileJoin(nodes, tiles, pointLevel = 12, tileLevel = 6)
        .select(col("id"), col("p_partkey")).orderBy("id", "p_partkey")
    },
    // the clustered storage layout end-to-end; the wrapping box is the
    // coverBBox wrap-collision bug a plain-filter oracle would catch if it
    // regressed. Results must equal the exact predicate.
    "spatial_bbox_prune" -> Queries.bboxPrune,
    // a twin of spatial_bbox_prune, kept because its oracle entry is frozen
    "spatial_bbox_hilbert" -> Queries.bboxPrune,
    // S2-style spherical cells (cube face + quadratic st + per-face
    // Hilbert): per-cell node density at level 12 — the oracle re-derives
    // the full encoder (face chain, gnomonic uv, quadratic st, unrolled
    // Hilbert transducer) in pure SQL arithmetic
    "spatial_s2_cell" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir).filter(col("type") === "node")
      nodes.select(SpatialOps.s2CellId(col("lat"), col("lon"), 12).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy("cell")
    },
    // level-6 tiles derived by SHIFT from the level-12 cell (cellParent is
    // curve-agnostic: face bits ride above the Hilbert position) — the
    // oracle re-encodes level 6 from scratch, so a prefix-property break
    // anywhere in the chain fails the hash
    "spatial_s2_tile" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir).filter(col("type") === "node")
      val fine = SpatialOps.s2CellId(col("lat"), col("lon"), 12)
      nodes.select(SpatialOps.cellParent(fine, 12, 6).as("tile"))
        .groupBy("tile").agg(count(lit(1)).as("n"))
        .orderBy("tile")
    },
    // the raster-pyramid rollup: per-cell densities for FIVE zoom levels
    // in one pass (explode + single hash agg); the oracle recomputes each
    // level's morton interleave bit-by-bit and UNION ALLs them
    "spatial_tile_pyramid" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("lat", "lon")
      SpatialOps.tilePyramid(nodes, 4, 8).orderBy("cell")
    },
    // the spherical-cap query through the S2-clustered STORAGE layout
    // (directory pruning + pushed scell ranges + haversine refine) — the
    // pole-adjacent center is the case the equirect bbox layout can't
    // prune (a polar cap spans every longitude column of that grid)
    "spatial_s2_cap" -> { (spark, sfDir) =>
      val dir = Queries.materializedOnce("s2layout", sfDir) { d =>
        val nodes = TpchOsm.view(spark, sfDir)
          .filter(col("type") === "node").select("id", "lat", "lon")
        S2Layout.materialize(nodes, d, coarseLevel = 3, fineLevel = 12)
      }
      S2Layout.capFilter(spark.read.parquet(dir), 84.005, 0.005, 1500000.0)
        .select("id").orderBy("id")
    },
    // END-TO-END geospatial pipeline — the composed shape a real spatial
    // prep run executes: hot tag filter (pushed t_highway IsNotNull) →
    // polygon containment (cover prejoin + exact refine) → per-polygon S2
    // tile density; the oracle re-derives every stage (tag arithmetic,
    // half-planes, full encoder chain with polygon_id carried through)
    "pipeline_spatial" -> { (spark, sfDir) =>
      val view = spark.read.parquet(Queries.hotViewDir(spark, sfDir))
      val nodes = FilterEngine.filterView(view, "highway")
        .filter(col("type") === "node").select("id", "lat", "lon")
      val joined = SpatialOps.polygonJoin(nodes, Queries.pipPolys(spark), level = 5)
      joined.select(col("polygon_id"),
          SpatialOps.s2CellId(col("lat"), col("lon"), 6).as("tile"))
        .groupBy("polygon_id", "tile").agg(count(lit(1)).as("n"))
        .orderBy("polygon_id", "tile")
    },
    // spherical-cap radius join on the S2 grid: conservative coverCap
    // prejoin (superset by triangle inequality) + exact haversine refine;
    // query 3 sits near the pole so the cover crosses onto face 2
    "spatial_s2_radius" -> { (spark, sfDir) =>
      import spark.implicits._
      val qs = Seq((1L, 48.905, 2.405), (2L, -33.905, 151.205),
        (3L, 84.005, 0.005)).toDF("query_id", "lat", "lon")
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      SpatialOps.s2RadiusJoin(nodes, qs, 1500000.0, level = 8)
        .select(col("query_id"), col("id")).orderBy("query_id", "id")
    },
    // BOTH metadata-driven prune layers on ONE table: the layout is
    // materialized over the HOT-KEY VIEW (t_<key> columns + graft_hot_key
    // metadata ride through SpatialLayout.materialize), so the single scan
    // carries pcell directory pruning + pushed zcell ranges + pushed
    // t_highway predicates, and filterView compiles hot on the layout
    "spatial_bbox_hot" -> { (spark, sfDir) =>
      val zdir = Queries.materializedOnce("layout-hot", sfDir) { dir =>
        val nodes = spark.read.parquet(Queries.hotViewDir(spark, sfDir))
          .filter(col("type") === "node")
        SpatialLayout.materialize(nodes, dir, coarseLevel = 3, fineLevel = 14)
      }
      val layout = spark.read.parquet(zdir)
      FilterEngine.filterView(
        SpatialLayout.bboxFilter(layout, -20.005, 40.005, -100.005, 30.005),
        "highway == residential or @version >= 8")
        .select("id").orderBy("id")
    },
    "spatial_tile_assign" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node")
      val cell12 = SpatialOps.cellId(col("lat"), col("lon"), 12)
      val tile = SpatialOps.cellParent(cell12, 12, 6)
      nodes.select(col("id"),
        SpatialOps.cellX(tile).as("cx"), SpatialOps.cellY(tile).as("cy"))
        .orderBy("id")
    },

    // way-geometry materialization (the libosmium add-locations-to-ways
    // analog as a distributed equi-join + ordered reassembly) with
    // exact-integer measures — bbox/path/shoelace all BIGINT so the oracle
    // is arithmetic, not trig
    "spatial_way_geom" -> { (spark, sfDir) =>
      val view = TpchOsm.view(spark, sfDir)
      GeomOps.wayMetrics(GeomOps.addLocations(view))
        .select(col("way_id").as("id"), col("n_refs"), col("n_resolved"),
          col("min_lat_e7"), col("max_lat_e7"),
          col("min_lon_e7"), col("max_lon_e7"),
          col("path_e7"), col("area2_e5"))
        .orderBy("id")
    },
    // relation-level aggregation over member-way geometries (nodes → ways
    // → relations, the full hierarchy in one distributed plan)
    "spatial_rel_geom" -> { (spark, sfDir) =>
      val view = TpchOsm.view(spark, sfDir)
      val ways = GeomOps.wayMetrics(GeomOps.addLocations(view))
      GeomOps.relationGeoms(view, ways)
        .select(col("rel_id").as("id"), col("n_members"), col("n_way_members"),
          col("n_ways_resolved"), col("sum_path_e7"),
          col("min_lat_e7"), col("max_lat_e7"),
          col("min_lon_e7"), col("max_lon_e7"))
        .orderBy("id")
    },
    // all-pairs-within-radius self-join: cover-cell prejoin + exact planar
    // refine (never a cross product; the oracle IS the cross product)
    "spatial_distance_join" -> { (spark, sfDir) =>
      val nodes = TpchOsm.view(spark, sfDir)
        .filter(col("type") === "node").select("id", "lat", "lon")
      GeomOps.withinDistanceDeg(nodes, radiusDeg = 1.0, level = 7)
        .select("key_a", "key_b").orderBy("key_a", "key_b")
    },

    // --- text analysis ----------------------------------------------------------
    "text_tokens" -> { (spark, sfDir) =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          TextOps.tokenCountWs(col("text")).cast("long").as("tok_ws"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("tok_bpe"),
          round(TextOps.punctRatio(col("text")), 4).as("punct"))
        .orderBy("doc_id")
    },
    "text_langid" -> { (spark, sfDir) =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
        .orderBy("doc_id")
    },
    "text_quality" -> { (spark, sfDir) =>
      // the remaining TextOps scoring surface: upper-case ratio, English
      // stopword ratio, and the composite quality score — the DuckDB twin
      // mirrors each sub-expression (same operand order, same rounding) so
      // the IEEE doubles hash-match
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          round(TextOps.upperRatio(col("text")), 4).as("upper_ratio"),
          round(TextOps.stopwordRatio(col("text"), LangId.profiles.head._2), 4)
            .as("stop_ratio"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // --- dedup -------------------------------------------------------------------
    "dedup_prefix_survivors" -> { (spark, sfDir) =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      Dedup.exactDedup(docs, substring(col("text"), 1, 40), col("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    "dedup_jaccard3" -> { (spark, sfDir) =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 30)
      Dedup.jaccardDupPairs(docs, col("text"), col("doc_id"),
        ngram = 3, threshold = 0.005)
        .select(col("key_a"), col("key_b"), round(col("jaccard"), 4).as("j4"))
        .orderBy("key_a", "key_b")
    },
    "dedup_jaccard1" -> { (spark, sfDir) =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 40)
      Dedup.jaccardDupPairs(docs, col("text"), col("doc_id"),
        ngram = 1, threshold = 0.4)
        .select(col("key_a"), col("key_b"), round(col("jaccard"), 4).as("j4"))
        .orderBy("key_a", "key_b")
    },

    "dedup_winnowed" -> { (spark, sfDir) =>
      // identical normalized text ⇒ identical winnowed fingerprint sets ⇒
      // overlap = 1.0, and with the doc-frequency cut disabled candidacy is
      // GUARANTEED (every pair sharing a fingerprint is generated), so
      // restricting the emitted pairs to normalized-text-equal pairs makes
      // the output provably equal the SQL-recomputable set
      // {(a,b) : normalized_text(a) = normalized_text(b)} — a recall miss
      // in the operator shows as a missing row vs the oracle. Sub-1.0
      // thresholds and the df cut stay covered by OpsSpec.
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val seeded = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val u = docs.unionByName(seeded)
      val pairs = Dedup.winnowedDupPairs(u, col("text"), col("doc_id"),
        k = 8, w = 4, threshold = 1.0, maxDocFreq = Int.MaxValue)
      val norm = u.select(col("doc_id"), TextOps.normalizedText(col("text")).as("nt"))
      pairs
        .join(norm.select(col("doc_id").as("key_a"), col("nt").as("nt_a")), "key_a")
        .join(norm.select(col("doc_id").as("key_b"), col("nt").as("nt_b")), "key_b")
        .filter(col("nt_a") === col("nt_b"))
        .select(col("key_a"), col("key_b")).orderBy("key_a", "key_b")
    },
    "dedup_winnowed_partial" -> { (spark, sfDir) =>
      // the sub-1.0 threshold + FINITE maxDocFreq path (prefilter branch
      // with a real doc-frequency table — dedup_winnowed runs threshold=1.0
      // with the cut disabled). Seeded docs are the base text DOUBLED
      // (t + ' ' + t): every full k-gram window of the base occurs at the
      // same offset in the double, so FP(base) ⊆ FP(double) whenever the
      // normalized base has ≥ w full windows (length ≥ k+w−1 = 11), making
      // overlap = |FP(base)|/min = 1.0 ≥ 0.8 GUARANTEED — candidacy too
      // (all shared fingerprints have df ≤ 340 docs < maxDocFreq=1000, and
      // the prefilter bound shared_rare ≥ 0.8·min holds with equality
      // margin). Restricting the emitted pairs to the SQL-recomputable
      // doubling relation makes output == oracle exactly; a prefilter or
      // recall bug shows as a missing row.
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val seeded = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text"))
      val u = docs.unionByName(seeded)
      val pairs = Dedup.winnowedDupPairs(u, col("text"), col("doc_id"),
        k = 8, w = 4, threshold = 0.8, maxDocFreq = 1000)
      val norm = u.select(col("doc_id"), TextOps.normalizedText(col("text")).as("nt"))
      pairs
        .join(norm.select(col("doc_id").as("key_a"), col("nt").as("nt_a")), "key_a")
        .join(norm.select(col("doc_id").as("key_b"), col("nt").as("nt_b")), "key_b")
        .filter((length(col("nt_a")) >= 11 &&
            col("nt_b") === concat(col("nt_a"), lit(" "), col("nt_a"))) ||
          (length(col("nt_b")) >= 11 &&
            col("nt_a") === concat(col("nt_b"), lit(" "), col("nt_b"))))
        .select(col("key_a"), col("key_b")).orderBy("key_a", "key_b")
    },
    "dedup_clusters" -> { (spark, sfDir) =>
      // connected components over a deterministic, SQL-recomputable edge
      // list: (doc_id, doc_id+1) whenever doc_id % 23 < 16 and both ends
      // exist — per 23-block, a 17-vertex chain (diameter 16), so the gate
      // exercises real multi-round transitive closure, not just cliques.
      // The oracle re-derives components with gaps-and-islands SQL.
      val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
      val edges = d.filter(col("doc_id") % 23 < 16)
        .select(col("doc_id").as("key_a"))
        .join(d.select(col("doc_id").as("key_b")),
          col("key_b") === col("key_a") + 1)
      Dedup.dupClusters(edges)
        .select(col("key"), col("cluster")).orderBy("key")
    },
    "dedup_survivors" -> { (spark, sfDir) =>
      // the survivor half of cluster resolution over the SAME seeded edge
      // list as dedup_clusters: every doc survives except non-representative
      // members (key != component minimum) — the oracle re-derives the
      // drop set with the same gaps-and-islands SQL.
      val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
      val edges = d.filter(col("doc_id") % 23 < 16)
        .select(col("doc_id").as("key_a"))
        .join(d.select(col("doc_id").as("key_b")),
          col("key_b") === col("key_a") + 1)
      Dedup.dedupByClusters(d, col("doc_id"), Dedup.dupClusters(edges))
        .select(col("doc_id")).orderBy("doc_id")
    },

    // the CAPSTONE pipeline — what a real training-data prep run composes:
    // near-dup pair detection (MinHash-LSH at threshold 1.0: j=1 ⟺ shingle-
    // SET equality, an equivalence relation, and identical sets share all
    // band keys so candidacy is guaranteed) → transitive cluster resolution
    // → one survivor per cluster → quality + language gate. The oracle
    // re-derives every stage: set-equality grouping stands in for
    // pairs+components (equivalence ⇒ same partition), empty shingle sets
    // stay solo (the operator emits no pairs for them: ∅-jaccard is null),
    // and the quality/langid expressions are the text_quality/text_langid
    // mirrors.
    "pipeline_dedup_quality" -> { (spark, sfDir) =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val seeded = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val u = docs.unionByName(seeded)
      val pairs = Dedup.minhashDupPairs(u, col("text"), col("doc_id"),
        ngram = 3, numHashes = 16, bands = 4, threshold = 1.0)
        .select("key_a", "key_b")
      val survivors = Dedup.dedupByClusters(u, col("doc_id"), Dedup.dupClusters(pairs))
      survivors
        .filter(TextOps.qualityScore(col("text")) >= 0.5 &&
          TextOps.langId(col("text")) === "en")
        .select("doc_id").orderBy("doc_id")
    },

    // --- events (streaming surface, batch-executed for the oracle) ---------------
    "events_windowed" -> { (spark, sfDir) =>
      // EventStreams.windowedCounts runs batch or stream; batch execution
      // (watermark is a no-op) makes it DuckDB-checkable. window_start goes
      // out as epoch seconds (BIGINT both sides — arrow timestamp tz
      // annotations differ between writers) and the double sum is rounded
      // to the fixture's 2-decimal precision so accumulation order can't
      // flip the hash.
      val events = spark.read.parquet(s"$sfDir/events.parquet")
      graft.streaming.EventStreams.windowedCounts(events, "1 hour", "10 minutes")
        // NTZ → ltz → epoch seconds (session tz is UTC, like DuckDB epoch())
        .select(col("window_start").cast("timestamp").cast("long").as("window_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    },

    // batch sessionization: per-user gap-separated sessions, DuckDB
    // gaps-and-islands oracle. Times flow as epoch MILLIS both sides (the
    // kernel's Timestamp.getTime floors the fixture's µs timestamps to ms,
    // and the oracle's epoch_ms floors identically — the gap comparison
    // must also run on floored ms so a µs-straddling gap can't disagree).
    "events_sessions" -> { (spark, sfDir) =>
      import spark.implicits._
      val events = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.EventRow]
      // 8 h gap: on the sparse fixture (≈67 events/user/month) this yields
      // ≈2.1 events/session — real merging, not 10k singleton islands
      graft.streaming.EventStreams.sessionizeBatch(events, gapMs = 8 * 3600 * 1000L)
        .toDF()
        .select(col("user_id"),
          unix_millis(col("session_start")).as("session_start"),
          unix_millis(col("session_end")).as("session_end"),
          col("n_events").cast("long").as("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start")
    },

    // --- similarity ----------------------------------------------------------------
    "sim_topk" -> { (spark, sfDir) =>
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteTopK(emb, queries, 5)
        .select(col("query_id"), col("vec_id")).orderBy("query_id", "vec_id")
    },

    // --- hash-seeded ops, oracle-checked via exact-metric recomputation --------------
    // The LSH/SimHash signatures themselves have no ANSI-SQL twin, but each
    // gate query is parameterized so its OUTPUT equals an exactly
    // recomputable set: the oracle recomputes the metric (jaccard / token
    // multiset / cosine / brute top-k) per pair and equality asserts both
    // threshold correctness and full recall on the seeded duplicates.
    "dedup_minhash_lsh" -> { (spark, sfDir) =>
      // docs<300 plus exact copies of docs<40, threshold 1.0: a j=1 pair has
      // identical shingle sets → identical minhash signature → identical
      // band keys, so candidacy is GUARANTEED (not banding-probability luck)
      // and the output provably equals the SQL-recomputable exact set
      // {pairs with 3-gram jaccard = 1}. Probabilistic recall on the
      // [0.5, 1) band is covered by OpsSpec's seeded-recall test, and exact
      // sub-1.0 thresholds by the dedup_jaccard gates.
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val seeded = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      Dedup.minhashDupPairs(docs.unionByName(seeded),
        col("text"), col("doc_id"), ngram = 3, numHashes = 16, bands = 4,
        threshold = 1.0)
        .select(col("key_a"), col("key_b"), round(col("jaccard"), 4).as("j4"))
        .orderBy("key_a", "key_b")
    },
    "dedup_simhash" -> { (spark, sfDir) =>
      // identical token MULTISET ⇒ identical simhash ⇒ hamming 0 ⇒ banded
      // candidate, so restricting the emitted candidates to multiset-equal
      // pairs makes the output provably equal the SQL-recomputable set
      // (sorted-token-list equality); precision stays covered by OpsSpec.
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val seeded = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val u = docs.unionByName(seeded)
      val pairs = Dedup.simhashDupPairs(u, col("text"), col("doc_id"),
        bands = 4, maxHamming = 3)
      val toks = u.select(col("doc_id"), sort_array(
        filter(split(lower(trim(col("text"))), "[^\\p{L}\\p{N}]+"),
          t => length(t) > 0)).as("mt"))
      pairs
        .join(toks.select(col("doc_id").as("key_a"), col("mt").as("mt_a")), "key_a")
        .join(toks.select(col("doc_id").as("key_b"), col("mt").as("mt_b")), "key_b")
        .filter(col("mt_a") === col("mt_b"))
        .select(col("key_a"), col("key_b")).orderBy("key_a", "key_b")
    },
    "sim_ivf_ann" -> { (spark, sfDir) =>
      // nProbe = nCentroids probes every bucket: the trained quantizer,
      // assignment, and probe machinery all run, and the result provably
      // equals brute-force top-k — which the oracle recomputes.
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopK(emb, queries, 10, dim = 64, nCentroids = 16, nProbe = 16)
        .select("query_id", "vec_id").orderBy("query_id", "vec_id")
    },
    // the train-once/probe-separately production shape: centroids trained
    // by ivfCentroids (one job), probing via the pretrained overload — with
    // every bucket probed the result provably equals brute-force top-k,
    // which the oracle recomputes; equality with the fused path at
    // approximate settings is spec-pinned (OpsSpec)
    "sim_ivf_pretrained" -> { (spark, sfDir) =>
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = Similarity.ivfCentroids(emb, dim = 64, nCentroids = 16)
      Similarity.ivfTopK(emb, queries, 10, cents, nProbe = 16)
        .select("query_id", "vec_id").orderBy("query_id", "vec_id")
    },
    "sim_cosine_dups" -> { (spark, sfDir) =>
      // seeded exact-duplicate vectors share LSH signatures (deterministic
      // function of the embedding), so every cos≥0.999 pair is a guaranteed
      // candidate (natural max cosine in the fixture is ~0.51): output ==
      // all pairs with exact cosine ≥ 0.999, recomputed by the oracle.
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dups = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label"))
      Similarity.cosineDupPairs(emb.unionByName(dups), col("vec_id"),
        threshold = 0.999, dim = 64, bits = 8)
        .select(col("key_a"), col("key_b")).orderBy("key_a", "key_b")
    },
    "sim_lsh_ann" -> { (spark, sfDir) =>
      // probes = 2^bits - 1 walks the full hamming-order probe sequence —
      // every bucket is visited, so the multi-probe path provably equals
      // brute-force top-k, which the oracle recomputes.
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopK(emb, queries, 10, dim = 64, bits = 4, probes = 15)
        .select("query_id", "vec_id").orderBy("query_id", "vec_id")
    },
    "multimodal_decode" -> { (spark, sfDir) =>
      val docs = TpchOsm.docs(spark, sfDir)
      val media = graft.ops.Multimodal.mediaTable(graft.model.OsmView.derive(docs))
      graft.ops.Multimodal.decodeImages(media, featureDim = 8)
        .toDF().select("doc_id", "media_ref", "width", "height", "format")
        .orderBy("doc_id", "media_ref")
    },
    // the REAL feature path: decodeGray pixels → 4×4 grid-pooled mean
    // intensities. The emitted values are the EXACT integer pixel sums of
    // the first and last pooling cells, recovered from the float means by
    // feature·cellCount rounding (float error ≤ mean·6e-8·count ≪ 0.5), so
    // the oracle — which re-derives the sums from the fixture's gradient
    // arithmetic pixel(x,y) = (31x+17y+mid) mod 256 with the same integer
    // cell bounds — checks the decode, the pooling boundaries, and the
    // normalization exactly, no float-rounding ambiguity
    "multimodal_features" -> { (spark, sfDir) =>
      val docs = TpchOsm.docs(spark, sfDir)
      val media = graft.ops.Multimodal.mediaTable(graft.model.OsmView.derive(docs))
      val feats = graft.ops.Multimodal.decodeImages(media, featureDim = 16).toDF()
      val cw0 = floor(col("width") / 4).cast("long")
      val ch0 = floor(col("height") / 4).cast("long")
      val cw3 = col("width") - floor(col("width") * 3 / 4).cast("long")
      val ch3 = col("height") - floor(col("height") * 3 / 4).cast("long")
      feats.select(col("doc_id"), col("media_ref"),
        size(col("feature")).cast("long").as("dim"),
        round(element_at(col("feature"), 1).cast("double") * cw0 * ch0)
          .cast("long").as("s00"),
        round(element_at(col("feature"), 16).cast("double") * cw3 * ch3)
          .cast("long").as("s33"))
        .orderBy("doc_id", "media_ref")
    },
    // the END-TO-END multimodal → embedding → ANN chain on real pixels:
    // payload → resize 16×16 → grid-pooled features → LSH-bucketed
    // cosineDupPairs. Emitted pairs are restricted to equal-mid pairs —
    // identical ref digits ⇒ identical payload ⇒ identical resized pixels ⇒
    // identical feature vector ⇒ identical LSH signature (guaranteed
    // candidate) and cosine 1 ≥ 0.999 — so the output provably equals the
    // SQL-recomputable set {(a,b) : mid_a = mid_b}; a bug anywhere in the
    // pixel/feature/bucket chain drops a row. DENSE-ORACLE
    // PARAMETERIZATION (like the jaccard gates): gradient images of
    // different seeds pool to near-parallel means, so at threshold 0.999
    // most pairs are TRUE near-dups — verification work is Θ(answer), not
    // a pruning failure; the mid subset below keeps the gate small. Sparse
    // corpora where the buckets actually prune are covered by
    // sim_cosine_dups and OpsSpec's straddling-near-dup test.
    "multimodal_ann_dups" -> { (spark, sfDir) =>
      val docs = TpchOsm.docs(spark, sfDir)
      val midOf = regexp_extract(col("media_ref"), "([0-9]{1,6})$", 1)
      val media = graft.ops.Multimodal.mediaTable(graft.model.OsmView.derive(docs))
        .filter(when(midOf === "", lit(0)).otherwise(midOf.cast("int")) < 400)
      val resized = graft.ops.Multimodal.resizeImages(media, 16, 16).toDF()
      val feats = graft.ops.Multimodal
        .decodeImages(resized.select("doc_id", "media_ref", "bytes"), featureDim = 16)
        .toDF()
      val emb = feats.select(col("doc_id"), col("feature").as("embedding"))
      val pairs = Similarity.cosineDupPairs(emb, col("doc_id"),
        threshold = 0.999, dim = 16, bits = 8)
      // guarded extraction (ANSI: a ref without trailing digits must yield
      // 0, not a NumberFormatException — same shape as mediaTable's)
      val mids = media.select(col("doc_id"),
        when(midOf === "", lit(0)).otherwise(midOf.cast("int")).as("mid"))
      pairs
        .join(mids.select(col("doc_id").as("key_a"), col("mid").as("mid_a")), "key_a")
        .join(mids.select(col("doc_id").as("key_b"), col("mid").as("mid_b")), "key_b")
        .filter(col("mid_a") === col("mid_b"))
        .select("key_a", "key_b").orderBy("key_a", "key_b")
    },
    // the REAL audio path: WavSynth PCM16 payloads → chunk-walking decode →
    // windowed mean-|amplitude| + zero-crossing features. Emitted values
    // are the EXACT integer Σ|sample| of the first window (recovered from
    // the float mean like multimodal_features does) and the exact global
    // zero-crossing count — both re-derived by the oracle from the
    // test-tone arithmetic sample(i) = ((i·37 + mid·101) mod 4001) − 2000,
    // so a bug anywhere in the encoder/decoder/feature chain breaks rows
    "multimodal_audio" -> { (spark, sfDir) =>
      val docs = TpchOsm.docs(spark, sfDir)
      val audio = graft.ops.Multimodal.audioTable(graft.model.OsmView.derive(docs))
      val feats = graft.ops.Multimodal.decodeAudio(audio, windows = 8).toDF()
      val w0len = floor(col("n_samples") / 8).cast("long")
      feats.select(col("doc_id"), col("media_ref"),
        col("sample_rate"), col("n_samples"),
        round(element_at(col("mean_abs"), 1).cast("double") * w0len)
          .cast("long").as("abs0"),
        aggregate(col("zero_crossings"), lit(0), (a, x) => a + x)
          .cast("long").as("zc"))
        .orderBy("doc_id", "media_ref")
    },
    // REAL frame sampling: GpvSynth container parse → every-2nd frame →
    // real PNG decode per frame; dims + the (0,0) pixel re-derived by the
    // oracle from the per-frame seed arithmetic (mid + 7·frame) mod 256
    "multimodal_frames" -> { (spark, sfDir) =>
      val docs = TpchOsm.docs(spark, sfDir)
      val video = graft.ops.Multimodal.videoTable(graft.model.OsmView.derive(docs))
      graft.ops.Multimodal.sampleFramesReal(video, every = 2).toDF()
        .select("doc_id", "media_ref", "frame_idx", "width", "height",
          "real_decode", "p00")
        .orderBy("doc_id", "media_ref", "frame_idx")
    },
    "multimodal_resize" -> { (spark, sfDir) =>
      // the FULL real-pixel chain: PngSynth encode (mediaTable) → decode →
      // nearest-neighbor resample → re-encode → decode again for the
      // emitted corner pixel, which equals the source gradient's (0,0)
      // value = mid mod 256 (nearest-neighbor maps output (0,0) to source
      // (0,0)) — SQL-recomputable from the ref digits, so a bug anywhere
      // in the pixel chain breaks the hash
      import spark.implicits._
      val docs = TpchOsm.docs(spark, sfDir)
      val media = graft.ops.Multimodal.mediaTable(graft.model.OsmView.derive(docs))
      graft.ops.Multimodal.resizeImages(media, 12, 10)
        .map { r =>
          val p00 = graft.ops.Multimodal.PngSynth.decodeGray(r.bytes)
            .map(t => t._3(0) & 0xff).getOrElse(-1)
          (r.doc_id, r.media_ref, r.width, r.height, r.real_decode, p00)
        }
        .toDF("doc_id", "media_ref", "width", "height", "real_decode", "p00")
        .orderBy("doc_id", "media_ref")
    })
}
