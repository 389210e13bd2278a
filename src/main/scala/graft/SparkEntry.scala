package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.driver.{Queries, TpchOsm}
import graft.compile.Compiler
import graft.ofl.Parser

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` run real engine paths (OFL parse→compile over the span-encoded
  * TpchOsm derivation, spatial operators, dedup/similarity/text ops);
  * `oracleSql` re-derives each expected result in DuckDB SQL over the same
  * base parquet tables (derivation spec: TpchOsm scaladoc). Hash-seeded ops
  * (xxhash64-based LSH/SimHash, stub multimodal decode) have no ANSI-SQL
  * oracle and get the driver's rows-only check. */
object SparkEntry {

  /** Flagship query on sf=0.001: OFL `status == 'F' and @version >= 2`
    * compiled to Catalyst over the interleaved-span docs table. */
  def entry(spark: SparkSession): DataFrame =
    TpchOsm.view(spark, "/root/testdata/sf0.001")
      .filter(Compiler.compileEffective(Parser.parse("status == 'F' and @version >= 2")))
      .select("doc_id", "type", "id", "version", "user")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  private val idExpr = "CASE WHEN o_orderkey % 97 = 0 THEN -o_orderkey ELSE o_orderkey END"
  private val typExpr = "CASE WHEN o_orderkey % 20 < 14 THEN 'node' WHEN o_orderkey % 20 < 19 THEN 'way' ELSE 'relation' END"
  private val latExpr = "((o_orderkey * 7919) % 17000 * 100000 - 850000000) / 10000000.0"
  private val lonExpr = "((o_orderkey * 104729) % 36000 * 100000 - 1800000000) / 10000000.0"
  private val nodesP = s"SELECT $idExpr AS id, $latExpr AS lat, $lonExpr AS lon FROM orders WHERE o_orderkey % 20 < 14"

  /** Per-polygon membership predicates (over `lat`/`lon`) for the pipPolys
    * fixture — ONE definition serving both the pip oracles and the
    * pipeline oracle, so the fixture and its SQL derivations cannot drift
    * one-sidedly. */
  private val polyPreds: Seq[(Int, String)] = Seq(
    1 -> "lat > -20.005 AND lat < 20.005 AND lon > -60.005 AND lon < -20.005",
    2 -> "lat > 30.005 AND lat < 60.005 AND lon > 100.005 AND lon < 150.005",
    3 -> ("(60.0*(lat-0.005) - 30.0*(lon-100.005)) < 0 " +
      "AND (60.01*(lon-160.005)) < 0 " +
      "AND (-60.0*(lat+30.005) - 30.01*(lon-160.005)) < 0"))

  private lazy val pipOracle: String = {
    val arms = polyPreds.map { case (pid, pred) =>
      s"SELECT CAST($pid AS BIGINT) AS polygon_id, id FROM p WHERE $pred"
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS ($nodesP)
       |$arms
       |ORDER BY polygon_id, id""".stripMargin
  }

  private lazy val bboxPruneOracle: String =
    s"""WITH p AS ($nodesP)
       |SELECT CAST(1 AS BIGINT) AS box_id, id FROM p
       |  WHERE lat >= 10.005 AND lat <= 25.005
       |    AND lon >= -60.005 AND lon <= -20.005
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), id FROM p
       |  WHERE lat >= -35.005 AND lat <= -5.005
       |    AND (lon >= 170.005 OR lon <= -150.005)
       |ORDER BY box_id, id""".stripMargin

  /** DuckDB re-derivation of the S2-style encoder at `level` — mirrors
    * [[graft.spatial.SpatialOps.s2CellId]] operation-for-operation: unit
    * vector, dominant-axis face chain (same `>=` order), gnomonic uv,
    * quadratic st, then the Hilbert transducer UNROLLED as one CTE stage
    * per level (the packed-table lookups are the same shifts + masks in
    * SQL). Constants are interpolated from the engine's own values so the
    * two sides cannot drift. The level-6 instance doubles as the TILE
    * oracle: the engine derives tiles by SHIFTING the level-12 cell
    * (cellParent), the oracle re-encodes at level 6 from scratch — their
    * agreement is the parent-prefix property checked end-to-end. */
  private def s2DensityOracle(level: Int, cellAlias: String): String = {
    val body = s2CellStages(nodesP, level, Nil, cellAlias)
    s"""SELECT $cellAlias, count(*) AS n FROM ($body) c
       |GROUP BY $cellAlias ORDER BY $cellAlias""".stripMargin
  }

  /** The encoder chain as a standalone query over `src` (any SQL yielding
    * `lat`, `lon` plus the `carry` columns, which ride through every
    * stage): SELECT carry…, <cell> AS cellAlias. */
  private def s2CellStages(src: String, level: Int, carry: Seq[String],
                           cellAlias: String): String = {
    val nGrid = 1L << level
    val d2r = graft.spatial.S2Cell.DegToRad.toString
    val pos = graft.spatial.HilbertCurve.Pos
    val nxt = graft.spatial.HilbertCurve.Next
    val cc = carry.map(_ + ", ").mkString
    def stLookup(c: String): String =
      s"CASE WHEN $c >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * $c) " +
        s"ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * $c) END"
    def gridIdx(st: String): String =
      s"least(greatest(CAST(floor(($st) * $nGrid) AS BIGINT), 0), ${nGrid - 1})"
    val hilbertStages = (0 until level).map { s =>
      val k = level - 1 - s // bit consumed at this stage, MSB first
      val q = s"((((i >> $k) & 1) * 2) | ((j >> $k) & 1))"
      val idx2 = s"(((st * 4) | $q) * 2)"
      s"""h${s + 1} AS (
         |  SELECT ${cc}face, i, j,
         |    ((d * 4) | (($pos >> $idx2) & 3)) AS d,
         |    (($nxt >> $idx2) & 3) AS st
         |  FROM h$s)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS ($src),
       |vec AS (
       |  SELECT ${cc}cos(lat * $d2r) * cos(lon * $d2r) AS vx,
       |         cos(lat * $d2r) * sin(lon * $d2r) AS vy,
       |         sin(lat * $d2r) AS vz
       |  FROM p),
       |fc AS (
       |  SELECT ${cc}vx, vy, vz,
       |    CASE WHEN abs(vx) >= abs(vy) AND abs(vx) >= abs(vz)
       |           THEN (CASE WHEN vx >= 0 THEN 0 ELSE 3 END)
       |         WHEN abs(vy) >= abs(vz)
       |           THEN (CASE WHEN vy >= 0 THEN 1 ELSE 4 END)
       |         ELSE (CASE WHEN vz >= 0 THEN 2 ELSE 5 END) END AS face
       |  FROM vec),
       |uv AS (
       |  SELECT ${cc}face,
       |    CASE face WHEN 0 THEN vy / vx WHEN 1 THEN -vx / vy
       |              WHEN 2 THEN -vx / vz WHEN 3 THEN vz / vx
       |              WHEN 4 THEN vz / vy ELSE -vy / vz END AS u,
       |    CASE face WHEN 0 THEN vz / vx WHEN 1 THEN vz / vy
       |              WHEN 2 THEN -vy / vz WHEN 3 THEN vy / vx
       |              WHEN 4 THEN -vx / vy ELSE -vx / vz END AS v
       |  FROM fc),
       |h0 AS (
       |  SELECT ${cc}face,
       |    ${gridIdx(stLookup("u"))} AS i,
       |    ${gridIdx(stLookup("v"))} AS j,
       |    CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS st
       |  FROM uv),
       |$hilbertStages
       |SELECT $cc((((CAST(face AS BIGINT) << ${2 * level}) | d) << 5) | $level) AS $cellAlias
       |FROM h$level""".stripMargin
  }

  /** Pyramid oracle: one UNION ALL arm per level, each recomputing the
    * Z-cell from scratch — grid floors + the Morton interleave expanded
    * bit-by-bit (levels ≤ 8 need only 8 bit terms per axis; no shift
    * tricks for DuckDB to get subtly wrong), `(morton << 5) | level`
    * packing interpolated from the engine's layout. */
  private def tilePyramidOracle(minL: Int, maxL: Int): String = {
    def arm(l: Int): String = {
      val n = 1L << l
      def grid(e: String): String =
        s"least(greatest(CAST(floor($e * $n) AS BIGINT), 0), ${n - 1})"
      val x = grid("(lon + 180.0) / 360.0")
      val y = grid("(90.0 - lat) / 180.0")
      val morton = (0 until l).flatMap { b =>
        Seq(s"(((x >> $b) & 1) << ${2 * b})", s"(((y >> $b) & 1) << ${2 * b + 1})")
      }.mkString(" | ")
      s"""SELECT ((($morton) << 5) | $l) AS cell
         |FROM (SELECT $x AS x, $y AS y FROM p) g$l""".stripMargin
    }
    val arms = (minL to maxL).map(arm).mkString("\nUNION ALL\n")
    s"""WITH p AS ($nodesP)
       |SELECT cell, count(*) AS n FROM (
       |$arms
       |) u GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** End-to-end geospatial pipeline oracle: hot tag filter (has-key
    * `highway` ⟺ `k % 3 = 0`, the ofl_has_key derivation) → polygon
    * containment (the pipOracle half-planes) → per-polygon S2 tile density
    * (the encoder chain with `polygon_id` carried through every stage). */
  private lazy val pipelineSpatialOracle: String = {
    val hwNodes = s"SELECT $latExpr AS lat, $lonExpr AS lon FROM orders " +
      "WHERE o_orderkey % 20 < 14 AND o_orderkey % 3 = 0"
    val arms = polyPreds.map { case (pid, pred) =>
      s"SELECT CAST($pid AS BIGINT) AS polygon_id, lat, lon FROM s WHERE $pred"
    }.mkString("\nUNION ALL\n")
    val inpoly =
      s"""WITH s AS ($hwNodes)
         |$arms""".stripMargin
    val body = s2CellStages(inpoly, 6, Seq("polygon_id"), "tile")
    s"""SELECT polygon_id, tile, count(*) AS n FROM ($body) c
       |GROUP BY polygon_id, tile ORDER BY polygon_id, tile""".stripMargin
  }

  /** Way-geometry derivation shared by the way and relation oracles (no
    * trailing ORDER BY so it can nest as a CTE body). */
  private lazy val wayGeomBody: String =
    s"""WITH w AS (
       |  SELECT o_orderkey AS k, $idExpr AS id FROM orders
       |  WHERE o_orderkey % 20 >= 14 AND o_orderkey % 20 < 19),
       |r AS (
       |  SELECT k, id, u.j AS pos, (k + u.j * 11) % 1000 AS ref
       |  FROM w, UNNEST(generate_series(1, 6)) AS u(j)
       |  WHERE u.j <= k % 5 + 2
       |  UNION ALL
       |  SELECT k, id, 9 AS pos, (k + 11) % 1000 AS ref FROM w WHERE k % 3 = 0),
       |n AS (
       |  SELECT $idExpr AS nid,
       |         CAST((o_orderkey * 7919) % 17000 * 100000 - 850000000 AS BIGINT) AS late7,
       |         CAST((o_orderkey * 104729) % 36000 * 100000 - 1800000000 AS BIGINT) AS lone7
       |  FROM orders WHERE o_orderkey % 20 < 14),
       |g AS (
       |  SELECT id,
       |    CAST(count(*) AS BIGINT) AS n_refs,
       |    CAST(count(late7) AS BIGINT) AS n_resolved,
       |    min(late7) AS min_lat_e7, max(late7) AS max_lat_e7,
       |    min(lone7) AS min_lon_e7, max(lone7) AS max_lon_e7,
       |    list(late7 ORDER BY pos) FILTER (WHERE late7 IS NOT NULL) AS la,
       |    list(lone7 ORDER BY pos) FILTER (WHERE late7 IS NOT NULL) AS lo
       |  FROM r LEFT JOIN n ON n.nid = r.ref
       |  GROUP BY id)
       |SELECT id, n_refs, n_resolved,
       |  min_lat_e7, max_lat_e7, min_lon_e7, max_lon_e7,
       |  CAST(COALESCE(list_sum(list_transform(generate_series(2, len(la)), i ->
       |      abs(la[i] - la[i-1]) + abs(lo[i] - lo[i-1]))), 0) AS BIGINT) AS path_e7,
       |  CASE WHEN len(la) >= 4 AND la[1] = la[len(la)] AND lo[1] = lo[len(lo)]
       |       THEN CAST(abs(list_sum(list_transform(generate_series(1, len(la) - 1), i ->
       |            (lo[i] // 100) * (la[i+1] // 100) - (lo[i+1] // 100) * (la[i] // 100)))) AS BIGINT)
       |       ELSE NULL END AS area2_e5
       |FROM g""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ofl_tag_version" ->
      s"""SELECT $idExpr AS id, o_orderkey % 9 + 1 AS version, o_orderpriority AS usr
         |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 9 + 1 >= 2
         |ORDER BY id""".stripMargin,

    "ofl_regex_prefix" ->
      s"""SELECT $idExpr AS id, o_orderpriority AS usr
         |FROM orders
         |WHERE regexp_matches(o_orderpriority, 'URGENT$$') AND o_orderpriority LIKE '1%'
         |ORDER BY id""".stripMargin,

    "ofl_count_tags" ->
      s"""SELECT id, n_tags FROM (
         |  SELECT $idExpr AS id,
         |         CAST(2 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END
         |                + CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END
         |                + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
         |                + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_tags
         |  FROM orders) t
         |WHERE n_tags >= 4 ORDER BY id""".stripMargin,

    "ofl_idlist" ->
      s"""SELECT id, otype FROM (
         |  SELECT $idExpr AS id, $typExpr AS otype FROM orders) t
         |WHERE id IN (3,5,8,13,21,34,55,89,144,233,377,610,987,1597,2584,4181,6765,10946)
         |ORDER BY id""".stripMargin,

    "ofl_idfile" ->
      s"""SELECT id FROM (SELECT $idExpr AS id FROM orders) t
         |WHERE id % 3 = 0 AND id BETWEEN 3 AND 300
         |ORDER BY id""".stripMargin,

    "ofl_bool_not" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE o_orderkey % 20 >= 14 AND o_orderkey % 20 < 19 AND NOT (o_orderstatus = 'O')
         |ORDER BY id""".stripMargin,

    "ofl_closed_way" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE o_orderkey % 20 >= 14 AND o_orderkey % 20 < 19 AND o_orderkey % 3 = 0
         |ORDER BY id""".stripMargin,

    "ofl_nodes_count" ->
      s"""SELECT id, n_match FROM (
         |  SELECT $idExpr AS id, o_orderkey % 20 AS t,
         |    CAST(CASE WHEN 1 <= o_orderkey%5+2 AND (o_orderkey+11)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN 2 <= o_orderkey%5+2 AND (o_orderkey+22)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN 3 <= o_orderkey%5+2 AND (o_orderkey+33)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN 4 <= o_orderkey%5+2 AND (o_orderkey+44)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN 5 <= o_orderkey%5+2 AND (o_orderkey+55)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN 6 <= o_orderkey%5+2 AND (o_orderkey+66)%1000 >= 500 THEN 1 ELSE 0 END
         |       + CASE WHEN o_orderkey%3 = 0 AND (o_orderkey+11)%1000 >= 500 THEN 1 ELSE 0 END
         |      AS BIGINT) AS n_match
         |  FROM orders) x
         |WHERE t >= 14 AND t < 19 AND n_match >= 2
         |ORDER BY id""".stripMargin,

    "ofl_members_role" ->
      s"""SELECT id, n_outer FROM (
         |  SELECT $idExpr AS id, o_orderkey % 20 AS t,
         |    CAST(CASE WHEN 1 <= o_orderkey%4+1 AND (o_orderkey+1)%4 = 0 THEN 1 ELSE 0 END
         |       + CASE WHEN 2 <= o_orderkey%4+1 AND (o_orderkey+2)%4 = 0 THEN 1 ELSE 0 END
         |       + CASE WHEN 3 <= o_orderkey%4+1 AND (o_orderkey+3)%4 = 0 THEN 1 ELSE 0 END
         |       + CASE WHEN 4 <= o_orderkey%4+1 AND (o_orderkey+4)%4 = 0 THEN 1 ELSE 0 END
         |      AS BIGINT) AS n_outer
         |  FROM orders) x
         |WHERE t = 19 AND n_outer > 0
         |ORDER BY id""".stripMargin,

    "ofl_user_regex" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE regexp_matches(o_orderpriority, '^[12]-') OR o_orderkey % 50 = 7
         |ORDER BY id""".stripMargin,

    "ofl_has_key" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE o_orderkey % 3 = 0
         |ORDER BY id""".stripMargin,

    "ofl_regex_ci" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE regexp_matches(o_orderpriority, '(?i)urgent$$')
         |ORDER BY id""".stripMargin,

    "ofl_mask_quirk" ->
      s"""SELECT id, otype FROM (
         |  SELECT $idExpr AS id, $typExpr AS otype, o_orderkey % 20 AS t,
         |    2 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS n_tags,
         |    o_orderkey % 5 + 2
         |      + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS n_nds
         |  FROM orders) x
         |WHERE t >= 14 AND t < 19 AND n_tags > n_nds
         |ORDER BY id""".stripMargin,

    "ofl_complete_ways" ->
      s"""WITH d AS (
         |  SELECT o_orderkey AS k, $typExpr AS otype, $idExpr AS id FROM orders),
         |matched AS (SELECT * FROM d WHERE k % 3 = 0 AND k % 7 = 1),
         |refs AS (
         |  SELECT 'node' AS otype, (m.k + j.j * 11) % 1000 AS pid
         |  FROM matched m, (SELECT unnest([1,2,3,4,5,6]) AS j) j
         |  WHERE m.otype = 'way' AND j.j <= m.k % 5 + 2),
         |wanted AS (
         |  SELECT DISTINCT otype, pid FROM (
         |    SELECT otype, abs(id) AS pid FROM matched
         |    UNION ALL SELECT otype, pid FROM refs) u)
         |SELECT d.otype, d.id FROM d JOIN wanted w ON d.otype = w.otype AND abs(d.id) = w.pid
         |ORDER BY d.otype, d.id""".stripMargin,

    // hot-path twin (TpchOsm tag arithmetic): highway==residential ⟺
    // k%3=0 ∧ (k%7)=0; oneway==yes ⟺ k%5=0 ∧ k%10=0 ⟺ k%10=0;
    // addr:housenumber only when k%11=0, value k%250; building never
    // occurs; priority is o_orderpriority (cold key)
    "ofl_hot_filter" ->
      s"""SELECT $idExpr AS id FROM orders
         |WHERE o_orderkey % 21 = 0
         |   OR (o_orderkey % 10 = 0 AND o_orderkey % 11 = 0 AND o_orderkey % 250 = 110)
         |   OR (o_orderpriority LIKE '3%' AND o_orderkey % 3 = 0)
         |ORDER BY id""".stripMargin,

    "spatial_bbox_prune" -> bboxPruneOracle,
    // the same query over the same layout (Queries: a twin gate)
    "spatial_bbox_hilbert" -> bboxPruneOracle,

    "spatial_s2_cell" -> s2DensityOracle(12, "cell"),
    // engine shifts the level-12 cell to its level-6 ancestor; the oracle
    // re-encodes at level 6 from scratch (parent-prefix property, gated)
    "spatial_s2_tile" -> s2DensityOracle(6, "tile"),

    "pipeline_spatial" -> pipelineSpatialOracle,

    "spatial_tile_pyramid" -> tilePyramidOracle(4, 8),

    // the S2 storage layout's prune layers are provable supersets, so the
    // oracle is the bare haversine cap — same formula as spatial_s2_radius
    "spatial_s2_cap" ->
      s"""SELECT id FROM ($nodesP) p
         |WHERE 2.0 * 6371008.8 * asin(sqrt(
         |    pow(sin(radians(84.005 - p.lat) / 2), 2) +
         |    cos(radians(p.lat)) * cos(radians(84.005)) *
         |      pow(sin(radians(0.005 - p.lon) / 2), 2))) <= 1500000.0
         |ORDER BY id""".stripMargin,

    // the cover prejoin is a provable superset, so the oracle is the bare
    // refine: haversine ≤ r per (query, point) pair
    "spatial_s2_radius" ->
      s"""WITH p AS ($nodesP),
         |q(query_id, qlat, qlon) AS (VALUES
         |  (1, 48.905, 2.405), (2, -33.905, 151.205), (3, 84.005, 0.005))
         |SELECT CAST(q.query_id AS BIGINT) AS query_id, p.id
         |FROM p, q
         |WHERE 2.0 * 6371008.8 * asin(sqrt(
         |    pow(sin(radians(q.qlat - p.lat) / 2), 2) +
         |    cos(radians(p.lat)) * cos(radians(q.qlat)) *
         |      pow(sin(radians(q.qlon - p.lon) / 2), 2))) <= 1500000.0
         |ORDER BY query_id, id""".stripMargin,

    "spatial_bbox_hot" ->
      s"""SELECT id FROM (
         |  SELECT $idExpr AS id, $latExpr AS lat, $lonExpr AS lon,
         |         o_orderkey AS k
         |  FROM orders WHERE o_orderkey % 20 < 14) p
         |WHERE lat >= -20.005 AND lat <= 40.005
         |  AND lon >= -100.005 AND lon <= 30.005
         |  AND (k % 21 = 0 OR k % 9 + 1 >= 8)
         |ORDER BY id""".stripMargin,

    "spatial_grid_density" ->
      s"""SELECT cx, cy, count(*) AS n FROM (
         |  SELECT CAST(floor((lon + 180.0) / 360.0 * 4096.0) AS BIGINT) AS cx,
         |         CAST(floor((90.0 - lat) / 180.0 * 4096.0) AS BIGINT) AS cy
         |  FROM ($nodesP) p) g
         |GROUP BY cx, cy ORDER BY cx, cy""".stripMargin,

    "spatial_pip" -> pipOracle,
    // same polygons through the clustered layout — one oracle, two engine paths
    "spatial_pip_pruned" -> pipOracle,

    "spatial_knn" ->
      s"""WITH p AS ($nodesP),
         |q(query_id, qlat, qlon) AS (VALUES (1, 10.005, -30.005), (2, -45.005, 100.005), (3, 60.005, 160.005)),
         |scored AS (
         |  SELECT q.query_id, p.id,
         |         (p.lat - q.qlat)*(p.lat - q.qlat) + (p.lon - q.qlon)*(p.lon - q.qlon) AS d2
         |  FROM p, q),
         |ranked AS (
         |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY d2, id) AS rn
         |  FROM scored)
         |SELECT CAST(query_id AS BIGINT) AS query_id, id FROM ranked WHERE rn <= 5
         |ORDER BY query_id, id""".stripMargin,

    "spatial_tile_join" ->
      s"""WITH p AS (
         |  SELECT id,
         |    CAST(floor((lon + 180.0) / 360.0 * 4096.0) AS BIGINT) // 64 AS cx,
         |    CAST(floor((90.0 - lat) / 180.0 * 4096.0) AS BIGINT) // 64 AS cy
         |  FROM ($nodesP) n),
         |t AS (
         |  SELECT p_partkey,
         |    CAST(floor((plon + 180.0) / 360.0 * 64.0) AS BIGINT) AS cx,
         |    CAST(floor((90.0 - plat) / 180.0 * 64.0) AS BIGINT) AS cy
         |  FROM (
         |    SELECT p_partkey,
         |      ((p_partkey * 7919) % 17000 * 100000 - 850000000) / 10000000.0 AS plat,
         |      ((p_partkey * 104729) % 36000 * 100000 - 1800000000) / 10000000.0 AS plon
         |    FROM part) q)
         |SELECT p.id, t.p_partkey FROM p JOIN t ON p.cx = t.cx AND p.cy = t.cy
         |ORDER BY id, p_partkey""".stripMargin,

    // way geometry re-derived arithmetically: refs from the nds generator
    // formula (j=1..k%5+2 → (k+j·11)%1000, dup of j=1 appended when k%3=0,
    // pos 9 > any j keeps it LAST like the engine's array order), node
    // coords from the latE7/lonE7 formulas joined on the SIGNED id (k%97=0
    // nodes carry id=-k, which a positive ref never matches — except
    // o_orderkey 0, whose -k IS 0 and does resolve ref 0; an unsigned-vs-
    // signed mismatch here cost 30 ways' metrics in the first cut);
    // measures over the resolved subsequence in order — exact BIGINT math
    "spatial_way_geom" -> s"$wayGeomBody\nORDER BY id",

    // relation aggregation over the SAME way-geometry derivation (wg is
    // the way_geom oracle body): members from the TpchOsm formula
    // (j=1..k%4+1, way ⟺ (k+j)%3=1, ref=(k+j·13)%500), left-joined to
    // member way metrics, aggregated per relation — exact BIGINT math
    "spatial_rel_geom" ->
      s"""WITH wg AS (
         |$wayGeomBody
         |),
         |rel AS (
         |  SELECT o_orderkey AS k, $idExpr AS id FROM orders
         |  WHERE o_orderkey % 20 = 19),
         |mem AS (
         |  SELECT k, id, u.j AS pos, (k + u.j * 13) % 500 AS mref,
         |         (k + u.j) % 3 AS mt
         |  FROM rel, UNNEST(generate_series(1, 4)) AS u(j)
         |  WHERE u.j <= k % 4 + 1)
         |SELECT mem.id AS id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(CASE WHEN mem.mt = 1 THEN 1 END) AS BIGINT) AS n_way_members,
         |  CAST(count(wg.id) AS BIGINT) AS n_ways_resolved,
         |  CAST(COALESCE(sum(wg.path_e7), 0) AS BIGINT) AS sum_path_e7,
         |  min(wg.min_lat_e7) AS min_lat_e7, max(wg.max_lat_e7) AS max_lat_e7,
         |  min(wg.min_lon_e7) AS min_lon_e7, max(wg.max_lon_e7) AS max_lon_e7
         |FROM mem LEFT JOIN wg ON mem.mt = 1 AND wg.id = mem.mref
         |GROUP BY mem.id
         |ORDER BY id""".stripMargin,

    // the cross product the engine must never run: brute all-pairs planar
    // distance — same double formula text as the engine's refine
    "spatial_distance_join" ->
      s"""WITH p AS ($nodesP)
         |SELECT a.id AS key_a, b.id AS key_b
         |FROM p a, p b
         |WHERE a.id < b.id
         |  AND (b.lat - a.lat) * (b.lat - a.lat)
         |    + (b.lon - a.lon) * (b.lon - a.lon) <= 1.0
         |ORDER BY key_a, key_b""".stripMargin,

    "spatial_tile_assign" ->
      s"""SELECT id,
         |  CAST(floor((lon + 180.0) / 360.0 * 4096.0) AS BIGINT) // 64 AS cx,
         |  CAST(floor((90.0 - lat) / 180.0 * 4096.0) AS BIGINT) // 64 AS cy
         |FROM ($nodesP) p ORDER BY id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok_ws,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS tok_bpe,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE len(regexp_extract_all(text, '[[:punct:]]')) * 1.0 / length(text) END, 4) AS punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val lists = graft.ops.LangId.profiles.map { case (code, words) =>
        s"len(list_intersect(list_distinct(toks), [${words.map(w => s"'$w'").mkString(",")}])) AS s_$code"
      }.mkString(",\n    ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, len(toks) AS ntok,
         |    $lists
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN ntok = 0 THEN 'und'
         |       WHEN greatest(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_it THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_it THEN 'de'
         |       WHEN s_fr >= s_es AND s_fr >= s_it THEN 'fr'
         |       WHEN s_es >= s_it THEN 'es'
         |       ELSE 'it' END AS lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "dedup_prefix_survivors" ->
      """SELECT min(doc_id) AS doc_id
        |FROM documents
        |GROUP BY lower(regexp_replace(trim(substr(text, 1, 40)), '\s+', ' ', 'g'))
        |ORDER BY doc_id""".stripMargin,

    "dedup_jaccard1" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'),
        |                              x -> len(x) > 0)) AS sh
        |  FROM documents WHERE doc_id < 40)
        |SELECT key_a, key_b, round(j, 4) AS j4 FROM (
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |         len(list_intersect(a.sh, b.sh)) * 1.0 /
        |           len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM t a, t b WHERE a.doc_id < b.doc_id) x
        |WHERE j >= 0.4
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_jaccard3" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 30),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
        |         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
        |                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])) END AS sh
        |  FROM t)
        |SELECT key_a, key_b, round(j, 4) AS j4 FROM (
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |         len(list_intersect(a.sh, b.sh)) * 1.0 /
        |           len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM s a, s b WHERE a.doc_id < b.doc_id) x
        |WHERE j >= 0.005
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_minhash_lsh" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 900000, text FROM documents WHERE doc_id < 40),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM u),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
        |         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
        |                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])) END AS sh
        |  FROM t)
        |SELECT key_a, key_b, round(j, 4) AS j4 FROM (
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |         len(list_intersect(a.sh, b.sh)) * 1.0 /
        |           len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM s a, s b WHERE a.doc_id < b.doc_id) x
        |WHERE j >= 1.0
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_simhash" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 900000, text FROM documents WHERE doc_id < 40),
        |t AS (
        |  SELECT doc_id,
        |    list_sort(list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'),
        |                          x -> len(x) > 0)) AS mt
        |  FROM u)
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |FROM t a, t b WHERE a.doc_id < b.doc_id AND a.mt = b.mt
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_winnowed" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 900000, text FROM documents WHERE doc_id < 40),
        |t AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
        |  FROM u)
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |FROM t a, t b WHERE a.doc_id < b.doc_id AND a.nt = b.nt
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_winnowed_partial" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 900000, text || ' ' || text FROM documents WHERE doc_id < 40),
        |t AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
        |  FROM u)
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id
        |  AND ((length(a.nt) >= 11 AND b.nt = a.nt || ' ' || a.nt)
        |    OR (length(b.nt) >= 11 AND a.nt = b.nt || ' ' || b.nt))
        |ORDER BY key_a, key_b""".stripMargin,

    "dedup_clusters" ->
      """WITH e AS (
        |  SELECT d.doc_id AS a, d.doc_id + 1 AS b FROM documents d
        |  JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 23 < 16),
        |v AS (SELECT a AS key FROM e UNION SELECT b FROM e),
        |g AS (SELECT key, key - row_number() OVER (ORDER BY key) AS grp FROM v)
        |SELECT key, min(key) OVER (PARTITION BY grp) AS cluster
        |FROM g ORDER BY key""".stripMargin,

    "dedup_survivors" ->
      """WITH e AS (
        |  SELECT d.doc_id AS a, d.doc_id + 1 AS b FROM documents d
        |  JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 23 < 16),
        |v AS (SELECT a AS key FROM e UNION SELECT b FROM e),
        |g AS (SELECT key, key - row_number() OVER (ORDER BY key) AS grp FROM v),
        |c AS (SELECT key, min(key) OVER (PARTITION BY grp) AS cluster FROM g)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT key FROM c WHERE key <> cluster)
        |ORDER BY doc_id""".stripMargin,

    "pipeline_dedup_quality" -> {
      // stopword lists interpolated from LangId.profiles (the operator's
      // single source of truth) — hand-copied lists would silently drift
      // when a profile changes; text_langid uses the same pattern
      val pl = graft.ops.LangId.profiles.toMap
      def words(code: String) = pl(code).map(w => s"'$w'").mkString(",")
      // raw interpolator: the SQL contains \p{L}-style regex escapes
      raw"""WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 900000, text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM u),
        |sh AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
        |         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
        |                j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])) END AS s
        |  FROM tok),
        |grp AS (
        |  SELECT doc_id, text,
        |    COALESCE(NULLIF(array_to_string(list_sort(s), CHR(31)), ''),
        |             'solo-' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM sh),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id FROM grp GROUP BY skey),
        |qt AS (
        |  SELECT g.doc_id, g.text,
        |    list_filter(string_split_regex(lower(g.text), '[^\p{L}]+'),
        |                x -> len(x) > 0) AS ltoks
        |  FROM grp g JOIN surv USING (doc_id)),
        |sc AS (
        |  SELECT doc_id, text, ltoks,
        |    CASE WHEN len(ltoks) = 0 THEN 0.0
        |         ELSE len(list_intersect(ltoks, [${words("en")}])) * 1.0 / len(ltoks) END AS stop_raw,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[[:punct:]]')) * 1.0 / length(text) END AS punct
        |  FROM qt),
        |quality AS (
        |  SELECT doc_id, ltoks,
        |    round((least(length(text) / 500.0, 1.0)
        |         + (CASE WHEN punct > 0.3 THEN 0.0 ELSE 1.0 - punct / 0.3 END)
        |         + least(stop_raw * 4.0, 1.0)) / 3.0, 4) AS q
        |  FROM sc)
        |SELECT doc_id FROM quality
        |WHERE q >= 0.5
        |  AND len(ltoks) > 0
        |  AND len(list_intersect(list_distinct(ltoks), [${words("en")}])) >
        |      greatest(
        |        len(list_intersect(list_distinct(ltoks), [${words("de")}])) - 1,
        |        len(list_intersect(list_distinct(ltoks), [${words("fr")}])) - 1,
        |        len(list_intersect(list_distinct(ltoks), [${words("es")}])) - 1,
        |        len(list_intersect(list_distinct(ltoks), [${words("it")}])) - 1,
        |        0)
        |ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_intersect(toks, ['the','and','of','to','in','is','that','it','was','for','with','as','on','are','this','be','at','have','not'])) * 1.0 / len(toks) END AS stop_raw,
        |    len(regexp_extract_all(text, '[\p{Lu}]')) AS ups,
        |    len(regexp_extract_all(text, '[\p{L}]')) AS lets,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[[:punct:]]')) * 1.0 / length(text) END AS punct
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN lets = 0 THEN 0.0 ELSE ups * 1.0 / lets END, 4) AS upper_ratio,
        |  round(stop_raw, 4) AS stop_ratio,
        |  round((least(length(text) / 500.0, 1.0)
        |       + (CASE WHEN punct > 0.3 THEN 0.0 ELSE 1.0 - punct / 0.3 END)
        |       + least(stop_raw * 4.0, 1.0)) / 3.0, 4) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "events_windowed" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,

    // gaps-and-islands twin of the sessionization kernel. Gap and bounds
    // computed on epoch_ms (floored, exactly like Timestamp.getTime floors
    // the fixture's µs timestamps) so a µs-straddling gap cannot disagree
    // between the kernel and the oracle.
    "events_sessions" ->
      """WITH l AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 28800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM l)
        |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start,
        |       CAST(epoch_ms(max(ts)) AS BIGINT) AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,

    // pretrained-centroid probe path with every bucket probed ≡ brute
    // top-k (same oracle as sim_ivf_ann)
    "sim_ivf_pretrained" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS cos
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id FROM ranked WHERE rn <= 10
        |ORDER BY query_id, vec_id""".stripMargin,

    "sim_cosine_dups" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS key_a, b.vec_id AS key_b
        |FROM u a, u b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        |ORDER BY key_a, key_b""".stripMargin,

    "sim_lsh_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS cos
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id FROM ranked WHERE rn <= 10
        |ORDER BY query_id, vec_id""".stripMargin,

    "sim_ivf_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS cos
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id FROM ranked WHERE rn <= 10
        |ORDER BY query_id, vec_id""".stripMargin,

    // mediaTable emits one REAL PngSynth image per media span (k%8=0 →
    // media://k%1000); decodeImages re-derives (width, height, format) from
    // the PAYLOAD BYTES via real IHDR parsing, and this oracle recomputes
    // them from the same ref-digit arithmetic the encoder used — a hash
    // mismatch means the encoder and the decoder disagree about the bytes.
    "multimodal_decode" ->
      s"""SELECT doc_id, media_ref, width, height, format FROM (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS doc_id,
         |         concat('media://', CAST(o_orderkey % 1000 AS VARCHAR)) AS media_ref,
         |         CAST(16 + (o_orderkey % 1000 * 7) % 48 AS INT) AS width,
         |         CAST(16 + (o_orderkey % 1000 * 13) % 48 AS INT) AS height,
         |         'png' AS format
         |  FROM orders WHERE o_orderkey % 8 = 0) m
         |ORDER BY doc_id, media_ref""".stripMargin,

    // re-derives the grid-pooled cell sums from the generator's gradient
    // arithmetic pixel(x,y) = (31x+17y+mid) mod 256 with the same integer
    // cell bounds (cx·w/4 integer division) the pooling kernel uses — the
    // engine side recovers the exact integer sums from the float means, so
    // this is an exact-arithmetic compare of the full decode→pool chain
    "multimodal_features" ->
      s"""SELECT doc_id, media_ref, CAST(16 AS BIGINT) AS dim,
         |  CAST(list_sum(flatten(list_transform(generate_series(0, h//4 - 1), y ->
         |    list_transform(generate_series(0, w//4 - 1), x ->
         |      (31*x + 17*y + mid) % 256)))) AS BIGINT) AS s00,
         |  CAST(list_sum(flatten(list_transform(generate_series((3*h)//4, h - 1), y ->
         |    list_transform(generate_series((3*w)//4, w - 1), x ->
         |      (31*x + 17*y + mid) % 256)))) AS BIGINT) AS s33
         |FROM (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS doc_id,
         |         concat('media://', CAST(o_orderkey % 1000 AS VARCHAR)) AS media_ref,
         |         o_orderkey % 1000 AS mid,
         |         16 + (o_orderkey % 1000 * 7) % 48 AS w,
         |         16 + (o_orderkey % 1000 * 13) % 48 AS h
         |  FROM orders WHERE o_orderkey % 8 = 0) m
         |ORDER BY doc_id, media_ref""".stripMargin,

    // equal ref digits ⇒ identical payload ⇒ identical resized pixels ⇒
    // identical pooled feature ⇒ guaranteed LSH candidacy + cosine 1: the
    // emitted (restricted) pair set provably equals this self-join
    "multimodal_ann_dups" ->
      s"""WITH m AS (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS key,
         |         o_orderkey % 1000 AS mid
         |  FROM orders WHERE o_orderkey % 8 = 0 AND o_orderkey % 1000 < 400)
         |SELECT a.key AS key_a, b.key AS key_b
         |FROM m a JOIN m b ON a.mid = b.mid AND a.key < b.key
         |ORDER BY key_a, key_b""".stripMargin,

    // re-derives the audio features from the WavSynth test-tone arithmetic:
    // exact first-window Σ|sample| and exact global sign-transition count
    "multimodal_audio" ->
      s"""SELECT doc_id, media_ref, CAST(8000 AS INT) AS sample_rate,
         |  CAST(n AS INT) AS n_samples,
         |  CAST(list_sum(list_transform(generate_series(0, n//8 - 1), i ->
         |    abs(((i*37 + mid*101) % 4001) - 2000))) AS BIGINT) AS abs0,
         |  CAST(len(list_filter(generate_series(1, n - 1), i ->
         |    ((((i-1)*37 + mid*101) % 4001) - 2000 < 0)
         |    != (((i*37 + mid*101) % 4001) - 2000 < 0))) AS BIGINT) AS zc
         |FROM (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS doc_id,
         |         concat('media://', CAST(o_orderkey % 1000 AS VARCHAR)) AS media_ref,
         |         o_orderkey % 1000 AS mid,
         |         400 + (o_orderkey % 1000 * 11) % 800 AS n
         |  FROM orders WHERE o_orderkey % 8 = 0) m
         |ORDER BY doc_id, media_ref""".stripMargin,

    // every-2nd frame of the 3+(mid%6)-frame container; each kept frame's
    // dims and (0,0) pixel recomputed from the generator arithmetic
    "multimodal_frames" ->
      s"""SELECT doc_id, media_ref, CAST(u.f AS INT) AS frame_idx,
         |  CAST(16 + (mid * 7) % 48 AS INT) AS width,
         |  CAST(16 + (mid * 13) % 48 AS INT) AS height,
         |  TRUE AS real_decode,
         |  CAST((mid + 7 * u.f) % 256 AS INT) AS p00
         |FROM (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS doc_id,
         |         concat('media://', CAST(o_orderkey % 1000 AS VARCHAR)) AS media_ref,
         |         o_orderkey % 1000 AS mid,
         |         3 + o_orderkey % 1000 % 6 AS n
         |  FROM orders WHERE o_orderkey % 8 = 0) m,
         |  UNNEST(generate_series(0, n - 1, 2)) AS u(f)
         |ORDER BY doc_id, media_ref, frame_idx""".stripMargin,

    "multimodal_resize" ->
      s"""SELECT doc_id, media_ref, CAST(12 AS INT) AS width, CAST(10 AS INT) AS height,
         |       TRUE AS real_decode,
         |       CAST(o_orderkey % 1000 % 256 AS INT) AS p00
         |FROM (
         |  SELECT concat(substr($typExpr, 1, 1), CAST($idExpr AS VARCHAR)) AS doc_id,
         |         concat('media://', CAST(o_orderkey % 1000 AS VARCHAR)) AS media_ref,
         |         o_orderkey
         |  FROM orders WHERE o_orderkey % 8 = 0) m
         |ORDER BY doc_id, media_ref""".stripMargin,

    "sim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS cos
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT query_id, vec_id FROM ranked WHERE rn <= 5
        |ORDER BY query_id, vec_id""".stripMargin)
}
