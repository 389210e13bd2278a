package graft.fixtures

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.model.{OsmDocRow, OsmElement}
import graft.spatial.ZCell

/** Deterministic synthetic fixture generator (FIXTURES.md §2-3): seeded
  * streams, identical output for (seed, sf); no wall clock, no external data.
  * The reference ships no OSM data files (its automated tests are
  * parser-only, test/test_parser.cpp), so element fixtures are synthesized
  * to the OSM model the reference evaluates against
  * (include/object_filter.hpp:821-956, 1196-1309).
  */
object DeterministicGen {

  val Seed = 42L

  val keyPool: Vector[String] = Vector(
    "highway", "oneway", "amenity", "name", "type", "addr:street",
    "addr:housenumber", "building", "natural", "landuse")

  val highwayValues: Vector[String] = Vector(
    "residential", "primary", "secondary", "primary_link", "secondary_link",
    "motorway", "service", "footway", "track")

  val genericValues: Vector[String] = Vector(
    "yes", "no", "12", "12ab", "", "Main Street", "multipolygon", "water",
    "restaurant", "tree", "42a", "0")

  val userPool: Vector[String] = Vector(
    "alice", "bob", "charlie", "", "dave m", "Wanderer", "mapper_99",
    "Anna:Berlin", "x")

  /** Dense "urban" hotspots (lat, lon) — drive cell skew, kNN and PIP. */
  val hotspots: Vector[(Double, Double)] =
    Vector((52.52, 13.405), (48.8566, 2.3522), (40.7128, -74.006))

  def elementCount(sf: Double): Int = math.max(1, (600000 * sf).toInt)

  /** Deterministic element stream. Ways draw node refs from already-emitted
    * node ids; ~1% of ids are negative (uint64 id-set wrap cases). */
  def elements(sf: Double, seed: Long = Seed): Vector[OsmElement] =
    genChunk(new Random(seed), elementCount(sf), idStart = 1L, seqStart = 0L)

  /** Deterministic DISTRIBUTED generation: each of `parts` chunks is an
    * independent seeded stream with disjoint id/seq ranges, generated on
    * executors — the scale path for multi-million-row bench fixtures (the
    * sequential generator would bottleneck on the driver). Output differs
    * from [[elements]] streams but is equally deterministic for a given
    * (seed, n, parts). */
  def distributedDocs(spark: SparkSession, n: Long, parts: Int,
                      seed: Long = Seed): DataFrame = {
    import spark.implicits._
    val per = (n + parts - 1) / parts
    spark.range(0, parts, 1, parts).as[Long].flatMap { p =>
      val count = math.min(per, n - p * per).toInt
      genChunk(new Random(seed ^ (p * 0x9e3779b97f4a7c15L)), count,
        idStart = p * per * 4 + 1, seqStart = p * per)
        .map(_.toDocRow)
    }.toDF()
  }

  private def genChunk(rng: Random, n: Int, idStart: Long,
                       seqStart: Long): Vector[OsmElement] = {
    val nodeIds = new scala.collection.mutable.ArrayBuffer[Long](n)
    val out = Vector.newBuilder[OsmElement]
    var nextId = idStart
    var i = 0
    while (i < n) {
      val roll = rng.nextDouble()
      val otype = if (roll < 0.70) "node" else if (roll < 0.95) "way" else "relation"
      val id = {
        val base = nextId + rng.nextInt(3)
        nextId = base + 1
        if (rng.nextDouble() < 0.01) -base else base
      }
      val version = 1L + rng.nextInt(20)
      val visible = rng.nextDouble() >= 0.02
      // Zipf-ish skew for uid/changeset
      val uid = (math.pow(rng.nextDouble(), 3.0) * 5000).toLong
      val changeset = (math.pow(rng.nextDouble(), 2.0) * 900000).toLong
      val user = userPool(math.min((math.pow(rng.nextDouble(), 2.0) * userPool.size).toInt, userPool.size - 1))
      val ts = java.time.Instant.ofEpochSecond(1577836800L + i.toLong * 37L).toString

      val tagCount = rng.nextInt(13)
      val tags = Vector.tabulate(tagCount) { _ =>
        val k = keyPool(rng.nextInt(keyPool.size))
        val v =
          if (k == "highway") highwayValues(rng.nextInt(highwayValues.size))
          else genericValues(rng.nextInt(genericValues.size))
        (k, v)
      }

      val (lat, lon) = otype match {
        case "node" =>
          if (rng.nextDouble() < 0.7) {
            val (hlat, hlon) = hotspots(rng.nextInt(hotspots.size))
            (Some(hlat + rng.nextGaussian() * 0.01),
             Some(hlon + rng.nextGaussian() * 0.015))
          } else {
            (Some(rng.nextDouble() * 170 - 85), Some(rng.nextDouble() * 360 - 180))
          }
        case _ => (None, None)
      }

      val nds: Vector[Long] = otype match {
        case "way" =>
          if (rng.nextDouble() < 0.02) {
            // degenerate 1-node way (closed-way edge: first == last trivially)
            Vector(pickNode(rng, nodeIds, nextId))
          } else {
            val len = 2 + rng.nextInt(49)
            val refs = Vector.fill(len)(pickNode(rng, nodeIds, nextId))
            if (rng.nextDouble() < 0.30) refs :+ refs.head else refs
          }
        case _ => Vector.empty
      }

      val members: Vector[(String, Long, String)] = otype match {
        case "relation" =>
          val cnt = 1 + rng.nextInt(10)
          Vector.fill(cnt) {
            val mt = Vector("node", "way", "relation")(rng.nextInt(3))
            val role = Vector("inner", "outer", "", "stop")(rng.nextInt(4))
            (mt, pickNode(rng, nodeIds, nextId), role)
          }
        case _ => Vector.empty
      }

      val media: Vector[String] =
        if (rng.nextDouble() < 0.10)
          Vector.fill(1 + rng.nextInt(3))(f"media://${rng.nextLong()}%016x")
        else Vector.empty

      if (otype == "node") nodeIds += id
      out += OsmElement(otype, id, version, visible, changeset, uid, user, ts,
        lat, lon, tags, nds, members, media, seqStart + i)
      i += 1
    }
    out.result()
  }

  private def pickNode(rng: Random, nodeIds: scala.collection.mutable.ArrayBuffer[Long],
                       fallback: Long): Long =
    if (nodeIds.isEmpty) fallback + rng.nextInt(100)
    else nodeIds(rng.nextInt(nodeIds.size))

  def docRows(sf: Double, seed: Long = Seed): Vector[OsmDocRow] =
    elements(sf, seed).map(_.toDocRow)

  def docsDF(spark: SparkSession, sf: Double, seed: Long = Seed): DataFrame = {
    import spark.implicits._
    spark.createDataset(docRows(sf, seed)).toDF()
  }

  /** Deterministic distributed embedding corpus: `n` vectors of `dim`
    * uniform-[-1,1] floats, generated columnar on executors (no driver
    * loop, no RNG object) — the bench/scaling fixture for the similarity
    * ops. Schema matches the driver's embeddings table (vec_id, embedding). */
  def embeddingsDF(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(0, n, 1, math.max(32, (n / 250000).toInt))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => ((pmod(xxhash64(col("id"), i), lit(2001L)) - 1000L) / 1000.0)
            .cast("float")).as("embedding"))
  }

  /** Deterministic distributed point corpus for spatial scaling runs:
    * `n` rows (doc_id, lat, lon), 70% clustered around the [[hotspots]]
    * (the urban-skew shape the kNN/PIP operators must survive), 30%
    * world-uniform — all pure Column arithmetic on executors, no driver
    * loop. */
  def pointsDF(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    def unit(seed: Int): Column = // deterministic uniform [-1, 1]
      (pmod(xxhash64(id, lit(seed)), lit(2000001L)) - 1000000L) / 1000000.0
    val hi = pmod(xxhash64(id, lit(0)), lit(3L)).cast("int")
    val hlat = when(hi === 0, hotspots(0)._1).when(hi === 1, hotspots(1)._1)
      .otherwise(hotspots(2)._1)
    val hlon = when(hi === 0, hotspots(0)._2).when(hi === 1, hotspots(1)._2)
      .otherwise(hotspots(2)._2)
    val clustered = pmod(xxhash64(id, lit(9)), lit(10L)) < 7
    spark.range(0, n, 1, math.max(32, (n / 250000).toInt))
      .select(id.as("doc_id"),
        when(clustered, hlat + unit(1) * 0.03).otherwise(unit(3) * 85.0).as("lat"),
        when(clustered, hlon + unit(2) * 0.045).otherwise(unit(4) * 180.0).as("lon"))
  }

  /** High-vocabulary synthetic document corpus for the winnowed-dedup bench:
    * `n` docs of 30-119 tokens drawn uniformly from a `vocab`-token
    * vocabulary (tokens are hex-encoded hashes — no phrase templates), so
    * fingerprint document-frequency stays realistic (mean df ≈ 1-2) instead
    * of the driver documents table's degenerate mean df ≈ 83. Every
    * `dupEvery`-th doc (offset `dupOffset`) is an exact copy of its
    * predecessor, giving the dup-pair query a known non-trivial answer of
    * ~n/dupEvery pairs. Columnar generation on executors (content derived
    * from xxhash64 of a content-id; duplicates share the content-id), no
    * driver loop — scales to any `n`.
    *
    * Vocabulary and fingerprint collisions (measured; BASELINE.md round 3,
    * "Winnowed-dedup fixture note"):
    * at 50k docs / 50k tokens mean fingerprint df is 1.09 with 678k true
    * candidate pairs — realistic boilerplate-ish collision rates, the
    * bench fixture. But collision df grows with CORPUS size at any fixed
    * (or even Heaps-law-scaled) vocabulary, because grams span token
    * boundaries: at 400k docs, df 1.45-1.51 and 35-62M true candidates
    * (52× for 8× docs) — any dedup timing on such a corpus is superlinear
    * for corpus reasons, not operator reasons. For constant work-per-doc
    * (weak-scaling evidence), pass `vocab = Long.MaxValue`: tokens become
    * full 64-bit hashes (no two docs share a gram except the seeded
    * duplicates), isolating operator cost from corpus statistics. */
  def highVocabDocsDF(spark: SparkSession, n: Long, vocab: Long = 50000L,
                      dupEvery: Int = 50, dupOffset: Int = 17): DataFrame = {
    import org.apache.spark.sql.functions._
    require(dupOffset >= 1 && dupOffset < dupEvery)
    val contentId = when(pmod(col("id"), lit(dupEvery.toLong)) === dupOffset,
      col("id") - 1).otherwise(col("id"))
    val token = (i: Column) =>
      if (vocab == Long.MaxValue) lower(hex(xxhash64(col("cid"), i)))
      else lower(hex(pmod(xxhash64(col("cid"), i), lit(vocab))))
    spark.range(0, n, 1, math.max(32, (n / 100000).toInt))
      .select(col("id").as("doc_id"), contentId.as("cid"))
      .select(col("doc_id"), concat_ws(" ", transform(
        sequence(lit(0), pmod(xxhash64(col("cid")), lit(90L)) + 29),
        token)).as("text"))
  }

  // --- spatial fixtures (FIXTURES.md §3) -----------------------------------

  final case class PolygonFixture(polygon_id: Long,
                                  rings: Seq[Seq[(Double, Double)]]) {
    def outer: Seq[(Double, Double)] = rings.head
  }

  /** ~20 small polygons over the hotspots: convex + concave (star) + one
    * with a hole. Even-odd (ray-cast parity over all rings) containment. */
  def polygons(seed: Long = Seed): Vector[PolygonFixture] = {
    val rng = new Random(seed + 1)
    val out = Vector.newBuilder[PolygonFixture]
    var pid = 0L
    hotspots.foreach { case (hlat, hlon) =>
      // convex-ish polygons: jittered regular k-gons
      for (_ <- 0 until 5) {
        val clat = hlat + rng.nextGaussian() * 0.008
        val clon = hlon + rng.nextGaussian() * 0.012
        val k = 5 + rng.nextInt(36)
        val r = 0.002 + rng.nextDouble() * 0.012
        val ring = (0 until k).map { j =>
          val a = 2 * math.Pi * j / k
          (clat + r * math.sin(a) * (0.8 + 0.4 * rng.nextDouble()),
           clon + r * math.cos(a) * (0.8 + 0.4 * rng.nextDouble()))
        }
        out += PolygonFixture(pid, Seq(ring)); pid += 1
      }
      // one concave star
      val star = (0 until 10).map { j =>
        val a = 2 * math.Pi * j / 10
        val r = if (j % 2 == 0) 0.012 else 0.004
        (hlat + r * math.sin(a), hlon + r * math.cos(a))
      }
      out += PolygonFixture(pid, Seq(star)); pid += 1
    }
    // one polygon with a hole over the first hotspot
    val (hlat, hlon) = hotspots.head
    val outerR = (0 until 8).map { j =>
      val a = 2 * math.Pi * j / 8
      (hlat + 0.02 * math.sin(a), hlon + 0.02 * math.cos(a))
    }
    val hole = (0 until 6).map { j =>
      val a = 2 * math.Pi * j / 6
      (hlat + 0.006 * math.sin(a), hlon + 0.006 * math.cos(a))
    }
    out += PolygonFixture(pid, Seq(outerR, hole))
    out.result()
  }

  final case class RasterTile(cell: Long, level: Int, payload: Array[Byte])

  /** Synthetic raster tiles at a coarse cell level covering the hotspot
    * areas (plus a thin uniform background), for raster↔vector prefix joins. */
  def rasterTiles(level: Int = 12, seed: Long = Seed): Vector[RasterTile] = {
    val rng = new Random(seed + 2)
    val cells = scala.collection.mutable.LinkedHashSet[Long]()
    hotspots.foreach { case (hlat, hlon) =>
      ZCell.coverBBox(hlat - 0.05, hlat + 0.05, hlon - 0.07, hlon + 0.07, level)
        .foreach(cells += _)
    }
    for (_ <- 0 until 200)
      cells += ZCell.encode(rng.nextDouble() * 170 - 85, rng.nextDouble() * 360 - 180, level)
    cells.toVector.map { c =>
      val payload = new Array[Byte](64)
      rng.nextBytes(payload)
      RasterTile(c, level, payload)
    }
  }
}
