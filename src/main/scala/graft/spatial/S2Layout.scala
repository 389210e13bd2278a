package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** S2-clustered storage layout — the spherical sibling of [[SpatialLayout]]
  * (which clusters the equirect grid for BBOX queries): rows sorted by
  * their fine S2 cell, coarse S2 cells as partition directories, and
  * spherical-CAP queries ("everything within r meters of a point") pruned
  * through both layers before the exact haversine refine.
  *
  * Same three-layer composition as the bbox layout, every prune a provable
  * superset of the cap ([[S2Cell.coverCap]] scaladoc — triangle
  * inequality):
  *
  *  - directory pruning: `pcell ∈ coverCap(coarse)`;
  *  - row-group skipping: `scell ∈ cover value ranges` — the cover's
  *    uniform-level cells expand to contiguous fine-cell value ranges
  *    (Hilbert prefix property with face bits riding above), merged and
  *    pushed to the parquet scan;
  *  - exact `haversineMeters ≤ r`.
  *
  * Measured against the Z bbox layout on the same 24M points
  * (BASELINE.md round 5, "Polar-cap probe"): prune performance is
  * EQUIVALENT — a pole-centered cap reads 18-vs-17 files at the same wall
  * either way (the equirect grid's polar cover needs every longitude
  * COLUMN, but those cells are area-starved so few files hold them;
  * file-level stats absorb the difference). What the S2 layout buys is the
  * spherical primitive itself: a cap query is ONE call with
  * provable-superset pruning at any latitude, where the bbox route needs
  * the caller to derive a correct lat/lon superset (pole clamping, cosine
  * lon-widening, antimeridian splits — the error-prone math that
  * comparison had to do to be fair). Grid levels ride in `scell`'s column
  * metadata (no side file); a table without the metadata degrades to the
  * exact filter alone.
  */
object S2Layout {
  val PartCol = "ps2"
  val SortCol = "scell"
  val MetaCoarse = "graft_s2_coarse_level"
  val MetaFine = "graft_s2_fine_level"

  /** Write `points` (needs `lat`/`lon`) S2-clustered at `path`. */
  def materialize(points: DataFrame, path: String, coarseLevel: Int = 3,
                  fineLevel: Int = 14, numFiles: Int = 32): Unit = {
    require(coarseLevel >= 0 && coarseLevel <= fineLevel &&
      fineLevel <= S2Cell.MaxLevel,
      s"need 0 <= coarse($coarseLevel) <= fine($fineLevel) <= ${S2Cell.MaxLevel}")
    val meta = new MetadataBuilder()
      .putLong(MetaCoarse, coarseLevel.toLong)
      .putLong(MetaFine, fineLevel.toLong).build()
    points
      .select(col("*"),
        SpatialOps.s2CellId(col("lat"), col("lon"), fineLevel).as(SortCol, meta),
        SpatialOps.s2CellId(col("lat"), col("lon"), coarseLevel).as(PartCol))
      .repartitionByRange(numFiles, col(SortCol))
      .sortWithinPartitions(SortCol)
      .write.mode("overwrite").partitionBy(PartCol).parquet(path)
  }

  /** Fine-cell value ranges of a cap cover: cover at ≤`fine` under the
    * range budget, each uniform-level cell expanded to its fine-level
    * descendant range (contiguous — prefix property), merged. */
  private[spatial] def capRanges(lat: Double, lon: Double, radiusMeters: Double,
                                 fine: Int, maxCells: Int): Seq[(Long, Long)] = {
    val (cells, l) = S2Cell.coverCap(lat, lon, radiusMeters, fine, maxCells)
    val shift = 2 * (fine - l) + 5
    ZCell.mergeRanges(cells.map { c =>
      val payload = c >>> 5
      ((payload << shift) | fine.toLong, ((payload + 1L) << shift) | fine.toLong)
    })
  }

  /** Cover-range budget of one cap (the cover level coarsens above it). */
  private val CapMaxRanges = 128

  /** Cap filter over a layout written by [[materialize]]: directory
    * pruning + pushed scell ranges + exact haversine. The cap cover keeps
    * at most [[CapMaxRanges]] cells, and directory pruning is skipped when
    * the coarse cover exceeds [[SpatialLayout.MaxPartitionList]] cells (the
    * ranges still prune). Metadata-less tables get the exact predicate
    * alone — same rows, no pruning. */
  def capFilter(layout: DataFrame, lat: Double, lon: Double,
                radiusMeters: Double): DataFrame = {
    require(radiusMeters >= 0)
    val exact = SpatialOps.haversineMeters(col("lat"), col("lon"),
      lit(lat), lit(lon)) <= radiusMeters
    val sField = layout.schema.fields.find(f =>
      f.name == SortCol && f.metadata.contains(MetaFine) &&
        f.metadata.contains(MetaCoarse))
    sField match {
      case None => layout.filter(exact)
      case Some(f) =>
        val fine = f.metadata.getLong(MetaFine).toInt
        val coarse = f.metadata.getLong(MetaCoarse).toInt
        val ranges = capRanges(lat, lon, radiusMeters, fine, CapMaxRanges)
        // the cap cover may stop ABOVE `coarse` under its cell budget;
        // those coarser values would never equal the stored level-`coarse`
        // pcell values (level rides in the low bits), so expand to exactly
        // the coarse level (pure child expansion keeps the superset) and
        // let pruneScan's size cap skip directory pruning if it ballooned
        var (pCover, pl) = S2Cell.coverCap(lat, lon, radiusMeters, coarse)
        // bail out of the 4^levels expansion as soon as the cover exceeds
        // pruneScan's cap: it would only discard the list anyway, and a
        // large-radius cap over a deep coarse level otherwise materializes
        // millions of cells on the driver before that happens
        while (pl < coarse && pCover.size <= SpatialLayout.MaxPartitionList) {
          pCover = pCover.flatMap(S2Cell.children); pl += 1
        }
        val cover = if (pl < coarse) Seq.empty[Long] else pCover // over cap: skip dir pruning
        SpatialLayout.pruneScan(layout, SortCol, PartCol, ranges, cover)
          .filter(exact)
    }
  }
}
