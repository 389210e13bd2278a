package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Z-order-clustered storage layout for point tables — the scan-pruning leg
  * of the tiling engine (north rule: "partitioning handled explicitly" at
  * 10^12 documents). The hot-tag projection solved the TAG half of scan
  * pruning (pushed `t_<key>` predicates, 11.8× at 24M rows); this solves
  * the SPATIAL half: a bbox query over a `partitionBy("type")` view still
  * reads every file, because row order is id-ish and lat/lon min/max spans
  * of every row group cover the whole planet.
  *
  * Layout (the Iceberg/Delta "Z-ORDER BY" idea, re-built on plain
  * hive-partitioned parquet):
  *
  *  - `pcell` — coarse Z cell (default level 4, ≤256 dirs) as the PARTITION
  *    directory column → a bbox prunes whole directories from the file
  *    listing before any I/O.
  *  - `zcell` — fine Z cell (default level 16, ~600 m) as a stored column,
  *    with rows RANGE-partitioned and sorted by it → every parquet row
  *    group holds one tight Z-interval, so its zcell min/max statistics
  *    skip it unless the bbox's Z-ranges intersect.
  *
  * Skew: dense-urban coarse cells are NOT one writer task each —
  * `repartitionByRange(zcell)` samples the data and splits a hot cell
  * across as many contiguous Z-slices as its row share demands (a salted
  * repartition would balance too, but destroys the clustering the row-group
  * statistics need; range partitioning is the skew tool that KEEPS order).
  *
  * [[bboxFilter]] then composes three prune layers under the exact
  * predicate: directory pruning (`pcell ∈ coarse cover`) + row-group
  * skipping (`zcell ∈ merged cover ranges`, pushed to the parquet scan as
  * an Or-of-range filter) + the exact lat/lon test. Both prune predicates
  * are provable supersets of the bbox (ZCell.coverRanges scaladoc), so
  * results equal a full-scan filter bit-for-bit; pruning is pure I/O
  * savings. The grid levels ride in `zcell`'s column METADATA (persisted in
  * the parquet footer, like HotTags' `graft_hot_key`), so readers need no
  * side file and a non-layout table degrades to the plain scan.
  *
  * The fine sort curve is selectable (`curve = "z" | "hilbert"`, recorded
  * in metadata and honored by both readers): Hilbert addressing covers the
  * SAME cell set with fewer contiguous value ranges (edge-adjacency — see
  * [[HilbertCurve]]), i.e. a smaller pushed filter tree at equal prune
  * precision. Measured (BASELINE.md round 5, "Space-filling-curve
  * comparison", 24M pts): ~2× fewer ranges at
  * every box size, 10-26% faster scans — `"hilbert"` is the recommended
  * curve for NEW layouts; the default stays `"z"` so existing layouts
  * (which carry no curve metadata) keep reading identically.
  */
object SpatialLayout {
  private def curveOf(m: org.apache.spark.sql.types.Metadata): String =
    if (m.contains(MetaCurve)) m.getString(MetaCurve) else "z"

  /** The shared two-layer scan prune every clustered layout reads through
    * (Z bbox, Hilbert bbox, S2 cap): partition-directory IN-list (skipped
    * past `maxPartitionList` — the ranges still prune) + Or-of-ranges
    * predicate on the sort column (pushed to the scan as row-group
    * skipping). ONE definition so the semantics — including the
    * empty-cover ⇒ `lit(false)` guard that once lived only in polygonJoin
    * — cannot drift between layouts. Callers compose their exact
    * predicate/join on the result. */
  private[spatial] def pruneScan(layout: DataFrame, sortCol: String,
                                 partCol: String, ranges: Seq[(Long, Long)],
                                 pCover: Seq[Long],
                                 maxPartitionList: Int): DataFrame = {
    val sPred =
      if (ranges.isEmpty) lit(false) // empty cover ⇒ empty result
      else ranges
        .map { case (lo, hi) => col(sortCol) >= lo && col(sortCol) < hi }
        .reduce(_ or _)
    val pruned =
      if (layout.columns.contains(partCol) && pCover.nonEmpty &&
        pCover.size <= maxPartitionList)
        layout.filter(col(partCol).isin(pCover: _*))
      else layout
    pruned.filter(sPred)
  }

  /** Coarse partition-directory cell column. */
  val PartCol = "pcell"
  /** Fine sort-order cell column (level constant per layout). */
  val SortCol = "zcell"
  /** Column-metadata keys carrying the two grid levels on [[SortCol]]. */
  val MetaCoarse = "graft_zcell_coarse_level"
  val MetaFine = "graft_zcell_fine_level"
  /** Column-metadata key naming the fine sort curve (`"z"` | `"hilbert"`);
    * absent on pre-curve layouts → `"z"` (backward compatible). */
  val MetaCurve = "graft_zcell_curve"

  /** Write `points` (needs `lat`/`lon` columns; all other columns ride
    * along) as a Z-clustered layout at `path`. Rows with null coordinates
    * land in the null partition directory and match no bbox.
    *
    * `numFiles` bounds the range-partition count — size it so one file's
    * row groups fit executor memory at the target scale (at 100 TB this is
    * thousands; the LAYOUT is identical, only the sample-based range
    * boundaries move). */
  def materialize(points: DataFrame, path: String, coarseLevel: Int = 4,
                  fineLevel: Int = 16, numFiles: Int = 32,
                  curve: String = "z"): Unit = {
    require(coarseLevel >= 0 && coarseLevel <= fineLevel &&
      fineLevel <= ZCell.MaxLevel,
      s"need 0 <= coarse($coarseLevel) <= fine($fineLevel) <= ${ZCell.MaxLevel}")
    require(curve == "z" || curve == "hilbert", s"unknown curve '$curve'")
    val meta = new MetadataBuilder()
      .putLong(MetaCoarse, coarseLevel.toLong)
      .putLong(MetaFine, fineLevel.toLong)
      .putString(MetaCurve, curve).build()
    // the fine SORT column follows the chosen curve; the coarse PARTITION
    // directory cell stays Z-addressed either way — directory pruning is
    // set membership on grid cells (curve locality doesn't reach it), and
    // a shared pcell addressing keeps the two layouts dir-compatible
    val z =
      if (curve == "hilbert") SpatialOps.hilbertCellId(col("lat"), col("lon"), fineLevel)
      else SpatialOps.cellId(col("lat"), col("lon"), fineLevel)
    points
      .select(col("*"), z.as(SortCol, meta),
        SpatialOps.cellId(col("lat"), col("lon"), coarseLevel).as(PartCol))
      .repartitionByRange(numFiles, col(SortCol))
      .sortWithinPartitions(SortCol)
      .write.mode("overwrite").partitionBy(PartCol).parquet(path)
  }

  /** Inclusive bbox filter over a layout written by [[materialize]]:
    * directory pruning + row-group skipping + exact predicate. Boxes with
    * `lonMin > lonMax` wrap the antimeridian. A table without the layout
    * metadata (or without [[SortCol]]) gets the exact predicate alone —
    * same rows, no pruning.
    *
    * `maxRanges` caps the Z-range count (cover level auto-coarsens above
    * it — more false-positive row groups, smaller filter tree);
    * `maxPartitionList` caps the directory-pruning IN-list (a near-global
    * box skips it — the zcell ranges still prune). */
  def bboxFilter(layout: DataFrame, latMin: Double, latMax: Double,
                 lonMin: Double, lonMax: Double, maxRanges: Int = 128,
                 maxPartitionList: Int = 1024): DataFrame = {
    require(latMin <= latMax, s"latMin $latMin > latMax $latMax")
    val lonPred =
      if (lonMin <= lonMax) col("lon") >= lonMin && col("lon") <= lonMax
      else col("lon") >= lonMin || col("lon") <= lonMax // antimeridian wrap
    val exact = col("lat") >= latMin && col("lat") <= latMax && lonPred

    val zField = layout.schema.fields.find(f =>
      f.name == SortCol && f.metadata.contains(MetaFine) &&
        f.metadata.contains(MetaCoarse))
    zField match {
      case None => layout.filter(exact)
      case Some(f) =>
        val fine = f.metadata.getLong(MetaFine).toInt
        val coarse = f.metadata.getLong(MetaCoarse).toInt
        val ranges =
          if (curveOf(f.metadata) == "hilbert")
            HCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, maxRanges)
          else ZCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, maxRanges)
        val pCover = ZCell.coverBBox(latMin, latMax, lonMin, lonMax, coarse)
        pruneScan(layout, SortCol, PartCol, ranges, pCover, maxPartitionList)
          .filter(exact)
    }
  }

  /** Spatial join over a Z layout: the scan is prefiltered to the union of
    * the polygons' outer-ring-bbox cover ranges (directory pruning + pushed
    * zcell ranges), then [[SpatialOps.polygonJoin]] runs its cover-prejoin
    * + exact-refine on the survivors. Every polygon point lies inside its
    * outer-ring bbox, so the prefilter is a superset and results equal the
    * unpruned join — but a continental points table joined against city
    * polygons reads only the cities' storage, not the continent's. The
    * polygon side is driver-collected (broadcast-small by the same contract
    * as SpatialOps.polygonJoin); like that join, antimeridian-SPANNING
    * polygon rings are out of contract (boxes use plain lon min/max). A
    * non-layout table falls through to the plain join. Internal layout
    * columns are dropped from the output. */
  def polygonJoin(layout: DataFrame, polygons: DataFrame, level: Int = 14,
                  maxRanges: Int = 64,
                  maxPartitionList: Int = 1024): DataFrame = {
    val zField = layout.schema.fields.find(f =>
      f.name == SortCol && f.metadata.contains(MetaFine) &&
        f.metadata.contains(MetaCoarse))
    zField match {
      case None => SpatialOps.polygonJoin(layout, polygons, level)
      case Some(f) =>
        val fine = f.metadata.getLong(MetaFine).toInt
        val coarse = f.metadata.getLong(MetaCoarse).toInt
        val outer = col("rings").getItem(0)
        val boxes = polygons.select(
          array_min(transform(outer, p => p.getField("lat"))),
          array_max(transform(outer, p => p.getField("lat"))),
          array_min(transform(outer, p => p.getField("lon"))),
          array_max(transform(outer, p => p.getField("lon"))))
          .collect()
          .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        // maxRanges is a TOTAL budget split across the polygons: a per-box
        // budget multiplied by the polygon count once produced a ~4000-term
        // Or tree whose per-row evaluation in the residual Filter cost 14×
        // the scan it was saving
        val perBox = math.max(1, maxRanges / math.max(1, boxes.length))
        val cover: (Double, Double, Double, Double) => Seq[(Long, Long)] =
          if (curveOf(f.metadata) == "hilbert")
            HCell.coverRanges(_, _, _, _, fine, perBox)
          else ZCell.coverRanges(_, _, _, _, fine, perBox)
        val ranges = ZCell.mergeRanges(boxes.toSeq.flatMap {
          case (latMin, latMax, lonMin, lonMax) =>
            cover(latMin, latMax, lonMin, lonMax)
        })
        val pCells = boxes.toSeq.flatMap { case (latMin, latMax, lonMin, lonMax) =>
          ZCell.coverBBox(latMin, latMax, lonMin, lonMax, coarse)
        }.distinct
        SpatialOps.polygonJoin(
          pruneScan(layout, SortCol, PartCol, ranges, pCells, maxPartitionList),
          polygons, level)
          .drop(SortCol, PartCol)
    }
  }
}
