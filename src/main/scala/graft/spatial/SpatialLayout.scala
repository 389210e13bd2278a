package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructField}

/** Hilbert-clustered storage layout for point tables — the scan-pruning leg
  * of the tiling engine (north rule: "partitioning handled explicitly" at
  * 10^12 documents). The hot-tag projection solved the TAG half of scan
  * pruning (pushed `t_<key>` predicates, 11.8× at 24M rows); this solves
  * the SPATIAL half: a bbox query over a `partitionBy("type")` view still
  * reads every file, because row order is id-ish and lat/lon min/max spans
  * of every row group cover the whole planet.
  *
  * Layout (the Iceberg/Delta "Z-ORDER BY" idea, re-built on plain
  * hive-partitioned parquet with a Hilbert sort key):
  *
  *  - `pcell` — coarse Z cell (default level 4, ≤256 dirs) as the PARTITION
  *    directory column → a bbox prunes whole directories from the file
  *    listing before any I/O. Directory pruning is set membership on grid
  *    cells, which curve locality does not reach, so it stays Z-addressed.
  *  - `zcell` — fine Hilbert cell ([[HCell]], default level 16, ~600 m) as
  *    a stored column, with rows RANGE-partitioned and sorted by it → every
  *    parquet row group holds one tight curve interval, so its zcell
  *    min/max statistics skip it unless the bbox's cover ranges intersect.
  *
  * Hilbert is the only fine sort curve: it covers the same cells as the Z
  * curve in ~2× fewer value ranges (edge-adjacency, see [[HilbertCurve]]),
  * i.e. a smaller pushed filter tree at equal prune precision, and scanned
  * faster at every box size (BASELINE.md, "Space-filling-curve comparison",
  * 24M points).
  *
  * Skew: dense-urban coarse cells are NOT one writer task each —
  * `repartitionByRange(zcell)` samples the data and splits a hot cell
  * across as many contiguous curve slices as its row share demands (a
  * salted repartition would balance too, but destroys the clustering the
  * row-group statistics need; range partitioning is the skew tool that
  * KEEPS order).
  *
  * [[bboxFilter]] then composes three prune layers under the exact
  * predicate: directory pruning (`pcell ∈ coarse cover`) + row-group
  * skipping (`zcell ∈ merged cover ranges`, pushed to the parquet scan as
  * an Or-of-range filter) + the exact lat/lon test. Both prune predicates
  * are provable supersets of the bbox ([[HCell.coverRanges]] scaladoc), so
  * results equal a full-scan filter bit-for-bit; pruning is pure I/O
  * savings. The grid levels and the curve ride in `zcell`'s column
  * METADATA (persisted in the parquet footer, like HotTags'
  * `graft_hot_key`), so readers need no side file. A table without that
  * metadata — a plain table, or a Z-sorted layout written before Hilbert
  * became the only curve (no `hilbert` value under [[MetaCurve]]) — gets
  * the exact predicate alone: same rows, no pruning.
  */
object SpatialLayout {
  /** Cover-range budget of one [[bboxFilter]] box (the cover level
    * auto-coarsens above it: more false-positive row groups, smaller
    * filter tree). */
  private val BBoxMaxRanges = 128
  /** TOTAL cover-range budget of a [[polygonJoin]], split across its
    * polygons. */
  private val PolygonMaxRanges = 64
  /** Cap on the directory-pruning IN-list: a near-global cover skips it
    * (the sort-column ranges still prune). */
  private[spatial] val MaxPartitionList = 1024

  /** The shared two-layer scan prune every clustered layout reads through
    * (Hilbert bbox, S2 cap): partition-directory IN-list (skipped past
    * [[MaxPartitionList]] — the ranges still prune) + Or-of-ranges
    * predicate on the sort column (pushed to the scan as row-group
    * skipping). ONE definition so the semantics — including the
    * empty-cover ⇒ `lit(false)` guard that once lived only in polygonJoin
    * — cannot drift between layouts. Callers compose their exact
    * predicate/join on the result. */
  private[spatial] def pruneScan(layout: DataFrame, sortCol: String,
                                 partCol: String, ranges: Seq[(Long, Long)],
                                 pCover: Seq[Long]): DataFrame = {
    val sPred =
      if (ranges.isEmpty) lit(false) // empty cover ⇒ empty result
      else ranges
        .map { case (lo, hi) => col(sortCol) >= lo && col(sortCol) < hi }
        .reduce(_ or _)
    val pruned =
      if (layout.columns.contains(partCol) && pCover.nonEmpty &&
        pCover.size <= MaxPartitionList)
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
  /** Column-metadata key naming the fine sort curve. [[materialize]] writes
    * `"hilbert"`; readers prune only a column that carries it. */
  val MetaCurve = "graft_zcell_curve"
  private val Hilbert = "hilbert"

  /** [[SortCol]]'s field when `layout` is a Hilbert layout written by
    * [[materialize]]; None otherwise (the reader falls back to the exact
    * predicate — Hilbert ranges must never prune a Z-sorted column). */
  private def hilbertSortField(layout: DataFrame): Option[StructField] =
    layout.schema.fields.find { f =>
      val m = f.metadata
      f.name == SortCol && m.contains(MetaFine) && m.contains(MetaCoarse) &&
        m.contains(MetaCurve) && m.getString(MetaCurve) == Hilbert
    }

  /** Write `points` (needs `lat`/`lon` columns; all other columns ride
    * along) as a Hilbert-clustered layout at `path`. Rows with null
    * coordinates land in the null partition directory and match no bbox.
    *
    * `numFiles` bounds the range-partition count — size it so one file's
    * row groups fit executor memory at the target scale (at 100 TB this is
    * thousands; the LAYOUT is identical, only the sample-based range
    * boundaries move). */
  def materialize(points: DataFrame, path: String, coarseLevel: Int = 4,
                  fineLevel: Int = 16, numFiles: Int = 32): Unit = {
    require(coarseLevel >= 0 && coarseLevel <= fineLevel &&
      fineLevel <= ZCell.MaxLevel,
      s"need 0 <= coarse($coarseLevel) <= fine($fineLevel) <= ${ZCell.MaxLevel}")
    val meta = new MetadataBuilder()
      .putLong(MetaCoarse, coarseLevel.toLong)
      .putLong(MetaFine, fineLevel.toLong)
      .putString(MetaCurve, Hilbert).build()
    points
      .select(col("*"),
        SpatialOps.hilbertCellId(col("lat"), col("lon"), fineLevel).as(SortCol, meta),
        SpatialOps.cellId(col("lat"), col("lon"), coarseLevel).as(PartCol))
      .repartitionByRange(numFiles, col(SortCol))
      .sortWithinPartitions(SortCol)
      .write.mode("overwrite").partitionBy(PartCol).parquet(path)
  }

  /** Inclusive bbox filter over a layout written by [[materialize]]:
    * directory pruning + row-group skipping + exact predicate. Boxes with
    * `lonMin > lonMax` wrap the antimeridian. A table that is not a
    * Hilbert layout gets the exact predicate alone — same rows, no
    * pruning. */
  def bboxFilter(layout: DataFrame, latMin: Double, latMax: Double,
                 lonMin: Double, lonMax: Double): DataFrame = {
    require(latMin <= latMax, s"latMin $latMin > latMax $latMax")
    val lonPred =
      if (lonMin <= lonMax) col("lon") >= lonMin && col("lon") <= lonMax
      else col("lon") >= lonMin || col("lon") <= lonMax // antimeridian wrap
    val exact = col("lat") >= latMin && col("lat") <= latMax && lonPred

    hilbertSortField(layout) match {
      case None => layout.filter(exact)
      case Some(f) =>
        val fine = f.metadata.getLong(MetaFine).toInt
        val coarse = f.metadata.getLong(MetaCoarse).toInt
        val ranges =
          HCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, BBoxMaxRanges)
        val pCover = ZCell.coverBBox(latMin, latMax, lonMin, lonMax, coarse)
        pruneScan(layout, SortCol, PartCol, ranges, pCover).filter(exact)
    }
  }

  /** Spatial join over a Hilbert layout: the scan is prefiltered to the
    * union of the polygons' outer-ring-bbox cover ranges (directory pruning
    * + pushed zcell ranges), then [[SpatialOps.polygonJoin]] runs its
    * cover-prejoin + exact-refine on the survivors. Every polygon point
    * lies inside its outer-ring bbox, so the prefilter is a superset and
    * results equal the unpruned join — but a continental points table
    * joined against city polygons reads only the cities' storage, not the
    * continent's. The polygon side is driver-collected (broadcast-small by
    * the same contract as SpatialOps.polygonJoin); like that join,
    * antimeridian-SPANNING polygon rings are out of contract (boxes use
    * plain lon min/max). A table that is not a Hilbert layout falls through
    * to the plain join. The layout columns [[SortCol]] and [[PartCol]] are
    * dropped from the output on both paths, so a Z-sorted layout written
    * earlier yields the same columns as a Hilbert one. */
  def polygonJoin(layout: DataFrame, polygons: DataFrame, level: Int = 14): DataFrame =
    (hilbertSortField(layout) match {
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
        // the range budget is a TOTAL split across the polygons: a per-box
        // budget multiplied by the polygon count once produced a ~4000-term
        // Or tree whose per-row evaluation in the residual Filter cost 14×
        // the scan it was saving
        val perBox = math.max(1, PolygonMaxRanges / math.max(1, boxes.length))
        val ranges = ZCell.mergeRanges(boxes.toSeq.flatMap {
          case (latMin, latMax, lonMin, lonMax) =>
            HCell.coverRanges(latMin, latMax, lonMin, lonMax, fine, perBox)
        })
        val pCells = boxes.toSeq.flatMap { case (latMin, latMax, lonMin, lonMax) =>
          ZCell.coverBBox(latMin, latMax, lonMin, lonMax, coarse)
        }.distinct
        SpatialOps.polygonJoin(
          pruneScan(layout, SortCol, PartCol, ranges, pCells), polygons, level)
    }).drop(SortCol, PartCol)
}
