package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.fixtures.DeterministicGen
import graft.spatial.{HCell, S2Cell, SpatialOps}

/** The spatial predicates are stateless single Columns, so they compose
  * with Structured Streaming for free — this spec PINS that: a bbox
  * prefilter (the HCell.coverRanges Or-of-ranges + exact test, the same
  * shape bboxFilter pushes) and the S2 cell assignment yield identical row sets
  * streamed through a MemoryStream and executed in batch. A geofencing /
  * live-tile-counting pipeline is these expressions behind readStream. */
class StreamingSpatialSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming bbox + S2 cell assignment equal the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val pts = DeterministicGen.elements(0.001)
      .filter(_.otype == "node").map(e => (e.id, e.lat.get, e.lon.get))
    val (latMin, latMax, lonMin, lonMax) = (10.005, 25.005, -60.005, -20.005)
    val ranges = HCell.coverRanges(latMin, latMax, lonMin, lonMax, 14, 64)

    def shape(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val z = SpatialOps.hilbertCellId(col("lat"), col("lon"), 14)
      val zPred = ranges
        .map { case (lo, hi) => z >= lo && z < hi }.reduce(_ or _)
      df.filter(zPred &&
          col("lat") >= latMin && col("lat") <= latMax &&
          col("lon") >= lonMin && col("lon") <= lonMax)
        .select(col("id"),
          SpatialOps.s2CellId(col("lat"), col("lon"), 8).as("cell"))
    }

    val batch = shape(pts.toDF("id", "lat", "lon"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // sanity: cells are real level-8 S2 cells
    batch.foreach { case (_, c) => assert(S2Cell.level(c) === 8) }

    val stream = MemoryStream[(Long, Double, Double)]
    val query = shape(stream.toDF().toDF("id", "lat", "lon"))
      .writeStream.format("memory").queryName("ss_out")
      .outputMode("append").start()
    pts.grouped(150).foreach { chunk => stream.addData(chunk); query.processAllAvailable() }
    query.stop()

    val got = spark.table("ss_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === batch)
  }
}
