package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Event-time windowed aggregation over a stream (watermark drops late
  * data) and batch sessionization over the driver-provided events table. */
class EventStreamsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("windowed counts over the streamed events table match the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.EventRow]
      .collect().sortBy(_.ts.getTime) // stream in event-time order: no late data

    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.windowedCounts(stream.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    events.grouped(250).foreach { chunk => stream.addData(chunk); q.processAllAvailable() }
    // advance the watermark far past the data so all windows finalize
    val last = events.last
    stream.addData(EventStreams.EventRow(-1L,
      new Timestamp(last.ts.getTime + 24L * 3600 * 1000), 0L, "sentinel", 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_out")
      .filter(col("event_type") =!= "sentinel")
      .select(col("window_start").cast("timestamp").cast("long").as("w"), col("event_type"),
        col("n"), col("total_value"))
      .collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("total_value")))
      .toMap

    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("tv"))
      .select(col("window.start").cast("timestamp").cast("long").as("w"), col("event_type"),
        col("n"), col("tv"))
      .collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("tv")))
      .toMap
    assert(got.keySet === batch.keySet)
    batch.foreach { case (key, (n, tv)) =>
      val (gn, gtv) = got(key)
      assert(gn === n, s"count for $key")
      // incremental (cross-batch) partial sums reorder float addition
      assert(math.abs(gtv - tv) < 1e-6, s"total for $key: $gtv vs $tv")
    }
    assert(got.nonEmpty)
  }

  test("batch sessionization: hand-computed splits") {
    import spark.implicits._
    def ev(id: Long, t: Long, user: Long, v: Double) =
      EventStreams.EventRow(id, new Timestamp(t), user, "click", v)
    val gap = 1000L * 60
    val base = 1700000000000L
    // hand-computed: user 1 splits into two sessions (pause > gap, fed out
    // of order — the kernel sorts), user 2 has one singleton
    val rows = Seq(ev(4, base + gap * 3, 1, 3.0), ev(1, base, 1, 1.0),
      ev(2, base + 1000, 1, 2.0), ev(3, base + 2000, 2, 5.0))
    val got = EventStreams.sessionizeBatch(spark.createDataset(rows), gap)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(got.length === 3)
    assert(got(0).user_id === 1 && got(0).n_events === 2 &&
      got(0).total_value === 3.0 && got(0).session_end.getTime === base + 1000)
    assert(got(1).user_id === 1 && got(1).n_events === 1 && got(1).total_value === 3.0)
    assert(got(2).user_id === 2 && got(2).n_events === 1 && got(2).total_value === 5.0)
  }
}
