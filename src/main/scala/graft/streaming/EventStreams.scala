package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Operators over the `events` table (event_id, ts, user_id, event_type,
  * value, props): event-time windowed aggregation with a watermark, which
  * runs batch or on a `readStream` frame, and batch sessionization. */
object EventStreams {

  /** Tumbling event-time counts per event_type with a watermark bounding
    * late data; append-mode windows finalize once the watermark passes. */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
                            event_type: String, value: Double)
  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Int,
                               total_value: Double)

  /** Splits a user's (epochMs, value) events — sorted here — into
    * gap-separated sessions. */
  private def splitSessions(userId: Long, events: Seq[(Long, Double)],
                            gapMs: Long): Vector[UserSession] = {
    val sorted = events.sortBy(_._1)
    val sessions = Vector.newBuilder[UserSession]
    var cur = Vector.empty[(Long, Double)]
    def close(): Unit = if (cur.nonEmpty)
      sessions += UserSession(userId, new Timestamp(cur.head._1),
        new Timestamp(cur.last._1), cur.size, cur.map(_._2).sum)
    sorted.foreach { e =>
      if (cur.nonEmpty && e._1 - cur.last._1 > gapMs) { close(); cur = Vector.empty }
      cur :+= e
    }
    close()
    sessions.result()
  }

  /** Per-user sessionization with an inactivity gap over complete per-user
    * groups: in batch all events are final, so a plain groupByKey suffices
    * (no state, no timeouts). Partitioning: one shuffle on user_id; per-key
    * memory is one user's history, the same bound a gaps-and-islands
    * window query would carry. Oracle-checked (`events_sessions`). */
  def sessionizeBatch(events: Dataset[EventRow], gapMs: Long = 30 * 60 * 1000L)
  : Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, rows: Iterator[EventRow]) =>
        splitSessions(userId, rows.map(e => (e.ts.getTime, e.value)).toVector,
          gapMs).iterator
      }
  }
}
