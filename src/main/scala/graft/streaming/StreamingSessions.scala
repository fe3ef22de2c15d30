package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming sessionization: the batch session aggregate (w3's
  * `session_window`) maintained over an event feed. Spark's native
  * session merging is the whole implementation — sessions whose events
  * arrive across micro-batches stitch in the state store, out-of-order
  * events within the watermark delay merge into their session, and
  * APPEND mode emits a session exactly once: when the watermark passes
  * its close (last event + gap), i.e. when no in-gap event can still
  * arrive. Deliberately NOT a `flatMapGroupsWithState` hand-roll — the
  * built-in operator gets state-store eviction, RocksDB spill, and
  * watermark semantics for free; no operator in this engine needs the
  * custom-state escape hatch.
  *
  * Scale shape: state is one open-session range per (user, session) —
  * proportional to ACTIVE users, not history; the shuffle is the same
  * user-keyed hash partitioning every micro-batch, and closed sessions
  * leave the store the moment the watermark passes them.
  */
object StreamingSessions {

  /** Closed-session frame for a streaming `events` input with columns
    * (user_id, ts, ...): (session_start, session_end, user_id, n) —
    * the w3_session shape. `gap` and `watermarkDelay` are SQL interval
    * strings (e.g. "30 minutes"). */
  def sessions(events: DataFrame, gap: String, watermarkDelay: String): DataFrame =
    sessionsBatch(events.withWatermark("ts", watermarkDelay), gap)

  /** The session aggregate itself — on a static frame this IS the
    * parity oracle for the stream; [[sessions]] is exactly this with a
    * watermark composed in front, so the two can never drift. */
  def sessionsBatch(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("user_id"), col("n"))

  /** Wire the closed-session stream into a parquet directory. */
  def start(events: DataFrame, gap: String, watermarkDelay: String,
      outPath: String, checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sessions(events, gap, watermarkDelay).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .trigger(trigger)
      .start()
}
