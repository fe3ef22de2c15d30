package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Last-touch attribution: each purchase credits the user's most recent
  * click within the window.
  *
  * The state insight that makes a stream of it O(|users|) instead of
  * O(|clicks|): for a purchase in batch i, every click from earlier
  * batches is ≤ its timestamp (feeds arrive in event-time order), so the
  * backward as-of over (all earlier clicks ∪ this batch's clicks) equals
  * the as-of over ({LATEST earlier click per user} ∪ this batch's
  * clicks). The `d_stream_attrib` oracle checks exactly this collapse:
  * the kernel runs against a latest-click-per-user registry, the DuckDB
  * twin is the full-history as-of.
  */
object StreamingAttribution {

  /** Attribution kernel of the `d_stream_attrib` cell:
    * each purchase joins the latest click at-or-before its timestamp
    * (user-keyed backward as-of — the union-sort carry, no pair join),
    * gated on `windowUs`; channel = click props-k mod 4, labeled, with
    * out-of-window / clickless purchases under 'none'.
    * `clicks` columns: (user_id, ts, event_id, k). */
  def attribute(purchases: DataFrame, clicks: DataFrame,
      windowUs: Long): DataFrame = {
    val p = purchases.select("user_id", "ts", "event_id", "value")
    val c = clicks.select(col("user_id"), col("ts"), col("ts").as("c_ts"),
      col("event_id").as("c_id"), col("k").as("c_k"))
    val j = Relational.asofJoin(p, c, "user_id", "ts",
      Seq("c_ts", "c_id", "c_k"), Seq("c_id"))
    val inWin = col("c_ts").isNotNull &&
      (unix_micros(col("ts").cast("timestamp")) -
        unix_micros(col("c_ts").cast("timestamp"))) <= windowUs
    j.withColumn("channel",
        when(!inWin, lit("none"))
          .when(col("c_k") % 4 === 0, lit("search"))
          .when(col("c_k") % 4 === 1, lit("social"))
          .when(col("c_k") % 4 === 2, lit("email"))
          .otherwise(lit("direct")))
      .select("event_id", "user_id", "ts", "value", "channel")
  }
}
