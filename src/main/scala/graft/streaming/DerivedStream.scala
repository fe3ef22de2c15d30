package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.formula.Formula
import graft.ingest.Ingest

/** Streaming ingest + trigger-equivalent derived-attribute maintenance
  * (SURVEY.md §2.9 T1-T5).
  *
  * The reference computes derived attributes with a generated PostgreSQL
  * AFTER-INSERT trigger per formula (reference `database/database.py:
  * 644-743`): on each archive row, if all source values for that
  * timestamp exist, upsert the derived row. Spark-first replacement: a
  * Structured Streaming query whose `foreachBatch` (a) appends the
  * coerced batch to the archive and (b) recomputes every formula at
  * exactly the timestamps the batch touched — same incremental-view
  * semantics, but set-at-a-time (one pivot per formula per batch)
  * instead of row-at-a-time trigger firings.
  *
  * Late data / re-delivery (T5): recompute-then-overwrite of the
  * affected (derived_id, timestamp) keys = the reference's ON CONFLICT
  * DO UPDATE last-write-wins.
  */
object DerivedStream {

  /** One formula registration — the derived "trigger" catalog row
    * (replaces pg_proc sniffing, `database.py:991-1005`). */
  final case class DerivedDef(attributeId: Int, formula: String)

  /** T4 set-at-a-time recompute: derived rows for exactly the
    * timestamps present in `batch`, evaluated over `archive` (which must
    * already include the batch). NULL gate = trigger's all-sources
    * check; one scan-filter + pivot per formula, no per-row work. */
  def derivedForBatch(archive: DataFrame, batch: DataFrame, d: DerivedDef): DataFrame = {
    val ids = Formula.refs(d.formula)
    val touched = batch
      .filter(col("attribute_id").isin(ids: _*))
      .select("timestamp").distinct()
    Formula.backfill(
      archive.join(broadcast(touched), Seq("timestamp"), "left_semi"),
      d.formula, d.attributeId)
  }

  /** Upsert semantics without a transactional store: drop the affected
    * keys from `existing`, union the recomputed rows (last write wins —
    * T5). Returns the new full derived table for those attributes. */
  def upsert(existing: DataFrame, recomputed: DataFrame): DataFrame = {
    val keys = recomputed.select("attribute_id", "timestamp")
    existing.join(keys, Seq("attribute_id", "timestamp"), "left_anti")
      .unionByName(recomputed)
  }

  /** Watermarked tumbling-window rollup over a coerced archive stream:
    * per-(window, attribute) counts and value aggregates that finalize
    * once the watermark passes the window end. The reference has no
    * windowed aggregation of its own (its 1m grid arrives
    * pre-interpolated) — this is the extension shape for monitoring
    * dashboards over the same stream; state is bounded by the watermark. */
  def windowedRollup(coerced: DataFrame, window: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    coerced
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(
        org.apache.spark.sql.functions.window(col("timestamp"), window).as("w"),
        col("attribute_id"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("attribute_id"),
        col("n"), col("min_value"), col("max_value"))

  /** Sliding-window variant of [[windowedRollup]]: each event lands in
    * `window / slide` overlapping windows (e.g. hourly stats refreshed
    * every 15 minutes). Same watermark-bounded state; the overlap factor
    * multiplies state size, which is why the slide is a parameter and
    * never defaulted finer than needed. */
  def slidingRollup(coerced: DataFrame, window: String = "1 hour",
      slide: String = "15 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    coerced
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(
        org.apache.spark.sql.functions.window(col("timestamp"), window, slide).as("w"),
        col("attribute_id"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("attribute_id"),
        col("n"), col("min_value"), col("max_value"))

  /** Session-window rollup: per-attribute activity bursts separated by
    * at least `gap` of silence collapse to one row (start, end, count).
    * The natural shape for "how long did this sensor stream without
    * interruption" monitoring; windows merge as events arrive and
    * finalize once the watermark passes `end + gap`. */
  def sessionRollup(coerced: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    coerced
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"), gap).as("w"), col("attribute_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("attribute_id"), col("n"))

  /** Watermarked stream-STREAM correlation: pair readings from two live
    * streams on the same key whose event times lie within `maxLagSeconds`
    * of each other — "which command preceded this sensor spike", the
    * two-source question stream-static joins can't answer. Both sides
    * carry watermarks AND the join predicate bounds event-time distance,
    * which is exactly what lets Spark evict join state once the
    * watermark passes (unbounded state otherwise — the stream-stream
    * join trap). Inner join, append semantics; output columns:
    * key, timestamp, value, r_timestamp, r_value. */
  def correlateStreams(left: DataFrame, right: DataFrame, key: String,
      maxLagSeconds: Long, watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("timestamp", watermarkDelay)
    val r = right.select(col(key).as("__rk"),
        col("timestamp").as("r_timestamp"), col("value").as("r_value"))
      .withWatermark("r_timestamp", watermarkDelay)
    l.join(r,
      col(key) === col("__rk") &&
        col("r_timestamp") >= col("timestamp") - expr(s"INTERVAL $maxLagSeconds SECONDS") &&
        col("r_timestamp") <= col("timestamp") + expr(s"INTERVAL $maxLagSeconds SECONDS"))
      .drop("__rk")
  }

  /** Approximate-distinct rollup: per-(window, attribute) HyperLogLog
    * registers maintained under a watermark — the streaming face of
    * [[graft.sketch.Sketches.hllRegistersBy]] (registers are integer
    * maxima, which Structured Streaming merges incrementally per
    * micro-batch for free). State is (windows × attributes × m) rows
    * REGARDLESS of event volume — the constant-size property that makes
    * a distinct-users dashboard viable over a 100 TB stream where exact
    * per-window distinct state would be unbounded. Feed the output to
    * [[graft.sketch.Sketches.hllEstimateBy]] for the estimates; on a
    * drained stream both match the batch twin bit-exactly (spec). */
  def hllRollup(hashed: DataFrame, window: String = "1 hour", m: Int = 64,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    val quotBits = 31 - Integer.numberOfTrailingZeros(m)
    val mixed = (col("h") * graft.sketch.Sketches.HllMixA) % graft.sketch.Sketches.HllMixMod
    val quot = floor(mixed / m).cast("long")
    val rho = when(quot === 0, lit(quotBits + 1))
      .otherwise(lit(quotBits + 1) - length(bin(quot)))
    hashed
      .withWatermark("timestamp", watermarkDelay)
      .select(col("timestamp"), col("attribute_id"),
        (mixed % m).as("bucket"), rho.cast("int").as("rho"))
      .groupBy(
        org.apache.spark.sql.functions.window(col("timestamp"), window).as("w"),
        col("attribute_id"), col("bucket"))
      .agg(max(col("rho")).as("register"))
      .select(col("w.start").as("window_start"), col("attribute_id"),
        col("bucket"), col("register"))
  }

  /** T3 streaming-native dedup: watermarked
    * `dropDuplicatesWithinWatermark` on the archive key. The batch
    * pipeline dedups within a micro-batch ([[Ingest.coerceBatch]]);
    * this drops RE-DELIVERIES ACROSS micro-batches too, holding key
    * state only until the watermark passes — the bounded-state
    * equivalent of the reference's unique-constraint
    * `ON CONFLICT DO NOTHING` (reference `database/database.py:608-641`).
    * Input must already be coerced archive rows with an event-time
    * `timestamp`. */
  def dedupAcrossBatches(coerced: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    coerced
      .withWatermark("timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("attribute_id", "timestamp")

  /** T4, stateful per-row variant (the reference trigger's exact shape,
    * SURVEY.md §2.9): state is keyed by TIMESTAMP and holds the source
    * values seen so far for that instant; whenever a row completes (or
    * changes) a timestamp's source set, the derived row is (re)emitted —
    * Update semantics, the streaming analog of the trigger's
    * `ON CONFLICT DO UPDATE` last-write-wins. State expires via
    * event-time timeout once the watermark passes (bounded state; the
    * batch path [[derivedForBatch]] stays the default — this variant
    * buys per-row emission latency when sources straggle ACROSS
    * micro-batches).
    *
    * Input must be a coerced archive stream with a watermark already
    * set on `timestamp`. Output: (attribute_id, timestamp, value).
    */
  def statefulDerived(coerced: DataFrame, d: DerivedDef): DataFrame = {
    val spark = coerced.sparkSession
    import spark.implicits._
    val ids = Formula.refs(d.formula)
    val idSet = ids.toSet
    val derivedId = d.attributeId
    val formula = d.formula
    val src = coerced
      .filter(col("attribute_id").isin(ids: _*) && col("value").isNotNull)
      .select(col("attribute_id").cast("int"), col("timestamp"),
        col("value").cast("double"))
      .as[(Int, java.sql.Timestamp, Double)]
    src.groupByKey(_._2)
      .flatMapGroupsWithState[Map[Int, Double], (Int, java.sql.Timestamp, Double)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (ts: java.sql.Timestamp, rows: Iterator[(Int, java.sql.Timestamp, Double)],
         state: GroupState[Map[Int, Double]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val before = state.getOption.getOrElse(Map.empty[Int, Double])
            val merged = before ++ rows.map(r => r._1 -> r._3)
            state.update(merged)
            // keep per-ts state until the watermark passes the instant
            state.setTimeoutTimestamp(ts.getTime, "0 seconds")
            val complete = idSet.subsetOf(merged.keySet)
            val changed = merged != before
            if (complete && changed)
              Iterator((derivedId, ts, Formula.eval(formula, merged)))
            else Iterator.empty
          }
      }
      .toDF("attribute_id", "timestamp", "value")
  }

  /** Wire a streaming source of raw points into an archive directory,
    * maintaining derived attributes per micro-batch. The sink is the
    * date-partitioned [[graft.catalog.ArchiveStore]] layout, and every
    * micro-batch lands through ONE partition-scoped upsert: source rows
    * AND recomputed derived rows replace any prior rows for their
    * (attribute_id, timestamp) keys — the T5 last-write-wins contract —
    * so cross-batch re-delivery can never produce duplicate archive keys.
    * Only the date partitions the batch touches are rewritten.
    *
    * At deployment scale the source would be a DataSourceV2
    * MicroBatchStream over the PI Web API (`/streamsets/.../interpolated`
    * batches); here any streaming DataFrame with the raw schema
    * (lookup_key, timestamp, value — all strings) plugs in.
    */
  def start(
      raw: DataFrame,
      mapping: DataFrame,
      derived: Seq[DerivedDef],
      archivePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = raw.sparkSession
    raw.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batchRaw: DataFrame, _: Long) =>
        // not .cache(): spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false keeps every dedup-shuffle partition
        val batch = Ingest.coerceBatch(batchRaw, mapping).localCheckpoint()
        try if (!batch.isEmpty) {
          val toWrite =
            if (derived.isEmpty) batch
            else {
              // recompute against the POST-upsert view of the archive
              // (existing rows minus the keys this batch replaces, plus
              // the batch) so re-delivered source values feed formulas
              val merged = upsert(
                graft.catalog.ArchiveStore.readOr(spark, archivePath, batch.limit(0)),
                batch)
              val recomputed = derived.map(d => derivedForBatch(merged, batch, d))
                .reduce(_ unionByName _)
              batch.unionByName(recomputed)
            }
          graft.catalog.ArchiveStore.upsert(spark, archivePath, toWrite)
        } finally graft.catalog.ArchiveStore.release(batch)
        ()
      }
      .start()
  }
}
