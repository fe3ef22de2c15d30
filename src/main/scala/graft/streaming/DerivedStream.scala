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
  * Structured Streaming query whose `foreachBatch` hands the coerced
  * batch and the formulas to ONE date-clustered plan
  * ([[graft.catalog.ArchiveStore.upsert]]): the touched days of the
  * archive and the batch merge under last-write-wins, and every formula
  * is recomputed in one aggregate per batch at exactly the timestamps
  * where the batch touched one of its refs — same incremental-view
  * semantics, but set-at-a-time instead of row-at-a-time trigger
  * firings.
  *
  * Late data / re-delivery (T5): recompute-then-overwrite of the
  * affected (derived_id, timestamp) keys = the reference's ON CONFLICT
  * DO UPDATE last-write-wins.
  */
object DerivedStream {

  /** One formula registration — the derived "trigger" catalog row
    * (replaces pg_proc sniffing, `database.py:991-1005`). */
  final case class DerivedDef(attributeId: Int, formula: String)

  /** Write priorities on one archive key: the higher one wins. A
    * recomputed derived row beats a batch row carrying the derived id,
    * which beats the archived row. */
  private val Archived = 0
  private val Batch = 1
  private val Recomputed = 2

  /** Archive rows keyed for the fused plan: the date partition, the
    * archive columns and the write priority. */
  private def prioritized(rows: DataFrame, priority: Int): DataFrame =
    rows.select(to_date(col("timestamp")).as("p_date"), col("attribute_id"),
      col("timestamp"), col("value"), lit(priority).as("priority"))

  /** One row per (attribute_id, timestamp): the value of the
    * highest-priority write, a NULL value included (a re-delivered PI
    * error replaces the archived reading). Grouping on `p_date` first
    * lets rows already clustered by date aggregate without an exchange. */
  private def lastWriteWins(rows: DataFrame): DataFrame =
    rows.groupBy("p_date", "attribute_id", "timestamp")
      .agg(max_by(col("value"), col("priority")).as("value"),
        max(col("priority")).as("priority"))

  /** Every formula in ONE aggregate over last-write-wins rows: per
    * (p_date, timestamp), a conditional max per referenced id plus a flag
    * per formula saying the batch wrote one of its refs there. A formula
    * is evaluated only under its flag, so a division by zero raises only
    * at timestamps the batch touched; the NULL gate drops incomplete
    * source sets. No filter on the ref ids: a pushed-down filter would
    * split the exchange this aggregate shares with the merge. Output
    * rows carry the [[Recomputed]] priority. */
  private def recompute(merged: DataFrame, derived: Seq[DerivedDef]): DataFrame = {
    val refs = derived.map(d => Formula.refs(d.formula))
    val pivot = refs.flatten.distinct.map(id =>
      max(when(col("attribute_id") === id, col("value"))).as(s"attr_$id"))
    val touched = refs.zipWithIndex.map { case (ids, i) =>
      bool_or(col("priority") === Batch && col("attribute_id").isin(ids: _*)).as(s"touched_$i")
    }
    val aggs = pivot ++ touched
    val rows = derived.zipWithIndex.map { case (d, i) =>
      struct(lit(d.attributeId).as("attribute_id"),
        when(col(s"touched_$i"), Formula.compile(d.formula)).as("value"))
    }
    merged.groupBy("p_date", "timestamp").agg(aggs.head, aggs.tail: _*)
      .select(col("p_date"), col("timestamp"), inline(array(rows: _*)))
      .filter(col("value").isNotNull)
      .select(col("p_date"), col("attribute_id"), col("timestamp"), col("value"),
        lit(Recomputed).as("priority"))
  }

  /** The archive rows of the days `batch` touches after it is written:
    * `archived` (those days' rows) and `batch` hash-partition by date —
    * the plan's one shuffle — and merge under last-write-wins; every
    * formula is recomputed where the batch touched it, and the
    * recomputed rows win in turn. Both last-write-wins passes and the
    * formula aggregate group on `p_date` first, so they add no exchange
    * (the second reuses the first's). Output: `p_date` plus the archive
    * columns, one row per key. */
  private[graft] def merge(archived: Option[DataFrame], batch: DataFrame,
      derived: Seq[DerivedDef]): DataFrame = {
    val rows = (archived.map(prioritized(_, Archived)).toSeq :+ prioritized(batch, Batch))
      .reduce(_ unionByName _)
    val merged = lastWriteWins(rows.repartition(col("p_date")))
    if (derived.isEmpty) merged
    else lastWriteWins(merged.unionByName(recompute(merged, derived)))
  }

  /** T4 set-at-a-time recompute: derived rows for exactly the
    * timestamps where `batch` holds one of the formula's refs, evaluated
    * over `archive` (which must already include the batch), with the
    * all-sources NULL gate of the reference's trigger. The formula
    * aggregate of the fused upsert, run for one formula. */
  def derivedForBatch(archive: DataFrame, batch: DataFrame, d: DerivedDef): DataFrame =
    recompute(merge(Some(archive), batch, Nil), Seq(d))
      .select(graft.catalog.ArchiveStore.cols.map(col): _*)

  /** Upsert semantics without a transactional store: last write wins on
    * (attribute_id, timestamp), the rows of `recomputed` over those of
    * `existing` (T5). Returns the new full table. */
  def upsert(existing: DataFrame, recomputed: DataFrame): DataFrame =
    merge(Some(existing), recomputed, Nil).select(graft.catalog.ArchiveStore.cols.map(col): _*)

  /** Watermarked tumbling-window rollup over a coerced archive stream:
    * per-(window, attribute) counts and value aggregates that finalize
    * once the watermark passes the window end. The reference has no
    * windowed aggregation of its own (its 1m grid arrives
    * pre-interpolated) — this is the extension shape for monitoring
    * dashboards over the same stream; state is bounded by the watermark.
    * A tumbling window is a sliding one whose slide is its length. */
  def windowedRollup(coerced: DataFrame, window: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    slidingRollup(coerced, window, window, watermarkDelay)

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
    * per-batch recompute of [[start]] stays the default — this variant
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
    * micro-batch lands through ONE partition-scoped upsert that also
    * recomputes the formulas: source rows AND recomputed derived rows
    * replace any prior rows for their (attribute_id, timestamp) keys —
    * the T5 last-write-wins contract — so cross-batch re-delivery can
    * never produce duplicate archive keys. Only the date partitions the
    * batch touches are read and rewritten.
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
        try graft.catalog.ArchiveStore.upsert(spark, archivePath, batch, derived)
        finally graft.catalog.ArchiveStore.release(batch)
        ()
      }
      .start()
  }
}
