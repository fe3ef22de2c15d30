package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
