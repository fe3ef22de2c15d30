package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Streaming last-touch attribution: purchases arrive as a feed and each
  * one credits the user's most recent click within the window — across
  * micro-batch boundaries — without ever re-scanning click history.
  *
  * The state insight that makes this O(|users|) instead of O(|clicks|):
  * for a purchase in batch i, every click from earlier batches is ≤ its
  * timestamp (feeds arrive in event-time order), so the backward as-of
  * over (all earlier clicks ∪ this batch's clicks) equals the as-of over
  * ({LATEST earlier click per user} ∪ this batch's clicks). The registry
  * therefore keeps ONE row per user — a last-write-wins claim table, the
  * [[StreamingDedup]] registry discipline applied to event streams. The
  * `d_stream_attrib` oracle checks exactly this collapse: the kernel
  * runs registry-shaped, the DuckDB twin is the full-history as-of.
  *
  * Replay safety: the registry is an AGGREGATE (a max), so the read
  * filters `batch_id < current` — strictly earlier, not merely
  * not-equal: a replayed batch must not see later batches' clicks (the
  * d_stream_drift lesson; micro-batch ids are monotone). Both writes
  * are per-batch-partition overwrites, so a replayed batch rewrites its
  * two partitions byte-identically.
  */
object StreamingAttribution {

  /** Attribution kernel shared by the batch step and the oracle query:
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

  /** Latest click per user of a click frame (ties → largest event_id;
    * k rides in the struct AFTER the unique id, so the argmax is
    * deterministic). */
  private def latestPerUser(clicks: DataFrame): DataFrame =
    clicks.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("k"))).as("__m"))
      .select(col("user_id"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"), col("__m.k").as("k"))

  /** One idempotent micro-batch step (also the unit the spec drives):
    * attribute this batch's purchases against (strictly-earlier
    * registry ∪ this batch's own clicks), then overwrite this batch's
    * attribution and registry-claim partitions. */
  def batchStep(spark: SparkSession, registryDir: String, outDir: String,
      windowUs: Long)(batch: DataFrame, batchId: Long): Unit = {
    val reg = latestPerUser(
      readRegistry(spark, registryDir).filter(col("batch_id") < batchId)
        .select("user_id", "ts", "event_id", "k"))
    val ownClicks = batch.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    val purchases = batch.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val out = attribute(purchases, reg.unionByName(ownClicks), windowUs)
    out.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    latestPerUser(ownClicks).write.mode("overwrite")
      .parquet(s"$registryDir/batch_id=$batchId")
  }

  /** The click registry across all batches (empty frame with the right
    * columns when nothing has been written yet). */
  def readRegistry(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0).select(lit(0L).as("user_id"),
        lit(null).cast("timestamp").as("ts"), lit(0L).as("event_id"),
        lit(0).cast("int").as("k"), lit(0L).as("batch_id")).limit(0)
  }

  /** Table maintenance, IN PLACE: fold every `batch_id < upToBatchId`
    * partition (including a previous compaction's base) into ONE row
    * per user — the global latest click — written back as the REAL
    * partition `batch_id=-1` under `registryDir`, and delete the folded
    * partitions. Because the base is a partition of the same directory
    * [[batchStep]] already scans, its strictly-earlier read
    * (`batch_id < current`) includes it with no extra wiring, and
    * pruning the folded history is safe by construction (the fold IS
    * the prune). Registry size becomes |users| + post-compaction
    * batches regardless of click history.
    *
    * `upToBatchId` must be at or below the checkpoint frontier: a
    * batch that may still replay must keep its own partition, or the
    * replay would see its own clicks through the base (the same
    * frontier caveat as the dedup registries). The fold is staged in a
    * dot-prefixed directory (invisible to partition discovery) and
    * installed via the loss-safe [[RegistryFs.swapBase]] order — park
    * the old base, rename the fold in (results checked), only then
    * prune the folded partitions. A crash mid-swap leaves at worst
    * transient DUPLICATE claims, which the latest-per-user fold absorbs
    * and a re-compaction removes; the first draft's prune-then-rename
    * order instead had a window that lost the whole folded history. */
  def compactRegistry(spark: SparkSession, registryDir: String,
      upToBatchId: Long): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(registryDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    RegistryFs.recover(fs, dirPath)
    val latest = latestPerUser(
      readRegistry(spark, registryDir).filter(col("batch_id") < upToBatchId)
        .select("user_id", "ts", "event_id", "k"))
    latest.write.mode("overwrite")
      .parquet(RegistryFs.staging(dirPath).toString)
    RegistryFs.swapBase(fs, dirPath, upToBatchId)
  }
}
