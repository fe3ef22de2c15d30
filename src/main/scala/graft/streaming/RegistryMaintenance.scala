package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Sketches

/** ONE maintenance job for every streaming registry in the library —
  * the deployment convenience that turns seven per-stream compaction
  * entry points into a single sweep run between ingest windows (the
  * `compact` analog of the ingest loop's hourly recovery pass).
  *
  * Every registry is a `batch_id=*`-partitioned parquet directory whose
  * batch steps read "all other batches" (claim sets) or "all strictly
  * earlier batches" (count/merge logs). Compaction folds every
  * partition with `batch_id < upToBatchId` into ONE base partition
  * `batch_id=-1` — included by both read disciplines (−1 ≠ current and
  * −1 < current) with no extra wiring — and prunes the folded
  * partitions. Each fold is the registry's own merge law, so results
  * are unchanged:
  *
  *   - near-dup band claims: min(claimed_ts) per (band, k0, k1)
  *   - gram/canon claim sets: DISTINCT h
  *   - token counts (drift, boilerplate): SUM(cnt) per h
  *   - KMV sketches: union-keep-k per group ([[Sketches.kmvMerge]])
  *   - ER records + merge log: [[StreamingEr.compactRegistry]]
  *     (labels resolved through the folded closure, closure retained
  *     as the merge log's own base)
  *   - attribution clicks: [[StreamingAttribution.compactRegistry]]
  *     (latest click per user)
  *   - incremental PageRank state: [[StreamingGraph.compactRegistry]]
  *     (latest row per node; edge log relayed out distinct)
  *
  * All folds install through the loss-safe [[RegistryFs.swapBase]]
  * choreography (stage → park → rename-checked → prune), and a crashed
  * previous sweep is repaired by [[RegistryFs.recover]] before reading.
  *
  * `upToBatchId` must be at or below EVERY listed stream's checkpoint
  * frontier: a batch that may still replay must keep its own partition,
  * or the replay would see its own rows through the base (the
  * per-registry caveat, enforced here once). Registries whose dirs do
  * not exist yet (stream not started) are skipped, so one sweep can be
  * configured for the full deployment before every stream is live.
  */
object RegistryMaintenance {

  /** What to compact. One case per registry shape. */
  sealed trait RegistrySpec
  /** Near-dup LSH band claims — `StreamingDedup.batchStep`'s registry. */
  final case class NearDupClaims(dir: String) extends RegistrySpec
  /** Gram/canon claim set (h) — substring, canonical and novelty steps. */
  final case class GramClaims(dir: String) extends RegistrySpec
  /** Token counts (h, cnt) — drift and boilerplate steps. */
  final case class TokenCounts(dir: String) extends RegistrySpec
  /** KMV sketch rows (group, h) — `StreamingSketch.kmvBatchStep`. */
  final case class KmvSketches(dir: String, groupCol: String, k: Int)
    extends RegistrySpec
  /** ER record registry + merge log — `StreamingEr.batchStep`. */
  final case class ErRegistry(registryDir: String, mergeDir: String,
      idCol: String) extends RegistrySpec
  /** Attribution click registry — `StreamingAttribution.batchStep`. */
  final case class AttributionClicks(dir: String) extends RegistrySpec
  /** Incremental PageRank state (edge log + per-node score registry) —
    * `StreamingGraph.batchStep`. */
  final case class PageRankState(edgesDir: String, scoresDir: String,
      iters: Int) extends RegistrySpec
  /** Incremental connected-components state (pair log + per-node label
    * registry) — `StreamingCc.batchStep`. */
  final case class CcState(edgesDir: String, labelsDir: String)
    extends RegistrySpec

  /** Compact every listed registry up to the shared frontier. Skips
    * dirs with nothing to fold; safe to run on any cadence. One task
    * writes each folded base as one file, which relies on a registry
    * base staying segment-sized. */
  def maintainAll(spark: SparkSession, registries: Seq[RegistrySpec],
      upToBatchId: Long): Unit =
    registries.foreach {
      case NearDupClaims(dir) =>
        foldInPlace(spark, dir, upToBatchId)(
          _.groupBy("band", "k0", "k1")
            .agg(min("claimed_ts").as("claimed_ts")))
      case GramClaims(dir) =>
        foldInPlace(spark, dir, upToBatchId)(
          _.select("h").distinct())
      case TokenCounts(dir) =>
        foldInPlace(spark, dir, upToBatchId)(
          _.groupBy("h").agg(sum("cnt").as("cnt")))
      case KmvSketches(dir, groupCol, k) =>
        foldInPlace(spark, dir, upToBatchId)(rows =>
          Sketches.kmvMerge(rows.select(col(groupCol), col("h")), groupCol, k)
            .select(col(groupCol), col("h"))) // drop the merge's rank column
      case ErRegistry(registryDir, mergeDir, idCol) =>
        if (hasPartitions(spark, registryDir))
          StreamingEr.compactRegistry(spark, registryDir, mergeDir, idCol,
            upToBatchId)
      case AttributionClicks(dir) =>
        if (hasPartitions(spark, dir))
          StreamingAttribution.compactRegistry(spark, dir, upToBatchId)
      case PageRankState(edgesDir, scoresDir, iters) =>
        if (hasPartitions(spark, edgesDir) && hasPartitions(spark, scoresDir))
          StreamingGraph.compactRegistry(spark, edgesDir, scoresDir, iters,
            upToBatchId)
      case CcState(edgesDir, labelsDir) =>
        if (hasPartitions(spark, edgesDir) && hasPartitions(spark, labelsDir))
          StreamingCc.compactRegistry(spark, edgesDir, labelsDir, upToBatchId)
    }

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Does `dir` hold at least one visible `batch_id=*` partition? */
  private def hasPartitions(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsFor(spark, dir)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch_id="))
  }

  /** Shared in-place fold for the self-contained registry shapes: read
    * everything below the frontier (including a previous sweep's base),
    * apply the registry's merge law, install as the new `batch_id=-1`
    * base and prune the folded partitions — all via the loss-safe
    * [[RegistryFs]] order. */
  private def foldInPlace(spark: SparkSession, dir: String, upTo: Long)(
      fold: DataFrame => DataFrame): Unit = {
    if (!hasPartitions(spark, dir)) return
    val (fs, p) = fsFor(spark, dir)
    RegistryFs.recover(fs, p)
    val below = spark.read.option("basePath", dir).parquet(dir)
      .filter(col("batch_id") < upTo).drop("batch_id")
    fold(below).coalesce(1).write.mode("overwrite")
      .parquet(RegistryFs.staging(p).toString)
    RegistryFs.swapBase(fs, p, upTo)
  }
}
