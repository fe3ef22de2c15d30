package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** ONE maintenance job for the streaming registries the cells write —
  * the deployment convenience that turns three per-stream compaction
  * entry points into a single sweep run between ingest windows (the
  * `compact` analog of the ingest loop's hourly recovery pass).
  *
  * Every registry is a `batch_id=*`-partitioned parquet directory whose
  * batch steps read "all strictly earlier batches". Compaction folds
  * every partition with `batch_id < upToBatchId` into ONE base
  * partition `batch_id=-1` — included by that read (−1 < current) with
  * no extra wiring — and prunes the folded partitions. Each fold is the
  * registry's own merge law, so results are unchanged:
  *
  *   - ER records + merge log: [[StreamingEr.compactRegistry]]
  *     (labels resolved through the folded closure, closure retained
  *     as the merge log's own base)
  *   - incremental PageRank state: [[StreamingGraph.compactRegistry]]
  *     (latest row per node; edge log relayed out distinct)
  *   - incremental connected components: [[StreamingCc.compactRegistry]]
  *     (latest label per node; pair log relayed out distinct)
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
  /** ER record registry + merge log — `StreamingEr.batchStep`. */
  final case class ErRegistry(registryDir: String, mergeDir: String,
      idCol: String) extends RegistrySpec
  /** Incremental PageRank state (edge log + per-node score registry) —
    * `StreamingGraph.batchStep`. */
  final case class PageRankState(edgesDir: String, scoresDir: String,
      iters: Int) extends RegistrySpec
  /** Incremental connected-components state (pair log + per-node label
    * registry) — `StreamingCc.batchStep`. */
  final case class CcState(edgesDir: String, labelsDir: String)
    extends RegistrySpec

  /** Compact every listed registry up to the shared frontier. Skips
    * dirs with nothing to fold; safe to run on any cadence. */
  def maintainAll(spark: SparkSession, registries: Seq[RegistrySpec],
      upToBatchId: Long): Unit =
    registries.foreach {
      case ErRegistry(registryDir, mergeDir, idCol) =>
        if (hasPartitions(spark, registryDir))
          StreamingEr.compactRegistry(spark, registryDir, mergeDir, idCol,
            upToBatchId)
      case PageRankState(edgesDir, scoresDir, iters) =>
        if (hasPartitions(spark, edgesDir) && hasPartitions(spark, scoresDir))
          StreamingGraph.compactRegistry(spark, edgesDir, scoresDir, iters,
            upToBatchId)
      case CcState(edgesDir, labelsDir) =>
        if (hasPartitions(spark, edgesDir) && hasPartitions(spark, labelsDir))
          StreamingCc.compactRegistry(spark, edgesDir, labelsDir, upToBatchId)
    }

  /** Does `dir` hold at least one visible `batch_id=*` partition? */
  private def hasPartitions(spark: SparkSession, dir: String): Boolean = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch_id="))
  }
}
