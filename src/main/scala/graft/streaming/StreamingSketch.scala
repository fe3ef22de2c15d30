package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.Sketches

/** Streaming distinct-cardinality monitoring via mergeable KMV sketches:
  * each micro-batch sketches ITSELF (k smallest shingle hashes per
  * group) and appends the result as a batch partition; the current
  * corpus-wide sketch is the union-keep-k merge across partitions —
  * [[Sketches.kmvMerge]]'s law, which the k_kmv_merge oracle proves
  * cell-exact. State is #groups × k rows PER BATCH (bounded), the merge
  * is catalog-sized, and no batch ever re-reads corpus data.
  *
  * Replay safety is structural: a KMV sketch is a deterministic function
  * of the batch's SET of hashes, so a replayed batch OVERWRITES its
  * partition byte-identically, and union-keep-k is idempotent —
  * duplicate sketch rows cannot change the k minima. No strictly-earlier
  * read discipline is needed (unlike the drift COUNT registry, where
  * replays must not see later batches' additive counts).
  */
object StreamingSketch {

  /** One idempotent micro-batch step: sketch this batch, overwrite its
    * registry partition. */
  def kmvBatchStep(spark: SparkSession, registryDir: String,
      groupCol: String, textCol: String, n: Int, k: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    Sketches.kmvSketch(batch, groupCol, textCol, n, k)
      .select(col(groupCol), col("h"))
      .write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** The registry across all batches (empty with the right columns when
    * nothing has been written yet). `groupType` is the group column's
    * DDL type for the not-yet-written fallback — the schema after the
    * first batch is whatever the source's group column is, so the empty
    * frame must not assume string. */
  def readRegistry(spark: SparkSession, dir: String, groupCol: String,
      groupType: String = "string"): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0).select(lit(null).cast(groupType).as(groupCol),
        lit(0L).as("h"), lit(0L).as("batch_id")).limit(0)
  }

  /** The corpus-so-far sketch + distinct estimates: merge every batch's
    * sketch (union, keep k smallest per group) and apply the standard
    * (k−1)·P/h_k estimator. Catalog-sized input by construction. */
  def kmvCurrent(spark: SparkSession, registryDir: String,
      groupCol: String, k: Int, groupType: String = "string"): DataFrame =
    Sketches.kmvEstimate(
      Sketches.kmvMerge(
        readRegistry(spark, registryDir, groupCol, groupType)
          .select(col(groupCol), col("h")),
        groupCol, k),
      groupCol, k)
}
