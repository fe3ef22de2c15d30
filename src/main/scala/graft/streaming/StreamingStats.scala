package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Streaming per-source DATASET-CARD monitoring: the
  * `pipe_dataset_card` artifact maintained over a corpus that arrives
  * as a feed, with every component chosen to be MERGEABLE so no batch
  * ever re-reads corpus data:
  *
  *  - doc/token counts and the quality-milli sum are additive longs;
  *  - the language census is additive per (source, lang) — catalog-
  *    sized by construction;
  *  - the token-length histogram uses FIXED-width bins (a data-
  *    dependent range, like the batch quantile sketch's, would not
  *    merge across batches) — per-(source, bin) counts are additive
  *    and the median bin falls out at an exact integer rank;
  *  - distinct fingerprints keep the KMV discipline (k smallest
  *    hashes per source; union-keep-k is idempotent and mergeable —
  *    the [[StreamingSketch]] law).
  *
  * Replay safety is structural for every component: counts are
  * per-batch-partition OVERWRITEs recomputed from the batch alone, and
  * the KMV rows are a function of the batch's fingerprint SET — a
  * replayed batch rewrites its partitions byte-identically and the
  * merge cannot move.
  */
object StreamingStats {

  /** One idempotent micro-batch step: the quality-feature pass runs
    * ONCE (checkpointed for its four consumers — the dataset-card
    * lesson), then four bounded per-batch partitions overwrite.
    * `batch` columns: (doc_id, source, text). */
  def cardBatchStep(spark: SparkSession, dir: String,
      binWidth: Long = 16L, k: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    val feats = TextOps.withQualityFeatures(
        batch.select("doc_id", "source", "text"), "text")
      .select(col("source"), col("doc_id"),
        col("n_tokens").cast("long").as("n_tok"),
        expr("cast(floor(score * 1000) as bigint)").as("q_milli"),
        TextOps.fingerprint("text").as("fp"),
        TextOps.langId(col("text")).as("lang"))
      .localCheckpoint(false)
    feats.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("q_milli")).as("q_sum"))
      .write.mode("overwrite").parquet(s"$dir/stats/batch_id=$batchId")
    feats.groupBy("source", "lang").agg(count(lit(1)).as("ln"))
      .write.mode("overwrite").parquet(s"$dir/langs/batch_id=$batchId")
    feats.select(col("source"), expr(s"n_tok div $binWidth").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$dir/hist/batch_id=$batchId")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("fp")
    feats.select("source", "fp").distinct()
      .withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
      .select("source", "fp")
      .write.mode("overwrite").parquet(s"$dir/fp/batch_id=$batchId")
  }

  private def readPart(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("basePath", dir).parquet(dir)

  /** The corpus-so-far card: one merge pass per component — additive
    * sums, census argmax with the deterministic (−count, lang)
    * tie-break, median token BIN at the exact integer rank, KMV
    * distinct estimate (exact below k) — all over catalog-sized
    * registry tables, never corpus data. `median_tokens_lo` is the
    * median bin's lower bound (bin · width): a fixed-grid answer, so
    * installments and the whole corpus agree exactly. */
  def cardCurrent(spark: SparkSession, dir: String,
      binWidth: Long = 16L, k: Int = 64): DataFrame = {
    val stats = readPart(spark, s"$dir/stats").groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("q_sum").as("__qs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("cast(__qs div n_docs as bigint)").as("mean_quality_milli"))
    val langs = readPart(spark, s"$dir/langs")
      .groupBy("source", "lang").agg(sum("ln").as("ln"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("ln")).as("nn"), col("lang"))).as("__m"))
      .select(col("source"), col("n_langs"), col("__m.lang").as("top_lang"))
    val wh = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val hist = readPart(spark, s"$dir/hist")
      .groupBy("source", "bin").agg(sum("c").as("c"))
      .withColumn("__cum", sum(col("c")).over(wh))
      .withColumn("__n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .filter(col("__cum") >= expr("(50 * __n) div 100 + 1") &&
        col("__cum") - col("c") < expr("(50 * __n) div 100 + 1"))
      .select(col("source"), (col("bin") * binWidth).as("median_tokens_lo"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("fp")
    val fp = readPart(spark, s"$dir/fp")
      .select("source", "fp").distinct()
      .withColumn("__r", row_number().over(wf)).filter(col("__r") <= k)
      .groupBy("source")
      .agg(count(lit(1)).as("__ns"), max(col("fp")).as("__kth"))
      .select(col("source"),
        when(col("__ns") < k, col("__ns"))
          .otherwise(expr(s"${(k - 1).toLong * TextOps.P} div __kth"))
          .as("est_distinct_fp"))
    stats.join(langs, Seq("source")).join(hist, Seq("source"))
      .join(fp, Seq("source"))
      .orderBy("source")
  }
}
