package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Streaming near-duplicate suppression: continuously ingest documents,
  * keep only those that are not near-dups of ANY previously ingested
  * document, first-writer wins (reference has no streaming dedup; this
  * is the streaming face of the batch MinHash-LSH path —
  * [[Dedup.minhashLshCandidates]] — for a corpus that arrives as a feed
  * rather than a snapshot).
  *
  * Architecture: foreachBatch over a registry TABLE, not a state-store
  * operator. Per micro-batch: stateless signatures (zero shuffles),
  * first-claimant window + registry probe on the same bucket key, then
  * two partitioned writes. The bucket-claim registry lives in storage —
  * at 100 TB, dedup-against-all-history state is hundreds of billions of
  * buckets, which belongs in a table co-bucketed with the probe join,
  * not in executor state-store heap/disk; compaction of the batch_id
  * partitions into a bucketed layout is ordinary table maintenance
  * (see `ScaleTechniques.materializeBucketed`).
  *
  * Exactly-once without a transaction log: both outputs are partitioned
  * by `batch_id` and written with per-partition OVERWRITE, and the
  * registry read EXCLUDES the current batch id — so a replayed batch
  * (crash between the two writes, restart from checkpoint) never
  * collides with its own half-written claims and simply rewrites both
  * partitions byte-identically (spec-pinned).
  */
object StreamingDedup {

  /** One idempotent micro-batch step (also the unit the spec drives
    * directly): suppress `batch` against all claims from OTHER batches,
    * then overwrite this batch's kept/claims partitions. */
  def batchStep(spark: SparkSession, registryDir: String, keptDir: String,
      idCol: String, tsCol: String, textCol: String, n: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val registry = readPartitioned(spark, registryDir)
      .filter(col("batch_id") =!= batchId)
      .select("band", "k0", "k1")
    val (kept, claims) =
      Dedup.nearDupSuppress(batch, registry, idCol, tsCol, textCol, n)
    kept.write.mode("overwrite").parquet(s"$keptDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** All batches of a batch_id-partitioned output (empty frame with the
    * right columns when nothing has been written yet). */
  def readPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0)
        .select(lit(0L).as("band"), lit(0L).as("k0"), lit(0L).as("k1"),
          lit(0L).as("claimed_ts"), lit(0L).as("batch_id"))
        .limit(0)
  }

  /** Table maintenance: fold the batch_id-partitioned claim registry
    * into ONE table bucketed (and per-file sorted) on the probe key
    * (band, k0, k1). Claims are unique across batches by construction
    * (each batch anti-joins the prior registry before writing), so this
    * is a pure relayout; the min-claimed_ts aggregate keeps the
    * retention column well-defined even if a replayed half-written
    * partition left a stray duplicate. After compaction the probe join
    * and its distinct read the registry with ZERO exchanges — only the
    * (small) incoming batch shuffles, sized by the batch, not by
    * all-history state (`StreamingDedupSpec` pins both the plan and
    * before/after suppression equality). At 100 TB this runs on
    * whatever cadence keeps the partition listing short; fresh
    * post-compaction batches append new batch_id partitions beside the
    * compacted base and the union is probed until the next sweep. */
  def compactRegistry(spark: SparkSession, registryDir: String, path: String,
      tableName: String, buckets: Int = 32): DataFrame = {
    val claims = readPartitioned(spark, registryDir)
      .groupBy("band", "k0", "k1").agg(min("claimed_ts").as("claimed_ts"))
    graft.ops.Relational.materializeBucketed(
      claims, path, tableName, Seq("band", "k0", "k1"), buckets, onePerBucket = true)
  }

  // ---- streaming exact substring dedup ----------------------------------

  /** One idempotent micro-batch step of STREAMING exact substring dedup
    * (the [[Dedup.substringDedup]] semantics for a corpus that arrives
    * as a feed): a k-token window in this batch is duplicated iff its
    * k-gram was claimed by ANY earlier batch (registry probe on the
    * 31-bit gram hash) or occurs earlier within this batch (the batch's
    * own (id, pos) argmin); covered tokens are removed, cleaned docs
    * land under `cleanDir/batch_id=*`, and the batch's NEW first-seen
    * gram hashes are appended to `registryDir/batch_id=*` — arrival
    * order wins across batches, (id, pos) order within one.
    *
    * When batches arrive in id order, concatenating the per-batch
    * outputs is EXACTLY the batch operator on the union (spec-pinned):
    * the global (id, pos) argmin then coincides with first-batch-wins.
    * Out-of-order ids only move WHICH occurrence survives (arrival
    * first, the streaming contract), never how many.
    *
    * Same exactly-once discipline as [[batchStep]]: both writes are
    * per-batch-partition OVERWRITEs and the registry read excludes the
    * current batch id, so a replayed batch rewrites both partitions
    * byte-identically. The registry holds one 8-byte hash per distinct
    * first-seen gram — linear in CONTENT, not occurrences; compact it
    * with [[compactSubstringRegistry]] for an exchange-free probe. */
  def substringBatchStep(spark: SparkSession, registryDir: String,
      cleanDir: String, idCol: String, textCol: String, k: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val registry = readSubstringRegistry(spark, registryDir)
      .filter(col("batch_id") =!= batchId)
      .select("h")
    val (cleaned, claims) =
      Dedup.substringSuppress(batch, registry, idCol, textCol, k)
    cleaned.write.mode("overwrite").parquet(s"$cleanDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** The substring-claim registry across all batches (empty frame with
    * the right columns when nothing has been written yet). */
  def readSubstringRegistry(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0)
        .select(lit(0L).as("h"), lit(0L).as("batch_id"))
        .limit(0)
  }

  /** Table maintenance for the substring registry: fold the
    * batch_id-partitioned claims into one table bucketed + sorted on
    * the probe key `h` — after compaction the probe join and the
    * first-occurrence aggregate read it with zero exchanges (only the
    * incoming batch shuffles, sized by the batch, not by all-history
    * content). Claims are unique across batches by the anti-join
    * construction; the distinct guards a replayed half-written
    * partition's stray duplicate. */
  def compactSubstringRegistry(spark: SparkSession, registryDir: String,
      path: String, tableName: String, buckets: Int = 32): DataFrame = {
    val claims = readSubstringRegistry(spark, registryDir).select("h").distinct()
    graft.ops.Relational.materializeBucketed(claims, path, tableName, Seq("h"), buckets, onePerBucket = true)
  }

  /** One idempotent micro-batch step of STREAMING canonical dedup
    * ([[Dedup.canonicalSuppress]] semantics — exact dedup after
    * case/punct/whitespace normalization, for a corpus that arrives as
    * a feed): a doc survives iff its canonical-form hash was claimed by
    * NO earlier batch and it is the lowest id of its canon group within
    * this batch. Shares the substring registry's (h, batch_id) schema,
    * so [[readSubstringRegistry]] and [[compactSubstringRegistry]]
    * apply unchanged. Same exactly-once discipline: per-batch-partition
    * overwrites + registry read excludes the current batch id → replay
    * rewrites both partitions byte-identically. The claim registry is a
    * MONOTONE claim set (the `=!=` replay argument of [[batchStep]]
    * holds). */
  def canonBatchStep(spark: SparkSession, registryDir: String,
      keptDir: String, idCol: String, textCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val registry = readSubstringRegistry(spark, registryDir)
      .filter(col("batch_id") =!= batchId)
      .select("h")
    val (kept, claims) =
      Dedup.canonicalSuppress(batch, registry, idCol, textCol)
    kept.write.mode("overwrite").parquet(s"$keptDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** One idempotent micro-batch step of STREAMING chunk-level dedup
    * ([[graft.dedup.Dedup.cdcSuppress]] — the content-defined-chunking
    * coverage policy for a corpus that arrives as a feed): the batch's
    * docs score their shared-chunk coverage against every earlier
    * batch's chunk claims (plus the within-batch min-id owner rule),
    * decisions land under `decisionsDir/batch_id=*`, first-seen chunk
    * hashes append to `registryDir/batch_id=*`. Shares the substring
    * registry's (h, batch_id) schema, so [[readSubstringRegistry]] /
    * [[compactSubstringRegistry]] / `RegistryMaintenance.GramClaims`
    * apply unchanged. Same exactly-once discipline: per-batch-partition
    * overwrites + current-batch exclusion ⇒ replays rewrite both
    * partitions byte-identically (monotone claim set). */
  def cdcBatchStep(spark: SparkSession, registryDir: String,
      decisionsDir: String, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16, minSharedPct: Int = 50)(
      batch: DataFrame, batchId: Long): Unit = {
    val registry = readSubstringRegistry(spark, registryDir)
      .filter(col("batch_id") =!= batchId)
      .select("h")
    val (decisions, claims) = Dedup.cdcSuppress(batch, registry, idCol,
      textCol, window, divisor, minSharedPct)
    decisions.write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** One micro-batch of streaming novelty scoring
    * ([[graft.dedup.Dedup.noveltySuppress]]): the batch scores against
    * every EARLIER batch's gram claims, its first-seen grams append to
    * the registry. Shares the substring registry's schema (h, batch_id)
    * and therefore its maintenance path —
    * [[compactSubstringRegistry]] applies unchanged. Same exactly-once
    * discipline: per-batch-partition overwrites + registry read
    * excludes the current batch id → replay rewrites both partitions
    * byte-identically. */
  def noveltyBatchStep(spark: SparkSession, registryDir: String,
      scoredDir: String, idCol: String, textCol: String, n: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val registry = readSubstringRegistry(spark, registryDir)
      .filter(col("batch_id") =!= batchId)
      .select("h")
    val (scored, claims) =
      graft.dedup.Dedup.noveltySuppress(batch, registry, idCol, textCol, n)
    scored.write.mode("overwrite").parquet(s"$scoredDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** The token-COUNT registry across all batches (h, cnt, batch_id) —
    * the drift monitor's state: one row per distinct token per batch,
    * linear in vocabulary, never in corpus. */
  def readCountRegistry(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0)
        .select(lit(0L).as("h"), lit(0L).as("cnt"), lit(0L).as("batch_id"))
        .limit(0)
  }

  /** One micro-batch of streaming drift monitoring
    * ([[graft.text.TextOps.vocabDriftAgainst]]): the batch's unigram
    * mixture scores against the summed counts of every batch STRICTLY
    * BEFORE it; its own counts append to the registry. First batch has
    * no baseline → NULL tvd (visible, not a fake zero).
    *
    * The registry filter is `batch_id < batchId`, NOT the
    * exclude-own-batch `=!=` the claim-based steps use — and the
    * difference is load-bearing for replay: a claim registry is
    * MONOTONE (a later batch can never claim a gram an earlier batch
    * contains, so extra later rows never intersect a replayed batch),
    * but drift reads every other batch's counts wholesale, so a
    * replayed batch under `=!=` would see counts from batches after it
    * and emit a different row. Strictly-earlier makes the replay
    * byte-identical at any point in the stream's progress. */
  def driftBatchStep(spark: SparkSession, registryDir: String,
      driftDir: String, textCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val reg = readCountRegistry(spark, registryDir)
      .filter(col("batch_id") < batchId)
      .select("h", "cnt")
    val cur = graft.text.TextOps.hashTokenCounts(batch, textCol)
      .localCheckpoint(false) // consumed by the drift row AND the claim write
    graft.text.TextOps.vocabDriftAgainst(cur, reg)
      .write.mode("overwrite").parquet(s"$driftDir/batch_id=$batchId")
    cur.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }

  /** Table maintenance for the count registry: SUM-fold the per-batch
    * counts into one table bucketed on `h` — the reference side of
    * every future drift step then reads with zero exchanges. */
  def compactCountRegistry(spark: SparkSession, registryDir: String,
      path: String, tableName: String, buckets: Int = 32): DataFrame = {
    val summed = readCountRegistry(spark, registryDir)
      .groupBy("h").agg(sum("cnt").as("cnt"))
    graft.ops.Relational.materializeBucketed(summed, path, tableName, Seq("h"), buckets, onePerBucket = true)
  }

  /** One micro-batch of streaming boilerplate removal
    * ([[graft.text.TextOps.boilerplateSuppress]]): lines whose
    * cumulative distinct-doc count (strictly earlier batches + this
    * batch) reaches the threshold are removed from this batch's
    * documents; the batch's own line counts append to the registry.
    * Shares the count registry's (h, cnt, batch_id) schema, so
    * [[readCountRegistry]] and [[compactCountRegistry]] apply
    * unchanged — and like drift (and UNLIKE the monotone claim
    * registries) the read must be STRICTLY EARLIER for replay to be
    * byte-identical: a count registry is not monotone under `=!=`. */
  def boilerplateBatchStep(spark: SparkSession, registryDir: String,
      cleanDir: String, idCol: String, textCol: String, minDocs: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val reg = readCountRegistry(spark, registryDir)
      .filter(col("batch_id") < batchId)
      .select("h", "cnt")
    val (cleaned, claims) = graft.text.TextOps.boilerplateSuppress(
      batch.localCheckpoint(false), // lines feed the clean AND claim writes
      reg, idCol, textCol, minDocs)
    cleaned.write.mode("overwrite").parquet(s"$cleanDir/batch_id=$batchId")
    claims.write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
  }
}
