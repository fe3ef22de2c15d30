package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.er.EntityResolution

/** INCREMENTAL entity resolution: records arrive as a feed and each
  * batch is resolved against everything seen so far — without ever
  * re-scoring history against itself: a `batch_id=*` registry that each
  * batch reads strictly earlier partitions of, applied to record linkage.
  *
  * What makes the increment sound: the registry keeps every record's
  * ARRIVAL-TIME entity label, and a new batch only needs edges that
  * TOUCH a new record — (old record × new record) block matches
  * projected onto the old side's entity label, plus (new × new)
  * matches. Old-old pairs can never change a component on their own
  * (they were connected, or not, when they arrived), so the per-batch
  * candidate join is |registry ∩ touched blocks| × |batch|, not
  * history². When a new record BRIDGES two existing entities the step
  * emits a row in the append-only MERGE LOG (`entity → into`, the
  * smaller label) instead of rewriting history — consumers resolve
  * current labels via [[resolveEntities]], and the immutable
  * per-batch partitions stay replay-idempotent.
  *
  * Replay safety: the registry and merge-log reads are strictly
  * earlier (`batch_id < current`) and both writes are per-batch
  * partition overwrites, so a crashed-and-replayed batch rewrites its
  * two partitions byte-identically.
  *
  * [[EntityResolutionSpec]] pins the contract: installments in ANY
  * arrival order, resolved through the merge log, equal the batch
  * [[EntityResolution.entities]] on the union — connectivity is
  * arrival-order-free even though arrival-time labels are not.
  */
object StreamingEr {

  /** One idempotent micro-batch step: match this batch against the
    * strictly-earlier registry (block equi-joins only), label the
    * touched subgraph, append this batch's assignments and any entity
    * merges. `batch` columns: `idCol`, `nameCol`, `blockCols`. */
  def batchStep(spark: SparkSession, registryDir: String, mergeDir: String,
      idCol: String, nameCol: String, blockCols: Seq[String], maxDist: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val cols = Seq(idCol, nameCol) ++ blockCols
    val newRecs = batch.select(cols.map(col): _*)
    val reg = readRegistry(spark, registryDir, newRecs, idCol)
      .filter(col("batch_id") < batchId)
    // old × new: every registry ROW (not just representatives) within a
    // shared block, gated by the same scorer, projected onto its entity
    val blockEq = blockCols.map(c => col(s"o.$c") === col(s"n.$c"))
      .reduce(_ && _)
    val notNullN = blockCols.map(c => col(s"n.$c").isNotNull).reduce(_ && _)
    val oldNew = reg.as("o").join(newRecs.as("n"), blockEq && notNullN)
      .filter(levenshtein(col(s"o.$nameCol"), col(s"n.$nameCol")) <= maxDist)
      .select(col("o.entity").as("id_a"), col(s"n.$idCol").as("id_b"))
    // new × new: the batch operator's own pair generator
    val newNew = EntityResolution.matchPairs(newRecs, idCol, nameCol,
      blockCols, maxDist).select("id_a", "id_b")
    val touched = newRecs.select(col(idCol).as("__n"))
      .unionByName(oldNew.select(col("id_a").as("__n"))).distinct()
    val labels = Dedup.clusters(touched, oldNew.unionByName(newNew), "__n")
    // this batch's assignments: new records labeled with their
    // component min (an unmatched record is its own entity)
    newRecs.join(labels.withColumnRenamed("id", idCol), Seq(idCol))
      .withColumnRenamed("cluster", "entity")
      .write.mode("overwrite").parquet(s"$registryDir/batch_id=$batchId")
    // merge log: an OLD entity whose component label moved below it was
    // bridged by this batch
    labels.join(reg.select(col("entity").as("id")).distinct(), Seq("id"))
      .filter(col("cluster") < col("id"))
      .select(col("id").as("entity"), col("cluster").as("into"))
      .write.mode("overwrite").parquet(s"$mergeDir/batch_id=$batchId")
  }

  /** The record registry across all batches; empty with the batch's own
    * schema (+ entity, batch_id) when nothing has been written yet. */
  def readRegistry(spark: SparkSession, dir: String, template: DataFrame,
      idCol: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      template.withColumn("entity", col(idCol))
        .withColumn("batch_id", lit(0L)).limit(0)
  }

  /** The merge log across all batches (empty when nothing merged). */
  def readMerges(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0).select(lit(0L).as("entity"), lit(0L).as("into"),
        lit(0L).as("batch_id")).limit(0)
  }

  /** Current (id, entity) for everything seen so far: arrival-time
    * labels pushed through the transitive closure of the merge log
    * (components over the merge edges — a MERGE-SIZED graph, not a
    * record-sized one). Equals the batch operator's entities on the
    * union of all batches. */
  def resolveEntities(spark: SparkSession, registryDir: String,
      mergeDir: String, idCol: String): DataFrame = {
    val reg = spark.read.option("basePath", registryDir).parquet(registryDir)
    val merges = readMerges(spark, mergeDir).select("entity", "into")
    val nodes = merges.select(col("entity").as("__n"))
      .unionByName(merges.select(col("into").as("__n"))).distinct()
    val closed = Dedup.clusters(nodes,
      merges.select(col("entity").as("id_a"), col("into").as("id_b")), "__n")
      .select(col("id").as("entity"), col("cluster").as("__final"))
    reg.select(col(idCol), col("entity"))
      .join(broadcast(closed), Seq("entity"), "left")
      .select(col(idCol), coalesce(col("__final"), col("entity")).as("entity"))
  }
}
