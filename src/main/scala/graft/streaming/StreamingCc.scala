package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL connected components over edge appends — the registry
  * discipline ([[StreamingGraph]]'s shape) for the CC kernel that
  * serves d_cluster, semDedup bridges, hammingClusters, and
  * er_entities.
  *
  * State is two `batch_id=*`-partitioned parquet registries:
  *
  *   - `edgesDir`: each batch's PREVIOUSLY-UNSEEN pairs (src, dst) —
  *     the accumulated union is the distinct pair set.
  *   - `labelsDir`: rows (id, label) for every node whose component
  *     label changed in that batch (or that is new); latest batch wins
  *     per id. `label` is the component's min node id — exactly
  *     [[graft.dedup.Dedup.clusters]]' contract on the accumulated
  *     union.
  *
  * Why incremental CC is CHEAP per batch: appended edges can only
  * MERGE components, never split them (edges are only added), so a
  * batch's work is (1) look up the labels of the batch endpoints,
  * (2) run CC on the LABEL-level merge graph — append-sized: one node
  * per touched component, one edge per new edge — and (3) relabel the
  * members of the losing components. Nothing else in the graph can
  * move. Write volume is O(|losing components|), the intrinsic cost of
  * maintaining min-label state (a component keeps its label unless a
  * smaller-labeled one absorbs it).
  *
  * Replay safety: both writes are per-batch-partition OVERWRITEs and
  * every read excludes the current batch id, so a replayed batch
  * recomputes from the identical prior state and rewrites both
  * partitions identically.
  *
  * 100 TB shape: the endpoint-label lookup, the member-relabel probe
  * (raw rows by label, then their ids' histories), and the log-dedup
  * slice are all [[ProbeSlice]] probes — a pushed In-filter or a
  * broadcast semi join on the registry scan, so no append-path read
  * shuffles the registry. The label-level merge CC runs on an
  * append-sized graph regardless of corpus size.
  */
object StreamingCc {

  /** All batches of the pair log ((src, dst, batch_id); typed empty
    * frame when nothing has been written yet). */
  def readEdges(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0).select(lit(0L).as("src"), lit(0L).as("dst"),
        lit(0L).as("batch_id")).limit(0)
  }

  private def readLabelsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.option("basePath", dir).parquet(dir)
    else
      spark.range(0).select(lit(0L).as("id"), lit(0L).as("label"),
        lit(0L).as("batch_id")).limit(0)
  }

  private def latestPerId(rows: DataFrame): DataFrame =
    rows.groupBy("id")
      .agg(max(struct(col("batch_id"), col("label"))).as("__m"))
      .select(col("id"), col("__m.label").as("label"))

  /** The maintained state: (id, cluster) for every node that has ever
    * appeared in a logged edge — the exact frame
    * `Dedup.clusters(endpoints-of-union, union)` returns. */
  def readLabels(spark: SparkSession, dir: String): DataFrame =
    latestPerId(readLabelsRaw(spark, dir))
      .select(col("id"), col("label").as("cluster"))

  /** One idempotent micro-batch step: log the batch's new pairs, merge
    * the touched components on the label-level graph, relabel the
    * losing components' members, and overwrite this batch's edge +
    * label partitions. */
  def batchStep(spark: SparkSession, edgesDir: String, labelsDir: String,
      srcCol: String, dstCol: String, probeLiteralCap: Int = 100000)(
      batch: DataFrame, batchId: Long): Unit = {
    def slice(log: DataFrame, keyCol: String, ids: DataFrame): DataFrame =
      ProbeSlice(log, keyCol, ids, probeLiteralCap)
    val prevEdges = readEdges(spark, edgesDir)
      .filter(col("batch_id") =!= batchId).select("src", "dst")
    val prevRaw = readLabelsRaw(spark, labelsDir)
      .filter(col("batch_id") =!= batchId)
    // checkpoints on this path are EAGER by design: a lazily-marked RDD
    // materializes only inside a LATER query's job, by which point the
    // originating plan's SQL-metric accumulators may be GC'd — every task
    // then logs "Failed to update accumulator" (measured as error-spam +
    // lost metrics on the r11 lazy experiment, with no wall-clock win
    // outside noise). The per-round job saving lives in Dedup.clusters /
    // clustersStar instead (observe-on-checkpoint, same job count as lazy
    // without the GC hazard).
    val cand = batch
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    // dedupe against the log without shuffling it (an anti match must
    // share the src key, so the src slice is sufficient)
    val logSlice = slice(prevEdges, "src", cand.select("src").distinct())
    val newE = cand.join(logSlice, Seq("src", "dst"), "left_anti")
      .localCheckpoint(true)
    newE.write.mode("overwrite").parquet(s"$edgesDir/batch_id=$batchId")
    val empty = spark.range(0)
      .select(lit(0L).as("id"), lit(0L).as("label")).limit(0)
    if (newE.isEmpty) {
      // nothing new: the batch still owns (and must rewrite) its labels
      // partition so a replay converges to the same bytes
      empty.write.mode("overwrite").parquet(s"$labelsDir/batch_id=$batchId")
      return
    }
    if (prevRaw.isEmpty) {
      // bootstrap (empty registry): every node is new, so the probe
      // machinery is pure overhead — and its O(|V|) broadcasts and
      // eager checkpoints are a driver hazard at corpus scale (the
      // StreamingGraph bootstrap hazard, mirrored). Run the batch
      // kernel directly; star contraction converges in O(log n) rounds
      // regardless of component diameter.
      val nodes = newE.select(col("src").as("id"))
        .union(newE.select(col("dst").as("id"))).distinct()
      graft.dedup.Dedup.clustersStar(nodes, newE, "id",
          aCol = "src", bCol = "dst")
        .select(col("id"), col("cluster").as("label"))
        .write.mode("overwrite").parquet(s"$labelsDir/batch_id=$batchId")
      return
    }
    // batch endpoints and their CURRENT labels (own id when new)
    val nodeCand = newE.select(col("src").as("id"))
      .union(newE.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val endpointLabels = nodeCand
      .join(latestPerId(slice(prevRaw, "id", nodeCand)), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint(true)
    // label-level merge graph: one edge per new pair, projected to the
    // endpoints' component labels — append-sized no matter the corpus.
    // CC over it (the batch kernel itself) gives each touched label its
    // merged component's min.
    val lblOf = endpointLabels
    val mergeEdges = newE
      .join(lblOf.select(col("id").as("src"), col("label").as("__la")), Seq("src"))
      .join(lblOf.select(col("id").as("dst"), col("label").as("__lb")), Seq("dst"))
      .select(col("__la").as("id_a"), col("__lb").as("id_b"))
    // clustersStar, NOT min-label clusters: star contraction converges
    // in O(log n) rounds regardless of diameter, so its 30-round cap
    // covers any realizable merge chain, where min-label propagation
    // would SILENTLY stop at diameter 30 and write wrong labels into
    // the registry forever. The fixpoint check below makes any residual
    // non-convergence loud instead of corrupting state.
    val labelMap = graft.dedup.Dedup.clustersStar(
        mergeEdges.select(col("id_a").as("label"))
          .union(mergeEdges.select(col("id_b").as("label"))).distinct(),
        mergeEdges, "label")
      .filter(col("cluster") =!= col("id"))
      .select(col("id").as("label"), col("cluster").as("__new"))
      .localCheckpoint(true)
    // converged ⟺ no remap target is itself remapped (cluster values
    // are fixpoints); one tiny self-join on the append-sized map
    require(labelMap.as("a").join(labelMap.as("b"),
        col("a.__new") === col("b.label"), "left_semi").isEmpty,
      "StreamingCc merge CC did not converge — label map is not a fixpoint")
    // members of the losing components: raw rows whose label is being
    // remapped are a SUPERSET of the current members (stale rows carry
    // old labels) — latest-per-id over those ids' full histories, then
    // keep the ones whose CURRENT label remaps
    val affectedLabels = labelMap.select("label")
    val candIds = slice(prevRaw, "label", affectedLabels)
      .select("id").distinct().localCheckpoint(true)
    val relabeled = latestPerId(slice(prevRaw, "id", candIds))
      .join(labelMap, Seq("label"))
      .select(col("id"), col("__new").as("label"))
    // new nodes (no registry row): their pre-merge label is their own
    // id; write them with its remap when their component merged
    val newNodes = nodeCand.join(
        slice(prevRaw.select("id"), "id", nodeCand), Seq("id"), "left_anti")
      .join(labelMap.select(col("label").as("id"), col("__new")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("label"))
    relabeled.unionByName(newNodes)
      .write.mode("overwrite").parquet(s"$labelsDir/batch_id=$batchId")
  }
}
