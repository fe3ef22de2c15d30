package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.streaming.StreamingCc

/** Incremental connected components: after EVERY batch of edge appends,
  * the registry state equals `Dedup.clusters` run from scratch on the
  * accumulated union (same node universe: every logged endpoint). Plus:
  * replayed batches leave the registry row-identical, untouched
  * components are never rewritten, merges cascade across batches AND
  * within one batch, and the semi-join probe mode reaches the same
  * state. */
class StreamingCcSpec extends SparkSpec {

  private def edgeDf(pairs: Seq[(Long, Long)]): DataFrame = {
    val sess = spark
    import sess.implicits._
    pairs.toDF("src", "dst")
  }

  // clustersStar, not clusters: the deep-chain test's 81-node merge
  // path exceeds min-label's diameter budget (writing this very test
  // exposed clusters' silent 30-round cap — now a loud require there)
  private def batchCc(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val e = edgeDf(pairs)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    Dedup.clustersStar(nodes, e, "id", aCol = "src", bCol = "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def stateOf(dir: String): Set[(Long, Long)] =
    StreamingCc.readLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Crafted appends: two components that later merge through a chain
    * (the losing component must relabel transitively), a duplicate
    * edge, a self-loop, an isolated pair nothing ever touches, a batch
    * whose edge is internal to one component (no relabel), and a
    * WITHIN-batch cascade (two new edges chaining three components). */
  private val batches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((10L, 11L), (20L, 21L), (30L, 31L), (100L, 101L)),
    Seq((11L, 20L), (10L, 11L), (40L, 40L)),          // merge {10s,20s}; dup; self-loop
    Seq((21L, 20L)),                                   // internal edge: no label moves
    Seq((31L, 20L), (50L, 51L), (51L, 30L)))           // cascade: 30s+50s into the 10-component

  test("batch parity after every append; replay-stable; untouched components " +
      "not rewritten; within-batch cascades") {
    val root = Files.createTempDirectory("graft_cc_inc").toString
    val (eDir, lDir) = (s"$root/edges", s"$root/labels")
    val step = StreamingCc.batchStep(spark, eDir, lDir, "src", "dst") _

    for (b <- batches.indices) {
      step(edgeDf(batches(b)), b.toLong)
      assert(stateOf(lDir) === batchCc(batches.take(b + 1).flatten),
        s"parity broke after batch $b")
    }

    // the isolated 100-101 component was written once and never again
    for (b <- 1 to 3) {
      val part = spark.read.parquet(s"$lDir/batch_id=$b")
      assert(part.filter(col("id") >= 100L).isEmpty,
        s"batch $b rewrote the untouched component")
    }
    // the internal-edge batch moved no labels at all
    assert(spark.read.parquet(s"$lDir/batch_id=2").isEmpty)
    // duplicate edge contributed nothing to the log
    assert(spark.read.parquet(s"$eDir/batch_id=1")
      .filter(col("src") === 10L && col("dst") === 11L).isEmpty)

    // replay: redeliver the last batch; both registries unchanged
    def rows(dir: String) = spark.read.option("basePath", dir).parquet(dir)
      .collect().map(_.toString).toSet
    val (eBefore, lBefore) = (rows(eDir), rows(lDir))
    step(edgeDf(batches(3)), 3L)
    assert(rows(eDir) === eBefore)
    assert(rows(lDir) === lBefore)

    // a no-new-edges batch: empty partitions, state unchanged
    step(edgeDf(Seq((10L, 11L))), 4L)
    assert(spark.read.parquet(s"$eDir/batch_id=4").isEmpty)
    assert(spark.read.parquet(s"$lDir/batch_id=4").isEmpty)
    assert(stateOf(lDir) === batchCc(batches.flatten))

    // semi-join fallback probes (probeLiteralCap = 0): identical state
    val stepSemi = StreamingCc.batchStep(spark, eDir, lDir, "src", "dst",
      probeLiteralCap = 0) _
    val extra = Seq((101L, 10L), (60L, 61L))
    stepSemi(edgeDf(extra), 5L)
    assert(stateOf(lDir) === batchCc(batches.flatten ++ extra))
  }

  test("one batch merging a 41-component chain converges exactly " +
      "(deeper than min-label's 30-round cap — the clustersStar guarantee)") {
    val root = Files.createTempDirectory("graft_cc_deep").toString
    val (eDir, lDir) = (s"$root/edges", s"$root/labels")
    val step = StreamingCc.batchStep(spark, eDir, lDir, "src", "dst") _
    // batch 0: 41 two-node components {2i, 2i+1}, i = 0..40
    val comps = (0 to 40).map(i => (2L * i, 2L * i + 1))
    step(edgeDf(comps), 0L)
    // batch 1: chain them all — the label-level merge graph is a
    // 41-node path, diameter 40
    val chain = (0 until 40).map(i => (2L * i + 1, 2L * i + 2))
    step(edgeDf(chain), 1L)
    assert(stateOf(lDir) === batchCc(comps ++ chain))
  }
}
