package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.streaming.StreamingGraph

/** Incremental PageRank maintenance: after EVERY batch of edge appends,
  * the registry state equals the batch operator run from scratch on the
  * accumulated edge union — for the final scores AND every intermediate
  * iteration (the per-round columns are the state that makes the
  * affected-neighborhood recompute exact). Plus: replayed batches leave
  * the registry row-identical, untouched components are never
  * rewritten, and the semi-join probe mode reaches the same state. */
class StreamingGraphSpec extends SparkSpec {

  private val Iters = 3

  private def edgeDf(pairs: Seq[(Long, Long)]): DataFrame = {
    val sess = spark
    import sess.implicits._
    pairs.toDF("src", "dst")
  }

  /** Crafted appends: a cycle with a dangling spur, a cross-batch
    * duplicate edge, a brand-new two-node component, a self-loop, and a
    * later batch that bridges the components — every structural case the
    * affected-closure logic must cover. Plus an isolated component in
    * batch 0 that nothing ever touches again. */
  private val batches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L), (100L, 101L), (101L, 100L)),
    Seq((1L, 2L), (5L, 6L), (6L, 5L), (2L, 4L)), // (1,2) is a duplicate
    Seq((7L, 1L), (3L, 7L), (4L, 4L), (6L, 3L)))

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def scoresOf(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("id", "outdeg", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("batch parity after every append, at every iteration depth; replay-stable; " +
      "untouched components not rewritten") {
    val root = Files.createTempDirectory("graft_pr_inc").toString
    val (eDir, sDir) = (s"$root/edges", s"$root/scores")
    val step = StreamingGraph.batchStep(spark, eDir, sDir, "src", "dst", Iters) _

    for (b <- batches.indices) {
      step(edgeDf(batches(b)), b.toLong)
      val union = edgeDf(batches.take(b + 1).flatten)
      // final-score parity with the batch operator on the union
      assert(scoresOf(StreamingGraph.readScores(spark, sDir, Iters)) ===
        scoresOf(GraphOps.pageRank(union, "src", "dst", Iters)),
        s"final-score parity broke after batch $b")
      // every intermediate round is maintained exactly too: s_i equals a
      // fixed-(i)-iteration batch run
      for (i <- 1 until Iters) {
        val si = StreamingGraph.readScores(spark, sDir, Iters)
          .select(col("id"), col("outdeg"), col(s"s$i").as("score"))
        assert(scoresOf(si) ===
          scoresOf(GraphOps.pageRank(union, "src", "dst", i)),
          s"round-$i parity broke after batch $b")
      }
    }

    // the isolated 100↔101 component was written once (batch 0) and
    // never again — the incremental contract: write volume follows the
    // disturbed neighborhood, not |V|
    for (b <- 1 to 2) {
      val part = spark.read.parquet(s"$sDir/batch_id=$b")
      assert(part.filter(col("id") >= 100L).isEmpty,
        s"batch $b rewrote the untouched component")
    }
    // duplicate edge (1,2) in batch 1 contributed nothing to the log
    assert(spark.read.parquet(s"$eDir/batch_id=1")
      .filter(col("src") === 1L && col("dst") === 2L).isEmpty)

    // replay safety: redeliver the last batch; both registries unchanged
    val eBefore = rowSet(StreamingGraph.readEdges(spark, eDir))
    val sBefore = rowSet(spark.read.option("basePath", sDir).parquet(sDir))
    step(edgeDf(batches(2)), 2L)
    assert(rowSet(StreamingGraph.readEdges(spark, eDir)) === eBefore)
    assert(rowSet(spark.read.option("basePath", sDir).parquet(sDir)) === sBefore)

    // a no-new-edges batch: empty partitions, state unchanged
    step(edgeDf(Seq((1L, 2L), (2L, 3L))), 3L)
    assert(spark.read.parquet(s"$eDir/batch_id=3").isEmpty)
    assert(spark.read.parquet(s"$sDir/batch_id=3").isEmpty)
    assert(scoresOf(StreamingGraph.readScores(spark, sDir, Iters)) ===
      scoresOf(GraphOps.pageRank(edgeDf(batches.flatten), "src", "dst", Iters)))

    // semi-join fallback probes (probeLiteralCap = 0): identical state
    val stepSemi = StreamingGraph.batchStep(spark, eDir, sDir, "src", "dst",
      Iters, probeLiteralCap = 0) _
    val extra = Seq((8L, 1L), (4L, 8L), (9L, 9L))
    stepSemi(edgeDf(extra), 4L)
    assert(scoresOf(StreamingGraph.readScores(spark, sDir, Iters)) ===
      scoresOf(GraphOps.pageRank(edgeDf(batches.flatten ++ extra),
        "src", "dst", Iters)))
  }
}
