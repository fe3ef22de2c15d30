package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.streaming.RegistryMaintenance._
import graft.streaming.{RegistryMaintenance, StreamingCc, StreamingEr, StreamingGraph}

/** The one-sweep maintenance contract: after `maintainAll` folds every
  * streaming registry to its `batch_id=-1` base (frontier BELOW the
  * latest batch — the live-stream shape), the next batch of every
  * stream writes the same rows, every "current state" read is
  * unchanged, and the registries hold strictly fewer files. */
class RegistryMaintenanceSpec extends SparkSpec {

  private val Iters = 3

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  test("maintainAll below the latest batch: next-batch parity, state parity, fewer files") {
    val sess = spark
    import sess.implicits._
    val erBatches = Seq(
      Seq((10L, "widget-a", "b"), (15L, "gadget-z", "b")),
      Seq((20L, "widget-b", "b")),
      Seq((5L, "widget-c", "b")),
      Seq((25L, "widget-d", "b"), (3L, "gadget-y", "b"))
    ).map(_.toDF("id", "name", "blk").localCheckpoint())
    // edge appends shared by the CC and PageRank streams: components
    // that merge across the frontier, a duplicate edge and a self-loop
    val edgeBatches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((3L, 1L), (20L, 21L), (1L, 2L)),
      Seq((11L, 20L), (4L, 4L)),
      Seq((21L, 3L), (30L, 31L))
    ).map(_.toDF("src", "dst").localCheckpoint())

    // two identical trees; only `swept` gets maintained
    val trees = Seq("plain", "swept").map { name =>
      name -> Files.createTempDirectory(s"graft_maint_$name").toString
    }.toMap

    def runBatch(root: String, i: Int): Unit = {
      val id = i.toLong
      StreamingEr.batchStep(spark, s"$root/er_reg", s"$root/er_merge",
        "id", "name", Seq("blk"), maxDist = 1)(erBatches(i), id)
      StreamingCc.batchStep(spark, s"$root/cc_edges", s"$root/cc_labels",
        "src", "dst")(edgeBatches(i), id)
      StreamingGraph.batchStep(spark, s"$root/pr_edges", s"$root/pr_scores",
        "src", "dst", Iters)(edgeBatches(i), id)
    }

    def sweep(root: String, upTo: Long): Unit =
      RegistryMaintenance.maintainAll(spark, Seq(
        ErRegistry(s"$root/er_reg", s"$root/er_merge", "id"),
        CcState(s"$root/cc_edges", s"$root/cc_labels"),
        PageRankState(s"$root/pr_edges", s"$root/pr_scores", Iters)),
        upToBatchId = upTo)

    def assertStateParity(swept: String, plain: String): Unit = {
      assert(
        rowSet(StreamingEr.resolveEntities(spark, s"$swept/er_reg",
          s"$swept/er_merge", "id")) ===
        rowSet(StreamingEr.resolveEntities(spark, s"$plain/er_reg",
          s"$plain/er_merge", "id")))
      assert(rowSet(StreamingCc.readLabels(spark, s"$swept/cc_labels")) ===
        rowSet(StreamingCc.readLabels(spark, s"$plain/cc_labels")))
      assert(rowSet(StreamingGraph.readScores(spark, s"$swept/pr_scores", Iters)) ===
        rowSet(StreamingGraph.readScores(spark, s"$plain/pr_scores", Iters)))
    }

    for (i <- 0 to 2; root <- trees.values) runBatch(root, i)

    val swept = trees("swept")
    val plain = trees("plain")
    val filesBefore = parquetFiles(swept)
    // frontier BELOW the latest batch (folds 0,1; batch 2 keeps its own
    // partitions) — the live-stream case, and for ER the case where
    // batch-2 merge rows still reference pre-frontier labels
    sweep(swept, 2L)
    assert(parquetFiles(swept) < filesBefore,
      "sweep did not shrink the registries")
    assert(parquetFiles(swept) < parquetFiles(plain))
    assertStateParity(swept, plain)

    for (root <- trees.values) runBatch(root, 3)

    // next-batch output parity for the streams whose batch rows carry no
    // arrival-time label (ER is checked through its resolved state)
    for (out <- Seq("cc_edges", "cc_labels", "pr_edges", "pr_scores"))
      assert(
        rowSet(spark.read.parquet(s"$swept/$out/batch_id=3")) ===
        rowSet(spark.read.parquet(s"$plain/$out/batch_id=3")),
        s"$out diverged after the sweep")
    assertStateParity(swept, plain)
    // the widget chain must be ONE entity labelled by its min id (5),
    // which requires the folded merge closure to have been retained
    val entities = StreamingEr.resolveEntities(spark, s"$swept/er_reg",
      s"$swept/er_merge", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(10L, 20L, 5L).map(entities) === Seq(5L, 5L, 5L))

    // a second sweep at the full frontier composes with the first base
    sweep(swept, 4L)
    assertStateParity(swept, plain)
  }

  test("maintainAll skips registries whose streams have not started") {
    val dir = Files.createTempDirectory("graft_maint_empty").toString
    // nothing written anywhere: every case must no-op, not throw
    RegistryMaintenance.maintainAll(spark, Seq(
      ErRegistry(s"$dir/er_reg", s"$dir/er_merge", "id"),
      CcState(s"$dir/cc_edges", s"$dir/cc_labels"),
      PageRankState(s"$dir/pr_edges", s"$dir/pr_scores", Iters)), upToBatchId = 5L)
    assert(!new java.io.File(s"$dir/er_reg").exists())
    assert(!new java.io.File(s"$dir/cc_labels").exists())
    assert(!new java.io.File(s"$dir/pr_scores").exists())
  }
}
