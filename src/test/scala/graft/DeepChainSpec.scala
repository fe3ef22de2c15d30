package graft

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.streaming.StreamingEr

/** Diameter-safety of every production caller of [[Dedup.clusters]]:
  * a component whose diameter exceeds the min-label round cap (30) —
  * gradient chains, exactly what SemDeDup buckets and ER transitive
  * closures produce on a 100 TB corpus — must COMPLETE with correct
  * labels (the kernel auto-switches to [[Dedup.clustersStar]] on
  * non-convergence), not abort the job and not silently mislabel.
  * Mirrors StreamingCcSpec's 41-component merge chain for the callers
  * that ride the capped kernel directly.
  */
class DeepChainSpec extends SparkSpec {

  test("clusters auto-switches to star contraction past the round cap: " +
      "81-node path (diameter 80) labels exactly") {
    val sess = spark
    import sess.implicits._
    val nodes = (0L to 80L).toDF("doc_id")
    val pairs = (0L until 80L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(nodes, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 80L).map(_ -> 0L).toMap)
  }

  /** Unit vectors on a planar arc, 4° apart: adjacent cosine
    * cos 4° ≈ 0.9976 ≥ 0.995, skip-one cosine cos 8° ≈ 0.9903 < 0.995 —
    * a pure 41-node near-dup PATH (diameter 40) inside one bucket. */
  private def arc(i: Int): Array[Float] = {
    val t = math.toRadians(4.0 * i)
    Array(math.cos(t).toFloat, math.sin(t).toFloat)
  }

  test("semDedup completes on a 41-vector gradient chain (diameter 40): " +
      "one group, min-id rep kept") {
    val sess = spark
    import sess.implicits._
    val docs = (0 until 41).map(i => (i.toLong, arc(i)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(docs, 2, nCentroids = 1, threshold = 0.995)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length === 41)
    assert(out.forall { case (_, rep, _) => rep === 0L })
    assert(out.filter(_._3).map(_._1).toSeq === Seq(0L))
  }

  test("StreamingEr completes on a batch whose match graph is a " +
      "41-record levenshtein chain (diameter 40)") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_er_deep").toString
    // names b, ba, baa, ... — levenshtein(n_i, n_j) = |i - j|, so
    // maxDist = 1 admits exactly the adjacent pairs: a 41-node path
    val recs = (0 until 41).map(i => (i.toLong, "b" + "a" * i, "blk"))
      .toDF("id", "name", "blk")
    StreamingEr.batchStep(spark, s"$dir/reg", s"$dir/merge",
      "id", "name", Seq("blk"), maxDist = 1)(recs, 0L)
    val resolved = StreamingEr.resolveEntities(spark, s"$dir/reg",
      s"$dir/merge", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === (0L until 41L).map(_ -> 0L).toMap)
  }
}
