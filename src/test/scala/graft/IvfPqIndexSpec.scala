package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sim.Similarity

/** The persisted ANN index: built once as a cluster-bucketed table, it
  * answers queries exactly like the one-shot build, and its
  * cluster-keyed side reads without an exchange — the 100 TB deployment
  * shape of the ANN store.
  */
class IvfPqIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val q = emb.filter(col("vec_id") < 5)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("materialized IVF-PQ index: one-shot top-k parity, exchange-free index side") {
    val dir = Files.createTempDirectory("graft_ivfpq_mat").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_mat")
    val built = Similarity.ivfPqIndex(emb, 64)
    val model = built.copy(index = materializeBucketed(
      built.index, s"$dir/idx", "t_ivfpq_mat", Seq("cluster"), 8))
    try {
      // the oracle-pinned one-shot result (s_knn_ivfpq parameterization)
      // must be reproduced exactly from the stored index
      val expect = rows(Similarity.ivfPqTopK(emb, q, 10, 64))
      assert(rows(Similarity.ivfPqQuery(model, emb, q, 10, 64)) === expect)

      // the index side of any cluster-keyed operation reads the bucketed
      // table with ZERO exchanges (bucket distribution satisfies it)
      val agg = model.index.groupBy("cluster").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      agg.collect()
      assert(!aggPlan.contains("Exchange"),
        s"bucketed index aggregate should not shuffle:\n$aggPlan")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_mat")
  }

  test("materialized IVF-SQ8 index: one-shot top-k parity, exchange-free index side") {
    val dir = Files.createTempDirectory("graft_ivfsq8_mat").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfsq8_mat")
    val built = Similarity.ivfSq8Index(emb, 64)
    val model = built.copy(index = materializeBucketed(
      built.index, s"$dir/idx", "t_ivfsq8_mat", Seq("cluster"), 8))
    try {
      val expect = rows(Similarity.ivfSq8TopK(emb, q, 10, 64))
      assert(rows(Similarity.ivfSq8Query(model, emb, q, 10, 64)) === expect)

      val agg = model.index.groupBy("cluster").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      agg.collect()
      assert(!aggPlan.contains("Exchange"),
        s"bucketed index aggregate should not shuffle:\n$aggPlan")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfsq8_mat")
  }
}
