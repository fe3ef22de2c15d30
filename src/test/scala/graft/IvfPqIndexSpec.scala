package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sim.Similarity

/** The persisted IVF-PQ index lifecycle: build-once as a cluster-bucketed
  * table, probe it exchange-free with bucket pruning, and maintain it
  * incrementally (batch append + streaming foreachBatch append) without a
  * rebuild — the 100 TB deployment shape of the ANN store.
  */
class IvfPqIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val q = emb.filter(col("vec_id") < 5)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def indexRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int])] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet

  test("materialized index: identical top-k, exchange-free index side, bucket-pruned scan") {
    val dir = Files.createTempDirectory("graft_ivfpq_mat").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_mat")
    val built = Similarity.ivfPqIndex(emb, 64)
    val model = built.copy(index = graft.ops.Relational.materializeBucketed(
      built.index, s"$dir/idx", "t_ivfpq_mat", "cluster", 8))
    try {
      // the oracle-pinned one-shot result (s_knn_ivfpq parameterization)
      // must be reproduced exactly from the stored index
      val expect = rows(Similarity.ivfPqTopK(emb, q, 10, 64))
      assert(rows(Similarity.ivfPqQuery(model, emb, q, 10, 64)) === expect)

      // the index side of any cluster-keyed operation reads the bucketed
      // table with ZERO exchanges (bucket distribution satisfies it) —
      // the compactRegistry discipline applied to the ANN store
      val agg = model.index.groupBy("cluster").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      agg.collect()
      assert(!aggPlan.contains("Exchange"),
        s"bucketed index aggregate should not shuffle:\n$aggPlan")

      // pruneBuckets: same rows, and the scan plan proves whole buckets
      // were skipped (nProbe=3 of 8 clusters -> strictly fewer buckets)
      val pruned = Similarity.ivfPqQuery(model, emb, q, 10, 64, pruneBuckets = true)
      assert(rows(pruned) === expect)
      val scanPlan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanPlan)
      assert(sel.isDefined, s"expected a bucket-pruned scan:\n$scanPlan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probe should select a strict subset of buckets:\n${sel.get.matched}")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_mat")
  }

  test("materialized IVF-SQ8 index: identical top-k, exchange-free index side, bucket-pruned scan") {
    val dir = Files.createTempDirectory("graft_ivfsq8_mat").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfsq8_mat")
    val built = Similarity.ivfSq8Index(emb, 64)
    val model = built.copy(index = graft.ops.Relational.materializeBucketed(
      built.index, s"$dir/idx", "t_ivfsq8_mat", "cluster", 8))
    try {
      val expect = rows(Similarity.ivfSq8TopK(emb, q, 10, 64))
      assert(rows(Similarity.ivfSq8Query(model, emb, q, 10, 64)) === expect)

      val agg = model.index.groupBy("cluster").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      agg.collect()
      assert(!aggPlan.contains("Exchange"),
        s"bucketed index aggregate should not shuffle:\n$aggPlan")

      val pruned = Similarity.ivfSq8Query(model, emb, q, 10, 64, pruneBuckets = true)
      assert(rows(pruned) === expect)
      val scanPlan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanPlan)
      assert(sel.isDefined, s"expected a bucket-pruned scan:\n$scanPlan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probe should select a strict subset of buckets:\n${sel.get.matched}")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfsq8_mat")
  }

  test("two-installment append equals the single-shot index; query parity holds") {
    val dir = Files.createTempDirectory("graft_ivfpq_app").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_app")
    // the model is trained once (same corpus the oracle entry trains on);
    // the INDEX is what gets built in installments
    val modelFull = Similarity.ivfPqIndex(emb, 64)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 =!= 0)
    val m1 = modelFull.copy(index = graft.ops.Relational.materializeBucketed(
      Similarity.ivfPqEncode(modelFull, a, 64), s"$dir/idx", "t_ivfpq_app",
      "cluster", 8))
    try {
      val m2 = Similarity.ivfPqIndexAppend(m1, b, 64, "t_ivfpq_app")
      // row-identical to the batch-built index (encode is pure per-row)
      assert(indexRows(m2.index) === indexRows(modelFull.index))
      // and the oracle-pinned query result is reproduced from the
      // two-installment table
      assert(rows(Similarity.ivfPqQuery(m2, emb, q, 10, 64)) ===
        rows(Similarity.ivfPqTopK(emb, q, 10, 64)))
      // appends do not break the exchange-free bucketed read
      val agg = m2.index.groupBy("cluster").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"appended bucketed index should still avoid the shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_app")
  }

  test("SQ8 two-installment append equals the single-shot index; query parity holds") {
    val dir = Files.createTempDirectory("graft_ivfsq8_app").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfsq8_app")
    val modelFull = Similarity.ivfSq8Index(emb, 64)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 =!= 0)
    def sq8IndexRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Byte])] =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    val m1 = modelFull.copy(index = graft.ops.Relational.materializeBucketed(
      Similarity.ivfSq8Encode(modelFull, a, 64), s"$dir/idx", "t_ivfsq8_app",
      "cluster", 8))
    try {
      val m2 = Similarity.ivfSq8IndexAppend(m1, b, 64, "t_ivfsq8_app")
      // row-identical to the batch-built index (encode is pure per-row)
      assert(sq8IndexRows(m2.index) === sq8IndexRows(modelFull.index))
      // the oracle-pinned query result is reproduced from the table
      assert(rows(Similarity.ivfSq8Query(m2, emb, q, 10, 64)) ===
        rows(Similarity.ivfSq8TopK(emb, q, 10, 64)))
      // appends keep the exchange-free bucketed read
      val agg = m2.index.groupBy("cluster").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"appended bucketed index should still avoid the shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfsq8_app")
  }

  test("streaming append: stream-built index rows equal the batch encode") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_ivfpq_stream").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_stream")
    val modelFull = Similarity.ivfPqIndex(emb, 64)
    val a = emb.filter(col("vec_id") < 250)
    val b = emb.filter(col("vec_id") >= 250)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val m1 = modelFull.copy(index = graft.ops.Relational.materializeBucketed(
      Similarity.ivfPqEncode(modelFull, a, 64), s"$dir/idx", "t_ivfpq_stream",
      "cluster", 8))
    try {
      // the second installment arrives as a stream, in two micro-batches
      val mem = MemoryStream[(Long, Array[Float])]
      val stream = mem.toDF.toDF("vec_id", "embedding")
      val (b1, b2) = b.splitAt(b.length / 2)
      mem.addData(b1.toSeq)
      mem.addData(b2.toSeq)
      // foreachBatch runs in a cloned session whose inserts refresh only
      // the clone's relation cache: the owning session must refresh the
      // table after each append or it keeps the stale file listing
      drainThrough(stream, s"$dir/ckpt") { (batch, _) =>
        Similarity.ivfPqIndexAppend(m1, batch, 64, "t_ivfpq_stream")
        spark.catalog.refreshTable("t_ivfpq_stream")
      }
      assert(indexRows(spark.table("t_ivfpq_stream")) === indexRows(modelFull.index))
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_stream")
  }

  test("frozen-model increments keep the recall floor (model from installment 1 only)") {
    val dir = Files.createTempDirectory("graft_ivfpq_frozen").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_frozen")
    val a = emb.filter(col("vec_id") < 250)
    val b = emb.filter(col("vec_id") >= 250)
    // deployment reality: the model only ever saw the first installment
    val built = Similarity.ivfPqIndex(a, 64)
    val m1 = built.copy(index = graft.ops.Relational.materializeBucketed(
      built.index, s"$dir/idx", "t_ivfpq_frozen", "cluster", 8))
    try {
      val m2 = Similarity.ivfPqIndexAppend(m1, b, 64, "t_ivfpq_frozen")
      val q10 = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, q10, 10, 64)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // +1 probe vs the default, the same pairing the sample-trained
      // coarse index uses (stale centroids shift cluster boundaries)
      val approx = Similarity.ivfPqQuery(m2, emb, q10, 10, 64, nProbe = 4)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.4, s"recall $recall")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_frozen")
  }

  test("index compaction: fewer files, replay duplicates dropped, identical rows and query") {
    val dir = Files.createTempDirectory("graft_ivfpq_cmp").toString
    spark.sql("DROP TABLE IF EXISTS t_ivfpq_cmp")
    val modelFull = Similarity.ivfPqIndex(emb, 64)
    val a = emb.filter(col("vec_id") < 250)
    val b = emb.filter(col("vec_id") >= 250)
    val m1 = modelFull.copy(index = graft.ops.Relational.materializeBucketed(
      Similarity.ivfPqEncode(modelFull, a, 64), s"$dir/idx", "t_ivfpq_cmp",
      "cluster", 8))
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/idx")).count(_.getName.endsWith(".parquet"))
    }
    try {
      // append the SECOND installment, then REPLAY it (the foreachBatch
      // failure mode): the table now holds duplicate rows + 3x the files
      val m2 = Similarity.ivfPqIndexAppend(m1, b, 64, "t_ivfpq_cmp")
      Similarity.ivfPqIndexAppend(m2, b, 64, "t_ivfpq_cmp")
      val before = parquetFiles()
      val total = spark.table("t_ivfpq_cmp").count()
      val distinctN = spark.table("t_ivfpq_cmp").distinct().count()
      assert(total > distinctN, "replay should have produced duplicate rows")
      // the clean one-shot result; the DUPLICATED table must differ from
      // it (each duplicate burns one nCandidates slot — the documented
      // reason compaction matters beyond the file listing)
      val expect = rows(Similarity.ivfPqQuery(
        modelFull.copy(index = modelFull.index), emb, q, 10, 64))
      assert(rows(Similarity.ivfPqQuery(m2, emb, q, 10, 64)) !== expect,
        "duplicates were expected to perturb the candidate window")

      val compacted = Similarity.ivfIndexCompact(spark, "t_ivfpq_cmp")
      // duplicate-free, row-identical to the batch-built index
      assert(compacted.count() === distinctN)
      assert(indexRows(compacted) === indexRows(modelFull.index))
      // strictly fewer files (3 writes x 8 buckets -> 8)
      assert(parquetFiles() < before, s"files ${parquetFiles()} vs $before")
      // query parity from the compacted table
      val m3 = m2.copy(index = spark.table("t_ivfpq_cmp"))
      assert(rows(Similarity.ivfPqQuery(m3, emb, q, 10, 64)) === expect)
      // and the exchange-free bucketed read survives the rewrite
      val agg = spark.table("t_ivfpq_cmp").groupBy("cluster").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"compacted index should keep the bucketed no-shuffle read:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS t_ivfpq_cmp")
  }
}
