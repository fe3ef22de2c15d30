package graft

import org.apache.spark.sql.functions._

import graft.model.Tables

/** Shuffle-shaping techniques for the 100 TB design point, each proven
  * on the fixtures: runtime bloom filters, AQE skew splits, the
  * clusters join paths, and bucketing — a bucketed-by-join-key table
  * pair joins with NO shuffle exchange on either side (co-located
  * sort-merge join).
  */
class ScaleTechniquesSpec extends SparkSpec {

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB shape of the d_contam probe: a huge application side
    // joined to a selectively-filtered creation side — Spark injects a
    // bloom filter (might_contain) on the probe's join key so rows that
    // can never match are dropped BEFORE the shuffle. Thresholds are
    // relaxed to fixture scale; at real scale the defaults fire.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val big = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val dim = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 100000.0) // selective, non-key predicate
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      val joined = big.join(dim, Seq("l_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom filter injected:\n$optimized")
      // and the filtered join still returns the right rows
      assert(joined.count() ===
        big.join(broadcast(dim), Seq("l_orderkey")).count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // 90% of lineitem rows land on one join key -> one hot shuffle
    // partition; AQE's skew-join should split it without any manual salt
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // sf0.01 (60k rows) so the hot partition's COMPRESSED shuffle size
      // clears the threshold even at test scale
      val skewDir = "/root/testdata/sf0.01"
      // many map tasks first: AQE splits a skewed REDUCE partition by
      // assigning subsets of map outputs, so one input split (one
      // mapper) would leave nothing to split by
      val hot = Tables.lineitem(spark, skewDir).repartition(8)
        .select(when(col("l_orderkey") % 10 =!= 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"), col("l_returnflag"), col("l_shipdate"))
      val dim = Tables.orders(spark, skewDir).select(col("o_orderkey").as("k"), col("o_totalprice"))
      val joined = hot.join(dim, Seq("k"))
      joined.collect() // execute THIS plan so AQE finalizes it
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the skewed join:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("clusters past the broadcast gate: shuffle-join hops produce identical labels") {
    // the 100 TB fallback: when the induced subgraph outgrows the
    // broadcast threshold, every propagation hop must run as plain
    // shuffle equi-joins — same fixed point, no driver-sized table.
    // broadcastMaxLabels=0 forces the gate; autoBroadcastJoinThreshold=-1
    // keeps Catalyst from silently re-broadcasting the small fixture.
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text", 32)
    val expected = Dedup.clusters(docs, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = Dedup.clusters(docs, pairs, "doc_id",
        broadcastMaxLabels = 0L)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"final join still broadcasts past the gate:\n$plan")
      assert(shuffled.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("star-contraction CC: same labels as propagation, few rounds on a deep chain") {
    import graft.dedup.Dedup
    val sess = spark
    import sess.implicits._
    // a 200-node CHAIN (diameter 199) — the adversarial shape for
    // min-label propagation (needs ~diameter hops) that star rounds
    // contract in O(log n); plus a clique and singletons
    val chain = (1L until 200L).map(i => (i, i + 1))
    val clique = for (a <- 500L to 504L; b <- (a + 1) to 504L) yield (a, b)
    val pairs = (chain ++ clique).toDF("id_a", "id_b")
    val nodes = ((1L to 200L) ++ (500L to 504L) ++ Seq(900L)).toDF("doc_id")
    val star = Dedup.clustersStar(nodes, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = Dedup.clusters(nodes, pairs, "doc_id", maxIters = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === prop)
    assert(star.filter(_._1 <= 200L).forall(_._2 === 1L)) // whole chain → min id
    assert(star.contains((900L, 900L))) // untouched node keeps its own id
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = "/tmp/graft-bucketed"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val bOrders = materializeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
      s"$wh/b_orders", "b_orders", Seq("o_orderkey"), 8)
    val bLineitem = materializeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      s"$wh/b_lineitem", "b_lineitem", Seq("o_orderkey"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = bLineitem.join(bOrders, Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle either side:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
