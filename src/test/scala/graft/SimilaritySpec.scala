package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.multimodal.Multimodal
import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()

  test("cosine of a vector with itself is 1.0") {
    val got = emb.limit(5)
      .select(Similarity.cosine("embedding", "embedding", 64).as("c"))
      .collect().map(_.getDouble(0))
    got.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5, 64)
      .collect()
    assert(out.length === 15)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(cs === cs.sorted.reverse) // descending by rank
      assert(rows.map(_.getInt(3)).sorted.toSeq === (1 to 5))
    }
  }

  test("embedContamination: max-cosine to the bench set, min-id tie-break, threshold flag") {
    val sess = spark
    import sess.implicits._
    def vec(xs: Float*) = xs.toArray
    val bench = Seq(
      (10L, vec(1f, 0f, 0f, 0f)),
      (11L, vec(1f, 0f, 0f, 0f)),  // duplicate direction: tie on cos → min id wins
      (12L, vec(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, vec(2f, 0f, 0f, 0f)),   // cos 1.0 with bench 10 AND 11 → bench_id 10
      (2L, vec(0f, 0f, 3f, 0f)),   // orthogonal to all → max_cos 0.0
      (3L, vec(1f, 1f, 0f, 0f))    // cos 1/sqrt(2) ≈ .707 with 10/11/12 → bench 10
    ).toDF("vec_id", "embedding")
    val out = Similarity.embedContamination(corpus, bench, threshold = 0.5, dim = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 === 10L && math.abs(out(1L)._2 - 1.0) < 1e-12 && out(1L)._3)
    assert(out(2L)._2 === 0.0 && !out(2L)._3)
    assert(out(3L)._1 === 10L && math.abs(out(3L)._2 - math.sqrt(0.5)) < 1e-12 && out(3L)._3)
    // the bench side broadcasts: no sort-merge join anywhere in the plan
    val plan = Similarity.embedContamination(corpus, bench, 0.5, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sq8TopK: int8 quantized scan keeps a high recall floor and exact integer scores") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(emb, q, 10, 64).collect()
    val approx = sq8.map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 at dim=64 loses little: much tighter floor than the bucketed
    // ANN paths (cosine vs dot ranking differences account for the slack)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
    // scores are exact BIGINTs bounded by 127²·64, ranks contiguous 1..10
    sq8.foreach { r =>
      assert(math.abs(r.getLong(2)) <= 127L * 127L * 64L)
    }
    sq8.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === (1 to 10))
      val ds = rows.sortBy(_.getInt(3)).map(_.getLong(2)).toSeq
      assert(ds === ds.sorted.reverse)
    }
    // deterministic under re-partitioning (absmax is a corpus scalar)
    val again = Similarity.sq8TopK(emb.repartition(7), q, 10, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(again === sq8.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet)
  }

  test("binaryTopK: sign packing is exact; hamming ranking; recall floor vs brute force") {
    val sess = spark
    import sess.implicits._
    // packing: a hand-built 4-dim vector sets exactly the strictly-positive bits
    val tiny = Seq(
      (1L, Seq(1.0f, -2.0f, 0.0f, 3.0f)),  // bits 0,3 → 1 + 8 = 9
      (2L, Seq(1.0f, 2.0f, -1.0f, 3.0f)),  // bits 0,1,3 → 11 (hamming 1 to id 1)
      (3L, Seq(-1.0f, 2.0f, 1.0f, -3.0f))) // bits 1,2 → 6 (hamming 4 to id 1)
      .toDF("vec_id", "embedding")
    val codes = tiny.select(col("vec_id"),
      Similarity.signCode("embedding", 4).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes === Map(1L -> 9L, 2L -> 11L, 3L -> 6L))
    val top = Similarity.binaryTopK(tiny, tiny.filter(col("vec_id") === 1), 2, 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(top.toSeq === Seq((2L, 1, 1), (3L, 4, 2)))
    // bit 63 packs without overflow: a 64-dim all-positive vector
    val full = Seq((9L, Seq.fill(64)(1.0f))).toDF("vec_id", "embedding")
    assert(full.select(Similarity.signCode("embedding", 64)).head.getLong(0) === -1L)
    // fixture recall floor: 1-bit is coarse but far above random
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.binaryTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall")
    // the exact-cosine re-rank over a 5× shortlist must dominate the
    // raw hamming ranking (it can only promote true neighbors)
    val rr = Similarity.binaryRerankTopK(emb, q, 10, 64, nCandidates = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (exact & rr).size.toDouble / exact.size
    assert(rrRecall >= recall, s"rerank $rrRecall < raw $recall")
    assert(rrRecall >= 0.4, s"rerank recall $rrRecall")
  }

  test("ivfSq8TopK: recall floor vs brute force; candidates only from probed clusters; 1-byte codes") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.ivfSq8TopK(emb, q, 10, 64, nCentroids = 8, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
    val approx = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    // sub-linearity contract: every neighbor's cluster is one of its
    // query's probes (the scorer joined by cluster, not a corpus scan)
    val model = Similarity.ivfSq8Index(emb, 64, nCentroids = 8)
    val corpusCluster = model.index.select("neighbor_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probesByQuery = {
      val scored = org.apache.spark.sql.functions.array(model.centroids.map { case (cid, c) =>
        struct((-graft.functions.NativeExprs.floatDoubleVecDot(col("embedding"),
          org.apache.spark.sql.functions.array(c.map(lit): _*))).as("neg"), lit(cid).as("cid"))
      }: _*)
      q.select(col("vec_id"), slice(transform(array_sort(scored), x => x("cid")), 1, 3).as("probes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    }
    out.foreach { r =>
      assert(probesByQuery(r.getLong(0)).contains(corpusCluster(r.getLong(1))),
        s"neighbor ${r.getLong(1)} of query ${r.getLong(0)} outside the probed clusters")
    }
    // the packed code is genuinely dim BYTES (not 4·dim): binary length 64
    val codeLens = model.index.select(length(col("__code"))).distinct().collect()
      .map(_.getInt(0)).toSeq
    assert(codeLens === Seq(64), s"code lengths $codeLens")
  }

  test("annRecall: self-recall is 1.0; missing neighbors count against the exact set") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
    // an exact result evaluated against itself is perfect recall
    val self = Similarity.annRecall(exact, exact).collect()
    assert(self.length === 5)
    self.foreach { r =>
      assert(r.getLong(1) === 10L && r.getLong(2) === 10L && r.getDouble(3) === 1.0)
    }
    // drop one neighbor of one query: that query scores 9/10, others 1.0
    val crippled = exact.filter(!(col("query_id") === 0 && col("rank") === 1))
    val part = Similarity.annRecall(crippled, exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(part(0L) === 0.9)
    assert((1L until 5L).forall(part(_) === 1.0))
  }

  test("lshTopK achieves >= 40% recall@10 vs brute force on fixtures") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    // and every approx neighbor must rank by true cosine (exact re-rank)
    assert(approx.forall { case (q1, n) => q1 != n })
  }

  test("ivfTopK achieves >= 40% recall@10 vs brute force on fixtures") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, q, 10, 64, nCentroids = 8, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    assert(approx.forall { case (q1, n) => q1 != n })
  }

  test("pqTopK achieves >= 40% recall@10 vs brute force on fixtures") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    assert(approx.forall { case (q1, n) => q1 != n })
  }

  test("sample-trained pqTopK keeps the recall floor (codebooks from an id-modulo third)") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(emb, q, 10, 64, trainMod = 3L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("ivfPqTopK achieves >= 40% recall@10 vs brute force on fixtures") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
    assert(approx.forall { case (q1, n) => q1 != n })
  }

  test("sample-trained ivfPqTopK (coarse + codebooks from the id-modulo third) keeps the recall floor") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sampled coarse centroids shift cluster boundaries slightly (0.38
    // recall at nProbe=3 on this fixture); one extra probe recovers the
    // floor — the realistic lever pairing: cheaper build, +1 probe
    val approx = Similarity.ivfPqTopK(emb, q, 10, 64, nProbe = 4, trainMod = 3L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("ivfPqTopK candidates come only from probed clusters (the sub-linearity contract)") {
    val q = emb.filter(col("vec_id") < 10)
    // recompute the same deterministic index the operator builds
    val cents = Similarity.collectCentroids(
      Similarity.ivfCentroids(emb, 64, nCentroids = 8, iters = 1))
    val corpusCluster = Similarity.assignClustersLocal(
      emb.select("vec_id", "embedding"), cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val queryProbes = Similarity.assignClustersLocal(
      q.select("vec_id", "embedding"), cents)
    // nProbe=3 probes include the assigned (nearest) cluster; checking
    // membership against ALL clusters a result neighbor sits in proves
    // the join was cluster-keyed, not a corpus scan
    val out = Similarity.ivfPqTopK(emb, q, 10, 64, nCentroids = 8, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
    // every returned neighbor's cluster must be one of its query's probes;
    // with the operator's own probe list recomputed the containment is exact
    val probesByQuery = {
      import org.apache.spark.sql.functions.{array_sort, struct, transform, slice, lit => flit}
      val scored = org.apache.spark.sql.functions.array(cents.map { case (cid, c) =>
        struct((-graft.functions.NativeExprs.floatDoubleVecDot(col("embedding"),
          org.apache.spark.sql.functions.array(c.map(flit): _*))).as("neg"), flit(cid).as("cid"))
      }: _*)
      q.select(col("vec_id"), slice(transform(array_sort(scored), x => x("cid")), 1, 3).as("probes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    }
    out.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(probesByQuery(qid).contains(corpusCluster(nid)),
        s"neighbor $nid of query $qid is outside the probed clusters")
    }
  }

  test("pqCodebooks: m x ksub structure, full-coverage codes, identical vectors encode identically") {
    val cb = Similarity.collectCodebooks(Similarity.pqCodebooks(emb, 64, 8, 16))
    assert(cb.map(_._1).toSeq === (0 until 8))
    cb.foreach { case (_, codes) =>
      assert(codes.nonEmpty && codes.map(_._1).forall(c => c >= 0 && c < 16))
      codes.foreach { case (_, cl) => assert(cl.length === 8) } // dim/m
    }
    // two corpus copies of the same vector must land on the same codes:
    // the approx score of (q, a) and (q, b) is then identical, so PQ
    // ties resolve by id — the determinism the oracle relies on
    val dup = emb.limit(1).select(col("vec_id") + 100000L, col("embedding"))
      .toDF("vec_id", "embedding").union(
        emb.limit(1).select(col("vec_id") + 200000L, col("embedding"))
          .toDF("vec_id", "embedding"))
    val sub = Similarity.pqTopK(emb.select("vec_id", "embedding").union(dup),
      emb.filter(col("vec_id") < 2), 10, 64)
    assert(sub.count() === 20) // windows stay exact-k under duplicates
  }

  test("ivfCentroids partitions every vector into a probed cluster") {
    val cents = Similarity.ivfCentroids(emb, 64, nCentroids = 8)
    val clusters = cents.select("cluster").collect().map(_.getInt(0)).toSet
    assert(clusters.nonEmpty && clusters.subsetOf((0 until 8).toSet))
    cents.collect().foreach(r => assert(r.getSeq[Double](1).length === 64))
    val assigned = Similarity.assignClusters(emb, cents, 64)
    assert(assigned.filter(!col("cluster").isin(clusters.toSeq: _*)).isEmpty)
  }

  test("labelCentroids: centroid of identical vectors is the vector; cosines are symmetric-complete") {
    val sess = spark
    import sess.implicits._
    val v1 = Array.fill(64)(0.5f); val v2 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val df = Seq((1L, v1, 0), (2L, v1, 0), (3L, v2, 1), (4L, v2, 2))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.labelCentroids(df, 64)
    val c0 = cents.filter(col("label") === 0).head()
    assert(c0.getLong(1) === 2)
    c0.getSeq[Double](2).foreach(x => assert(math.abs(x - 0.5) < 1e-5)) // quantized mean
    val cos = Similarity.labelCentroidCosines(cents, 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    assert(cos.keySet === Set((0, 1), (0, 2), (1, 2))) // label_a < label_b, complete
    assert(math.abs(cos((1, 2)) - 1.0) < 1e-9) // identical centroids
    assert(cos((0, 1)) < 1.0 && cos((0, 1)) > 0.0)
  }

  test("nearDupPairs respects the block column") {
    val pairs = Similarity.nearDupPairs(emb, "label", -2.0, 64) // threshold -2: all in-block pairs
      .select("label", "id_a", "id_b").limit(100).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    pairs.foreach { r =>
      assert(labels(r.getLong(1)) === r.getInt(0) && labels(r.getLong(2)) === r.getInt(0))
    }
  }

  test("semDedup keeps exactly the min-id representative of each duplicate group") {
    val sess = spark
    import sess.implicits._
    // three exact-duplicate groups + two singletons; identical vectors
    // always share a k-means bucket, so the candidate set is complete
    val va = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val vb = Array.tabulate(64)(i => if (i >= 32) 1.0f else 0.0f)
    val vc = Array.fill(64)(0.25f)
    val vd = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val ve = Array.tabulate(64)(i => if (i % 2 == 0) -1.0f else 1.0f)
    val df = Seq(
      (10L, va), (11L, va), (12L, va),
      (20L, vb), (21L, vb),
      (30L, vc), (31L, vc),
      (40L, vd), (50L, ve)).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, 64, nCentroids = 4, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.keySet === Set(10L, 11L, 12L, 20L, 21L, 30L, 31L, 40L, 50L))
    // each dup group collapses onto its min id; singletons keep themselves
    assert(out(10L) === ((10L, true)) && out(11L) === ((10L, false)) && out(12L) === ((10L, false)))
    assert(out(20L) === ((20L, true)) && out(21L) === ((20L, false)))
    assert(out(30L) === ((30L, true)) && out(31L) === ((30L, false)))
    assert(out(40L) === ((40L, true)) && out(50L) === ((50L, true)))
  }

  test("large-k join assignment matches the literal-argmax path exactly") {
    // k > AssignJoinK so the keyed overload takes the broadcast-join
    // shape; the 2-arg call is forced through the literal expression
    val k = Similarity.AssignJoinK + 12
    val cents = Similarity.collectCentroids(
      Similarity.ivfCentroids(emb, 64, nCentroids = k, iters = 1))
    assert(cents.length > Similarity.AssignJoinK)
    val viaJoin = Similarity.assignClustersLocal(
      emb.select("vec_id", "embedding"), cents, "embedding", "vec_id")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaLiteral = Similarity.assignClustersLocal(
      emb.select("vec_id", "embedding"), cents, "embedding")
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaJoin === viaLiteral)
  }

  test("semDedupAuto computes k = ceil(n/B) and matches the explicit-k run") {
    val n = emb.count()
    val b = 40
    val k = math.max(1L, math.ceil(n.toDouble / b).toLong).toInt
    val auto = Similarity.semDedupAuto(emb, 64, targetBucket = b)
      .orderBy("vec_id").collect().toSeq
    val explicitK = Similarity.semDedup(emb, 64, nCentroids = k)
      .orderBy("vec_id").collect().toSeq
    assert(auto === explicitK)
    // the policy actually moved k off the default (the lever engages)
    assert(k > 8, s"fixture too small to exercise the policy: k=$k")
  }

  test("semDedup on fixtures: one row per vector, kept iff own rep, rep <= id") {
    val out = Similarity.semDedup(emb, 64).cache()
    assert(out.count() === emb.count())
    assert(out.filter(col("rep") > col("vec_id")).isEmpty) // min-id rep
    assert(out.filter(col("kept") =!= (col("vec_id") === col("rep"))).isEmpty)
    // a representative must itself be kept (reps are fixpoint labels)
    val reps = out.select(col("rep")).distinct()
    val keptIds = out.filter(col("kept")).select(col("vec_id").as("rep"))
    assert(reps.exceptAll(keptIds).isEmpty)
    out.unpersist()
  }

  test("aHash: mean-threshold bit packing; identical payloads pair at hamming 0") {
    val sess = spark
    import sess.implicits._
    val docs = Seq((1L, "ab", "s"), (2L, "ab", "s"), (3L, "zzzzzzzz", "s"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.fromDocuments(docs)
    val h = Multimodal.aHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "ab": bytes 97,98 then zeros; sum 195, mean 195 div 64 = 3;
    // bits 0 and 1 set → 3
    assert(h(1L) === 3L)
    assert(h(1L) === h(2L))
    // "zzzzzzzz": 8×122, sum 976, mean 15; first 8 bits set → 255
    assert(h(3L) === 255L)
    val pairs = graft.dedup.Dedup.hammingPairs(
      Multimodal.aHash(media), "media_id", "ahash", maxHamming = 1, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("decodeStub computes per-row features distributedly") {
    val docs = Tables.documents(spark, sfDir).limit(20)
    val media = Multimodal.fromDocuments(docs)
    val feats = Multimodal.decodeStub(media).collect().map(f => f.media_id -> f).toMap
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    raw.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val f = feats(id)
      assert(f.n_bytes === bytes.length)
      assert(f.checksum === bytes.map(_ & 0xff).map(_.toLong).sum)
      assert(f.width === (bytes(0) & 0xff))
    }
  }

  test("resizeStub downsamples payloads deterministically") {
    val docs = Tables.documents(spark, sfDir).limit(10)
    val media = Multimodal.fromDocuments(docs)
    val resized = Multimodal.resizeStub(media, 4).collect().map(r => r.media_id -> r.bytes).toMap
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).toMap
    raw.foreach { case (id, bytes) =>
      val out = resized(id)
      assert(out.length === (bytes.length + 3) / 4)
      out.indices.foreach(i => assert(out(i) === bytes(i * 4)))
    }
  }

  test("frameSample explodes bounded offsets") {
    val docs = Tables.documents(spark, sfDir).limit(5)
    val media = Multimodal.fromDocuments(docs)
    val frames = Multimodal.frameSample(media, 64).collect()
    val sizes = media.select("media_id", "meta.n_bytes").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    frames.foreach { r =>
      val (id, off) = (r.getLong(0), r.getInt(1))
      assert(off >= 0 && off < sizes(id) && off % 64 === 0)
    }
    assert(frames.groupBy(_.getLong(0)).forall { case (id, fs) =>
      fs.length === (sizes(id) + 63) / 64
    })
  }

  test("frameSample emits no rows for zero-length payloads (oracle parity)") {
    val sess = spark
    import sess.implicits._
    val docs = Seq((1L, "", "s"), (2L, "abc", "s")).toDF("doc_id", "text", "source")
    val frames = Multimodal.frameSample(Multimodal.fromDocuments(docs), 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(frames.toSeq === Seq((2L, 0))) // empty doc: no frames at all
  }

  test("filteredTopK: neighbors share the query's label and k stays honest where a post-filter underfills") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val filtered = Similarity.filteredTopK(emb, queries, k = 10, dim = 64,
      filterCol = "label").collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every neighbor shares its query's label
    filtered.foreach { r =>
      assert(labels(r.getLong(1)) === labels(r.getLong(0)),
        s"neighbor ${r.getLong(1)} crosses labels for query ${r.getLong(0)}")
    }
    // k is honest: 10 per query (the fixture strata are > 10 wide)
    filtered.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length === 10, s"query $q underfilled: ${rows.length}")
    }
    // the naive alternative — post-filtering an UNfiltered top-10 —
    // underfills k for at least one query on this fixture, which is
    // exactly why the filter must be in the join
    val post = Similarity.bruteForceTopK(emb, queries, k = 10, dim = 64)
      .collect()
      .filter(r => labels(r.getLong(1)) === labels(r.getLong(0)))
    val postCounts = post.groupBy(_.getLong(0)).map(_._2.length)
    assert(postCounts.exists(_ < 10),
      "fixture should demonstrate post-filter underfill; widen the labels if this fails")
  }

  test("clusterEval: ARI is exactly 1.0 against the assignment itself and invariant to label renaming") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Similarity.collectCentroids(
      Similarity.ivfCentroids(emb, 64, 8, 1))
    val asg = Similarity.assignClustersLocal(emb, cents, "embedding", "vec_id")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("cluster").as("label"))
    // labels == the clustering itself → perfect agreement, exactly
    val perfect = Similarity.clusterEval(asg, dim = 64, nCentroids = 8).head
    assert(perfect.getDouble(5) === 1.0)
    // a bijective relabeling must not change ARI (it is label-invariant)
    val renamed = asg.withColumn("label",
      org.apache.spark.sql.functions.col("label") * 10 + 3)
    val r = Similarity.clusterEval(renamed, dim = 64, nCentroids = 8).head
    assert(r.getDouble(5) === 1.0)
    // against the true fixture labels: a real score, strictly below 1,
    // with consistent integer components
    val real = Similarity.clusterEval(emb, dim = 64, nCentroids = 8).head
    assert(real.getLong(0) > 0 && real.getDouble(5) < 1.0)
    assert(real.getLong(1) <= math.min(real.getLong(2), real.getLong(3)),
      "sum C(nij,2) cannot exceed either margin sum")
  }

  test("pcaTopComponent recovers a planted dominant direction; sign convention holds") {
    val sess = spark
    import sess.implicits._
    // planted component along dims 3 (weight 3) and 7 (weight -1),
    // plus small deterministic noise: power iteration must align with
    // (0,0,3,0,0,0,-1,0)/√10 after a few rounds
    val dim = 8
    val rows = (0 until 400).map { i =>
      val a = if (i % 2 == 0) 1.0f else -1.0f // the varying factor
      val v = Array.fill(dim)(0.0f)
      v(2) = 3.0f * a + 0.02f * ((i * 37 % 11) - 5)
      v(6) = -1.0f * a + 0.02f * ((i * 53 % 13) - 6)
      v(0) = 0.01f * ((i * 29 % 7) - 3)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val comp = Similarity.pcaTopComponent(df, dim, iters = 4)
      .orderBy("dim_idx").collect().map(_.getLong(1))
    // cosine with the planted direction
    val planted = Array(0.0, 0, 3, 0, 0, 0, -1, 0)
    val dot = comp.zip(planted).map { case (c, p) => c.toDouble * p }.sum
    val nc = math.sqrt(comp.map(c => c.toDouble * c).sum)
    val np = math.sqrt(planted.map(p => p * p).sum)
    assert(math.abs(dot) / (nc * np) > 0.99,
      s"component ${comp.mkString(",")} not aligned with planted direction")
    // sign convention: the largest-|component| entry (dim 3) is positive
    assert(comp(2) > 0 && comp(2) === comp.map(math.abs).max)
    // rescale invariant: the canonical entry sits at exactly 10^6
    assert(comp.map(math.abs).max === 1000000L)
  }

  test("mmrSelect: diversity displaces a near-duplicate; λ=100 reduces to relevance order") {
    val sess = spark
    import sess.implicits._
    def vec(xs: Float*) = xs.toArray
    val corpus = Seq(
      (0L, vec(1f, 0f, 0f, 0f)),      // the query itself (excluded by pool)
      (1L, vec(0.99f, 0.14f, 0f, 0f)), // rel #1
      (2L, vec(0.98f, 0.17f, 0f, 0f)), // rel #2, near-dup of 1
      (3L, vec(0.7f, 0f, 0.7f, 0f)),   // diverse, rel #3
      (4L, vec(0f, 0f, 0f, 1f))        // orthogonal filler
    ).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 0)
    def picks(lambdaPct: Int) =
      Similarity.mmrSelect(corpus, q, k = 3, dim = 4, poolSize = 4,
          lambdaPct = lambdaPct)
        .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    // pure relevance (λ=100) keeps the near-dup pair up top
    assert(picks(100) === Seq(1L, 2L, 3L))
    // balanced MMR: the near-dup of pick #1 scores NEGATIVE
    // (0.5·rel − 0.5·~1) and drops out of the slate entirely — the
    // diverse doc and even the orthogonal filler (score 0) outrank it
    assert(picks(50) === Seq(1L, 3L, 4L))
    // rank-1 is always the most relevant; output is exactly k rows
    assert(Similarity.mmrSelect(corpus, q, k = 2, dim = 4, poolSize = 4)
      .count() === 2L)
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(corpus, q, k = 5, dim = 4, poolSize = 3)
    }
  }
}
