package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphOps

class GraphOpsSpec extends SparkSpec {

  private def edges(rows: Seq[(Long, Long)]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("src", "dst")
  }

  test("pageRank: a uniform cycle is a fixed point of the integer update") {
    // 1→2→3→1, all outdeg 1: insum = score, 150000 + (17·1e6) div 20 = 1e6
    val out = GraphOps.pageRank(edges(Seq((1L, 2L), (2L, 3L), (3L, 1L))), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 1L, GraphOps.PrScale), (2L, 1L, GraphOps.PrScale),
      (3L, 1L, GraphOps.PrScale)))
  }

  test("pageRank: star center accumulates; leaves decay to the base; dangling mass drops") {
    // 2→1, 3→1: node 1 is dangling (sends nothing). After iter 1 the
    // leaves hold the base 150000; from iter 2 on the center holds
    // 150000 + (17 · 2·150000) div 20 = 405000 — stable by iter 3.
    val out = GraphOps.pageRank(edges(Seq((2L, 1L), (3L, 1L))), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((0L, 405000L)))
    assert(out(2L) === ((1L, 150000L)))
    assert(out(3L) === ((1L, 150000L)))
  }

  private def wedges(rows: Seq[(Long, Long, Long)]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("src", "dst", "w")
  }

  test("pageRankWeighted: uniform weights on distinct edges reproduce the unweighted scores") {
    val rows = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 2L))
    val unw = GraphOps.pageRank(edges(rows), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // any uniform positive weight: contributions (score·w) div (deg·w)
    // still floor to score div deg edge-for-edge only when w divides...
    // it does NOT in general — but w=1 is exactly the unweighted update
    val w1 = GraphOps.pageRankWeighted(wedges(rows.map { case (s, d) => (s, d, 1L) }),
      "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w1 === unw)
  }

  test("pageRankWeighted: weight folds parallel edges and shifts mass to the heavy edge") {
    // 1 sends to 2 (w=3, two parallel rows folded) and 3 (w=1):
    // outw=4, score 1e6 → 2 receives (1e6·3) div 4 = 750000, 3 gets
    // 250000; one iteration lands 150000 + (17·in) div 20
    val out = GraphOps.pageRankWeighted(
      wedges(Seq((1L, 2L, 2L), (1L, 2L, 1L), (1L, 3L, 1L))), "src", "dst", "w",
      iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(2L) === ((0L, 150000L + 17L * 750000L / 20L)))
    assert(out(3L) === ((0L, 150000L + 17L * 250000L / 20L)))
    assert(out(1L) === ((4L, 150000L))) // nothing points at 1
  }

  test("pageRankWeighted: null and non-positive weights drop; all-dropped graph is empty") {
    val out = GraphOps.pageRankWeighted(
      wedges(Seq((1L, 2L, 5L), (2L, 3L, 0L), (3L, 1L, -4L))), "src", "dst", "w",
      iters = 1).collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 2L)) // only the w=5 edge survives
  }

  test("labelPropagationWeighted: uniform weights reproduce unweighted; a heavy edge overrides count") {
    val rows = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L), (3L, 10L))
    val unw = GraphOps.labelPropagation(edges(rows), "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = GraphOps.labelPropagationWeighted(
      wedges(rows.map { case (u, v) => (u, v, 1L) }), "src", "dst", "w", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === unw)
    // node 5 has TWO unit edges into the {1,2} side and ONE w=10 edge
    // to 9: weighted LPA must pull 5 toward 9's label after round 1
    val heavy = GraphOps.labelPropagationWeighted(
      wedges(Seq((5L, 1L, 1L), (5L, 2L, 1L), (5L, 9L, 10L))), "src", "dst", "w",
      iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(heavy(5L) === 9L)
    val counted = GraphOps.labelPropagation(
      edges(Seq((5L, 1L), (5L, 2L), (5L, 9L))), "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counted(5L) === 1L) // unweighted: two unit neighbors win
  }

  test("triangleCount: K3 has one triangle, C4 none, K4 has four; duplicates/direction ignored") {
    def counts(rows: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = GraphOps.triangleCount(edges(rows), "src", "dst").head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // triangle, given redundantly in both directions + a dup
    assert(counts(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 1L))) === ((3L, 1L, 1L)))
    // 4-cycle: 4 edges, wedges exist, no triangle closes
    val (e4, _, t4) = counts(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert((e4, t4) === ((4L, 0L)))
    // K4: 6 edges, C(4,3) = 4 triangles
    assert(counts(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      === ((6L, 4L, 4L)))
  }

  test("triangleCount: a hub star stays wedge-free (degree orientation points INTO the hub)") {
    // star center 1 with 5 leaves: id-orientation from node 1 would
    // build C(5,2)=10 wedges; degree orientation points every edge
    // leaf→hub, so out-degrees are all 1 and ZERO wedges form
    val star = edges((2L to 6L).map(l => (1L, l)))
    val r = GraphOps.triangleCount(star, "src", "dst").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 0L, 0L)))
  }

  test("labelPropagation: two cliques bridged by one edge collapse to per-clique min labels") {
    // clique A {1,2,3}, clique B {10,11,12}, bridge 3-10
    val cliqueA = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val cliqueB = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val out = GraphOps.labelPropagation(edges(cliqueA ++ cliqueB :+ (3L -> 10L)),
      "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced synchronous rounds (init label = id):
    // r1: 1→2, 2→1, 3→1 (min of {1,2,10}), 10→3, 11→10, 12→10
    // r2: clique A settles on 1; 10 keeps B's majority 10; B's interior
    // adopts the bridge-imported 3 — the classic sync-LPA ripple the
    // deterministic tie-break makes reproducible
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: tie-break picks the smallest label; isolated pair is symmetric") {
    // path 1-2-3: node 2 sees labels {1, 3} with equal counts → takes 1
    val out = GraphOps.labelPropagation(edges(Seq((1L, 2L), (2L, 3L))),
      "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("kCore: K4 with a tail — the 3-core is exactly K4; tail peels; extra rounds are a fixed point") {
    // K4 on {1,2,3,4} plus tail 4–5–6: deg(6)=1, deg(5)=2 < 3 → both
    // peel in round 1 (synchronous); K4 survives with core_deg 3
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val out = GraphOps.kCore(edges(e), "src", "dst", k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // converged: more rounds change nothing
    val more = GraphOps.kCore(edges(e), "src", "dst", k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === out)
  }

  test("kCore: peeling cascades one hop per round on a path; the 2-core of a path is empty") {
    // path 1–2–3–4–5–6, k=2: each synchronous round removes the two
    // current endpoints — round-count semantics are observable
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    def ids(rounds: Int): Set[Long] =
      GraphOps.kCore(edges(path), "src", "dst", k = 2, rounds = rounds)
        .collect().map(_.getLong(0)).toSet
    assert(ids(1) === Set(2L, 3L, 4L, 5L))
    assert(ids(2) === Set(3L, 4L))
    assert(ids(3) === Set.empty[Long])
    // a cycle IS its own 2-core — survives any number of rounds
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val c = GraphOps.kCore(edges(cyc), "src", "dst", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: the pinned g_kcore configuration (k=8, 4 rounds) is a fixed point on the fixture graph") {
    // the oracle unrolls exactly 4 rounds; this pins that a 5th round
    // peels nobody on the sf0.001 co-purchase graph, i.e. the query
    // result IS the k-core, not a partial peel
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
    val e = li.select(col("ok"), col("l_partkey").as("src"))
      .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
      .filter(col("src") =!= col("dst"))
    val r4 = GraphOps.kCore(e, "src", "dst", k = 8, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r5 = GraphOps.kCore(e, "src", "dst", k = 8, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r4.nonEmpty, "the pinned k should leave a non-empty core")
    assert(r4 === r5, "4 rounds must be a fixed point on the fixture")
    assert(r4.forall(_._2 >= 8L), "every surviving node keeps core degree >= k")
  }

  test("a src-bucketed edge table joins the superstep state with zero exchange on the edge side") {
    // the deployment contract in pageRank's doc: past broadcast scale,
    // bucket the edge table by src — then each superstep's edge⋈state
    // join shuffles ONLY the |V|-sized state, never the edges
    val dir = java.nio.file.Files.createTempDirectory("graft-graph").toString
    val sess = spark
    import sess.implicits._
    val e = (1L to 200L).flatMap(i => Seq((i, i % 50 + 1), (i % 50 + 1, i)))
      .toDF("src", "dst")
    val bucketed = materializeBucketed(
      e, s"$dir/edges", "t_graph_edges_bucketed", Seq("src"), 8)
    try {
      val state = (1L to 200L).map(i => (i, 1000000L)).toDF("src", "score")
      val stepped = bucketed.join(state, Seq("src"))
        .groupBy("dst").agg(sum(col("score")).as("insum"))
      stepped.collect()
      val plan = stepped.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"), s"superstep join missing:\n$plan")
      // the precise claim: the edge table is scanned bucketed and NEVER
      // hash-reshuffled on src — the only hash exchange is the dst
      // aggregate (the state side may broadcast or shuffle; it's |V|-sized)
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(src"),
        s"edge side reshuffled on src:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_graph_edges_bucketed")
    }
  }

  test("linkPrediction: minCommon=2 is a pure pre-filter — top-k parity with exact on the co-purchase graph") {
    // the pinned g_linkpred lever: the common=1 tail (81% of sf0.1
    // candidates) can never reach the top-50 on this graph (weakest
    // top-50 pair shares 57 neighbors at sf0.001, 10 at sf0.01, 4 at
    // sf0.1) — assert exact-result identity at the spec scale so any
    // future data/graph drift that makes the floor lossy fails HERE,
    // not silently in a changed ranking
    import graft.model.Tables
    val li = Tables.lineitem(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("ok"),
        org.apache.spark.sql.functions.col("l_partkey"))
    val copurchase = li.select(col("ok"), col("l_partkey").as("src"))
      .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
      .filter(col("src") =!= col("dst")).localCheckpoint()
    def run(mc: Int, pack: Boolean = true) =
      GraphOps.linkPrediction(copurchase, "src", "dst",
        maxDeg = 128, k = 50, minCommon = mc, packIds = pack)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(2) === run(1),
      "minCommon=2 changed the exact top-50 — the pinned floor is lossy on this graph")
    // the packed single-BIGINT pair key is a pure impl detail: identical
    // results to the two-key path
    assert(run(2) === run(2, pack = false),
      "packIds=true diverged from the two-key path")
    // and a deliberately lossy floor on a tiny crafted graph DOES differ
    // (the spec has teeth): star 1-{2,3} plus chain — pair (2,3) has
    // common=1 and is the only candidate
    val tiny = edges(Seq((1L, 2L), (1L, 3L)))
    assert(GraphOps.linkPrediction(tiny, "src", "dst").count() === 1L)
    assert(GraphOps.linkPrediction(tiny, "src", "dst", minCommon = 2).isEmpty)
    // an id outside [0, 2^31) must fail LOUDLY under packing (silently
    // corrupt packs would mis-join), and work under packIds=false
    val wide = edges(Seq((1L, 5000000000L), (2L, 5000000000L)))
    val ex = intercept[Exception] {
      GraphOps.linkPrediction(wide, "src", "dst").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("packIds")), s"guard lost: ${msgs(ex)}")
    assert(GraphOps.linkPrediction(wide, "src", "dst", packIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("personalizedPageRank: all-nodes seed set reproduces pageRank; teleport stays near seeds") {
    val sess = spark
    import sess.implicits._
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 3L))
    val allIds = Seq(1L, 2L, 3L, 4L).toDF("id")
    // seeds = every node → the update is exactly pageRank's
    val ppr = GraphOps.personalizedPageRank(edges(g), "src", "dst", allIds, "id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val pr = GraphOps.pageRank(edges(g), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(ppr === pr, "uniform seeding must reduce to pageRank")
    // seed only node 1: everything the seed touches (itself and its
    // out-neighborhood {2,3}) outranks node 4, which sees only
    // second-hand mass through 3
    val one = GraphOps.personalizedPageRank(edges(g), "src", "dst",
        Seq(1L).toDF("id"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(Seq(1L, 2L, 3L).forall(n => one(n) > one(4L)),
      s"mass should decay with distance from the seed: $one")
    assert(one.values.sum < 4L * GraphOps.PrScale,
      "single-seed teleport must inject less total mass than uniform seeding")
    // empty seed set → nothing to teleport to, every score decays to 0
    val none = GraphOps.personalizedPageRank(edges(g), "src", "dst",
        Seq.empty[Long].toDF("id"), "id")
      .collect().map(_.getLong(3)).toSet
    assert(none === Set(0L), "no seeds must mean no mass")
  }

  test("personalizedPageRankWeighted: w=1 reduces to PPR; seed mass follows the heavy edge") {
    val sess = spark
    import sess.implicits._
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 3L))
    val seeds = Seq(1L).toDF("id")
    val unw = GraphOps.personalizedPageRank(edges(g), "src", "dst", seeds, "id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val w1 = GraphOps.personalizedPageRankWeighted(
        wedges(g.map { case (s, d) => (s, d, 1L) }), "src", "dst", "w", seeds, "id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(w1 === unw, "unit weights must reduce to the unweighted PPR")
    // seed 1 sends to 2 (w=9) and 3 (w=1): after one round the heavy
    // neighbor holds exactly (17 * ((1e6*9) div 10)) div 20, the light
    // one a ninth of the flow — exact integer arithmetic replicated here
    val heavy = GraphOps.personalizedPageRankWeighted(
        wedges(Seq((1L, 2L, 9L), (1L, 3L, 1L))), "src", "dst", "w",
        Seq(1L).toDF("id"), "id", iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(heavy(2L) === 17L * (1000000L * 9L / 10L) / 20L)
    assert(heavy(3L) === 17L * (1000000L * 1L / 10L) / 20L)
    assert(heavy(1L) === 150000L) // seed teleport only — nothing points back
  }

  test("kTruss: K4 is a 4-truss; weakly-shared triangles cascade away over rounds") {
    def run(rows: Seq[(Long, Long)], k: Int, rounds: Int) =
      GraphOps.kTruss(edges(rows), "src", "dst", k, rounds)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // K4: every edge sits in exactly 2 triangles — the whole graph is
    // the 4-truss, supports intact
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = run(k4, k = 4, rounds = 2)
    assert(out.keySet === k4.toSet && out.values.forall(_ === 2L))
    // two triangles sharing edge (2,3): at k=4 the outer edges (support
    // 1) peel in round 1, which starves (2,3) — round 2 removes it.
    // ONE round is not enough: the cascade is what multi-round peeling
    // is for
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(run(bowtie, k = 4, rounds = 2).isEmpty)
    assert(run(bowtie, k = 4, rounds = 1).keySet === Set((2L, 3L)))
    // at k=3 (support >= 1) both triangles stand
    assert(run(bowtie, k = 3, rounds = 2).keySet === bowtie.toSet)
    // duplicates/direction fold into the canonical set
    assert(run(k4 ++ k4.map(_.swap), k = 4, rounds = 2) === out)
  }

  test("modularity: exact Q on two cliques — per-clique 1/2, merged 0, singletons -1/6") {
    val sess = spark
    import sess.implicits._
    val twoK3 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    def q(labels: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
      val r = GraphOps.modularity(edges(twoK3), "src", "dst",
        labels.toDF("id", "label")).collect()(0)
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))
    }
    // the true partition: Q = 2·(4·6·3 − 6²) / (4·6²) = 72/144 = 1/2
    val perClique = q(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    assert(perClique === ((2L, 72L, 144L, 0.5)))
    // everything in one community: Q = (4·6·6 − 12²)/144 = 0
    assert(q((1L to 6L).map(_ -> 1L))._4 === 0.0)
    // every node alone: Q = 6·(0 − 2²)/144 = −1/6
    val single = q((1L to 6L).map(i => i -> i))
    assert(single._1 === 6L && single._2 === -24L && single._4 === -24.0 / 144.0)
    // unlabeled nodes default to singleton communities (LPA's isolate rule)
    assert(q(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))._1 === 4L)
  }

  test("randomWalks: every hop follows an edge, isolated seeds stop at step 0, deterministic") {
    val sess = spark
    import sess.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)) // triangle + spur
    val adj: Map[Long, Set[Long]] = (g ++ g.map(_.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val seeds = Seq(1L, 3L, 9L).toDF("id") // 9 is not in the graph
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.randomWalks(df, "src", "dst", seeds, "id", steps = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val walks = run(edges(g))
    // the isolated seed emits exactly its step-0 row
    assert(walks.filter(_._1 == 9L) === Seq((9L, 0, 9L)))
    // connected seeds complete all hops, starting at the seed, and
    // every consecutive (node, next) is a real edge
    Seq(1L, 3L).foreach { s =>
      val w = walks.filter(_._1 == s)
      assert(w.map(_._2) === (0 to 4) && w.head._3 === s, s"walk $s: $w")
      w.sliding(2).foreach { case Seq((_, _, a), (_, _, b)) =>
        assert(adj(a).contains(b), s"hop $a->$b is not an edge")
      }
    }
    // pure function of (seed, step): stable across runs and layouts
    assert(run(edges(g).repartition(7)) === walks)
  }

  test("pageRank: duplicate and null edges are ignored; determinism under repartition") {
    val base = GraphOps.pageRank(edges(Seq((1L, 2L), (2L, 1L), (1L, 3L))), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dup = edges(Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L)))
    assert(GraphOps.pageRank(dup, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === base)
    val sess = spark
    import sess.implicits._
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(3L)),
      (None, Some(9L)), (Some(9L), None)).toDF("src", "dst")
    assert(GraphOps.pageRank(withNull.repartition(5), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === base)
  }
}
