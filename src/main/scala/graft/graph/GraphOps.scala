package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — the scatter-gather
  * family (PageRank et al.) expressed as unrolled relational plans so a
  * fixed-iteration run is ONE declarative query an oracle can verify.
  *
  * Scale shape: an iteration is an equi-join of the edge table with the
  * (node, score) state on src plus a map-side-combinable groupBy on dst
  * — the standard Pregel superstep as two shuffles, both keyed by node
  * id, so a bucketed edge table co-locates every iteration. Nothing is
  * ever collected; state stays a DataFrame.
  */
object GraphOps {

  /** PageRank score scale: scores are BIGINT micro-units (1e6 = 1.0).
    * A float PageRank is summation-order-dependent across engines; with
    * integer flooring every intermediate is exact, so ranks — the thing
    * PageRank is FOR — are engine-reproducible bit-for-bit. */
  val PrScale = 1000000L

  /** Fixed-iteration integer PageRank (damping 0.85 = 17/20) over a
    * directed edge list. Per iteration, each node sends
    * `score div outdeg` along its out-edges and lands at
    * `0.15·scale + (17·Σ incoming) div 20` — the classic update with
    * floor division replacing float math (Page et al., 1999; the
    * flooring loses < 1 unit per op, irrelevant to ranking). Dangling
    * nodes (outdeg 0) send nothing — their mass is dropped, the
    * standard simplification. Edges dedupe first (unweighted graph);
    * `iters` is unrolled into one declarative plan.
    *
    * One of the four entry points of the [[prSupersteps]] kernel: the
    * unweighted graph is distinct edges at unit weight, so
    * `(score·1) div outdeg` is the weighted share, and every node is a
    * seed, so the teleport is the global one.
    *
    * 100 TB shape: the edge table is localCheckpointed once and reused
    * by every superstep; each superstep is edge⋈state on src (both
    * sides hash-partitioned by node id — bucket the edge table to make
    * the join exchange-free) + one combinable sum groupBy on dst. Cost
    * is iters × O(|E|) with no driver involvement and no all-pairs
    * anywhere. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame =
    prSupersteps(unitEdges(edges, srcCol, dstCol), None, iters)
      .select(col("id"), col("out").as("outdeg"), col("score"))

  /** Distinct non-NULL directed (src, dst) pairs at unit weight `w = 1`,
    * checkpointed once for reuse by every superstep. */
  private def unitEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(false) // reused by every superstep
      .withColumn("w", lit(1L))

  /** Directed (src, dst, w) edges with parallel edges folded into their
    * weight sum; NULL and non-positive weights drop. */
  private def weightedEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint(false) // reused by every superstep

  /** Distinct non-NULL seed ids, flagged `__seed = 1`. */
  private def seedIds(seeds: DataFrame, seedCol: String): DataFrame =
    seeds.select(col(seedCol).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
      .withColumn("__seed", lit(1))

  /** A node's floored share of its score along one out-edge of weight
    * `w`: `(score·w) div out`, `out` its total out-weight. */
  private[graft] def prShare(score: String, out: String, w: String): Column =
    expr(s"($score * $w) div $out")

  /** One superstep's landing score: the teleport `seed·0.15·scale`
    * plus `(17·Σ incoming) div 20` — the damping rule, written once. */
  private[graft] def prLand(insum: String, seed: Column = lit(1)): Column =
    seed * lit(PrScale * 3 / 20) +
      expr(s"(17 * coalesce($insum, CAST(0 AS BIGINT))) div 20")

  /** The one integer PageRank superstep loop behind [[pageRank]],
    * [[pageRankWeighted]], [[personalizedPageRank]] and
    * [[personalizedPageRankWeighted]], over checkpointed (src, dst, w)
    * edges. Returns (id, out, seed, score): `out` is the node's
    * out-weight, `seed` its teleport flag — every node when `seeds` is
    * None, in which case the `score > 0` send filter is a no-op (every
    * score is at least `0.15·scale`).
    *
    * The (node, score) state is |V|-sized — catalog-scale next to the
    * edge table, and it must fit a broadcast: every superstep
    * BROADCASTS it, so the edge stream never shuffles for the join (one
    * combinable groupBy on dst per round is the only exchange). The
    * share is per-EDGE (`(score·w) div out`), so the state carries
    * (score, out) into the join. */
  private def prSupersteps(e: DataFrame, seeds: Option[DataFrame],
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"unrolled iters must be in [1,10], got $iters")
    // the node frame with out-weights in ONE union-aggregate pass (src
    // rows carry w, dst rows 0, so pure sinks sum to out 0) — the
    // separate distinct-nodes + outdeg-agg + left-join it replaces cost
    // an extra shuffle and an extra codegen shape per operator; only
    // the seed flag still joins
    val nodes = e.select(col("src").as("id"), col("w").as("__w"))
      .union(e.select(col("dst").as("id"), lit(0L).as("__w")))
      .groupBy("id").agg(sum("__w").as("out"))
    val base = seeds.fold(nodes.withColumn("seed", lit(1))) { s =>
      nodes.join(broadcast(s), Seq("id"), "left")
        .select(col("id"), col("out"), coalesce(col("__seed"), lit(0)).as("seed"))
    }.localCheckpoint(false) // reused as every superstep's node frame
    var state = base.withColumn("score", col("seed") * lit(PrScale))
    for (_ <- 1 to iters) {
      val insum = e.join(
        broadcast(state.filter(col("out") > 0 && col("score") > 0)
          .select(col("id").as("src"), col("score"), col("out"))),
        Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(prShare("score", "out", "w")).as("__insum"))
      // checkpoint each superstep: without it round i's broadcast
      // re-derives rounds 1..i-1 from scratch (O(iters²) work — the
      // Dedup.clusters per-hop lesson)
      state = base.join(broadcast(insum), Seq("id"), "left")
        .select(col("id"), col("out"), col("seed"),
          prLand("__insum", col("seed")).as("score"))
        .localCheckpoint(false)
    }
    state
  }

  /** Synchronous label propagation (Raghavan et al., 2007) for
    * community detection, `iters` rounds unrolled: every node starts as
    * its own label; each round it adopts the most frequent label among
    * its neighbors (ties → smallest label; isolated nodes keep their
    * label). Deterministic BY CONSTRUCTION — the classic async LPA is
    * run-order-dependent, the synchronous + total-order-tie-break form
    * is engine-reproducible, which is what makes it oracle-checkable.
    * The [[lpaRounds]] kernel over distinct symmetric edges at unit
    * weight, so the weight sum is the neighbor count.
    *
    * Scale shape per round: one edge⋈labels equi-join (labels are thin
    * (id, label) rows), one combinable (node, label) count, one
    * per-node argmax via min(struct(-n, label)) — a second combinable
    * aggregate, NO window sort. iters × O(|E|), the [[pageRank]]
    * superstep shape. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame = {
    val sym = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    lpaRounds(sym.select(col("u"), col("v"))
      .union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(false) // reused every round
      .withColumn("w", lit(1L)), iters)
  }

  /** The one synchronous label-propagation round loop behind
    * [[labelPropagation]] and [[labelPropagationWeighted]], over
    * checkpointed symmetric (u, v, w) edges: each node adopts the label
    * with the greatest incident weight sum, ties → smallest label. */
  private def lpaRounds(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"unrolled iters must be in [1,10], got $iters")
    // labels are |V|-sized and broadcast — they must fit a broadcast,
    // as [[pageRank]]'s state must
    val nodes = e.select(col("u").as("id")).distinct()
      .localCheckpoint(false)
    var labels = nodes.withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      val best = e.join(broadcast(labels.select(col("id").as("v"), col("label"))), Seq("v"))
        .groupBy(col("u").as("id"), col("label")).agg(sum("w").as("__n"))
        .groupBy("id")
        .agg(min(struct((-col("__n")).as("negn"), col("label").as("l"))).as("__b"))
        .select(col("id"), col("__b.l").as("label"))
      // per-round checkpoint — same O(iters²) re-derivation guard as
      // [[pageRank]]
      labels = nodes.join(broadcast(best), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Oracle twin of [[labelPropagation]]: identical rounds as chained
    * CTEs; the argmax is arg_min over the same (−n, label) pair. */
  def labelPropagationSql(edgesSql: String, iters: Int = 2): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__l$i AS (
         |  SELECT n.id, coalesce(b.label, n.id) AS label
         |  FROM __nodes n LEFT JOIN (
         |    SELECT id, (min(struct_pack(negn := -n, l := label))).l AS label FROM (
         |      SELECT e.u AS id, s.label, CAST(count(*) AS BIGINT) AS n
         |      FROM __e e JOIN __l${i - 1} s ON e.v = s.id
         |      GROUP BY e.u, s.label
         |    ) GROUP BY id) b ON n.id = b.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __sym AS (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __e AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM __sym UNION ALL SELECT v, u FROM __sym)
       |), __nodes AS (
       |  SELECT DISTINCT u AS id FROM __e
       |), __l0 AS (
       |  SELECT id, id AS label FROM __nodes
       |), $steps
       |SELECT id, label FROM __l$iters""".stripMargin
  }

  /** Exact triangle count over an undirected graph — the clustering
    * diagnostic (community density, spam-graph detection) — via the
    * degree-oriented wedge join (Suri & Vassilvitskii, WWW 2011; Schank
    * & Wagner 2005): orient every edge from its lower-(degree, id)
    * endpoint to the higher, so each triangle becomes exactly ONE
    * directed path a→b→c plus the closing edge a→c. Orientation by
    * DEGREE is the skew lever: wedge volume is Σ out-deg² and the
    * orientation caps out-degree at O(√m) regardless of hubs — an
    * id-oriented join would explode on a celebrity node.
    *
    * Scale shape: two equi-joins (wedge build, closure probe) over the
    * oriented edge table, O(m^1.5) wedge rows worst case, no all-pairs
    * and no iteration. Output is one row: (n_edges, n_wedges,
    * n_triangles) — exact BIGINTs. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the oriented edge table — |E| thin long pairs, which must fit a
    // broadcast — ships to both the wedge build and the closure probe, so
    // the wedge stream (the O(m^1.5) bulk) NEVER shuffles: the whole
    // census is one scan → flatmap → broadcast-semi → count.
    val u = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull && col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()
      .localCheckpoint(false) // reused: degrees + orientation + closure
    val deg = u.select(col("a").as("id")).union(u.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val o = u
      .join(broadcast(deg.select(col("id").as("a"), col("d").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("d").as("db"))), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
      .localCheckpoint(false) // both wedge sides + the closure probe
    val wedges = o.select(col("src").as("wa"), col("dst").as("wb"))
      .join(broadcast(o.select(col("src").as("wb"), col("dst").as("wc"))), Seq("wb"))
    // ONE pass over the wedge stream: the oriented edge set is distinct,
    // so the closure left-join matches at most once per wedge — wedge
    // and triangle counts come out of the same aggregate instead of
    // running the O(m^1.5) join twice
    val counted = wedges
      .join(broadcast(o.withColumn("__hit", lit(1L))),
        wedges("wa") === o("src") && wedges("wc") === o("dst"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        // outer coalesce: a wedge-free graph aggregates ZERO rows and a
        // bare sum would yield NULL
        coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("n_triangles"))
    u.agg(count(lit(1)).as("n_edges")).crossJoin(counted)
  }

  /** Newman modularity of a node partition (Newman & Girvan 2004) in
    * EXACT integers: Q = Σ_c [e_c/m − (K_c/2m)²] rewritten over the
    * common denominator 4m² — q_num = Σ_c (4m·e_c − K_c²),
    * q_den = 4m² — so the only float is one final division and the
    * score is engine-reproducible bit-for-bit. `labels` is any
    * (id, label) frame ([[labelPropagation]] output composes
    * directly); nodes missing a label keep their own id (singleton
    * community), matching LPA's isolated-node rule. Headroom:
    * 4m² < 2^63 holds to m ≈ 1.5·10⁹ undirected edges — past that,
    * scale m down before scoring (document the quantization), don't
    * switch to floats.
    *
    * Output: ONE row — (n_communities, m_edges, q_num, q_den,
    * modularity). Scale shape: the edge census is two broadcast label
    * joins + combinable per-label counts; m is a broadcast 1-row
    * scalar, never collected. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    val u = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull && col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()
      .localCheckpoint(false) // census + degrees
    val lab = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val nodes = u.select(col("a").as("id")).union(u.select(col("b").as("id")))
      .distinct()
      .join(broadcast(lab), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint(false)
    val m = u.agg(count(lit(1)).as("__m"))
    val intra = u
      .join(broadcast(nodes.select(col("id").as("a"), col("label").as("__la"))), Seq("a"))
      .join(broadcast(nodes.select(col("id").as("b"), col("label").as("__lb"))), Seq("b"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__ec"))
    val degSum = u.select(col("a").as("id")).union(u.select(col("b").as("id")))
      .join(broadcast(nodes), Seq("id"))
      .groupBy("label").agg(count(lit(1)).as("__kc"))
    degSum.join(broadcast(intra), Seq("label"), "left")
      .select(col("label"), coalesce(col("__ec"), lit(0L)).as("__ec"), col("__kc"))
      .crossJoin(broadcast(m)) // 1-row scalar
      .agg(count(lit(1)).as("n_communities"),
        first(col("__m")).as("m_edges"),
        sum(lit(4L) * col("__m") * col("__ec") - col("__kc") * col("__kc"))
          .as("q_num"),
        first(lit(4L) * col("__m") * col("__m")).as("q_den"))
      .withColumn("modularity",
        col("q_num").cast("double") / col("q_den").cast("double"))
  }

  /** Oracle twin of [[modularity]]. `labelsSql` must yield
    * (id, label). */
  def modularitySql(edgesSql: String, labelsSql: String): String =
    s"""WITH __u AS MATERIALIZED (
       |  SELECT DISTINCT least(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS a,
       |         greatest(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS b
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __lab AS MATERIALIZED (
       |  SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
       |  FROM ($labelsSql)
       |), __nodes AS MATERIALIZED (
       |  SELECT n.id, coalesce(l.label, n.id) AS label FROM (
       |    SELECT DISTINCT a AS id FROM __u UNION SELECT DISTINCT b FROM __u) n
       |  LEFT JOIN __lab l ON n.id = l.id
       |), __m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM __u),
       |__intra AS (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS ec
       |  FROM __u u JOIN __nodes la ON u.a = la.id JOIN __nodes lb ON u.b = lb.id
       |  WHERE la.label = lb.label GROUP BY la.label
       |), __kc AS (
       |  SELECT n.label, CAST(count(*) AS BIGINT) AS kc FROM (
       |    SELECT a AS id FROM __u UNION ALL SELECT b FROM __u) e
       |  JOIN __nodes n ON e.id = n.id GROUP BY n.label
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |       CAST(first(__m.m) AS BIGINT) AS m_edges,
       |       CAST(sum(4 * __m.m * coalesce(i.ec, 0) - k.kc * k.kc) AS BIGINT) AS q_num,
       |       CAST(first(4 * __m.m * __m.m) AS BIGINT) AS q_den,
       |       CAST(sum(4 * __m.m * coalesce(i.ec, 0) - k.kc * k.kc) AS DOUBLE)
       |         / CAST(first(4 * __m.m * __m.m) AS DOUBLE) AS modularity
       |FROM __kc k LEFT JOIN __intra i ON k.label = i.label CROSS JOIN __m""".stripMargin

  /** Per-edge triangle support over a CANONICAL (a<b, distinct)
    * undirected edge frame: enumerate triangles with the
    * [[triangleCount]] degree-oriented wedge+closure join, then credit
    * each triangle to its three edges — one combinable count per
    * canonical edge. Edges in no triangle are absent (join back with a
    * coalesce-0 where that matters). */
  private def edgeSupport(u: DataFrame): DataFrame = {
    val deg = u.select(col("a").as("id")).union(u.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val o = u
      .join(broadcast(deg.select(col("id").as("a"), col("d").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("d").as("db"))), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
      .localCheckpoint(false) // wedge sides + closure probe
    val tri = o.select(col("src").as("wa"), col("dst").as("wb"))
      .join(broadcast(o.select(col("src").as("wb"), col("dst").as("wc"))), Seq("wb"))
      .join(broadcast(o.select(col("src").as("wa"), col("dst").as("wc"))),
        Seq("wa", "wc"), "left_semi")
    tri.select(explode(array(
        struct(least(col("wa"), col("wb")).as("a"), greatest(col("wa"), col("wb")).as("b")),
        struct(least(col("wb"), col("wc")).as("a"), greatest(col("wb"), col("wc")).as("b")),
        struct(least(col("wa"), col("wc")).as("a"), greatest(col("wa"), col("wc")).as("b"))))
        .as("__e"))
      .groupBy(col("__e.a").as("a"), col("__e.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** k-truss via fixed-round synchronous peeling (Cohen 2008; the
    * [[kCore]] discipline one level up — cohesion measured in shared
    * TRIANGLES, not bare degree, so a k-truss is the standard
    * community-core extractor that k-core's hub-tolerance washes out):
    * each round recomputes per-edge triangle support over the CURRENT
    * edge set and deletes edges with support < k−2; `rounds` rounds are
    * unrolled (a fixed point for most graphs in 2–3 — more rounds peel
    * deeper cascades, same plan shape). Output: surviving canonical
    * edges with their support inside the surviving subgraph.
    *
    * Scale shape per round: one triangle enumeration (degree-oriented
    * wedge join + closure semi-join, O(m^1.5) worst case, hub-proof) +
    * one combinable per-edge count + one semi-join — no all-pairs, no
    * window sort; per-round localCheckpoint keeps the unrolled plan
    * linear. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 2): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1 && rounds <= 6, s"unrolled rounds must be in [1,6], got $rounds")
    // the edge set broadcasts as in [[triangleCount]] and must fit one
    var u = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull && col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val keep = edgeSupport(u).filter(col("support") >= k - 2)
      u = u.join(broadcast(keep.select("a", "b")), Seq("a", "b"), "left_semi")
        .localCheckpoint(false)
    }
    u.join(broadcast(edgeSupport(u)), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Oracle twin of [[kTruss]]: the identical rounds as chained CTEs —
    * same canonical set, same degree orientation, same triangle credit
    * to all three edges, same `support >= k-2` gate. */
  def kTrussSql(edgesSql: String, k: Int, rounds: Int = 2): String = {
    require(k >= 3 && rounds >= 1 && rounds <= 6)
    // per-round support over edge set __uN: CTEs __oN (orientation),
    // __tN (triangles), __sN (per-edge support)
    def supportCtes(n: Int): String =
      s"""__deg$n AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT a AS id FROM __u$n UNION ALL SELECT b FROM __u$n)
         |  GROUP BY id
         |), __o$n AS MATERIALIZED (
         |  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS src,
         |         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS dst
         |  FROM __u$n u JOIN __deg$n da ON u.a = da.id JOIN __deg$n db ON u.b = db.id
         |), __t$n AS MATERIALIZED (
         |  SELECT x.src AS wa, x.dst AS wb, y.dst AS wc
         |  FROM __o$n x JOIN __o$n y ON x.dst = y.src
         |  WHERE EXISTS (SELECT 1 FROM __o$n z WHERE z.src = x.src AND z.dst = y.dst)
         |), __s$n AS MATERIALIZED (
         |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT least(wa, wb) AS a, greatest(wa, wb) AS b FROM __t$n
         |    UNION ALL SELECT least(wb, wc), greatest(wb, wc) FROM __t$n
         |    UNION ALL SELECT least(wa, wc), greatest(wa, wc) FROM __t$n) e
         |  GROUP BY e.a, e.b
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""${supportCtes(r - 1)}, __u$r AS MATERIALIZED (
         |  SELECT u.a, u.b FROM __u${r - 1} u
         |  JOIN __s${r - 1} s ON u.a = s.a AND u.b = s.b AND s.support >= ${k - 2}
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __u0 AS MATERIALIZED (
       |  SELECT DISTINCT least(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS a,
       |         greatest(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS b
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), $roundCtes, ${supportCtes(rounds)}
       |SELECT u.a, u.b, coalesce(s.support, CAST(0 AS BIGINT)) AS support
       |FROM __u$rounds u LEFT JOIN __s$rounds s ON u.a = s.a AND u.b = s.b""".stripMargin
  }

  /** Oracle twin of [[triangleCount]]: same canonical undirected set,
    * same (degree, id) orientation, same wedge + closure equi-joins. */
  def triangleCountSql(edgesSql: String): String =
    s"""WITH __raw AS (
       |  SELECT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __u AS (
       |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM __raw
       |), __deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS dg FROM (
       |    SELECT a AS id FROM __u UNION ALL SELECT b FROM __u
       |  ) GROUP BY id
       |), __o AS (
       |  SELECT CASE WHEN (da.dg, u.a) < (db.dg, u.b) THEN u.a ELSE u.b END AS src,
       |         CASE WHEN (da.dg, u.a) < (db.dg, u.b) THEN u.b ELSE u.a END AS dst
       |  FROM __u u JOIN __deg da ON u.a = da.id JOIN __deg db ON u.b = db.id
       |), __w AS (
       |  SELECT x.src AS wa, x.dst AS wb, y.dst AS wc
       |  FROM __o x JOIN __o y ON x.dst = y.src
       |), __t AS (
       |  SELECT wa FROM __w w WHERE EXISTS (
       |    SELECT 1 FROM __o e WHERE e.src = w.wa AND e.dst = w.wc)
       |)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM __u) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM __w) AS n_wedges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM __t) AS n_triangles""".stripMargin

  /** k-core decomposition by synchronous peeling (Seidman, 1983;
    * Matula & Beck, 1983), `rounds` unrolled: every round simultaneously
    * removes all nodes whose degree in the surviving induced subgraph is
    * below k. With enough rounds the surviving set is exactly the k-core
    * — the maximal induced subgraph of minimum degree ≥ k, the standard
    * density screen (spam/bot subgraph mining, community cores,
    * visualization shells). Synchronous batch peeling is deterministic
    * and engine-reproducible, unlike the sequential min-degree peel, and
    * converges in ≤ the graph's degeneracy rounds; the caller pins
    * `rounds` and [[kCoreSql]] unrolls the identical CTE chain, so a
    * converged run is oracle-checkable (the spec asserts one more round
    * is a fixed point on the fixture).
    *
    * Output: (id, core_deg) for surviving nodes — core_deg recomputed on
    * the FINAL surviving set, so `min(core_deg) >= k` iff converged.
    *
    * 100 TB shape per round: the |V|-sized survivor set joins the edge
    * table twice (src gate, dst gate) — broadcast, so the survivor set
    * must fit a broadcast as [[pageRank]]'s state must — plus one
    * combinable count groupBy.
    * rounds × O(|E|), nothing pairwise, no driver loops. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"unrolled rounds must be in [1,10], got $rounds")
    require(k >= 1, s"k must be >= 1, got $k")
    val sym = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val e = sym.select(col("u"), col("v"))
      .union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(false) // reused by every peel round
    var alive = e.select(col("u").as("id")).distinct().localCheckpoint(false)
    for (_ <- 1 to rounds) {
      // degree within the induced subgraph: BOTH endpoints must survive
      alive = e
        .join(broadcast(alive.select(col("id").as("u"))), Seq("u"))
        .join(broadcast(alive.select(col("id").as("v"))), Seq("v"))
        .groupBy(col("u").as("id")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k)
        .select("id")
        .localCheckpoint(false) // same O(rounds²) re-derivation guard
    }
    e.join(broadcast(alive.select(col("id").as("u"))), Seq("u"))
      .join(broadcast(alive.select(col("id").as("v"))), Seq("v"))
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Oracle twin of [[kCore]]: identical synchronous peels as chained
    * CTEs — same canonical symmetric edge set, same both-endpoint gates,
    * same final-degree recompute. */
  def kCoreSql(edgesSql: String, k: Int, rounds: Int = 3): String = {
    require(rounds >= 1 && rounds <= 10)
    val steps = (1 to rounds).map { i =>
      s"""__v$i AS (
         |  SELECT e.u AS id FROM __e e
         |  JOIN __v${i - 1} a ON e.u = a.id
         |  JOIN __v${i - 1} b ON e.v = b.id
         |  GROUP BY e.u HAVING count(*) >= $k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __sym AS (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __e AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM __sym UNION ALL SELECT v, u FROM __sym)
       |), __v0 AS (
       |  SELECT DISTINCT u AS id FROM __e
       |), $steps
       |SELECT e.u AS id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM __e e
       |JOIN __v$rounds a ON e.u = a.id
       |JOIN __v$rounds b ON e.v = b.id
       |GROUP BY e.u""".stripMargin
  }

  /** Oracle twin of [[pageRank]]: the identical supersteps unrolled as
    * chained CTEs — same distinct edges, same floor divisions
    * (`//` = `div` on positives), same dangling handling. */
  def pageRankSql(edgesSql: String, iters: Int = 3): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__s$i AS (
         |  SELECT d.id, d.outdeg,
         |         CAST(${PrScale * 3 / 20} AS BIGINT) + (17 * coalesce(t.insum, CAST(0 AS BIGINT))) // 20 AS score
         |  FROM __d d LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(s.score // s.outdeg) AS BIGINT) AS insum
         |    FROM __e e JOIN __s${i - 1} s ON e.src = s.id AND s.outdeg > 0
         |    GROUP BY e.dst) t ON d.id = t.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __e AS (
       |  SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL
       |), __n AS (
       |  SELECT src AS id FROM __e UNION SELECT dst FROM __e
       |), __d AS (
       |  SELECT n.id, coalesce(o.c, CAST(0 AS BIGINT)) AS outdeg
       |  FROM __n n LEFT JOIN (
       |    SELECT src, CAST(count(*) AS BIGINT) AS c FROM __e GROUP BY src) o
       |  ON n.id = o.src
       |), __s0 AS (
       |  SELECT id, outdeg, CAST($PrScale AS BIGINT) AS score FROM __d
       |), $steps
       |SELECT id, outdeg, score FROM __s$iters""".stripMargin
  }

  /** PERSONALIZED PageRank: [[pageRank]] where the teleport mass lands
    * only on a SEED set — "rank relative to these nodes", the primitive
    * behind related-item panels, seed-expanded audiences and
    * topic-conditioned crawl frontiers. Each seed receives the same
    * fixed teleport `0.15·scale` per round that [[pageRank]] gives
    * every node; non-seeds receive 0. This is the UNNORMALIZED form:
    * dividing teleport by |seeds| (the textbook normalization) scales
    * every score by the same constant because the recursion is linear,
    * so ranks — the output that matters — are identical, and the
    * unnormalized form keeps the plan free of an eager |seeds| count.
    * State starts at `scale` on seeds / 0 elsewhere; dangling mass
    * drops as in [[pageRank]]. An all-nodes seed set reproduces
    * [[pageRank]] exactly: both run the [[prSupersteps]] kernel.
    *
    * Scale shape: identical to [[pageRank]] — seeds join the node frame
    * once (broadcast; a seed list is catalog-sized by definition), then
    * iters × (edge⋈state + one combinable sum). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iters: Int = 3): DataFrame =
    prSupersteps(unitEdges(edges, srcCol, dstCol),
      Some(seedIds(seeds, seedCol)), iters)
      .select(col("id"), col("out").as("outdeg"),
        col("seed").cast("int").as("is_seed"), col("score"))

  /** Oracle twin of [[personalizedPageRank]]: identical supersteps as
    * chained CTEs. `seedsSql` must yield one column `id`. */
  def personalizedPageRankSql(edgesSql: String, seedsSql: String,
      iters: Int = 3): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__s$i AS (
         |  SELECT d.id, d.outdeg, d.seed,
         |         d.seed * CAST(${PrScale * 3 / 20} AS BIGINT) + (17 * coalesce(t.insum, CAST(0 AS BIGINT))) // 20 AS score
         |  FROM __d d LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(s.score // s.outdeg) AS BIGINT) AS insum
         |    FROM __e e JOIN __s${i - 1} s ON e.src = s.id AND s.outdeg > 0 AND s.score > 0
         |    GROUP BY e.dst) t ON d.id = t.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __e AS (
       |  SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL
       |), __n AS (
       |  SELECT src AS id FROM __e UNION SELECT dst FROM __e
       |), __seeds AS (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS id FROM ($seedsSql)
       |  WHERE id IS NOT NULL
       |), __d AS (
       |  SELECT n.id, coalesce(o.c, CAST(0 AS BIGINT)) AS outdeg,
       |         CASE WHEN s.id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS seed
       |  FROM __n n
       |  LEFT JOIN (SELECT src, CAST(count(*) AS BIGINT) AS c FROM __e GROUP BY src) o
       |    ON n.id = o.src
       |  LEFT JOIN __seeds s ON n.id = s.id
       |), __s0 AS (
       |  SELECT id, outdeg, seed, seed * CAST($PrScale AS BIGINT) AS score FROM __d
       |), $steps
       |SELECT id, outdeg, CAST(seed AS INTEGER) AS is_seed, score FROM __s$iters""".stripMargin
  }

  /** Weighted PERSONALIZED PageRank — [[personalizedPageRank]]'s
    * seed-set teleport composed with [[pageRankWeighted]]'s
    * proportional flow: rank relative to the seeds where neighbor
    * strength (multiplicity, spend, interaction count) matters, not
    * just adjacency. Same unnormalized-teleport argument (linearity ⇒
    * rank-identical to the |seeds|-normalized form), same weight fold
    * and BIGINT `(score·w) div wsum` flooring, same headroom contract
    * (score·max(w) < 2^63). The [[prSupersteps]] kernel, so unit
    * weights on distinct edges reproduce [[personalizedPageRank]]. */
  def personalizedPageRankWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: DataFrame, seedCol: String,
      iters: Int = 3): DataFrame =
    prSupersteps(weightedEdges(edges, srcCol, dstCol, weightCol),
      Some(seedIds(seeds, seedCol)), iters)
      .select(col("id"), col("out").as("outw"),
        col("seed").cast("int").as("is_seed"), col("score"))

  /** Oracle twin of [[personalizedPageRankWeighted]]. `edgesSql` must
    * yield (src, dst, w); `seedsSql` one column `id`. */
  def personalizedPageRankWeightedSql(edgesSql: String, seedsSql: String,
      iters: Int = 3): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__s$i AS (
         |  SELECT d.id, d.outw, d.seed,
         |         d.seed * CAST(${PrScale * 3 / 20} AS BIGINT) + (17 * coalesce(t.insum, CAST(0 AS BIGINT))) // 20 AS score
         |  FROM __d d LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum((s.score * e.w) // s.outw) AS BIGINT) AS insum
         |    FROM __e e JOIN __s${i - 1} s ON e.src = s.id AND s.outw > 0 AND s.score > 0
         |    GROUP BY e.dst) t ON d.id = t.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __e AS (
       |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       |         CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS w
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND w > 0
       |  GROUP BY 1, 2
       |), __n AS (
       |  SELECT src AS id FROM __e UNION SELECT dst FROM __e
       |), __seeds AS (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS id FROM ($seedsSql)
       |  WHERE id IS NOT NULL
       |), __d AS (
       |  SELECT n.id, coalesce(o.c, CAST(0 AS BIGINT)) AS outw,
       |         CASE WHEN s.id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS seed
       |  FROM __n n
       |  LEFT JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS c FROM __e GROUP BY src) o
       |    ON n.id = o.src
       |  LEFT JOIN __seeds s ON n.id = s.id
       |), __s0 AS (
       |  SELECT id, outw, seed, seed * CAST($PrScale AS BIGINT) AS score FROM __d
       |), $steps
       |SELECT id, outw, CAST(seed AS INTEGER) AS is_seed, score FROM __s$iters""".stripMargin
  }

  /** WEIGHTED PageRank: [[pageRank]] with an integer edge-weight
    * column — each node distributes its score proportionally to edge
    * weight, `(score · w) div wsum` per out-edge, the first ask of a
    * user ranking co-purchase STRENGTH rather than presence. Parallel
    * edges fold into their weight sum (so a raw co-occurrence pair
    * list with w=1 ranks by multiplicity); rows with NULL or
    * non-positive weight are dropped; dangling = no positive
    * out-weight. All arithmetic stays exact BIGINT: the per-edge
    * product needs `score · max(w) < 2^63`, comfortable for micro-unit
    * scores (≤ ~10^6·|V|) and weights below ~10^6 — keep weights in
    * counts or micro-units, not raw cents of a 100 TB ledger.
    *
    * The [[prSupersteps]] kernel [[pageRank]] runs, so uniform weights
    * on distinct edges reproduce the unweighted scores; the weighted
    * edge table (one row per distinct pair after the fold) is
    * checkpointed once. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 3): DataFrame =
    prSupersteps(weightedEdges(edges, srcCol, dstCol, weightCol), None, iters)
      .select(col("id"), col("out").as("outw"), col("score"))

  /** Oracle twin of [[pageRankWeighted]]: identical supersteps as
    * chained CTEs — same weight fold, same `(score·w) // wsum`
    * flooring, same dangling handling. `edgesSql` must yield
    * (src, dst, w). */
  def pageRankWeightedSql(edgesSql: String, iters: Int = 3): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__s$i AS (
         |  SELECT d.id, d.outw,
         |         CAST(${PrScale * 3 / 20} AS BIGINT) + (17 * coalesce(t.insum, CAST(0 AS BIGINT))) // 20 AS score
         |  FROM __d d LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum((s.score * e.w) // s.outw) AS BIGINT) AS insum
         |    FROM __e e JOIN __s${i - 1} s ON e.src = s.id AND s.outw > 0
         |    GROUP BY e.dst) t ON d.id = t.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __e AS (
       |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       |         CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS w
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND w > 0
       |  GROUP BY 1, 2
       |), __n AS (
       |  SELECT src AS id FROM __e UNION SELECT dst FROM __e
       |), __d AS (
       |  SELECT n.id, coalesce(o.c, CAST(0 AS BIGINT)) AS outw
       |  FROM __n n LEFT JOIN (
       |    SELECT src, CAST(sum(w) AS BIGINT) AS c FROM __e GROUP BY src) o
       |  ON n.id = o.src
       |), __s0 AS (
       |  SELECT id, outw, CAST($PrScale AS BIGINT) AS score FROM __d
       |), $steps
       |SELECT id, outw, score FROM __s$iters""".stripMargin
  }

  /** WEIGHTED label propagation: [[labelPropagation]] where a node
    * adopts the label with the greatest incident WEIGHT sum (ties →
    * smallest label) — communities by interaction strength, not edge
    * presence. Edges symmetrize and parallel edges fold into their
    * weight sum; NULL/non-positive weights drop. The [[lpaRounds]]
    * kernel, so uniform weights reproduce the unweighted labels. */
  def labelPropagationWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iters: Int = 2): DataFrame = {
    val sym = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"),
      col(weightCol).cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v") && col("w") > 0)
    lpaRounds(sym.select(col("u"), col("v"), col("w"))
      .union(sym.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy("u", "v").agg(sum("w").as("w"))
      .localCheckpoint(false), iters)
  }

  /** Oracle twin of [[labelPropagationWeighted]]. `edgesSql` must
    * yield (src, dst, w). */
  def labelPropagationWeightedSql(edgesSql: String, iters: Int = 2): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__l$i AS (
         |  SELECT n.id, coalesce(b.label, n.id) AS label
         |  FROM __nodes n LEFT JOIN (
         |    SELECT id, (min(struct_pack(negn := -n, l := label))).l AS label FROM (
         |      SELECT e.u AS id, s.label, CAST(sum(e.w) AS BIGINT) AS n
         |      FROM __e e JOIN __l${i - 1} s ON e.v = s.id
         |      GROUP BY e.u, s.label
         |    ) GROUP BY id) b ON n.id = b.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __sym AS (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v,
       |         CAST(w AS BIGINT) AS w
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst AND w > 0
       |), __e AS (
       |  SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT u, v, w FROM __sym UNION ALL SELECT v, u, w FROM __sym)
       |  GROUP BY 1, 2
       |), __nodes AS (
       |  SELECT DISTINCT u AS id FROM __e
       |), __l0 AS (
       |  SELECT id, id AS label FROM __nodes
       |), $steps
       |SELECT id, label FROM __l$iters""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999), `iters` rounds
    * unrolled over a DIRECTED edge list, in integer micro-units with
    * max-normalization after each half-step: auth ← Σ hub over
    * in-edges, rescaled to [0, 10^6] by the max; hub ← Σ auth over
    * out-edges, same rescale. A float HITS sums doubles in engine
    * order; the integer form is bit-reproducible (flooring loses < 1
    * micro-unit per half-step, irrelevant to ranking). On a bipartite
    * graph — the canonical use, e.g. customers→parts — hubs live on
    * the left and authorities on the right; callers must offset ids so
    * the two sides never collide.
    *
    * Scale shape: each half-step is the [[pageRank]] superstep (edge ⋈
    * state equi-join + one combinable sum, state broadcast)
    * plus a SCALAR max cross-joined back — broadcast, never collected.
    * Overflow headroom: raw sums are ≤ 10^6·maxdeg and the rescale
    * multiplies by 10^6, so maxdeg must stay < ~9·10^6 — comfortably
    * true for any graph whose state fits a broadcast anyway. The bound
    * is ENFORCED (one combinable degree count over the checkpointed
    * edge list): a denser graph fails loudly here instead of silently
    * wrapping the rescale under non-ANSI arithmetic and corrupting the
    * hub/authority ranking. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 10, s"unrolled iters must be in [1,10], got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(false) // reused by every half-step
    // loud guard for the documented headroom: (in+out) degree bounds
    // both half-steps' fan-in, so max over the union is conservative.
    // Folded into the plan as an assert_true filter over a broadcast
    // 1-row degree aggregate — the check costs no SEPARATE driver-side
    // job (the first draft ran a full degree count + first() at every
    // construction) and fires before results can silently wrap BIGINT.
    // It still surfaces during construction when AQE materializes the
    // loop's localCheckpoint stages — inherent to the per-round
    // checkpoint discipline, not to this guard
    val degGuard = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .groupBy("id").count()
      .agg(coalesce(max("count"), lit(0L)).as("__maxdeg"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    var state = nodes.crossJoin(broadcast(degGuard))
      .filter(coalesce(
        assert_true(col("__maxdeg") < lit(9000000L),
          concat(lit("hits() integer rescale overflows BIGINT beyond max " +
            "degree ~9e6; this graph's max (in+out) degree is "),
            col("__maxdeg"))),
        lit(true)))
      .drop("__maxdeg")
      .withColumn("hub", lit(PrScale)).withColumn("auth", lit(PrScale))
    for (_ <- 1 to iters) {
      val araw = e.join(broadcast(state.select(col("id").as("src"), col("hub"))), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("__raw"))
      val authed = state.select("id", "hub")
        .join(broadcast(araw), Seq("id"), "left")
        .crossJoin(broadcast(araw.agg(max(col("__raw")).as("__m"))))
        .select(col("id"), col("hub"),
          expr("(coalesce(__raw, CAST(0 AS BIGINT)) * 1000000) div __m").as("auth"))
        .localCheckpoint(false) // per-half-step: the pageRank O(iters²) guard
      val hraw = e.join(broadcast(authed.select(col("id").as("dst"), col("auth"))), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("__raw"))
      state = authed.select("id", "auth")
        .join(broadcast(hraw), Seq("id"), "left")
        .crossJoin(broadcast(hraw.agg(max(col("__raw")).as("__m"))))
        .select(col("id"),
          expr("(coalesce(__raw, CAST(0 AS BIGINT)) * 1000000) div __m").as("hub"),
          col("auth"))
        .localCheckpoint(false)
    }
    state.select("id", "hub", "auth")
  }

  /** Oracle twin of [[hits]]: identical half-steps as chained CTEs with
    * scalar-max cross joins. */
  def hitsSql(edgesSql: String, iters: Int = 2): String = {
    require(iters >= 1 && iters <= 10)
    val steps = (1 to iters).map { i =>
      s"""__ar$i AS (
         |  SELECT e.dst AS id, CAST(sum(s.hub) AS BIGINT) AS raw
         |  FROM __e e JOIN __s${i - 1} s ON e.src = s.id GROUP BY e.dst
         |), __a$i AS (
         |  SELECT s.id, s.hub,
         |         (coalesce(ar.raw, CAST(0 AS BIGINT)) * 1000000) // m.m AS auth
         |  FROM __s${i - 1} s LEFT JOIN __ar$i ar ON s.id = ar.id
         |  CROSS JOIN (SELECT max(raw) AS m FROM __ar$i) m
         |), __hr$i AS (
         |  SELECT e.src AS id, CAST(sum(a.auth) AS BIGINT) AS raw
         |  FROM __e e JOIN __a$i a ON e.dst = a.id GROUP BY e.src
         |), __s$i AS (
         |  SELECT a.id,
         |         (coalesce(hr.raw, CAST(0 AS BIGINT)) * 1000000) // m.m AS hub,
         |         a.auth
         |  FROM __a$i a LEFT JOIN __hr$i hr ON a.id = hr.id
         |  CROSS JOIN (SELECT max(raw) AS m FROM __hr$i) m
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __e AS (
       |  SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL
       |), __n AS (
       |  SELECT src AS id FROM __e UNION SELECT dst FROM __e
       |), __s0 AS (
       |  SELECT id, CAST($PrScale AS BIGINT) AS hub, CAST($PrScale AS BIGINT) AS auth FROM __n
       |), $steps
       |SELECT id, hub, auth FROM __s$iters""".stripMargin
  }

  /** Multi-source BFS distances, `hops` supersteps unrolled over an
    * UNDIRECTED edge list: seeds start at 0; each round every reached
    * node relaxes its neighbors to dist+1 (min wins — pure integer,
    * trivially engine-exact). Returns every node's distance (NULL =
    * unreached within `hops`) — the reachability/radius probe the
    * other kernels don't answer.
    *
    * Scale shape per round: reached-frontier ⋈ edges on the node id +
    * one combinable min groupBy — the [[pageRank]] superstep; state is
    * (id, dist) and broadcast, so it must fit one. The join
    * deliberately sends the whole REACHED set, not just the new
    * frontier: a frontier delta would need an extra anti-join per
    * round, and min-combine makes re-relaxation free. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int = 3): DataFrame = {
    require(hops >= 1 && hops <= 10, s"unrolled hops must be in [1,10], got $hops")
    val sym = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val e = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(false) // reused every superstep
    val nodes = e.select(col("u").as("id")).distinct()
      .localCheckpoint(false)
    val seedIds = seeds.select(col(seeds.columns.head).cast("long").as("id")).distinct()
    var state = nodes.join(broadcast(seedIds.withColumn("__s", lit(0L))), Seq("id"), "left")
      .select(col("id"), col("__s").as("dist"))
      .localCheckpoint(false)
    for (_ <- 1 to hops) {
      val relaxed = e.join(
        broadcast(state.filter(col("dist").isNotNull)
          .select(col("id").as("u"), col("dist"))), Seq("u"))
        .groupBy(col("v").as("id")).agg(min(col("dist") + 1).as("__nd"))
      state = state.join(broadcast(relaxed), Seq("id"), "left")
        .select(col("id"),
          when(col("dist").isNull, col("__nd"))
            .when(col("__nd").isNull, col("dist"))
            .otherwise(least(col("dist"), col("__nd"))).as("dist"))
        .localCheckpoint(false) // the per-round re-derivation guard
    }
    state
  }

  /** Oracle twin of [[bfsHops]] — identical supersteps as chained CTEs. */
  def bfsHopsSql(edgesSql: String, seedsSql: String, hops: Int = 3): String = {
    require(hops >= 1 && hops <= 10)
    val steps = (1 to hops).map { i =>
      s"""__r$i AS (
         |  SELECT e.v AS id, CAST(min(s.dist + 1) AS BIGINT) AS nd
         |  FROM __e e JOIN __d${i - 1} s ON e.u = s.id
         |  WHERE s.dist IS NOT NULL GROUP BY e.v
         |), __d$i AS (
         |  SELECT d.id,
         |         CASE WHEN d.dist IS NULL THEN r.nd
         |              WHEN r.nd IS NULL THEN d.dist
         |              ELSE least(d.dist, r.nd) END AS dist
         |  FROM __d${i - 1} d LEFT JOIN __r$i r ON d.id = r.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH __raw AS (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __e AS (
       |  SELECT DISTINCT u, v FROM (SELECT u, v FROM __raw UNION ALL SELECT v, u FROM __raw)
       |), __n AS (
       |  SELECT DISTINCT u AS id FROM __e
       |), __sd AS (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS id FROM ($seedsSql)
       |), __d0 AS (
       |  SELECT n.id, CASE WHEN s.id IS NOT NULL THEN CAST(0 AS BIGINT) END AS dist
       |  FROM __n n LEFT JOIN __sd s ON n.id = s.id
       |), $steps
       |SELECT id, dist FROM __d$hops""".stripMargin
  }

  /** Common-neighbor link prediction: for every NON-edge vertex pair at
    * distance 2, the number of shared neighbors and the neighbor-set
    * jaccard (common / (deg_a + deg_b − common)) — the classic
    * Liben-Nowell & Kleinberg (CIKM 2003) candidates, integer counts +
    * one deterministic double division so the scores are cell-exact.
    * Adamic-Adar is deliberately NOT offered: its Σ 1/ln(deg) sums
    * floats in engine-dependent order.
    *
    * Scale shape: candidate volume is Σ_w deg(w)² over wedge CENTERS,
    * so `maxDeg` caps the per-center contribution — the same explicit
    * volume lever as d_jaccard's maxDf (hub centers contribute
    * near-zero signal per pair and quadratic cost; skipping them is
    * standard). Everything else is equi-joins on vertex ids + one
    * combinable groupBy; the existing-edge filter is a left-anti join,
    * and top-k is TakeOrdered, never a global sort.
    *
    * `minCommon` prunes the candidate table BETWEEN the wedge-count
    * aggregation and everything downstream (anti-join, degree joins,
    * top-k). Default 1 = exact. It exists because the candidate table,
    * not the wedge join, is the downstream volume: on the sf0.1
    * co-purchase graph 81% of the 60M candidates have common=1 while
    * the top-50's weakest pair shares 4 neighbors — a threshold of 2
    * drops 49M rows from three joins without touching the result
    * (parity pinned by `GraphOpsSpec`; the pinned query keeps the
    * oracle twin in lockstep so the gate would catch drift).
    *
    * `packIds` (default true) packs the canonical pair `(a, b)` into
    * ONE BIGINT `a·2³² + b` before the wedge shuffle — the hot stage:
    * the shuffle key halves (8 bytes vs 16) and the aggregation takes
    * Spark's single-long-key fast hash map; the anti-join runs on the
    * packed key too and the pair is unpacked only for the ≥minCommon
    * survivors. Requires ids in [0, 2³¹) — ENFORCED by a per-row
    * assert_true on the canonical edge set, so an out-of-domain graph
    * fails loudly with instructions to pass `packIds = false` (the
    * identical-result two-key path) instead of corrupting packs. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      maxDeg: Int = 256, k: Int = 50, minCommon: Int = 1,
      packIds: Boolean = true): DataFrame = {
    // the packed edge set and the degree table broadcast into the
    // anti-join and the endpoint joins instead of shuffling the candidate
    // stream — the EDGE LIST must fit a broadcast (thin 8-byte packed
    // keys; ~8 MB per million edges), as [[pageRank]]'s state must.
    val u0 = edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull && col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()
    // every id anywhere downstream (adjacency, wedges, anti-join) flows
    // through the canonical edge set, so one guard here covers them all
    val u = (if (packIds) u0.filter(coalesce(assert_true(
        col("a") >= 0L && col("b") < 2147483648L,
        concat(lit("linkPrediction packIds=true requires vertex ids in " +
          "[0, 2^31); found edge ("), col("a"), lit(", "), col("b"),
          lit(") — pass packIds = false for wide id domains"))), lit(true)))
      else u0)
      .localCheckpoint(false) // reused: adjacency (×2), degrees, anti-join
    val adj = u.select(col("a").as("v"), col("b").as("n"))
      .union(u.select(col("b").as("v"), col("a").as("n")))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("dg"))
      .localCheckpoint(false) // reused: center cap + both endpoint joins
    // materialized once: the wedge self-join otherwise rebuilds the
    // adj⋈deg SortMergeJoin for BOTH sides (~1.3 s of the sf0.1 cell)
    val small = adj.join(deg.filter(col("dg") <= maxDeg), Seq("v"))
      .select("v", "n").localCheckpoint(false)
    // r12 adjudication: three rewrites of this self-join were A/B'd and
    // every one measured SLOWER than the plain SMJ at sf0.1 (per-cell
    // min over 3 runs) — broadcast build side 5.8 s → 9.5 s (driver
    // hash-relation build of the ~1M-row adjacency serializes work the
    // shuffle did in parallel), pre-keyed repartition(v)+checkpoint
    // 5.8 s → 6.5 s (the extra shuffle job costs more than the two
    // removed exchanges of the thin adjacency), SHUFFLE_HASH hint
    // 5.8 s → 11.0 s (hash-map build over high-multiplicity wedge
    // centers loses to sort). The SMJ with two thin exchanges stands.
    val wedgePairs = small.as("x").join(small.as("y"),
      col("x.v") === col("y.v") && col("x.n") < col("y.n"))
    // The wedge stream's keys are near-unique (mean multiplicity ~1.2 on
    // the co-purchase graph: 73.7M wedges → 60M distinct pairs at sf0.1),
    // so a partial aggregate does full hash-map work for ~zero reduction
    // — and with millions of distinct keys per map task it overflows into
    // the sort-based fallback, which external-sorts the whole stream.
    // Pre-repartitioning on the pair key makes the groupBy's required
    // distribution already satisfied: ONE shuffle of thin raw keys, one
    // complete in-stage aggregation over a per-partition-sized map, no
    // 60M-key partial pass. Measured 2.1× on the isolated kernel (8.5 s →
    // 4.1 s at sf0.1). Partition count = the session's AQE
    // initialPartitionNum (the "large shuffle" fan-out knob, 8× cores in
    // GraftSession), NOT a literal: it scales with the cluster, and an
    // explicit count keeps AQE from coalescing the exchange down to
    // advisory-size (64 MB) partitions whose per-task maps would be
    // 5M+ keys (measured: the coalesced variant is 1.5-2× slower).
    val aggParts = edges.sparkSession.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(_.toInt)
      .getOrElse(edges.sparkSession.sessionState.conf.numShufflePartitions)
    val candidates = if (packIds) {
      val packed = wedgePairs
        .select((shiftleft(col("x.n"), 32) + col("y.n")).as("p"))
        .repartition(aggParts, col("p"))
        .groupBy("p").agg(count(lit(1)).as("common"))
        .filter(col("common") >= minCommon)
      packed
        .join(broadcast(u.select((shiftleft(col("a"), 32) + col("b")).as("p"))),
          Seq("p"), "left_anti")
        .select(shiftright(col("p"), 32).as("a"),
          col("p").bitwiseAND(lit(4294967295L)).as("b"), col("common"))
    } else {
      wedgePairs.select(col("x.n").as("a"), col("y.n").as("b"))
        .repartition(aggParts, col("a"), col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
        .filter(col("common") >= minCommon)
        .join(broadcast(u), Seq("a", "b"), "left_anti")
    }
    candidates
      .join(broadcast(deg.select(col("v").as("a"), col("dg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("v").as("b"), col("dg").as("db"))), Seq("b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("da") + col("db") - col("common")).cast("double"))
      .select("a", "b", "common", "da", "db", "jaccard")
      .orderBy(col("jaccard").desc, col("a"), col("b")).limit(k)
  }

  /** Oracle twin of [[linkPrediction]]: same canonical undirected set,
    * same maxDeg center cap, same minCommon candidate floor, same
    * anti-join and tie-broken top-k. */
  def linkPredictionSql(edgesSql: String, maxDeg: Int = 256, k: Int = 50,
      minCommon: Int = 1): String =
    s"""WITH __raw AS (
       |  SELECT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
       |  FROM ($edgesSql) WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __u AS (
       |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM __raw
       |), __adj AS (
       |  SELECT a AS v, b AS n FROM __u UNION ALL SELECT b, a FROM __u
       |), __deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS dg FROM __adj GROUP BY v
       |), __sm AS (
       |  SELECT adj.v, adj.n FROM __adj adj JOIN __deg dg ON adj.v = dg.v AND dg.dg <= $maxDeg
       |), __w AS (
       |  SELECT x.n AS a, y.n AS b FROM __sm x JOIN __sm y ON x.v = y.v AND x.n < y.n
       |), __c AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS common FROM __w GROUP BY a, b
       |  HAVING count(*) >= $minCommon
       |), __ne AS (
       |  SELECT c.a, c.b, c.common FROM __c c
       |  LEFT JOIN __u u ON u.a = c.a AND u.b = c.b WHERE u.a IS NULL
       |)
       |SELECT ne.a, ne.b, ne.common, da.dg AS da, db.dg AS db,
       |       CAST(ne.common AS DOUBLE) / CAST(da.dg + db.dg - ne.common AS DOUBLE) AS jaccard
       |FROM __ne ne JOIN __deg da ON da.v = ne.a JOIN __deg db ON db.v = ne.b
       |ORDER BY jaccard DESC, ne.a, ne.b LIMIT $k""".stripMargin

  /** DETERMINISTIC random walks over the symmetrized graph — the
    * positive-sample corpus for skip-gram node embeddings (DeepWalk,
    * Perozzi et al. 2014; node2vec with p=q=1). One walk per seed,
    * `steps` hops unrolled; hop i from node u goes to u's
    * `H(salt·walk·i) mod deg(u)`-th neighbor in neighbor-id order,
    * where H is the salted polynomial char-fold both engines compute
    * identically — so the "random" walk is a pure function of
    * (seed, step), reproducible across runs, engines and partitionings,
    * with no RNG state to checkpoint. A seed absent from the graph (or
    * isolated) terminates at step 0 — emitted, so corpus accounting
    * sees it.
    *
    * Scale shape: the neighbor index is built once — one row_number
    * window partitioned BY NODE (parallel, bounded by max degree, the
    * only sort anywhere) — then each hop is state⋈deg + state⋈index
    * equi-joins, with the walk state thin (seeds × 3 longs). Walk count
    * scales with seeds, not edges; at a billion nodes you seed the
    * subset you embed. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int = 4,
      salt: String = "walk:"): DataFrame = {
    require(steps >= 1 && steps <= 10, s"unrolled steps must be in [1,10], got $steps")
    import graft.text.TextOps.{CharMul, P}
    val sym = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val e = sym.union(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val idx = e.withColumn("__i",
        row_number().over(Window.partitionBy("u").orderBy("v")) - 1)
      .localCheckpoint(false) // reused by every hop
    val deg = idx.groupBy("u").agg(count(lit(1)).as("__dg"))
      .localCheckpoint(false)
    var state = seeds.select(col(seedCol).cast("long").as("walk"))
      .filter(col("walk").isNotNull).distinct()
      .withColumn("node", col("walk"))
    var acc = state.withColumn("step", lit(0))
    for (i <- 1 to steps) {
      val pick = graft.functions.NativeExprs.polyHash(
        concat(lit(salt), col("walk").cast("string"), lit(s":$i")), CharMul, P)
      // re-alias the shared index/degree frames each hop: the walk
      // state's `node` lineage traces back to `idx.v`, so un-aliased
      // re-joins would be ambiguous self-joins
      val hopDeg = deg.select(col("u").as("__du"), col("__dg").as("__ddg"))
      val hopIdx = idx.select(col("u").as("__iu"), col("__i").as("__ii"),
        col("v").as("__iv"))
      state = broadcast(state).join(hopDeg, col("node") === col("__du"))
        .select(col("walk"), col("node"), (pick % col("__ddg")).as("__pick"))
        .join(hopIdx, col("__iu") === col("node") && col("__ii") === col("__pick"))
        .select(col("walk"), col("__iv").as("node"))
      acc = acc.unionByName(state.withColumn("step", lit(i)))
    }
    acc.select(col("walk").as("walk_id"), col("step"), col("node"))
  }

  /** Oracle twin of [[randomWalks]]: the identical hops as chained
    * CTEs — same symmetrized index, same neighbor-id ordering, same
    * salted char-fold pick. `seedsSql` must yield one column `id`. */
  def randomWalksSql(edgesSql: String, seedsSql: String, steps: Int = 4,
      salt: String = "walk:"): String = {
    require(steps >= 1 && steps <= 10)
    def pick(i: Int) = graft.text.TextOps.tokenHashSql(
      s"'$salt' || CAST(s.walk AS VARCHAR) || ':$i'")
    val hops = (1 to steps).map { i =>
      s"""__w$i AS (
         |  SELECT s.walk, x.v AS node
         |  FROM __w${i - 1} s
         |  JOIN __deg d ON s.node = d.u
         |  JOIN __idx x ON x.u = s.node AND x.i = (${pick(i)}) % d.dg
         |)""".stripMargin
    }.mkString(", ")
    val emits = (0 to steps)
      .map(i => s"SELECT walk AS walk_id, $i AS step, node FROM __w$i")
      .mkString(" UNION ALL ")
    s"""WITH __sym AS (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
       |  FROM ($edgesSql)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |), __e AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM __sym UNION ALL SELECT v, u FROM __sym)
       |), __idx AS (
       |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS i
       |  FROM __e
       |), __deg AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS dg FROM __e GROUP BY u
       |), __w0 AS (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS walk, CAST(id AS BIGINT) AS node
       |  FROM ($seedsSql) WHERE id IS NOT NULL
       |), $hops
       |SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM ($emits)""".stripMargin
  }
}
