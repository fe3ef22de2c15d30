package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.{Relational, TimeSeries}
import graft.sim.Similarity
import graft.sketch.Sketches
import graft.text.TextOps

/** Degenerate-input hardening: every operator family fed NULL text,
  * empty strings, empty frames, and single-element groups. The
  * contract is "malformed rows degrade to empty/absent output" — one
  * bad row must never fail a 100 TB job (the same class of hazard as
  * the inverted-interval rangeJoin guard).
  */
class RobustnessSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val sess = spark
    import sess.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("text ops: NULL propagates (SQL semantics), empty text counts zero — never a failure") {
    val df = docs((1L, null), (2L, ""), (3L, "   "), (4L, "real tokens here"))
    // contract: NULL text → NULL metric (visible, filterable downstream);
    // empty/whitespace text → 0; and nothing throws
    val rows = df.select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(rows(1L) === None)
    assert(rows(2L) === Some(0) && rows(3L) === Some(0))
    assert(rows(4L) === Some(3))
    // langId and quality survive the same degenerate rows
    assert(df.select(TextOps.langId(col("text"))).count() === 4)
    assert(df.select(TextOps.qualityScore(col("text"))).count() === 4)
  }

  test("redact/chunk/importance: NULL and tokenless docs degrade, never fail") {
    val df = docs((1L, null), (2L, ""), (3L, "   "),
      (4L, "write a@b.io now"), (5L, "plain words only"))
    // redaction: NULL text → NULL counts and NULL clean (SQL semantics);
    // empty text passes through with zero counts
    val red = df.select(col("doc_id") +:
      TextOps.redactPii(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some((r.getInt(1), r.getString(4))))).toMap
    assert(red(1L) === None)
    assert(red(2L) === Some((0, "")))
    assert(red(4L) === Some((1, "write <EMAIL> now")))
    assert(red(5L) === Some((0, "plain words only")))
    // chunking and importance scoring: NULL/empty/whitespace docs emit no
    // rows; the real docs still come through
    val ch = TextOps.chunkTokens(df, "doc_id", "text", 4, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ch === Set(4L, 5L))
    val imp = TextOps.importanceScores(df, df.filter(col("doc_id") === 4L),
      "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(imp === Set(4L, 5L))
    // empty target corpus: every weight falls back to smoothing, no failure
    val noTgt = TextOps.importanceScores(df, df.filter(col("doc_id") < 0L),
      "doc_id", "text")
    assert(noTgt.count() === 2)
  }

  test("dedup ops: NULL/empty docs vanish from pair generation instead of failing") {
    val df = docs((1L, null), (2L, ""), (3L, "alpha beta gamma"), (4L, "alpha beta gamma"))
    val jac = Dedup.jaccardPairs(df, "doc_id", "text", Nil, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac === Set((3L, 4L)))
    val pref = Dedup.jaccardPairs(df, "doc_id", "text", Nil, 0.5, prefixFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref === Set((3L, 4L)))
    val sim = Dedup.simhashPairs(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim === Set((3L, 4L)))
    val lsh = Dedup.minhashLshCandidates(df, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === Set((3L, 4L)))
    // contamination: an eval set with no shingles emits no rows
    assert(Dedup.contamination(df, docs((9L, null), (10L, "")), "doc_id", "text", 2)
      .isEmpty)
  }

  test("clusters on an empty pair list label every node with itself (both engines)") {
    val sess = spark
    import sess.implicits._
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    for (f <- Seq(
        Dedup.clusters(nodes, noPairs, "doc_id"),
        Dedup.clustersStar(nodes, noPairs, "doc_id"))) {
      assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 1L), (2L, 2L), (3L, 3L)))
    }
  }

  test("time series: all-NULL series and single observations degrade to empty/zero grids") {
    val sess = spark
    import sess.implicits._
    def arch(rows: (Int, String, Option[Double])*) =
      rows.toSeq.toDF("attribute_id", "ts_s", "value")
        .select(col("attribute_id"), col("ts_s").cast("timestamp").as("timestamp"),
          col("value").cast("double"))
    // every value NULL → no observations → no grid rows, no failure
    assert(TimeSeries.resampleInterpolate(
      arch((1, "2024-01-01 00:00:00", None), (1, "2024-01-01 01:00:00", None)), 900L).isEmpty)
    assert(TimeSeries.resampleStep(
      arch((1, "2024-01-01 00:00:00", None)), 900L).isEmpty)
    // a single grid-aligned observation is its own 1-point grid
    val one = TimeSeries.resampleInterpolate(
      arch((1, "2024-01-01 01:00:00", Some(5.0))), 900L).collect()
    assert(one.length === 1 && one(0).getDouble(2) === 5.0)
  }

  test("as-of joins: empty right side yields all-NULL payloads, empty left yields nothing") {
    val sess = spark
    import sess.implicits._
    val left = Seq(("u1", 5L, 1)).toDF("k", "ts", "lid")
    val right = Seq.empty[(String, Long, Int)].toDF("k", "ts", "rid")
    for (f <- Seq(
        Relational.asofJoin(left, right, "k", "ts", Seq("rid"), Seq("rid")),
        Relational.asofJoinForward(left, right, "k", "ts", Seq("rid"), Seq("rid")))) {
      val out = f.collect()
      assert(out.length === 1 && out(0).isNullAt(3))
    }
    val noLeft = Seq.empty[(String, Long, Int)].toDF("k", "ts", "lid")
    val someRight = Seq(("u1", 5L, 100)).toDF("k", "ts", "rid")
    assert(Relational.asofJoin(noLeft, someRight, "k", "ts", Seq("rid"), Seq("rid")).isEmpty)
    assert(Relational.asofJoinForward(noLeft, someRight, "k", "ts", Seq("rid"), Seq("rid")).isEmpty)
  }

  test("similarity: empty corpus and empty query set are empty results, not errors") {
    val sess = spark
    import sess.implicits._
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    val someEmb = Seq((1L, Array.fill(4)(1.0f), 0), (2L, Array.fill(4)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.bruteForceTopK(someEmb, emptyEmb, 3, 4).isEmpty)
    assert(Similarity.bruteForceTopK(emptyEmb, someEmb, 3, 4).isEmpty)
    assert(Similarity.labelCentroidCosines(
      Similarity.labelCentroids(emptyEmb, 4), 4).isEmpty)
  }

  test("semDedup: empty corpus is empty output; all-singleton corpus keeps everything") {
    val sess = spark
    import sess.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(empty, 4, nCentroids = 2).isEmpty)
    // orthogonal vectors: no pair clears any positive threshold
    val ortho = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(ortho, 4, nCentroids = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet === Set((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
  }

  test("ivfPq / semDedupAuto: empty and tiny corpora degrade, never fail") {
    val sess = spark
    import sess.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val tiny = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    // empty corpus: empty result regardless of index parameters
    assert(Similarity.ivfPqTopK(empty, empty, 3, 8, m = 2, ksub = 2).isEmpty)
    // tiny corpus smaller than ksub: ragged codebooks, still ranked output
    val out = Similarity.ivfPqTopK(tiny, tiny.filter(col("vec_id") === 1L),
      1, 8, nCentroids = 2, nProbe = 2, m = 2, ksub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 2L))) // the only other vector, rank 1
    // auto-k on an empty corpus: count 0 -> k clamps to 1, empty output
    assert(Similarity.semDedupAuto(empty, 8, targetBucket = 4).isEmpty)
    // sampled training where the sample would be empty (no id = 0 mod
    // 1000 among ids 1,2) falls back to full-corpus training — a config
    // footgun must not silently index nothing
    val sampled = Similarity.pqTopK(tiny, tiny.filter(col("vec_id") === 1L),
      1, 8, m = 2, ksub = 2, trainMod = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sampled.toSeq === Seq((1L, 2L)))
  }

  test("nbClassify: NULL/empty text and all-OOV docs drop, never fail") {
    val sess = spark
    import sess.implicits._
    // ids 0..99: even→class A with real text, odd→class B; plus NULL and
    // empty docs in the test split region — they carry no tokens, so
    // they must silently emit no prediction
    val base = (0L until 100L).map { id =>
      (id, if (id % 2 == 0) "alpha beta" else "delta zeta",
        if (id % 2 == 0) "A" else "B")
    }
    val withJunk = base ++ Seq((200L, null: String, "A"), (201L, "", "B"), (202L, "   ", "A"))
    val out = TextOps.nbClassify(withJunk.toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang")
    // nothing throws, and the junk docs never appear in the accounting
    val total = out.agg(sum("n_docs")).head().getLong(0)
    val nTest = base.toDF("doc_id", "text", "lang")
      .withColumn("s", TextOps.hashSplit(col("doc_id")))
      .filter(col("s") === "test").count()
    assert(total === nTest)
  }

  test("histogram quantiles: empty input yields no rows; single value estimates itself") {
    val sess = spark
    import sess.implicits._
    import graft.sketch.Sketches
    assert(Sketches.histogramQuantiles(
      Seq.empty[Double].toDF("v"), "v", 16, Seq(0.5)).isEmpty)
    val one = Sketches.histogramQuantiles(Seq(7.5).toDF("v"), "v", 16, Seq(0.0, 0.5, 1.0))
      .collect()
    assert(one.length === 3 && one.forall(_.getDouble(1) === 7.5))
  }

  test("histogram quantiles ignore NULL values (global and grouped forms)") {
    val sess = spark
    import sess.implicits._
    import graft.sketch.Sketches
    // NULLs must not form a phantom bin that the cumulative walk counts
    // ahead of real bins while n = count(v) excludes them
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val withNulls = (vals.map(Option(_)) ++ Seq.fill(7)(Option.empty[Double])).toDF("v")
    val clean = vals.toDF("v")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = Sketches.histogramQuantiles(withNulls, "v", 8, qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val want = Sketches.histogramQuantiles(clean, "v", 8, qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got === want)
    // grouped: the null-bearing group matches its clean twin; an
    // all-NULL group contributes no rows (count(v) = 0, no bins)
    val grouped = (vals.map(v => ("a", Option(v))) ++
      Seq(("a", Option.empty[Double]), ("b", Option.empty[Double]))).toDF("g", "v")
    val byG = Sketches.histogramQuantiles(grouped, "v", 8, qs, Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(byG.keys.forall(_._1 == "a"))
    assert(byG.map { case ((_, q), e) => q -> e } === want)
  }

  test("temperatureSample invariants over random group shapes") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(31)
    (0 until 3).foreach { trial =>
      val groups = (0 until 2 + rnd.nextInt(4)).map(g => s"g$g" -> (1 + rnd.nextInt(200)))
      val rows = groups.flatMap { case (g, n) =>
        (0 until n).map(i => (rnd.nextLong().abs % 1000000L + i * 1000000L, g))
      }
      val df = rows.toDF("doc_id", "lang")
      val budget = 1L + rnd.nextInt(2 * rows.size)
      val out = TextOps.temperatureSample(df, "doc_id", "lang", budget)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      // never more than one output row per doc; copies >= 1
      assert(out.map(_._1).distinct.length === out.length)
      assert(out.forall(_._3 >= 1))
      // per-group realized copies never exceed ceil-ish of its k budget:
      // sum(n_copies) <= ceil(k/n)*kept <= k + n (base+1 cap per doc)
      val byG = out.groupBy(_._2)
      groups.foreach { case (g, n) =>
        val copies = byG.get(g).map(_.map(_._3.toLong).sum).getOrElse(0L)
        // the group can never emit more than (k div n + 1) * n = k + n - k mod n copies
        assert(copies <= budget + n,
          s"trial $trial group $g emitted $copies copies for budget $budget, n=$n")
      }
      // total concentrates on the budget (loose 3-sigma-ish band for tiny n)
      val total = out.map(_._3.toLong).sum
      assert(total <= budget + rows.size, s"total $total far above budget $budget")
    }
  }

  test("sq8TopK on an all-zero corpus degrades to zero scores, never NaN codes") {
    val sess = spark
    import sess.implicits._
    val zeros = (0L until 6L).map(i => (i, Array.fill(4)(0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(zeros, zeros.filter(col("vec_id") < 2), 3, 4)
      .collect()
    assert(out.length === 6) // 2 queries × k=3
    assert(out.forall(_.getLong(2) === 0L)) // all-zero codes → zero dots
    // ties break by neighbor id, so ranks are still contiguous
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === (1 to 3))
    }
  }

  test("spanCorrupt and fimTransform round-trip over random corpora (punct, digits, repeats)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(71)
    // tokens deliberately include punctuation-only, single-char, digit,
    // and repeated tokens — anything the fixture's clean vocab avoids
    val alphabet = Vector("a", "zz", "7", "!!", "x.y", "<tok>", "-", "Q")
    val rows = (0L until 60L).map { i =>
      val n = rnd.nextInt(12) // includes 0-token docs
      (i, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val orig = rows.toMap

    // spanCorrupt: splice targets back into inputs → original tokens
    TextOps.spanCorrupt(df, "doc_id", "text").collect().foreach { r =>
      val (id, inputs, targets) = (r.getLong(0), r.getString(1), r.getString(2))
      val origToks = orig(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      val inToks = if (inputs.isEmpty) Seq.empty else inputs.split(" ").toSeq
      val tgToks = if (targets.isEmpty) Seq.empty else targets.split(" ").toSeq
      val spans = {
        var acc = List.empty[List[String]]
        tgToks.foreach {
          case "<X>" => acc = List.empty[String] :: acc
          case t     => acc = (acc.head :+ t) :: acc.tail
        }
        acc.reverse
      }
      var si = 0
      val rebuilt = inToks.flatMap {
        case "<X>" => val sp = spans(si); si += 1; sp
        case t     => Seq(t)
      }
      assert(rebuilt === origToks, s"doc $id span round-trip")
    }

    // FIM: the three segments reassemble the original
    TextOps.fimTransform(df, "doc_id", "text").collect().foreach { r =>
      val (id, psm) = (r.getLong(0), r.getString(1))
      val origToks = orig(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      val toks = psm.split(" ").toSeq
      val iSuf = toks.indexOf("<SUF>"); val iMid = toks.indexOf("<MID>")
      val pre = toks.slice(1, iSuf)
      val suf = toks.slice(iSuf + 1, iMid)
      val mid = toks.drop(iMid + 1)
      assert(pre ++ mid ++ suf === origToks, s"doc $id FIM round-trip")
    }
  }

  test("vocabDrift is always in [0,1] (or NULL) over random corpora") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(47)
    val vocab = Vector("a", "b", "c", "dd", "ee", "fff")
    val rows = (0 until 120).map { i =>
      val text = Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, s"s${rnd.nextInt(3)}", text)
    }
    val out = TextOps.vocabDrift(rows.toDF("doc_id", "source", "text"),
      "source", "text", col("doc_id") % 2 === 0).collect()
    out.foreach { r =>
      if (!r.isNullAt(4)) {
        val tvd = r.getDouble(4)
        assert(tvd >= 0.0 && tvd <= 1.0, s"tvd $tvd out of range")
      }
      // totals are consistent: vocab <= n_ref + n_cur
      assert(r.getLong(3) <= r.getLong(1) + r.getLong(2))
    }
  }

  test("readability: NULL text yields NULL metrics; empty text survives with zero words") {
    val df = docs((1L, null), (2L, ""), (3L, "one"))
    val out = TextOps.readability(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 3) // nothing dropped, nothing thrown
    // NULL text: tokens(NULL) is NULL → every derived metric NULL
    assert(out(1L).isNullAt(5) && out(1L).isNullAt(6) && out(1L).isNullAt(7))
    // empty text: 0 words → NULL milli scores (guarded div), no throw
    assert(out(2L).getLong(1) === 0L && out(2L).isNullAt(6))
    assert(out(3L).getLong(1) === 1L && !out(3L).isNullAt(6))
  }

  test("linkPrediction: empty and edgeless graphs yield empty candidate sets") {
    val sess = spark
    import sess.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.graph.GraphOps.linkPrediction(empty, "src", "dst").isEmpty)
    // self-loops and NULLs are dropped, a single clean edge has no
    // distance-2 pairs → still empty, never a failure
    val weird = Seq((1L, 1L), (2L, 3L)).toDF("src", "dst")
    assert(graft.graph.GraphOps.linkPrediction(weird, "src", "dst").isEmpty)
  }

  test("hits/bfs: empty edge lists and unreachable seeds degrade, never fail") {
    val sess = spark
    import sess.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.graph.GraphOps.hits(empty, "src", "dst", iters = 1).isEmpty)
    val e = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(99L).toDF("id") // not in the graph
    val dists = graft.graph.GraphOps.bfsHops(e, "src", "dst", seeds, hops = 2)
      .collect()
    assert(dists.length === 4 && dists.forall(_.isNullAt(1)),
      "unreachable graph should be all-NULL distances")
  }

  test("hits: a graph past the integer-rescale degree headroom fails loudly") {
    // 9,000,001 in-edges on one node: past the documented ~9e6 bound the
    // rescale would wrap BIGINT under non-ANSI arithmetic and silently
    // corrupt rankings — the guard must reject it instead. The guard is
    // an assert_true folded into the PLAN (the advisor's lazy form): it
    // costs no separate driver-side degree job; it surfaces wherever
    // the plan's stages first materialize (AQE materializes the loop's
    // localCheckpoint stages during construction), always carrying the
    // diagnostic bound
    val star = spark.range(1L, 9000002L)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val ex = intercept[Exception] {
      graft.graph.GraphOps.hits(star, "src", "dst", iters = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("max (in+out) degree")),
      s"overflow guard message lost: ${msgs(ex).mkString(" | ")}")
  }

  test("round-7 operators: degenerate inputs degrade to empty/null, never fail") {
    val sess = spark
    import sess.implicits._
    // phrase search: empty corpus; docs shorter than the phrase
    val short = Seq((1L, "a"), (2L, "")).toDF("doc_id", "text")
    assert(graft.text.TextOps.phraseSearch(short, "doc_id", "text",
      Seq("a b c")).isEmpty)
    assert(graft.text.TextOps.phraseSearch(
      short.limit(0), "doc_id", "text", Seq("a b")).isEmpty)
    // PPS: n far above total weight clamps the stride to 1 — every doc
    // is hit exactly weight times, nothing divides by zero
    val tiny = Seq((1L, "w w"), (2L, "w")).toDF("doc_id", "text")
    val pps = graft.text.TextOps.ppsSample(tiny, "doc_id", "text", n = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pps === Map(1L -> 2L, 2L -> 1L))
    // PCA: a constant corpus centers to zero — components come back
    // NULL (nullif rescale), dim rows, no failure
    val const = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pca = graft.sim.Similarity.pcaTopComponent(const, dim = 2, iters = 2)
      .collect()
    assert(pca.length === 2 && pca.forall(_.isNullAt(1)))
    // interval overlap: an empty side matches nothing
    val iv = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1))
      .toDF("k", "l_start", "l_end", "lid")
    val emptyIv = iv.limit(0).select(col("k"), col("l_start").as("r_start"),
      col("l_end").as("r_end"), col("lid").as("rid"))
    assert(graft.ops.Relational.intervalOverlapJoin(iv, emptyIv, "k",
      "l_start", "l_end", "r_start", "r_end", 3600L).isEmpty)
    // snapshot diff: identical snapshots emit nothing; NULL→value is an
    // update, not noise
    val s1 = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("k", "v")
    assert(graft.ops.Relational.snapshotDiff(s1, s1, Seq("k"), Seq("v")).isEmpty)
    val s2 = Seq((1L, "x"), (2L, "now")).toDF("k", "v")
    val d2 = graft.ops.Relational.snapshotDiff(s1, s2, Seq("k"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d2.toSeq === Seq((2L, "update")))
    // ER blocking: all-NULL block keys pair nothing
    val nul = Seq((1L, "a", null.asInstanceOf[String]),
      (2L, "a", null.asInstanceOf[String])).toDF("id", "name", "blk")
    assert(graft.er.EntityResolution.candidatePairs(nul, "id", Seq("blk")).isEmpty)
    // RRF: fusing empty rankings is empty
    val er = Seq.empty[(Long, Long, Int)].toDF("query_id", "neighbor_id", "rank")
    assert(graft.sim.Similarity.rrfFuse(Seq(er, er), k = 5).isEmpty)
  }

  test("KMV: empty corpus and tokenless groups produce no sketch rows, never fail") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, "g1", ""), (2L, "g1", null.asInstanceOf[String]))
      .toDF("doc_id", "g", "text")
    assert(Sketches.kmvSketch(df, "g", "text", 2, 8).isEmpty)
    assert(Sketches.kmvDistinctEval(df, "g", "text", 2, 8).isEmpty)
  }

  test("scd2: single-snapshot input is one open interval per key") {
    val sess = spark
    import sess.implicits._
    val snap = Seq((1L, "A", 1), (2L, "B", 1)).toDF("k", "v", "ver")
    val out = Relational.scd2(snap, "k", "v", "ver").collect()
    assert(out.length === 2)
    assert(out.forall(r => r.isNullAt(3) && r.getBoolean(4)),
      "every single-snapshot row must be the current open interval")
  }

  test("attribution kernel: purchases with no clicks at all land on 'none'") {
    val sess = spark
    import sess.implicits._
    val p = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L, 5.0))
      .toDF("user_id", "ts", "event_id", "value")
    val c = Seq.empty[(Long, java.sql.Timestamp, Long, Int)]
      .toDF("user_id", "ts", "event_id", "k")
    val out = graft.streaming.StreamingAttribution.attribute(p, c, 86400000000L)
      .collect()
    assert(out.length === 1 && out.head.getString(4) === "none")
  }
}
