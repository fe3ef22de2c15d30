package graft

import org.apache.spark.sql.functions._

import graft.er.EntityResolution

/** Entity resolution: blocking must generate exactly the
  * same-block pairs (and nothing across blocks or through NULLs),
  * matching must equal the brute-force pairwise scorer within a block,
  * the block cap must drop oversized blocks only, and components must
  * collapse transitive matches to the min-id entity. */
class EntityResolutionSpec extends SparkSpec {

  private def recs = {
    val sess = spark
    import sess.implicits._
    Seq(
      // one block: three near-identical names + one far name
      (1L, "acme corp", "b1", "t1"),
      (2L, "acme corp.", "b1", "t1"),   // dist 1 to #1
      (3L, "acme company", "b1", "t1"), // dist 4 to #1, 4 to #2, transitive via none
      (4L, "zzz unrelated", "b1", "t1"),
      // different block, name identical to #1: must NOT pair across blocks
      (5L, "acme corp", "b2", "t1"),
      (6L, "acme korp", "b2", "t1"),    // dist 1 to #5
      // NULL block column: never a candidate
      (7L, "acme corp", null.asInstanceOf[String], "t1")
    ).toDF("id", "name", "blk", "typ")
  }

  test("candidate pairs: same-block only, emitted once, NULL keys never pair") {
    val pairs = EntityResolution.candidatePairs(recs, "id", Seq("blk", "typ"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L)))
  }

  test("matchPairs equals the brute-force in-block scorer; integer sim") {
    val got = EntityResolution.matchPairs(recs, "id", "name",
      Seq("blk", "typ"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4), r.getLong(5)))
      .toSet
    // brute force over the same blocks
    val rows = recs.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.getString(2)), r.getString(3)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._3.isDefined && a._3 == b._3 && a._4 == b._4
      dist = lev(a._2, b._2) if dist <= 2
    } yield (a._1, b._1, dist,
      100L - (100L * dist) / math.max(a._2.length, b._2.length))).toSet
    assert(got === want)
    // the crafted expectation, spelled out: 1≈2 and 5≈6 match, 3 does not
    assert(got.map(t => (t._1, t._2)) === Set((1L, 2L), (5L, 6L)))
  }

  test("fsScore: comparison levels, null evidence, thresholds, block cap") {
    val sess = spark
    import sess.implicits._
    val fields = Seq(
      EntityResolution.FsField("name", agreeW = 4000L, disagreeW = -3000L,
        fuzzyDist = 2, fuzzyW = 2500L),
      EntityResolution.FsField("size", agreeW = 1000L, disagreeW = -500L))
    val rows = Seq(
      (1L, "acme corp", Some(5), "b1"),
      (2L, "acme corp", Some(5), "b1"),   // agree+agree = 5000
      (3L, "acme corp.", Some(5), "b1"),  // fuzzy(1)+agree = 3500 vs 1/2
      (4L, "unrelated co", Some(5), "b1"),// disagree+agree = -2000: gated out
      (5L, "acme corp", None, "b1")       // agree+NULL = 4000 vs 1/2
    ).toDF("id", "name", "size", "blk")
    val got = EntityResolution.fsScore(rows, "id", fields, Seq("blk"),
        minScore = 0L, matchScore = 5000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      (1L, 2L) -> ((5000L, "match")),
      (1L, 3L) -> ((3500L, "possible")),
      (2L, 3L) -> ((3500L, "possible")),
      (1L, 5L) -> ((4000L, "possible")),
      (2L, 5L) -> ((4000L, "possible")),
      (3L, 5L) -> ((2500L, "possible"))),
      s"level weights or gating drifted: $got")
    // the block cap composes: cap below the block size → no pairs at all
    assert(EntityResolution.fsScore(rows, "id", fields, Seq("blk"),
      minScore = 0L, matchScore = 5000L, maxBlock = Some(2)).isEmpty)
  }

  test("maxBlock drops oversized blocks, leaves the rest untouched") {
    // block (b1,t1) has 4 records, (b2,t1) has 2
    val capped = EntityResolution.candidatePairs(recs, "id",
      Seq("blk", "typ"), maxBlock = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((5L, 6L)))
  }

  test("entities: transitive matches collapse to the min id; singletons stand alone") {
    val sess = spark
    import sess.implicits._
    // chain 1-2, 2-3 (via a generous maxDist) must merge all three
    val chain = Seq(
      (1L, "aaaa", "b", "t"), (2L, "aaab", "b", "t"), (3L, "aabb", "b", "t"),
      (9L, "zzzz", "b", "t"))
      .toDF("id", "name", "blk", "typ")
    val ents = EntityResolution.entities(chain, "id",
      EntityResolution.matchPairs(chain, "id", "name", Seq("blk", "typ"), 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2 dist 1, 2-3 dist 1, 1-3 dist 2 (> maxDist) — transitivity closes it
    assert(ents === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("goldenRecords: mode name with (count DESC, name ASC) tie-break, MAX survivorship") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(
      // entity {1,2,3}: "acme corp" appears twice → mode wins over "acme korp"
      (1L, "acme corp", "b", "t", 10, 100L),
      (2L, "acme corp", "b", "t", 30, 50L),
      (3L, "acme korp", "b", "t", 20, 900L),
      // entity {5,6}: counts tie 1-1 → lexically smaller "beta co" wins
      (5L, "beta co", "b2", "t", 7, 70L),
      (6L, "beta cp", "b2", "t", 9, 60L),
      // singleton: its own values survive untouched
      (9L, "zzz solo", "b3", "t", 1, 11L))
      .toDF("id", "name", "blk", "typ", "sz", "cents")
    val ents = EntityResolution.entities(rows, "id",
      EntityResolution.matchPairs(rows, "id", "name", Seq("blk", "typ"), 2))
    val golden = EntityResolution.goldenRecords(
      rows.select("id", "name", "sz", "cents"), "id", ents,
      "name", Seq("sz", "cents"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getInt(3), r.getLong(4)))).toMap
    assert(golden === Map(
      1L -> ((3L, "acme corp", 30, 900L)),
      5L -> ((2L, "beta co", 9, 70L)),
      9L -> ((1L, "zzz solo", 1, 11L))))
    // NULL names are missing data, never mode candidates — even when
    // the NULL group would win on count; an all-NULL entity keeps a
    // NULL canonical_name instead of vanishing
    val withNulls = Seq(
      (1L, null.asInstanceOf[String], 1, 1L), (2L, null.asInstanceOf[String], 2, 2L),
      (3L, "real name", 3, 3L),
      (9L, null.asInstanceOf[String], 9, 9L))
      .toDF("id", "name", "sz", "cents")
    val ents2 = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)).toDF("id", "entity")
    val g2 = EntityResolution.goldenRecords(withNulls, "id", ents2,
      "name", Seq("sz"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), r.getInt(3)))).toMap
    assert(g2 === Map(
      1L -> ((3L, Some("real name"), 3)),
      9L -> ((1L, None, 9))))
    // the mode rank must plan as WindowGroupLimit (only the leading
    // candidate crosses the final shuffle)
    val plan = EntityResolution.goldenRecords(
      rows.select("id", "name", "sz", "cents"), "id", ents,
      "name", Seq("sz")).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"mode rank not group-limited:\n$plan")
  }

  test("incremental ER: crafted bridge merges entities through the merge log") {
    val sess = spark
    import sess.implicits._
    import graft.streaming.StreamingEr
    val dir = java.nio.file.Files.createTempDirectory("graft_er_inc").toString
    def step(rows: Seq[(Long, String)], i: Long) =
      StreamingEr.batchStep(spark, s"$dir/reg", s"$dir/merge",
        "id", "name", Seq("blk"), maxDist = 1)(
        rows.map { case (id, nm) => (id, nm, "b") }.toDF("id", "name", "blk"), i)
    // batch 0: two separate entities in one block
    step(Seq((10L, "aaaa"), (20L, "aabb")), 0L)
    // batch 1: 15 matches BOTH (dist 1 each) — bridges 10 and 20
    step(Seq((15L, "aaab")), 1L)
    // batch 2: 5 matches record 20 (whose arrival label 20 was already
    // merged into 10) — the merge log must chain, not overwrite
    step(Seq((5L, "abbb")), 2L)
    val resolved = StreamingEr.resolveEntities(spark, s"$dir/reg",
      s"$dir/merge", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === Map(5L -> 5L, 10L -> 5L, 15L -> 5L, 20L -> 5L))
    val merges = StreamingEr.readMerges(spark, s"$dir/merge")
      .select("entity", "into").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merges === Set((20L, 10L), (20L, 5L)))
  }

  test("goldenRecords composes with the streaming registry: golden from live state = batch golden") {
    val sess = spark
    import sess.implicits._
    import graft.streaming.StreamingEr
    val dir = java.nio.file.Files.createTempDirectory("graft_er_gold").toString
    val all = Seq(
      (10L, "aaaa", 3, 100L), (20L, "aabb", 9, 40L),
      (15L, "aaab", 5, 70L), (5L, "abbb", 1, 990L),
      (40L, "zzzz", 2, 20L))
    def step(rows: Seq[(Long, String, Int, Long)], i: Long) =
      StreamingEr.batchStep(spark, s"$dir/reg", s"$dir/merge",
        "id", "name", Seq("blk"), maxDist = 1)(
        rows.map { case (id, nm, _, _) => (id, nm, "b") }.toDF("id", "name", "blk"), i)
    step(all.take(2), 0L); step(all.slice(2, 3), 1L); step(all.drop(3), 2L)
    val recs = all.toDF("id", "name", "sz", "cents")
    val fromStream = EntityResolution.goldenRecords(recs, "id",
      StreamingEr.resolveEntities(spark, s"$dir/reg", s"$dir/merge", "id"),
      "name", Seq("sz", "cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3), r.getLong(4))).sortBy(_._1).toSeq
    val fromBatch = EntityResolution.goldenRecords(recs, "id",
      EntityResolution.entities(
        recs.withColumn("blk", lit("b")), "id",
        EntityResolution.matchPairs(recs.withColumn("blk", lit("b")),
          "id", "name", Seq("blk"), 1)),
      "name", Seq("sz", "cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(fromStream === fromBatch)
    // the bridged entity's golden row: min label 5, all 4 records,
    // lexically-smallest mode name, MAX size and cents survive
    assert(fromStream.find(_._1 == 5L) ===
      Some((5L, 4L, "aaaa", 9, 990L)))
  }

  test("incremental ER equals the batch operator on the part catalog; replay idempotent") {
    import graft.streaming.StreamingEr
    import graft.model.Tables
    val p = Tables.part(spark, sfDir)
      .select("p_partkey", "p_name", "p_brand", "p_type").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_er_cat").toString
    // id-mod slicing: arrival order deliberately unlike id order
    Seq(2L, 0L, 1L).zipWithIndex.foreach { case (m, i) =>
      StreamingEr.batchStep(spark, s"$dir/reg", s"$dir/merge",
        "p_partkey", "p_name", Seq("p_brand", "p_type"), maxDist = 3)(
        p.filter(pmod(col("p_partkey"), lit(3)) === m), i.toLong)
    }
    def resolvedMap() = StreamingEr.resolveEntities(spark, s"$dir/reg",
      s"$dir/merge", "p_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.er.EntityResolution.entities(p, "p_partkey",
      graft.er.EntityResolution.matchPairs(p, "p_partkey", "p_name",
        Seq("p_brand", "p_type"), maxDist = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = resolvedMap()
    assert(got === batch,
      "incremental resolution diverges from the batch entities")
    // the bridge path is actually exercised on this data
    assert(StreamingEr.readMerges(spark, s"$dir/merge").count() > 0,
      "fixture produced no merges — the test lost its teeth")
    // replay the middle batch: strictly-earlier reads make it rewrite
    // both partitions identically, resolution unchanged
    StreamingEr.batchStep(spark, s"$dir/reg", s"$dir/merge",
      "p_partkey", "p_name", Seq("p_brand", "p_type"), maxDist = 3)(
      p.filter(pmod(col("p_partkey"), lit(3)) === 0L), 1L)
    assert(resolvedMap() === batch, "replayed batch changed resolution")
  }

  test("er_match plan: blocking is an equi-join, never a cartesian product") {
    val p = SparkEntry.queries("er_match")(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"er_match degenerated to all-pairs:\n$p")
  }
}
