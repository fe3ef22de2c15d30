package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables
import graft.streaming.StreamingDedup

/** Exact substring (k-token window) dedup: hand-computed coverage on
  * crafted documents — whole-doc duplicates vanish, a shared k-gram is
  * cut at every occurrence after the global first, self-repetition
  * inside one doc keeps only the leading period, short/empty docs pass
  * through untouched.
  */
class SubstringDedupSpec extends SparkSpec {

  private def run(rows: Seq[(Long, String)], k: Int): Map[Long, (String, Int, Int)] = {
    val sess = spark
    import sess.implicits._
    Dedup.substringDedup(rows.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
  }

  test("whole-doc duplicate is fully removed; first occurrence untouched") {
    val out = run(Seq(1L -> "a b c d e f", 2L -> "a b c d e f"), k = 3)
    assert(out(1L) === (("a b c d e f", 6, 0)))
    assert(out(2L) === (("", 6, 6)))
  }

  test("a shared k-gram is cut out of the later doc only") {
    val out = run(Seq(1L -> "a b c d e f", 3L -> "x y a b c z w"), k = 3)
    assert(out(1L) === (("a b c d e f", 6, 0)))
    assert(out(3L) === (("x y z w", 7, 3)))
  }

  test("self-repetition keeps exactly the leading period") {
    // windows at pos 0..2 are the global firsts of their grams; every
    // window from pos 3 on repeats one of them, covering pos 3..8
    val out = run(Seq(4L -> "p q r p q r p q r"), k = 3)
    assert(out(4L) === (("p q r", 9, 6)))
  }

  test("short, empty and whitespace-only docs pass through") {
    val out = run(Seq(5L -> "s t", 6L -> "", 7L -> "   "), k = 3)
    assert(out(5L) === (("s t", 2, 0)))
    assert(out(6L) === (("", 0, 0)))
    assert(out(7L) === (("", 0, 0)))
  }

  test("first-occurrence winner is decided by (doc_id, pos) order, not input order") {
    // doc 9 appears "first" in the input Seq but has the higher id: the
    // packed (id, pos) argmin still awards the gram to doc 8
    val out = run(Seq(9L -> "m n o", 8L -> "m n o"), k = 3)
    assert(out(8L) === (("m n o", 3, 0)))
    assert(out(9L) === (("", 3, 3)))
  }

  private def outRows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int, Int)] =
    df.select("doc_id", "clean_text", "n_tokens", "n_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet

  test("streaming: id-ordered installments concatenate to the batch operator; replay is byte-identical") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_subdedup").toString
    // real fixture texts split at the id median — cross-batch whole-doc
    // dups and shared runs come from whatever the corpus contains; the
    // equality must hold REGARDLESS of fixture luck
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mid = docs(docs.length / 2)._1
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt")(
      StreamingDedup.substringBatchStep(spark, s"$dir/registry",
        s"$dir/clean", "doc_id", "text", 8))
    val (b0, b1) = docs.partition(_._1 < mid)
    mem.addData(b0); run()
    mem.addData(b1); run()

    val streamed = outRows(spark.read.option("basePath", s"$dir/clean")
      .parquet(s"$dir/clean"))
    val batch = outRows(Dedup.substringDedup(
      docs.toDF("doc_id", "text"), "doc_id", "text", 8))
    assert(streamed === batch)

    // claims across batches are disjoint and together exactly the
    // distinct gram hashes of the whole corpus
    val claims = spark.read.option("basePath", s"$dir/registry")
      .parquet(s"$dir/registry")
    val allGrams = Dedup.substringWindows(
      docs.toDF("doc_id", "text"), "doc_id", "text", 8)
      .filter(col("h").isNotNull).select("h").distinct()
    assert(claims.count() === claims.select("h").distinct().count(),
      "a gram must be claimed by exactly one batch")
    assert(claims.count() === allGrams.count())

    // replay the first batch (crash between the two writes): its own
    // claims are already registered, outputs must not change
    val before = outRows(spark.read.parquet(s"$dir/clean/batch_id=0"))
    StreamingDedup.substringBatchStep(spark, s"$dir/registry",
      s"$dir/clean", "doc_id", "text", 8)(b0.toDF("doc_id", "text"), 0L)
    assert(outRows(spark.read.parquet(s"$dir/clean/batch_id=0")) === before)
  }

  test("streaming novelty: id-ordered installments concatenate to the batch scorer; replay idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_novstream").toString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mid = docs(docs.length / 2)._1
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt")(
      StreamingDedup.noveltyBatchStep(spark, s"$dir/registry",
        s"$dir/scored", "doc_id", "text", 3))
    val (b0, b1) = docs.partition(_._1 < mid)
    mem.addData(b0); run()
    mem.addData(b1); run()

    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Double)] =
      df.select("doc_id", "n_grams", "n_novel", "novelty").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val streamed = rows(spark.read.option("basePath", s"$dir/scored")
      .parquet(s"$dir/scored"))
    val batch = rows(Dedup.noveltyScores(docs.toDF("doc_id", "text"),
      "doc_id", "text", 3))
    assert(streamed === batch)

    // claims across batches: disjoint, and together the corpus vocabulary
    val claims = spark.read.option("basePath", s"$dir/registry")
      .parquet(s"$dir/registry")
    val vocab = Dedup.docTokens(docs.toDF("doc_id", "text"),
      "doc_id", "text", Nil, 3).select("tok").distinct()
    assert(claims.count() === claims.select("h").distinct().count())
    assert(claims.count() === vocab.count())

    // replay batch 0 (crash between writes): outputs must not change
    val before = rows(spark.read.parquet(s"$dir/scored/batch_id=0"))
    StreamingDedup.noveltyBatchStep(spark, s"$dir/registry",
      s"$dir/scored", "doc_id", "text", 3)(b0.toDF("doc_id", "text"), 0L)
    assert(rows(spark.read.parquet(s"$dir/scored/batch_id=0")) === before)
  }

  test("streaming drift: each batch scores against all earlier counts; replay idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_driftstream").toString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val third = docs.length / 3
    val (b0, rest) = docs.splitAt(third)
    val (b1, b2) = rest.splitAt(third)
    def step(b: Seq[(Long, String)], id: Long): Unit =
      StreamingDedup.driftBatchStep(spark, s"$dir/registry",
        s"$dir/drift", "text")(b.toDF("doc_id", "text"), id)
    step(b0, 0); step(b1, 1); step(b2, 2)

    def driftRow(b: Long): (Long, Long, Long, Option[Double]) = {
      val r = spark.read.parquet(s"$dir/drift/batch_id=$b").collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
    // batch 0 has no baseline: NULL tvd, zero reference tokens
    assert(driftRow(0)._1 === 0L && driftRow(0)._4.isEmpty)
    // batch 2's drift equals the batch kernel of (b0 ++ b1) vs b2
    val want = graft.text.TextOps.vocabDriftAgainst(
      graft.text.TextOps.hashTokenCounts(b2.toDF("doc_id", "text"), "text"),
      graft.text.TextOps.hashTokenCounts((b0 ++ b1).toDF("doc_id", "text"), "text"))
      .collect().head
    val got2 = driftRow(2)
    assert(got2 === ((want.getLong(0), want.getLong(1), want.getLong(2),
      Some(want.getDouble(3)))))
    // replay batch 1 (crash between writes): drift row unchanged
    val before = driftRow(1)
    step(b1, 1)
    assert(driftRow(1) === before)

    // the streaming wiring itself: whatever micro-batch boundaries the
    // engine picks, every batch's reference token count equals the sum
    // of all EARLIER batches' own counts (the cumulative contract)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt2")(
      StreamingDedup.driftBatchStep(spark, s"$dir/registry2",
        s"$dir/drift2", "text"))
    mem.addData(b0); run()
    mem.addData(b1 ++ b2); run()
    val rows = spark.read.option("basePath", s"$dir/drift2")
      .parquet(s"$dir/drift2")
      .select(col("batch_id").cast("long"), col("n_ref"), col("n_cur")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var cum = 0L
    rows.foreach { case (_, nRef, nCur) =>
      assert(nRef === cum, s"reference tokens must be the cumulative prior count")
      cum += nCur
    }
    val corpusTokens = graft.text.TextOps
      .hashTokenCounts(docs.toDF("doc_id", "text"), "text")
      .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    assert(cum === corpusTokens)
    // compacted registry sums to the raw registry's totals per hash
    spark.sql("DROP TABLE IF EXISTS t_drift_reg")
    val compacted = StreamingDedup.compactCountRegistry(spark,
      s"$dir/registry", s"$dir/compact", "t_drift_reg")
    try {
      val raw = StreamingDedup.readCountRegistry(spark, s"$dir/registry")
        .groupBy("h").agg(sum("cnt").as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val comp = compacted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp === raw)
    } finally spark.sql("DROP TABLE IF EXISTS t_drift_reg")
  }

  test("streaming: arrival order wins across batches, not id order") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("graft_subooo").toString
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      StreamingDedup.substringBatchStep(spark, s"$dir/registry",
        s"$dir/clean", "doc_id", "text", 3)(rows.toDF("doc_id", "text"), id)
    // the HIGH id arrives first and claims the grams; the later LOW id
    // is cut — the batch operator on the union would decide the reverse
    step(Seq(100L -> "a b c d"), 0L)
    step(Seq(5L -> "a b c d"), 1L)
    val out = outRows(spark.read.option("basePath", s"$dir/clean")
      .parquet(s"$dir/clean"))
    assert(out === Set((100L, "a b c d", 4, 0), (5L, "", 4, 4)))
  }

  test("streaming: compacted registry suppresses identically and probes exchange-free") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("graft_subcompact").toString
    def step(rows: Seq[(Long, String)], id: Long): Unit =
      StreamingDedup.substringBatchStep(spark, s"$dir/registry",
        s"$dir/clean", "doc_id", "text", 3)(rows.toDF("doc_id", "text"), id)
    step(Seq(1L -> "a b c d e f", 2L -> "g h i j"), 0L)
    step(Seq(3L -> "k l m n o"), 1L)
    spark.sql("DROP TABLE IF EXISTS t_substr_registry_compact")
    val compacted = StreamingDedup.compactSubstringRegistry(
      spark, s"$dir/registry", s"$dir/compacted",
      "t_substr_registry_compact", buckets = 4)
    try {
      val raw = StreamingDedup.readSubstringRegistry(spark, s"$dir/registry")
        .select("h")
      assert(compacted.count() === raw.distinct().count())

      // a fresh batch (one replayed run + one novel doc) suppresses
      // identically against raw and compacted registries
      val fresh = Seq(50L -> "x y a b c d z", 51L -> "p q r s t").toDF("doc_id", "text")
      val (cleanRaw, _) = Dedup.substringSuppress(fresh, raw, "doc_id", "text", 3)
      val (cleanCompact, claimsCompact) =
        Dedup.substringSuppress(fresh, compacted, "doc_id", "text", 3)
      assert(outRows(cleanRaw) === outRows(cleanCompact))
      assert(outRows(cleanCompact).contains((50L, "x y z", 7, 4)))

      // the registry side — the bare bucketed scan the probe join
      // consumes — reads with ZERO exchanges, and end-to-end the
      // compacted probe plans strictly fewer exchanges than the raw one
      val regSide = compacted.select("h").distinct()
        .queryExecution.executedPlan.toString
      assert(regSide.contains("Bucketed: true"))
      assert(!regSide.contains("Exchange"))
      // at 100 TB the all-history registry is never broadcast-able;
      // model that (disable auto-broadcast) and the compacted probe
      // must plan strictly fewer exchanges than the raw partitioned one
      def nExchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (bigRaw, _) = Dedup.substringSuppress(fresh, raw, "doc_id", "text", 3)
        val (bigCompact, _) = Dedup.substringSuppress(fresh, compacted, "doc_id", "text", 3)
        assert(nExchanges(bigCompact) < nExchanges(bigRaw))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      // novel grams only in the new claims
      assert(claimsCompact.join(raw.distinct(), Seq("h")).count() === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_substr_registry_compact")
    }
  }

  test("streaming boilerplate: cumulative threshold, single-batch equality, " +
    "replay idempotent, compacted registry identical") {
    val sess = spark
    import sess.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, String)] =
      df.select("doc_id", "n_lines", "n_removed", "clean_text").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val b0 = Seq(
      1L -> "B1\nB2\nown 1",
      2L -> "B1\nB2\nown 2",
      3L -> "B1\nown 3",
      4L -> "own 4")
    val b1 = Seq(
      11L -> "B2\nown 11", // B2 cumulative df = 3 here → removed NOW, docs 1/2 keep theirs
      12L -> "B1\nown 12", // B1 already over threshold → removed
      13L -> "own 13")
    val dir = Files.createTempDirectory("graft_boiler").toString
    def step(rs: Seq[(Long, String)], id: Long): Unit =
      StreamingDedup.boilerplateBatchStep(spark, s"$dir/registry",
        s"$dir/clean", "doc_id", "text", 3)(rs.toDF("doc_id", "text"), id)
    step(b0, 0L)
    step(b1, 1L)
    val out = rows(spark.read.option("basePath", s"$dir/clean").parquet(s"$dir/clean"))
    assert(out === Set(
      (1L, 3, 1, "B2\nown 1"), (2L, 3, 1, "B2\nown 2"), // B1 df=3 in batch 0
      (3L, 2, 1, "own 3"), (4L, 1, 0, "own 4"),
      (11L, 2, 1, "own 11"), (12L, 2, 1, "own 12"), (13L, 1, 0, "own 13")))

    // replay batch 0 (strictly-earlier registry read): byte-identical —
    // under exclude-own-batch it would see batch 1's counts and remove B2
    val before = rows(spark.read.parquet(s"$dir/clean/batch_id=0"))
    step(b0, 0L)
    assert(rows(spark.read.parquet(s"$dir/clean/batch_id=0")) === before)

    // one batch over everything IS the batch operator
    val dir2 = Files.createTempDirectory("graft_boiler1").toString
    StreamingDedup.boilerplateBatchStep(spark, s"$dir2/registry",
      s"$dir2/clean", "doc_id", "text", 3)((b0 ++ b1).toDF("doc_id", "text"), 0L)
    assert(rows(spark.read.parquet(s"$dir2/clean/batch_id=0")) ===
      rows(graft.text.TextOps.boilerplateRemove(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", 3)))

    // compacted (sum-folded, h-bucketed) registry suppresses identically
    spark.sql("DROP TABLE IF EXISTS t_boiler_registry_compact")
    try {
      val compacted = StreamingDedup.compactCountRegistry(
        spark, s"$dir/registry", s"$dir/compacted",
        "t_boiler_registry_compact", buckets = 4)
      val raw = StreamingDedup.readCountRegistry(spark, s"$dir/registry")
        .select("h", "cnt")
      val fresh = Seq(21L -> "B2\nnovel 21", 22L -> "novel 22").toDF("doc_id", "text")
      val (cleanRaw, _) = graft.text.TextOps.boilerplateSuppress(
        fresh, raw, "doc_id", "text", 3)
      val (cleanCompact, _) = graft.text.TextOps.boilerplateSuppress(
        fresh, compacted, "doc_id", "text", 3)
      assert(rows(cleanRaw) === rows(cleanCompact))
      assert(rows(cleanCompact).contains((21L, 2, 1, "novel 21")))
    } finally spark.sql("DROP TABLE IF EXISTS t_boiler_registry_compact")
  }

  test("no cartesian or broadcast-nested-loop in the plan") {
    val sess = spark
    import sess.implicits._
    val df = Seq(1L -> "a b c d e f", 2L -> "a b c d e f").toDF("doc_id", "text")
    val plan = Dedup.substringDedup(df, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("streaming canonical dedup: installments equal the batch keeper set; replay idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_canondedup").toString
    // fixture docs + canon-equal noisy twins so suppression actually
    // fires: twins land in the SECOND installment and must all die on
    // the first installment's claims; a twin pair (x+200000, x+300000)
    // of each odd doc exercises the within-batch keeper rule too
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val twins = base.map { case (id, t) => (id + 200000L, s"  ${t.toUpperCase} !!") }
    val twins2 = base.filter(_._1 % 2 == 1)
      .map { case (id, t) => (id + 300000L, s"${t.toUpperCase} ??") }
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt")(
      StreamingDedup.canonBatchStep(spark, s"$dir/registry",
        s"$dir/kept", "doc_id", "text"))
    mem.addData(base); run()
    mem.addData(twins ++ twins2); run()

    val streamed = spark.read.option("basePath", s"$dir/kept")
      .parquet(s"$dir/kept").select("doc_id").collect().map(_.getLong(0)).toSet
    // batch reference: canonicalDedup keepers over the id-ordered union
    // (installments arrived in id order, so arrival == id order)
    val all = (base ++ twins ++ twins2).toDF("doc_id", "text")
    val batchKeepers = Dedup.canonicalDedup(all, "doc_id", "text")
      .filter(col("keeper")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batchKeepers)
    // every twin died (its canon was claimed in installment 1)
    assert(streamed.forall(_ < 200000L))

    // replay installment 0 (crash between the two writes): outputs
    // must not change — its own claims are excluded from the probe
    val before = spark.read.parquet(s"$dir/kept/batch_id=0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamingDedup.canonBatchStep(spark, s"$dir/registry",
      s"$dir/kept", "doc_id", "text")(base.toDF("doc_id", "text"), 0L)
    val after = spark.read.parquet(s"$dir/kept/batch_id=0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before)
  }

  test("streaming cdc dedup: kept set equals the batch policy on id-ordered installments; replay idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_cdcstream").toString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mid = docs(docs.length / 2)._1
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt")(
      StreamingDedup.cdcBatchStep(spark, s"$dir/registry",
        s"$dir/decisions", "doc_id", "text"))
    val (b0, b1) = docs.partition(_._1 < mid)
    mem.addData(b0); run()
    mem.addData(b1); run()

    // the streaming KEPT set is exactly the batch operator's keep set:
    // the batch op keeps one representative per overlap group (the
    // earliest shared chunk's owner) — in arrival = id order that is
    // precisely the doc whose chunks were unclaimed when it arrived
    val streamedKept = spark.read.option("basePath", s"$dir/decisions")
      .parquet(s"$dir/decisions").filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchKept = Dedup.cdcDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text").filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedKept === batchKept)

    // chunk claims across batches are disjoint and cover the corpus
    val claims = spark.read.option("basePath", s"$dir/registry")
      .parquet(s"$dir/registry")
    val allChunks = Dedup.cdcChunks(docs.toDF("doc_id", "text"),
      "doc_id", "text").select("chunk_hash").distinct()
    assert(claims.count() === claims.select("h").distinct().count())
    assert(claims.count() === allChunks.count())

    // replay batch 0 (crash between the writes): byte-stable decisions
    def dec(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    val before = dec(s"$dir/decisions/batch_id=0")
    StreamingDedup.cdcBatchStep(spark, s"$dir/registry",
      s"$dir/decisions", "doc_id", "text")(b0.toDF("doc_id", "text"), 0L)
    assert(dec(s"$dir/decisions/batch_id=0") === before)
  }
}
