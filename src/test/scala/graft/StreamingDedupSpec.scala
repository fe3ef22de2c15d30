package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends SparkSpec {

  test("stateless minhash signature is bit-identical to the aggregate form") {
    val docs = Tables.documents(spark, sfDir).limit(120)
    val agg = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
    val free = Dedup.minhashSignatureStateless(docs, Seq("doc_id"), "text", 3)
      .filter(col("m0").isNotNull) // agg form emits no row for shingle-less docs
    assert(free.exceptAll(agg).isEmpty && agg.exceptAll(free).isEmpty,
      "expression-form and aggregate-form signatures diverge")
    assert(agg.count() > 0)
  }

  // 24 docs in 3 micro-batches of 8; ids are also the event time. Doc 4's
  // text repeats at 7 (same batch), 12 (next batch) and 20; doc 2's at 17;
  // docs 9 and 21 are 2-token shorties (no 3-gram shingles — never
  // suppressible, both must survive). Remaining texts come from the real
  // documents table, so band collisions between "distinct" texts can
  // happen — the sequential fold computes whatever the bands say, so
  // parity holds regardless of fixture luck.
  private def corpus: Seq[(Long, Long, String)] = {
    val texts = Tables.documents(spark, sfDir)
      .filter(length(col("text")) > 50)
      .orderBy("doc_id").limit(24).collect().map(_.getAs[String]("text"))
    (1L to 24L).map { id =>
      val t = id match {
        case 7 | 12 | 20 => texts(3)
        case 17          => texts(1)
        case 9 | 21      => "two tokens"
        case _           => texts(id.toInt - 1)
      }
      (id, id, t)
    }
  }

  /** Sequential one-by-one ingest: keep iff no band bucket seen before;
    * EVERY doc's buckets are then registered (register-all-seen). */
  private def sequentialKept(docs: Seq[(Long, Long, String)]): Set[Long] = {
    val sess = spark
    import sess.implicits._
    val bands = Dedup.bandRows(
      Dedup.minhashSignatureStateless(
        docs.toDF("doc_id", "ts", "text"), Seq("doc_id"), "text", 3),
      Seq("doc_id"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet)
      .toMap
    var claimed = Set.empty[(Int, Long, Long)]
    docs.sortBy(d => (d._2, d._1)).flatMap { case (id, _, _) =>
      val bs = bands.getOrElse(id, Set.empty)
      val keep = bs.intersect(claimed).isEmpty
      claimed ++= bs
      if (keep) Some(id) else None
    }.toSet
  }

  test("streaming near-dup suppression matches a sequential one-by-one ingest") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_sdedup").toString
    val docs = corpus
    val mem = MemoryStream[(Long, Long, String)]
    val stream = mem.toDF.toDF("doc_id", "ts", "text")
    def run(): Unit = drainThrough(stream, s"$dir/ckpt")(
      StreamingDedup.batchStep(spark, s"$dir/registry", s"$dir/kept",
        "doc_id", "ts", "text", 3))
    docs.grouped(8).foreach { batch => mem.addData(batch); run() }

    val kept = spark.read.parquet(s"$dir/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === sequentialKept(docs))
    // dup copies suppressed across AND within batches...
    assert(!kept.contains(7L) && !kept.contains(12L) && !kept.contains(20L))
    assert(!kept.contains(17L))
    // ...and shingle-less docs are never near-dups of anything
    assert(kept.contains(9L) && kept.contains(21L))

    // registry claims are exactly the distinct buckets of ALL docs
    val claims = spark.read.parquet(s"$dir/registry")
    val allBuckets = Dedup.bandClaims(
      docs.toDF("doc_id", "ts", "text"), "doc_id", "text", 3)
    assert(claims.select("band", "k0", "k1").distinct().count() === allBuckets.count())
    assert(claims.count() === claims.select("band", "k0", "k1").distinct().count(),
      "a bucket must be claimed by exactly one batch")

    // replay batch 0 (crash-recovery path: its own claims are already in
    // the registry) — outputs must be byte-identical, nothing suppressed
    // by the batch's own half-written claims
    val keptB0 = spark.read.parquet(s"$dir/kept/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val claimsB0 = spark.read.parquet(s"$dir/registry/batch_id=0").count()
    StreamingDedup.batchStep(spark, s"$dir/registry", s"$dir/kept",
      "doc_id", "ts", "text", 3)(
      docs.take(8).toDF("doc_id", "ts", "text"), 0L)
    val keptB0Replay = spark.read.parquet(s"$dir/kept/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptB0Replay === keptB0)
    assert(spark.read.parquet(s"$dir/registry/batch_id=0").count() === claimsB0)
    // and the global kept set is unchanged by the replay
    val keptAfter = spark.read.parquet(s"$dir/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAfter === kept)
  }

  test("registry compaction: identical suppression, zero-exchange bucketed probe") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_sdedup_compact").toString
    val docs = corpus
    val mem = MemoryStream[(Long, Long, String)]
    val stream = mem.toDF.toDF("doc_id", "ts", "text")
    // build a 3-batch registry through the normal streaming path
    docs.grouped(8).foreach { batch =>
      mem.addData(batch)
      drainThrough(stream, s"$dir/ckpt")(
        StreamingDedup.batchStep(spark, s"$dir/registry", s"$dir/kept",
          "doc_id", "ts", "text", 3))
    }
    spark.sql("DROP TABLE IF EXISTS t_registry_compact")
    val compacted = StreamingDedup.compactRegistry(
      spark, s"$dir/registry", s"$dir/compacted", "t_registry_compact", buckets = 8)
    try {
      // relayout only: same distinct bucket set as the partitioned form
      val raw = StreamingDedup.readPartitioned(spark, s"$dir/registry")
        .select("band", "k0", "k1")
      assert(compacted.count() === raw.distinct().count())
      assert(compacted.select("band", "k0", "k1").exceptAll(raw.distinct()).isEmpty)

      // a fresh batch (one replayed dup of doc 4's text + one novel doc)
      // suppresses IDENTICALLY against raw and compacted registries
      val texts = Tables.documents(spark, sfDir)
        .filter(length(col("text")) > 50).orderBy("doc_id")
        .limit(30).collect().map(_.getAs[String]("text"))
      val fresh = Seq((101L, 101L, texts(3)), (102L, 102L, texts(28)))
        .toDF("doc_id", "ts", "text")
      val (keptRaw, _) = Dedup.nearDupSuppress(
        fresh, raw, "doc_id", "ts", "text", 3)
      val (keptCompact, claimsCompact) = Dedup.nearDupSuppress(
        fresh, compacted.select("band", "k0", "k1"), "doc_id", "ts", "text", 3)
      val a = keptRaw.select("doc_id").collect().map(_.getLong(0)).toSet
      val b = keptCompact.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(a === b)
      assert(!b.contains(101L), "replayed dup text must be suppressed")

      // plan: the registry side of the probe — the distinct over the
      // key columns that nearDupSuppress builds — reads the bucketed
      // table with ZERO exchanges (bucket distribution satisfies the
      // aggregate), so in the full probe only the incoming batch
      // shuffles
      val regSide = compacted.select("band", "k0", "k1").distinct()
        .queryExecution.executedPlan.toString
      assert(regSide.contains("Bucketed: true"),
        s"registry distinct did not use the bucketed layout:\n$regSide")
      assert(!regSide.contains("Exchange"),
        s"registry subtree shuffled after compaction:\n$regSide")
      // and end-to-end the compacted probe plans strictly fewer
      // exchanges than the same probe against the raw partitioned dir
      def nExchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      assert(nExchanges(keptCompact) < nExchanges(keptRaw),
        "compaction removed no exchange from the probe plan")
      // new claims: the novel doc's bands only, none already registered
      assert(claimsCompact.count() > 0)
      assert(claimsCompact.join(raw.distinct(), Seq("band", "k0", "k1")).count() === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_registry_compact")
    }
  }

  test("nearDupSuppress batch kernel: registry hit, in-batch tie, chain transitivity") {
    val sess = spark
    import sess.implicits._
    // hand-built texts: a/b share all shingles (identical), c overlaps b
    // enough to share a band but could miss a — the chain case is
    // register-all-seen: if c collides with b's buckets it dies even
    // though b itself was suppressed
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val reg = Seq((100L, 0L, base)).toDF("doc_id", "ts", "text")
    val batch = Seq(
      (1L, 1L, base),                  // identical to registry doc -> dropped
      (2L, 2L, "totally different words entirely novel content here"),
      (3L, 3L, "totally different words entirely novel content here") // in-batch dup of 2 -> dropped
    ).toDF("doc_id", "ts", "text")
    val (kept, claims) = Dedup.nearDupSuppress(
      batch, Dedup.bandClaims(reg, "doc_id", "text", 3), "doc_id", "ts", "text", 3)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
    // claims exclude buckets already in the registry
    val regBuckets = Dedup.bandClaims(reg, "doc_id", "text", 3)
    assert(claims.join(regBuckets, Seq("band", "k0", "k1")).count() === 0)
  }
}
