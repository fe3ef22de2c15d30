package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables

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
