package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`).
  *
  * Scale design: brute force is the correctness baseline (query-set ×
  * corpus broadcast join — linear in corpus, parallel over partitions,
  * no shuffle of the corpus). The scale path is hyperplane LSH: each
  * vector maps to a small int bucket; candidate generation is an
  * equi-join on the bucket key, so the corpus is probed by hash, not
  * scanned per query. Dot products are explicit left-folds in double so
  * the DuckDB oracle is bit-identical.
  */
object Similarity {

  /** Left-fold dot product of two float-array columns, computed in
    * double — the native codegen'd [[graft.functions.FloatVecDot]]
    * (identical accumulation order and casts to the HOF fold mirrored by
    * [[dotSql]]; `dim` documents the expected width, which on our
    * equal-length vectors makes the two forms bit-identical). */
  def dot(a: String, b: String, dim: Int): Column =
    graft.functions.NativeExprs.floatVecDot(col(a), col(b))

  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"

  /** cosine(a,b) = dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) — same op order
    * as the SQL twin so floats match bitwise. */
  def cosine(a: String, b: String, dim: Int): Column =
    dot(a, b, dim) / (sqrt(dot(a, a, dim)) * sqrt(dot(b, b, dim)))

  def cosineSql(a: String, b: String, dim: Int): String =
    s"${dotSql(a, b, dim)} / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)}))"

  /** Brute-force top-k cosine neighbors for each query vector.
    * The query set is tiny → broadcast; the corpus streams through one
    * projection + one per-query-partition window. Deterministic rank
    * tie-break on vec_id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are per-VECTOR, not per-pair: compute once on each side (the
    // result is bit-identical to per-pair sqrt(dot(v,v)) — same fold)
    val c = corpus.withColumn("c_norm", sqrt(dot(vecCol, vecCol, dim)))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    // thin to (query_id, id, cos) BEFORE the rank window: the per-query
    // shuffle must carry 24-byte rows, not the vectors (cos is computed
    // map-side in the join stage)
    val scored = c.join(broadcast(q), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        (dot("q_vec", vecCol, dim) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"), col("rank"))
  }

  /** Embedding-space decontamination: for every corpus vector, its
    * maximum cosine to ANY benchmark vector, the nearest benchmark id
    * (ties → smallest id), and a `contaminated` flag at `threshold` —
    * the semantic face of [[graft.dedup.Dedup.contamination]]'s n-gram
    * probe (catches eval paraphrases that share no shingle).
    *
    * 100 TB shape: the benchmark side is an eval set — thousands of
    * vectors, catalog-sized BY DEFINITION — so it broadcasts and the
    * corpus is never shuffled with its vectors. The per-vector argmax is
    * the suite's standard rank-1 window (cos DESC, bench_id):
    * WindowGroupLimit keeps only each vector's best row on the MAP side,
    * so the one shuffle carries a single thin (id, bench_id, cos) row
    * per corpus vector — an aggregate argmax (max(struct)/max_by) is
    * declarative-with-struct-buffer and regresses to SortAggregate,
    * which is the same sort without the map-side group limit. */
  def embedContamination(corpus: DataFrame, bench: DataFrame,
      threshold: Double, dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.withColumn("__cn", sqrt(dot(vecCol, vecCol, dim)))
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol).as("b_vec"))
      .withColumn("__bn", sqrt(dot("b_vec", "b_vec", dim)))
    val scored = c.join(broadcast(b))
      .select(col(idCol), col("bench_id"),
        (dot(vecCol, "b_vec", dim) / (col("__cn") * col("__bn"))).as("cos"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos").desc, col("bench_id"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("bench_id"), col("cos").as("max_cos"),
        (col("cos") >= threshold).as("contaminated"))
  }

  /** SQ8 scalar-quantized ANN scan (the faiss `SQ8` flat-index shape):
    * every component is affinely quantized to int8 — q = clamp(round(
    * x·127/absmax), ±127) with absmax = the corpus-wide max |component|
    * — and similarity is the INTEGER dot product of the quantized
    * vectors. 4× less memory/bandwidth than float32 and, unlike every
    * float scoring path, the scores are BIGINT-exact in any engine by
    * construction (127²·dim ≪ 2^63, no rounding anywhere after the
    * quantization; round() is away-from-zero-on-.5 in Spark HALF_UP and
    * DuckDB alike).
    *
    * 100 TB shape: absmax is ONE scalar aggregate broadcast to both
    * sides (never collected); quantization is a pure projection; the
    * scan scores with the codegen'd [[graft.functions.IntVecDot]] and
    * the per-query top-k is the WindowGroupLimit rank window over thin
    * (query, id, score) rows. Corpus-linear like every flat scan — the
    * compression is the point (bandwidth, cache), composition with an
    * IVF coarse index is the sub-linear deployment, exactly as with PQ. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the 1e-300 floor only engages on an all-zero corpus (absmax ≥
    // every |x|, so any real corpus keeps its own max): without it the
    // degenerate quantizer divides by zero and the engines DIVERGE —
    // Spark casts the NaN code to 0, DuckDB errors on CAST(NaN AS INT);
    // floored, both produce all-zero codes and id-ordered ties
    val am = corpus.agg(
      greatest(max(aggregate(col(vecCol), lit(0.0d),
        (a, x) => greatest(a, abs(x.cast("double"))))), lit(1e-300)).as("__absmax"))
    def quant(v: Column): Column =
      transform(v, x => least(greatest(
        round(x.cast("double") * 127.0 / col("__absmax")),
        lit(-127.0)), lit(127.0)).cast("int"))
    val c = corpus.crossJoin(broadcast(am))
      .select(col(idCol), quant(col(vecCol)).as("__cq"))
    val q = queries.crossJoin(broadcast(am))
      .select(col(idCol).as("query_id"), quant(col(vecCol)).as("__qq"))
    val scored = c.join(broadcast(q), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        graft.functions.NativeExprs.intVecDot(col("__qq"), col("__cq")).as("qdot"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("qdot"), col("rank"))
  }

  /** Oracle twin of [[sq8TopK]]: same absmax scalar, same round/clamp
    * quantization, same integer dot and (qdot DESC, id) ranking. */
  def sq8TopKSql(table: String, queryPred: String, k: Int, dim: Int): String = {
    // absmax is joined in as a column — DuckDB rejects subqueries
    // inside lambda bodies, so the scalar CTE cross-joins into scope
    def quant(v: String) =
      s"list_transform($v, __x -> CAST(least(greatest(round(CAST(__x AS DOUBLE) * 127.0 / " +
        s"absmax), -127.0), 127.0) AS INTEGER))"
    val idot =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, $dim + 1), " +
        s"__i -> CAST(q.qq[__i] AS BIGINT) * CAST(c.cq[__i] AS BIGINT))), (__a, __x) -> __a + __x)"
    s"""WITH __am AS (
       |  SELECT greatest(max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(embedding, __x -> abs(CAST(__x AS DOUBLE)))),
       |    (__a, __x) -> greatest(__a, __x))), 1e-300) AS absmax
       |  FROM $table
       |), __c AS (
       |  SELECT vec_id, ${quant("embedding")} AS cq FROM $table, __am
       |), __q AS (
       |  SELECT vec_id AS query_id, ${quant("embedding")} AS qq FROM $table, __am WHERE $queryPred
       |), __s AS (
       |  SELECT q.query_id, c.vec_id, $idot AS qdot
       |  FROM __q q JOIN __c c ON c.vec_id <> q.query_id
       |), __r AS (
       |  SELECT query_id, vec_id AS neighbor_id, qdot,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS INTEGER) AS rank
       |  FROM __s
       |)
       |SELECT query_id, neighbor_id, qdot, rank FROM __r WHERE rank <= $k""".stripMargin
  }

  /** 1-bit sign quantization of a `dim`-vector packed into ONE BIGINT:
    * bit b set iff component b+1 is strictly positive. The coarsest
    * point of the compression ladder (float32 → SQ8 → PQ → 1 bit):
    * 64-dim float32 collapses 256 B → 8 B (32×), and similarity becomes
    * a Hamming distance — `bit_count(xor)`, two instructions, no
    * multiply. Disjoint powers of two recombine by addition; bit 63's
    * term is Long.MinValue so the sum starts negative and only moves
    * toward zero — never overflows (ANSI-safe; [[graft.dedup.Dedup.simhash]]'s
    * rationale). */
  def signCode(vecCol: String, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"signCode packs into one long, got dim=$dim")
    (0 until dim).map { b =>
      when(element_at(col(vecCol), b + 1) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SQL twin of [[signCode]]. */
  def signCodeSql(vecCol: String, dim: Int): String =
    (0 until dim).map { b =>
      s"CASE WHEN $vecCol[${b + 1}] > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", " + ", ")")

  /** Binary-quantized kNN scan: rank corpus codes by Hamming distance
    * to each query code (sign bits agree ⇔ components point the same
    * way, the classic LSH cosine estimator — Charikar STOC'02 with the
    * identity basis). All-integer scoring, so the result is engine-exact
    * by construction — ties broken by neighbor id.
    *
    * 100 TB shape: the scan reads 8 BYTES per vector — the whole
    * billion-vector corpus is ~8 GB of codes, memory-resident per
    * executor after one scan; queries broadcast; the per-query top-k is
    * the WindowGroupLimit rank window over thin rows. Corpus-linear
    * like every flat scan (the bandwidth collapse is the point); the
    * sub-linear composition is the same pigeonhole band equi-join
    * simhash uses ([[graft.dedup.Dedup.hammingPairs]] machinery). */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), signCode(vecCol, dim).as("__code"))
    val q = queries.select(col(idCol).as("query_id"), signCode(vecCol, dim).as("__qcode"))
    val scored = c.join(broadcast(q), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        bit_count(col("__qcode").bitwiseXOR(col("__code"))).as("hamming"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("hamming").asc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("hamming"), col("rank"))
  }

  /** Oracle twin of [[binaryTopK]]: same sign packing, same
    * bit_count(xor) metric, same (hamming ASC, id) ranking. */
  def binaryTopKSql(table: String, queryPred: String, k: Int, dim: Int): String =
    s"""WITH __c AS (
       |  SELECT vec_id, ${signCodeSql("embedding", dim)} AS code FROM $table
       |), __q AS (
       |  SELECT vec_id AS query_id, ${signCodeSql("embedding", dim)} AS qcode
       |  FROM $table WHERE $queryPred
       |), __s AS (
       |  SELECT q.query_id, c.vec_id,
       |         CAST(bit_count(xor(q.qcode, c.code)) AS INTEGER) AS hamming
       |  FROM __q q JOIN __c c ON c.vec_id <> q.query_id
       |), __r AS (
       |  SELECT query_id, vec_id AS neighbor_id, hamming,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS INTEGER) AS rank
       |  FROM __s
       |)
       |SELECT query_id, neighbor_id, hamming, rank FROM __r WHERE rank <= $k""".stripMargin

  /** The deployment composition for the 1-bit scan: Hamming candidates
    * from [[binaryTopK]] (`nCandidates` per query, 8 bytes/vector read)
    * re-ranked by EXACT cosine on the shortlist only — full-precision
    * vectors are fetched for queries × nCandidates rows, never the
    * corpus. The two-stage retrieve-then-rerank every production binary
    * ANN runs; recall recovers most of the quantization loss because
    * the true top-k almost always survives into a 5× shortlist. */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = binaryTopK(corpus, queries, nCandidates, dim, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine("__qv", "__cv", dim).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Oracle twin of [[binaryRerankTopK]]: the binary shortlist CTE +
    * the same exact-cosine re-rank join. */
  def binaryRerankTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      nCandidates: Int = 50): String =
    s"""WITH __cand AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${binaryTopKSql(table, queryPred, nCandidates, dim)})
       |), __x AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${cosineSql("qv.embedding", "ev.embedding", dim)} AS cos
       |  FROM __cand cd JOIN $table qv ON qv.vec_id = cd.query_id
       |                 JOIN $table ev ON ev.vec_id = cd.neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __x
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k""".stripMargin

  /** A trained IVF-SQ8 index: coarse centroids + the one quantization
    * scalar (both catalog-sized, collected once like the PQ codebooks),
    * plus the distributed index table (id, cluster, dim-byte BINARY
    * code — [[graft.functions.PackInt8]]-packed, genuinely 1
    * byte/component where an ARRAY<INT> column would spend 4). The SQ8
    * sibling of [[IvfPqModel]]: coarser compression (dim bytes vs m
    * code ints) but a simpler, higher-fidelity scorer — no codebook
    * training, no LUT, recall limited only by int8 rounding. */
  final case class IvfSq8Model(
      centroids: Array[(Int, Seq[Double])],
      absmax: Double,
      index: DataFrame)

  private def sq8QuantLit(v: Column, absmax: Double): Column =
    transform(v, x => least(greatest(
      round(x.cast("double") * 127.0 / lit(absmax)),
      lit(-127.0)), lit(127.0)).cast("int"))

  /** Build the IVF-SQ8 index: coarse k-means (bit-reproducible) + one
    * absmax scalar, then ONE projection pass encodes every vector to
    * (id, cluster, packed int8 code) and DROPS the raw floats. Linear
    * in the corpus by nature; run once, reuse per query batch —
    * persist via [[graft.ops.Relational.materializeBucketed]] on
    * `cluster` exactly as [[ivfPqIndexMaterialized]] does. */
  def ivfSq8Index(corpus: DataFrame, dim: Int, nCentroids: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): IvfSq8Model = {
    // centroid training and the absmax scan are independent
    // driver-blocking actions — overlap them (guide §2.6), same
    // discipline as ivfPqIndex's concurrent trainings
    import scala.concurrent.ExecutionContext.Implicits.global
    val centsF = scala.concurrent.Future(
      trainedCentroids(corpus, dim, nCentroids, 1, idCol, vecCol, trainMod))
    val absmax = Option(corpus.agg(
      max(aggregate(col(vecCol), lit(0.0d),
        (a, x) => greatest(a, abs(x.cast("double")))))).head.get(0))
      .fold(0.0)(_.asInstanceOf[Double])
    val cents = scala.concurrent.Await.result(centsF,
      scala.concurrent.duration.Duration.Inf)
    val model = IvfSq8Model(cents, absmax, null)
    model.copy(index =
      if (absmax <= 0.0)
        corpus.select(col(idCol).as("neighbor_id"),
          lit(null).cast("int").as("cluster"),
          lit(null).cast("binary").as("__code")).limit(0)
      else ivfSq8Encode(model, corpus, dim, idCol, vecCol))
  }

  /** Encode vectors against a FROZEN [[IvfSq8Model]]: coarse cluster by
    * broadcast argmax + the packed int8 code, in one projection that
    * then DROPS the raw floats. Pure per-row, so an index built in
    * installments (batch or streaming) is ROW-IDENTICAL to a
    * single-shot encode of the union under the same model — the
    * no-rebuild append contract, exactly as [[ivfPqEncode]]. */
  def ivfSq8Encode(model: IvfSq8Model, vecs: DataFrame, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = assignClustersLocal(
      vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      model.centroids, "c_vec", "neighbor_id")
    asg.select(col("neighbor_id"), col("cluster"),
      graft.functions.NativeExprs.packInt8(
        sq8QuantLit(col("c_vec"), model.absmax)).as("__code"))
  }

  /** Incremental SQ8 index maintenance: encode `newVecs` with the
    * frozen model and APPEND to the persisted bucketed table — no
    * retrain, no rebuild, no touch of existing files (same contract
    * and same bucket-spec re-declaration rule as [[ivfPqIndexAppend]]).
    * Returns the model re-pointed at the refreshed table. */
  def ivfSq8IndexAppend(model: IvfSq8Model, newVecs: DataFrame, dim: Int,
      tableName: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfSq8Model = {
    val spark = newVecs.sparkSession
    ivfSq8Encode(model, newVecs, dim, idCol, vecCol)
      .write.bucketBy(bucketCount(spark, tableName), "cluster").sortBy("cluster")
      .mode("append").saveAsTable(tableName)
    model.copy(index = spark.table(tableName))
  }

  /** Probe-limited SQ8 query against a built [[IvfSq8Model]]: each query
    * quantizes once (model absmax is a literal), probes its nProbe
    * nearest coarse clusters, and byte-dot-scores ONLY those clusters'
    * codes via a cluster EQUI-join — never the corpus; the integer
    * approx scores cut to nCandidates per query (WindowGroupLimit thin
    * rows), then the exact cosine re-rank touches raw vectors for
    * queries × nCandidates rows only. Same sub-linear probe shape as
    * [[ivfPqQuery]] with the SQ8 scorer swapped in. */
  def ivfSq8Query(model: IvfSq8Model, corpus: DataFrame, queries: DataFrame,
      k: Int, dim: Int, nProbe: Int = 3, nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pruneBuckets: Boolean = false): DataFrame = {
    if (model.absmax <= 0.0) return emptyTopK(corpus, queries, idCol)
    val scoredCents = array(model.centroids.map { case (cid, c) =>
      struct((-graft.functions.NativeExprs.floatDoubleVecDot(col("q_vec"), array(c.map(lit): _*)))
        .as("neg"), lit(cid).as("cid"))
    }: _*)
    val probeCol =
      explode(slice(transform(array_sort(scoredCents), x => x("cid")), 1, nProbe))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .select(col("query_id"),
        graft.functions.NativeExprs.packInt8(
          sq8QuantLit(col("q_vec"), model.absmax)).as("__qcode"),
        probeCol.as("cluster"))
    // pruneBuckets: pin the batch's probed cluster ids as an IN-filter —
    // on a materializeBucketed index the scan turns it into bucket
    // pruning (SelectedBucketsCount), same contract as ivfPqQuery
    val idx =
      if (!pruneBuckets) model.index
      else {
        val probed = queries.select(col(vecCol).as("q_vec"))
          .select(probeCol.as("cluster")).distinct()
          .collect().map(_.getInt(0)).toSeq
        model.index.filter(col("cluster").isin(probed: _*))
      }
    val approx = idx.join(broadcast(qb), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.NativeExprs.byteVecDot(col("__qcode"), col("__code")).as("adot"))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("adot").desc, col("neighbor_id"))
    // dropDuplicates: no-op on a clean index (one cluster per vector) but
    // makes a replayed streaming append unable to rank a neighbor twice —
    // same contract as ivfPqQuery
    val cand = approx.withColumn("__ra", row_number().over(wA))
      .filter(col("__ra") <= nCandidates).select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val cn = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim)))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    val wC = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cn.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** [[ivfSq8Index]] with the index PERSISTED as a parquet table
    * bucketed (and per-file sorted) by `cluster` — identical deployment
    * contract to [[ivfPqIndexMaterialized]]: the linear build runs ONCE,
    * cluster-keyed reads are exchange-free, and
    * [[ivfSq8Query]]`(pruneBuckets = true)` prunes whole bucket FILES at
    * the scan. The stored rows are (id, cluster, dim-byte binary). */
  def ivfSq8IndexMaterialized(corpus: DataFrame, dim: Int,
      path: String, tableName: String, buckets: Int = 16,
      nCentroids: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): IvfSq8Model = {
    val model = ivfSq8Index(corpus, dim, nCentroids, idCol, vecCol, trainMod)
    model.copy(index = graft.ops.Relational.materializeBucketed(
      model.index, path, tableName, "cluster", buckets))
  }

  /** Build + query in one call (the bench/oracle entry; deployments
    * build once via [[ivfSq8Index]] and query many). */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3, nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = ivfSq8Index(corpus, dim, nCentroids, idCol, vecCol)
    ivfSq8Query(model, corpus, queries, k, dim, nProbe, nCandidates, idCol, vecCol)
  }

  /** Oracle twin of [[ivfSq8TopK]]: the IVF oracle's bit-identical
    * coarse index ([[kmeansAssignCtes]]) + the SQ8 oracle's exact
    * integer quantization/dot, the same nCandidates cut, the same exact
    * cosine re-rank. The packed-binary storage is a Spark-side detail:
    * byte dots sign-extend to the identical integer sums. */
  def ivfSq8TopKSql(table: String, queryPred: String, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3, nCandidates: Int = 50): String = {
    def quant(v: String) =
      s"list_transform($v, __x -> CAST(least(greatest(round(CAST(__x AS DOUBLE) * 127.0 / " +
        s"absmax), -127.0), 127.0) AS INTEGER))"
    val idot =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, $dim + 1), " +
        s"__i -> CAST(q.qq[__i] AS BIGINT) * CAST(c.cq[__i] AS BIGINT))), (__a, __x) -> __a + __x)"
    def dotCl(v: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> CAST($v[i] AS DOUBLE) * c.cl[i])), (acc, x) -> acc + x)"
    s"""WITH ${kmeansAssignCtes(table, dim, nCentroids)}, __am AS (
       |  SELECT max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(embedding, __x -> abs(CAST(__x AS DOUBLE)))),
       |    (__a, __x) -> greatest(__a, __x))) AS absmax
       |  FROM $table
       |), __cq AS (
       |  SELECT vec_id AS neighbor_id, cluster, ${quant("embedding")} AS cq
       |  FROM __asg, __am
       |), __qp AS (
       |  SELECT query_id, q_vec, cluster FROM (
       |    SELECT query_id, q_vec, cluster,
       |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cluster) AS rn
       |    FROM (SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cluster,
       |                 ${dotCl("q.embedding")} AS d
       |          FROM $table q CROSS JOIN __cf c WHERE $queryPred)) WHERE rn <= $nProbe
       |), __qq AS (
       |  SELECT query_id, cluster, ${quant("q_vec")} AS qq FROM __qp, __am
       |), __s AS (
       |  SELECT q.query_id, c.neighbor_id, $idot AS adot
       |  FROM __qq q JOIN __cq c USING (cluster) WHERE q.query_id <> c.neighbor_id
       |), __cand AS (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, neighbor_id) AS ra
       |    FROM __s) WHERE ra <= $nCandidates
       |), __x AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${cosineSql("qv.embedding", "ev.embedding", dim)} AS cos
       |  FROM __cand cd JOIN $table qv ON qv.vec_id = cd.query_id
       |                 JOIN $table ev ON ev.vec_id = cd.neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __x
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k""".stripMargin
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation operator that closes the ANN loop: every `*TopK` here
    * emits (query_id, neighbor_id, score, rank), so any two are
    * comparable. Per query: |approx ∩ exact| / |exact| (exact count in
    * the denominator, so a short approx list is penalized, a long one
    * isn't rewarded). One thin (query, neighbor) equi-join + one count —
    * the d_contam probe shape; recall is a double division of exact
    * ints, engine-exact. */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    exact.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Rank-position evaluation of an approximate ANN result — the MRR
    * face of [[annRecall]]: per query, WHERE the true nearest neighbor
    * (exact rank 1) lands in the approximate list (NULL = missed), and
    * the reciprocal rank in integer micro-units (10^6 div rank — the
    * float 1/r is representable but a downstream MEAN of floats is
    * order-dependent, while a mean over rr_micro sums BIGINTs). Same
    * thin (query, neighbor) equi-join shape as recall. */
  def annRankEval(approx: DataFrame, exact: DataFrame): DataFrame = {
    val nn = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val a = approx.select(col("query_id"),
      col("neighbor_id").as("true_nn"), col("rank").as("found_rank"))
    nn.join(a, Seq("query_id", "true_nn"), "left")
      .withColumn("rr_micro",
        when(col("found_rank").isNotNull,
          expr("1000000 div cast(found_rank as bigint)")).otherwise(0L))
      .select("query_id", "true_nn", "found_rank", "rr_micro")
  }

  /** Oracle twin of [[annRankEval]]. */
  def annRankEvalSql(approxSql: String, exactSql: String): String =
    s"""WITH __ap AS (
       |  SELECT query_id, neighbor_id, rank FROM ($approxSql)
       |), __nn AS (
       |  SELECT query_id, neighbor_id AS true_nn FROM ($exactSql) WHERE rank = 1
       |)
       |SELECT n.query_id, n.true_nn, a.rank AS found_rank,
       |       CAST(coalesce(1000000 // CAST(a.rank AS BIGINT), 0) AS BIGINT) AS rr_micro
       |FROM __nn n LEFT JOIN __ap a
       |  ON a.query_id = n.query_id AND a.neighbor_id = n.true_nn""".stripMargin

  /** Oracle twin of [[annRecall]]: wraps two complete top-k statements
    * (each already oracle-exact) and applies the same join + count. */
  def annRecallSql(approxSql: String, exactSql: String): String =
    s"""WITH __ap AS (
       |  SELECT query_id, neighbor_id, 1 AS hit FROM ($approxSql)
       |), __ex AS (
       |  SELECT query_id, neighbor_id FROM ($exactSql)
       |)
       |SELECT e.query_id, count(*) AS n_exact,
       |       CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hit,
       |       CAST(sum(coalesce(a.hit, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM __ex e LEFT JOIN __ap a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  /** Attribute-filtered exact kNN — "filtered vector search": each
    * query's top-k among ONLY the corpus vectors sharing its
    * `filterCol` value (the tenant / language / category gate every
    * production vector store needs). The metadata predicate becomes the
    * JOIN KEY rather than a post-filter: post-filtering a global top-k
    * under-fills k whenever the filter is selective, while the
    * filter-equi-join scores exactly the matching stratum and k is
    * always honest.
    *
    * 100 TB shape: the corpus is partitioned (or bucketed) by the
    * filter column — the natural layout for tenanted embeddings — so
    * the broadcast-query join touches one stratum's files per query
    * batch and the rank shuffle carries thin (query, neighbor, cos)
    * rows. Selective filters make this CHEAPER than unfiltered ANN, not
    * more expensive. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      filterCol: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(filterCol).as("__f"))
      .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim)))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(filterCol).as("__qf"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    val scored = c.join(broadcast(q),
        col("__f") === col("__qf") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Oracle twin of [[filteredTopK]]: the same filter-equi-join and
    * rank, with the metadata equality in the join predicate. */
  def filteredTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      filterCol: String): String =
    s"""WITH __q AS (
       |  SELECT vec_id AS query_id, embedding AS q_vec, $filterCol AS qf
       |  FROM $table WHERE $queryPred
       |), __s AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("q_vec", "e.embedding", 64)} AS cos
       |  FROM $table e JOIN __q q
       |    ON e.$filterCol = q.qf AND q.query_id <> e.vec_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __s
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Pair-counting agreement between the deterministic k-means-lite
    * assignment and a reference label column — the Adjusted Rand Index
    * (Hubert & Arabie, 1985), the standard external clustering-quality
    * metric. Every component is an EXACT BIGINT pair count (Σ C(n,2)
    * over the contingency table and its margins) and the index itself
    * is assembled from those integers with one fixed-order double
    * expression, so the whole evaluation — not just the counts — is
    * engine-reproducible. ARI = 1 → clusters reproduce the labels;
    * ≈ 0 → chance-level agreement.
    *
    * 100 TB shape: assignment is the broadcast-centroid projection
    * ([[assignClustersLocal]]); the contingency table is ONE combinable
    * (cluster, label) count — k × |labels| rows, catalog-sized — and
    * everything after is arithmetic on that tiny table. Nothing
    * pairwise: C(n,2) is computed from counts, never by joining rows. */
  def clusterEval(corpus: DataFrame, dim: Int, nCentroids: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cents = collectCentroids(
      ivfCentroids(corpus, dim, nCentroids, 1, idCol, vecCol))
    val asg = assignClustersLocal(
      corpus.select(col(idCol), col(vecCol), col(labelCol).as("__lab")),
      cents, vecCol, idCol)
    // n*(n-1) is even, so the shift is exact integer halving (the SQL
    // twin's `// 2`); Column `/` would go through double
    def comb2(c: Column): Column = shiftright(c * (c - lit(1)), 1)
    val cont = asg.groupBy(col("cluster"), col("__lab"))
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint(false) // tiny; reused by all three margin sums
    val byCluster = cont.groupBy("cluster").agg(sum(col("nij")).as("ai"))
    val byLabel = cont.groupBy("__lab").agg(sum(col("nij")).as("bj"))
    val parts = cont.agg(sum(comb2(col("nij"))).as("sum_comb_ij"),
        sum(col("nij")).as("n"))
      .crossJoin(byCluster.agg(sum(comb2(col("ai"))).as("sum_comb_a")))
      .crossJoin(byLabel.agg(sum(comb2(col("bj"))).as("sum_comb_b")))
    parts.select(col("n"), col("sum_comb_ij"), col("sum_comb_a"), col("sum_comb_b"),
        comb2(col("n")).as("comb_n"))
      .withColumn("__e",
        col("sum_comb_a").cast("double") * col("sum_comb_b").cast("double") /
          col("comb_n").cast("double"))
      .withColumn("__m",
        (col("sum_comb_a").cast("double") + col("sum_comb_b").cast("double")) / lit(2.0))
      .withColumn("ari",
        when(col("__m") === col("__e"), lit(null).cast("double"))
          .otherwise((col("sum_comb_ij").cast("double") - col("__e")) /
            (col("__m") - col("__e"))))
      .select("n", "sum_comb_ij", "sum_comb_a", "sum_comb_b", "comb_n", "ari")
  }

  /** Oracle twin of [[clusterEval]]: the shared k-means CTE chain, the
    * same exact C(n,2) integers, the same fixed-order ARI expression. */
  def clusterEvalSql(table: String, dim: Int, nCentroids: Int = 8): String =
    s"""WITH ${kmeansAssignCtes(table, dim, nCentroids)}, __ct AS (
       |  SELECT a.cluster, l.label, CAST(count(*) AS BIGINT) AS nij
       |  FROM __asg a JOIN $table l ON a.vec_id = l.vec_id
       |  GROUP BY a.cluster, l.label
       |), __p AS (
       |  SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sum_comb_ij,
       |         CAST(sum(nij) AS BIGINT) AS n
       |  FROM __ct
       |), __pa AS (
       |  SELECT CAST(sum((ai * (ai - 1)) // 2) AS BIGINT) AS sum_comb_a FROM (
       |    SELECT CAST(sum(nij) AS BIGINT) AS ai FROM __ct GROUP BY cluster)
       |), __pb AS (
       |  SELECT CAST(sum((bj * (bj - 1)) // 2) AS BIGINT) AS sum_comb_b FROM (
       |    SELECT CAST(sum(nij) AS BIGINT) AS bj FROM __ct GROUP BY label)
       |)
       |SELECT n, sum_comb_ij, sum_comb_a, sum_comb_b,
       |       CAST((n * (n - 1)) // 2 AS BIGINT) AS comb_n,
       |       CASE WHEN (CAST(sum_comb_a AS DOUBLE) + CAST(sum_comb_b AS DOUBLE)) / 2.0
       |                 = CAST(sum_comb_a AS DOUBLE) * CAST(sum_comb_b AS DOUBLE) / CAST((n * (n - 1)) // 2 AS DOUBLE)
       |            THEN NULL
       |            ELSE (CAST(sum_comb_ij AS DOUBLE)
       |                  - CAST(sum_comb_a AS DOUBLE) * CAST(sum_comb_b AS DOUBLE) / CAST((n * (n - 1)) // 2 AS DOUBLE))
       |                 / ((CAST(sum_comb_a AS DOUBLE) + CAST(sum_comb_b AS DOUBLE)) / 2.0
       |                    - CAST(sum_comb_a AS DOUBLE) * CAST(sum_comb_b AS DOUBLE) / CAST((n * (n - 1)) // 2 AS DOUBLE)) END AS ari
       |FROM __p CROSS JOIN __pa CROSS JOIN __pb""".stripMargin

  /** Oracle twin of [[embedContamination]]: same cosine folds, the
    * argmax expressed as the rank-1 row under (cos DESC, bench_id). */
  def embedContaminationSql(table: String, benchPred: String,
      corpusPred: String, threshold: Double, dim: Int): String = {
    s"""WITH __b AS (
       |  SELECT vec_id AS bench_id, embedding AS b_vec FROM $table WHERE $benchPred
       |), __c AS (
       |  SELECT vec_id, embedding FROM $table WHERE $corpusPred
       |), __s AS (
       |  SELECT c.vec_id, b.bench_id,
       |         ${cosineSql("c.embedding", "b.b_vec", dim)} AS cos
       |  FROM __c c CROSS JOIN __b b
       |), __r AS (
       |  SELECT vec_id, bench_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rk
       |  FROM __s
       |)
       |SELECT vec_id, bench_id, cos AS max_cos, cos >= $threshold AS contaminated
       |FROM __r WHERE rk = 1""".stripMargin
  }

  /** Deterministic pseudo-random hyperplanes (seeded), returned as a
    * literal array column: planes(p)(i) — no data-dependent state. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-bucket key: bit p = (v · plane_p) >= 0. 16 planes → 65536
    * buckets; bucket key is a small int, so candidate gen is a plain
    * equi-join.
    *
    * The per-plane dot is the native codegen'd
    * [[graft.functions.FloatDoubleVecDot]] against a flat literal
    * array — NOT dim nested `+` nodes. The nested form builds a
    * plan tree Catalyst re-walks per optimizer pass and codegens into
    * kilolines; with planes × tables that multiplied into minutes of
    * pure planning/compilation. Identical arithmetic to the
    * `zip_with`+`aggregate` HOF fold it replaces (seed 0.0, index-order
    * accumulation, double casts), which stays the documented SQL twin. */
  def lshBucket(vecCol: String, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(lit): _*)
      val d = graft.functions.NativeExprs.floatDoubleVecDot(col(vecCol), planeLit)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k with L independent hash tables: a corpus vector is a
    * candidate if it shares a bucket with the query in ANY table (the
    * classic recall lever — one table's recall is bucket-bounded), then
    * candidates are re-ranked by exact cosine. Recall < 1 by construction
    * (spec asserts a floor vs brute force); per-query cost is L hash
    * probes instead of a corpus scan. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nPlanes: Int = 4, nTables: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // (table, bucket) membership exploded to rows on BOTH sides, then ONE
    // equi-join on the compound key — candidate ∈ any shared bucket. One
    // pass computes all tables' buckets (no persist, no per-table join
    // fan: L tables cost L rows per vector, not L plan stages); at scale
    // the corpus side shuffles 8-byte keys, and the query side stays
    // broadcast.
    def addBuckets(df: DataFrame, vc: String): DataFrame = {
      val tb = array((0 until nTables).map { t =>
        struct(lit(t).as("ht"),
          lshBucket(vc, hyperplanes(nPlanes, dim, seed = 42L + t)).as("hb"))
      }: _*)
      df.withColumn("__tb", explode(tb))
        .withColumn("ht", col("__tb.ht")).withColumn("hb", col("__tb.hb"))
        .drop("__tb")
    }
    val cb = addBuckets(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")), "c_vec")
    val qb = addBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")), "q_vec")
    // candidate pairs may repeat across tables: dedup on THIN
    // (query_id, neighbor_id) rows — never shuffle table-multiplied
    // vector copies — then cos is computed once per unique pair and the
    // rank window again shuffles thin rows only
    val cand = cb.select("ht", "hb", "neighbor_id")
      .join(broadcast(qb.select("ht", "hb", "query_id")), Seq("ht", "hb"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val cn = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim)))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    val scored = cand.join(cn, Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Oracle twin for [[lshTopK]]: the SAME planes as 32 VALUES rows
    * (ht, bit, plane DOUBLE[]), per-vector bucket = SUM of sign bits
    * (integer sum — order-free), candidates = bucket equi-join on any
    * table, exact-cosine re-rank identical to the brute-force oracle.
    * The per-plane dot is the same seeded index-order fold as
    * [[lshBucket]]'s zip_with+aggregate, and `Double.toString` literals
    * round-trip exactly through DuckDB's correctly-rounded parser, so
    * every sign decision — hence every candidate set — matches bit-for-
    * bit by construction. */
  def lshTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      nPlanes: Int = 4, nTables: Int = 8): String = {
    val planeRows = (for {
      t <- 0 until nTables
      (plane, p) <- hyperplanes(nPlanes, dim, seed = 42L + t).zipWithIndex
    } yield s"($t, CAST(${1L << p} AS BIGINT), [${plane.mkString(", ")}]::DOUBLE[])")
      .mkString(",\n    ")
    def dotPlane(v: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> CAST($v[i] AS DOUBLE) * p.plane[i])), (acc, x) -> acc + x)"
    s"""WITH __planes(ht, bit, plane) AS (VALUES
       |    $planeRows
       |), __qb AS (
       |  SELECT q.vec_id AS query_id, p.ht,
       |         SUM(CASE WHEN ${dotPlane("q.embedding")} >= 0 THEN p.bit ELSE CAST(0 AS BIGINT) END) AS hb
       |  FROM $table q CROSS JOIN __planes p WHERE $queryPred GROUP BY q.vec_id, p.ht
       |), __cb AS (
       |  SELECT e.vec_id AS neighbor_id, p.ht,
       |         SUM(CASE WHEN ${dotPlane("e.embedding")} >= 0 THEN p.bit ELSE CAST(0 AS BIGINT) END) AS hb
       |  FROM $table e CROSS JOIN __planes p GROUP BY e.vec_id, p.ht
       |), __cand AS (
       |  SELECT DISTINCT query_id, neighbor_id
       |  FROM __qb JOIN __cb USING (ht, hb) WHERE query_id <> neighbor_id
       |), __s AS (
       |  SELECT query_id, neighbor_id,
       |         ${cosineSql("q.embedding", "e.embedding", dim)} AS cos
       |  FROM __cand c JOIN $table q ON q.vec_id = c.query_id
       |                JOIN $table e ON e.vec_id = c.neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __s
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Quantization scale for centroid means: component sums accumulate as
    * `round(f * 2^20)` longs. f→double and the 2^20 scaling are exact
    * (power of two), longs sum order-independently, and the single final
    * double division is correctly rounded — so the centroids are
    * BIT-REPRODUCIBLE on any partitioning and in any engine, which is
    * what lets the IVF path have a cell-exact SQL oracle. Quantization
    * error (~1e-6 per component) is far below the coarse-index
    * resolution. */
  val CentroidQ: Double = 1048576.0

  /** IVF coarse index: deterministic k-means-lite centroids.
    * Seed clusters by `vec_id % nCentroids`, then `iters` Lloyd rounds —
    * assignment is a broadcast-centroid argmax projection (no shuffle of
    * the corpus), the mean recompute is ONE hash aggregate with `dim`
    * positional quantized-sum columns (no row explosion: a posexplode
    * form shuffles dim× the corpus row count and needs a
    * collect_list+sort to reassemble). Returns
    * (cluster INT, centroid ARRAY<DOUBLE>). */
  def ivfCentroids(corpus: DataFrame, dim: Int, nCentroids: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): DataFrame = {
    def recompute(assigned: DataFrame): DataFrame = {
      val sums = (0 until dim).map(i =>
        sum(round(element_at(col(vecCol), i + 1).cast("double") * CentroidQ)
          .cast("long")).as(s"__s$i"))
      assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("cluster"),
          array((0 until dim).map(i =>
            col(s"__s$i").cast("double") / (col("__n").cast("double") * CentroidQ)): _*)
          .as("centroid"))
    }
    // the Lloyd rounds see the deterministic id-modulo sample (centroid
    // quality needs representativeness, not the corpus — the same lever
    // as pqCodebooks' trainMod); downstream assignment of the FULL
    // corpus is the callers' business, against the returned centroids
    val trainSrc =
      if (trainMod <= 1L) corpus else corpus.filter(col(idCol) % trainMod === 0L)
    val seeded = trainSrc.select(
      (seedId(idCol, trainMod) % nCentroids).cast("int").as("cluster"), col(vecCol))
    // NOT a distributed-centroid (broadcast-packed / broadcast-join)
    // Lloyd round: measured r12 — folding the per-round centroid
    // collect into the plan did NOT drop the job count (under AQE every
    // exchange materializes as its own job either way, so the collect
    // round-trip was never the cost) and ADDED a broadcast build plus
    // per-row array/struct extraction where the literal path bakes
    // constants into codegen: family subset bench (same JVM, 3-pass
    // mins) s_knn_ivf 1.17 → 2.04 s, s_cluster_eval 0.97 → 1.96 s,
    // pipe_semdedup 1.94 → 2.83 s. The collect-then-literal shape
    // stands (guide §1.1: the "ideal" plan lost to the measured one).
    (1 to iters).foldLeft(recompute(seeded)) { (cents, _) =>
      recompute(assignClusters(trainSrc, cents, dim, vecCol, idCol)
        .select(col("cluster"), col(vecCol)))
    }
  }

  /** Seed id for `% k` cluster/code seeding under id-modulo sampling:
    * the trainMod sample keeps only ids ≡ 0 (mod trainMod), so seeding
    * on the RAW id populates only buckets that are multiples of
    * gcd(trainMod, k) — trainMod=2,k=16 would seed 8 of 16 codes, and
    * trainMod=k collapses to ONE bucket. Dividing the id by trainMod
    * first makes the sampled ids consecutive again, so `% k` covers
    * every bucket for ANY (trainMod, k) pair. Integer `div` (not `/`:
    * Column division is double and loses exactness past 2^53 ids);
    * trainMod <= 1 is the identity, so unsampled paths — and every
    * existing oracle — are byte-for-byte unchanged. Mirrored in the SQL
    * twins' `//` integer division. */
  private def seedId(idCol: String, trainMod: Long): Column =
    if (trainMod <= 1L) col(idCol) else expr(s"$idCol div ${trainMod}L")

  /** Collect a centroid table to the driver ONCE (it is nCentroids
    * rows — catalog-sized, never data-sized). */
  def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Double])] =
    centroids.select("cluster", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  /** Nearest-centroid assignment as a pure projection against broadcast
    * centroids: per row, a score ARRAY (one dot per centroid, each a
    * compact fold), then argmax via array_max/array_position over the
    * bound array column. NEVER a `reduce(when(a >= b, a, b))` over score
    * structs — that duplicates every dot subtree at each reduction level
    * (2^centroids evaluations; the same trap as SURVEY §2.12's shingle
    * note). Ties resolve to the lowest-index (first) centroid. */
  def assignClusters(df: DataFrame, centroids: DataFrame, dim: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    assignClustersLocal(df, collectCentroids(centroids), vecCol, idCol)

  /** Above this cluster count, assignment switches from the flat
    * literal-argmax expression to the broadcast-join shape: the k-wide
    * score-array expression outgrows JIT-able generated code around
    * here (observed ~50× per-row slowdown by k ≈ 100 — the argmax
    * falls back to interpreted evaluation), while the join path stays
    * codegen'd at any k. */
  val AssignJoinK = 48

  /** [[assignClusters]] against an already-collected centroid array —
    * the entry point when the caller reuses the centroids elsewhere
    * (collecting the DataFrame twice would re-run the whole Lloyd
    * pipeline per collect; lineage is lazy, not memoized). */
  def assignClustersLocal(df: DataFrame, cents: Array[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    // empty index (only reachable from an empty corpus): an argless
    // array() literal is NullType and fails analysis — keep the schema,
    // emit no cluster
    if (cents.isEmpty) return df.withColumn("cluster", lit(null).cast("int"))
    val scores = array(cents.map { case (_, c) =>
      graft.functions.NativeExprs.floatDoubleVecDot(col(vecCol), array(c.map(lit): _*))
    }: _*)
    val cidArr = array(cents.map(c => lit(c._1)): _*)
    df.withColumn("__scores", scores)
      .withColumn("cluster",
        element_at(cidArr, array_position(col("__scores"), array_max(col("__scores"))).cast("int")))
      .drop("__scores")
  }

  /** [[assignClustersLocal]] with a row key, which unlocks the
    * large-k assignment shape: beyond [[AssignJoinK]] centroids the
    * centroid table is broadcast as DATA (not as literals baked into
    * one giant expression), each (row, centroid) dot is scored
    * map-side on thin (id, cid, d) rows, and the per-row argmax is a
    * map-side-combinable `max(struct(d, -cid))` — so the shuffle
    * carries ONE row per vector and the generated code stays small and
    * JIT-compiled at any k. Tie-break (equal d → lowest cid) and the
    * double arithmetic are identical to the literal path, so results —
    * and the oracles built on them — are unchanged.
    *
    * Precondition: `idCol` should be unique and non-null (true of every
    * corpus this library builds — vec_id/doc_id keys). Rows sharing an
    * id collapse to one argmax over ALL their (row, centroid) scores —
    * the literal path would score each row independently; a NULL id
    * scores no pairs and comes back with a NULL cluster (the left join
    * below keeps the row rather than silently dropping it, which is as
    * close to the literal path as a keyed shape can get). */
  def assignClustersLocal(df: DataFrame, cents: Array[(Int, Seq[Double])],
      vecCol: String, idCol: String): DataFrame = {
    if (cents.length <= AssignJoinK) return assignClustersLocal(df, cents, vecCol)
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.map { case (cid, c) => (cid, c) }.toDF("__cid", "__cent")
    val scored = df.select(col(idCol), col(vecCol)).crossJoin(broadcast(centDf))
      .select(col(idCol), col("__cid"),
        graft.functions.NativeExprs.floatDoubleVecDot(col(vecCol), col("__cent")).as("__d"))
    val best = scored.groupBy(col(idCol))
      .agg(max(struct(col("__d"), (-col("__cid")).as("__nc"))).as("__b"))
      .select(col(idCol), (-col("__b.__nc")).cast("int").as("cluster"))
    df.join(best, Seq(idCol), "left")
  }

  /** IVF ANN top-k: probe the `nProbe` centroids nearest each query,
    * take the corpus vectors of those clusters as candidates (equi-join
    * on the cluster id), re-rank by exact cosine. The scale shape:
    * cluster assignment is an embarrassingly-parallel projection, the
    * candidate join shuffles only cluster-bucketed rows, and recall is
    * tuned by nProbe/nCentroids — the standard IVF-flat trade. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ONE collect of the centroid table: both the corpus assignment and
    // the query-side probe list are built from the same local array (a
    // second .collect() would lazily re-run the entire Lloyd pipeline)
    val centsLocal = collectCentroids(ivfCentroids(corpus, dim, nCentroids, 1, idCol, vecCol))
    val cb = assignClustersLocal(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim))),
      centsLocal, "c_vec", "neighbor_id")
    val scoredCents = array(centsLocal.map { case (cid, c) =>
      struct((-graft.functions.NativeExprs.floatDoubleVecDot(col("q_vec"), array(c.map(lit): _*)))
        .as("neg"), lit(cid).as("cid"))
    }: _*)
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
      .withColumn("cluster",
        explode(slice(transform(array_sort(scoredCents), x => x("cid")), 1, nProbe)))
    // each corpus vector lives in exactly ONE cluster, so (query,
    // neighbor) pairs are already unique — no dedup shuffle; and the
    // rank window input is thinned to (query_id, neighbor_id, cos) so
    // the per-query shuffle never carries vectors
    val scored = cb.join(broadcast(qb), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** CTE chain for the bit-reproducible k-means-lite index (iters = 1):
    * seed by `vec_id % nCentroids`, quantized-integer means, one Lloyd
    * round, final assignment. Ends in `__cf(cluster, cl)` (the final
    * centroids) and `__asg(vec_id, embedding, cluster)` (every corpus
    * vector under its final centroid) — shared verbatim by the IVF and
    * SemDeDup oracles so both compose the SAME index arithmetic. */
  private def kmeansAssignCtes(table: String, dim: Int, nCentroids: Int): String =
    kmeansAssignCtes(table, dim, nCentroids.toString)

  /** [[kmeansAssignCtes]] with the cluster count as a SQL expression —
    * a literal for the fixed-k callers, a scalar subquery (e.g.
    * `(SELECT k FROM __k)`) for the auto-k policy, which is how the
    * oracle stays one static statement while k tracks corpus size. The
    * count appears ONLY in the `% k` seed, so nothing else changes. */
  private def kmeansAssignCtes(table: String, dim: Int, kExpr: String): String = {
    val q = CentroidQ
    def dotCl(v: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> CAST($v[i] AS DOUBLE) * c.cl[i])), (acc, x) -> acc + x)"
    def quantize(src: String) =
      s"""SELECT cluster, i, CAST(round(CAST(embedding[i] AS DOUBLE) * $q) AS BIGINT) AS qv
         |  FROM $src CROSS JOIN (SELECT unnest(range(1, $dim + 1)) AS i) __i""".stripMargin
    def means(qSrc: String) =
      s"""SELECT cluster, list(c ORDER BY i) AS cl FROM (
         |    SELECT cluster, i, CAST(sum(qv) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $q) AS c
         |    FROM $qSrc GROUP BY cluster, i) GROUP BY cluster""".stripMargin
    def assign(centCte: String) =
      s"""SELECT vec_id, embedding, cluster FROM (
         |    SELECT vec_id, embedding, cluster,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cluster) AS rn
         |    FROM (SELECT e.vec_id, e.embedding, c.cluster, ${dotCl("e.embedding")} AS d
         |          FROM $table e CROSS JOIN $centCte c)) WHERE rn = 1""".stripMargin
    s"""__seed AS (
       |  SELECT vec_id, CAST(vec_id % $kExpr AS INTEGER) AS cluster, embedding FROM $table
       |), __q0 AS (
       |  ${quantize("__seed")}
       |), __c0 AS (
       |  ${means("__q0")}
       |), __a1 AS (
       |  ${assign("__c0")}
       |), __q1 AS (
       |  ${quantize("__a1")}
       |), __cf AS (
       |  ${means("__q1")}
       |), __asg AS (
       |  ${assign("__cf")}
       |)""".stripMargin
  }

  /** Oracle twin for [[ivfTopK]] (iters = 1): the SAME quantized-integer
    * centroid arithmetic — component sums of `round(f * 2^20)` BIGINTs
    * (order-free), one correctly-rounded double division — so every
    * centroid, every argmax assignment, every probe choice, and hence
    * the exact candidate set match Spark bit-for-bit. Dots are the same
    * index-order list folds as [[dotSql]]; argmax ties resolve to the
    * lowest cluster id on both sides. */
  def ivfTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3): String = {
    def dotCl(v: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> CAST($v[i] AS DOUBLE) * c.cl[i])), (acc, x) -> acc + x)"
    s"""WITH ${kmeansAssignCtes(table, dim, nCentroids)}, __cb AS (
       |  SELECT vec_id AS neighbor_id, embedding AS c_vec, cluster FROM __asg
       |), __qp AS (
       |  SELECT query_id, q_vec, cluster FROM (
       |    SELECT query_id, q_vec, cluster,
       |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cluster) AS rn
       |    FROM (SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cluster,
       |                 ${dotCl("q.embedding")} AS d
       |          FROM $table q CROSS JOIN __cf c WHERE $queryPred)) WHERE rn <= $nProbe
       |), __s AS (
       |  SELECT DISTINCT query_id, neighbor_id,
       |         ${cosineSql("q_vec", "c_vec", dim)} AS cos
       |  FROM __qp JOIN __cb USING (cluster) WHERE query_id <> neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __s
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- product quantization (PQ) ANN ------------------------------------

  /** Collect a (s, code, cl) codebook table to the driver ONCE — it is
    * m × ksub rows, catalog-sized. Codes within a subspace are sorted so
    * positional indexing downstream is deterministic; a code bucket that
    * emptied during the Lloyd round simply doesn't appear (same
    * robustness contract as [[collectCentroids]]). */
  def collectCodebooks(cb: DataFrame): Array[(Int, Array[(Int, Seq[Double])])] =
    cb.select("s", "code", "cl").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (s, rows) => (s, rows.map(t => (t._2, t._3)).sortBy(_._1)) }

  /** Exploded (id, s, sv) subspace view: subvector s of each vector is
    * elements [s·subDim+1, (s+1)·subDim]. Linear in corpus × m. */
  private def subspaces(df: DataFrame, dim: Int, m: Int,
      idCol: String, vecCol: String): DataFrame = {
    val subDim = dim / m
    df.select(col(idCol),
      posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * subDim + 1, subDim)): _*)).as(Seq("s", "sv")))
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): split each
    * vector into `m` subvectors and k-means each subspace independently
    * into `ksub` codes. Same bit-reproducible quantized-integer Lloyd
    * discipline as [[ivfCentroids]] (seed by `vec_id % ksub`, one
    * round), with the subspace id in the grouping key — training all m
    * codebooks is ONE pair of hash aggregates, not m jobs. Returns
    * (s INT, code INT, cl ARRAY<DOUBLE>). */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): DataFrame = {
    val subDim = dim / m
    def recompute(assigned: DataFrame): DataFrame = {
      val sums = (0 until subDim).map(i =>
        sum(round(element_at(col("sv"), i + 1).cast("double") * CentroidQ)
          .cast("long")).as(s"__s$i"))
      assigned.groupBy(col("s"), col("code"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("s"), col("code"),
          array((0 until subDim).map(i =>
            col(s"__s$i").cast("double") / (col("__n").cast("double") * CentroidQ)): _*)
          .as("cl"))
    }
    // deterministic training sample (ids ≡ 0 mod trainMod): codebook
    // quality needs a representative sample, not the corpus — standard
    // PQ practice caps training at a few hundred vectors per code. The
    // train pass cost drops by ~trainMod while encoding (the consumer's
    // pass over the FULL corpus against the returned codebooks) is
    // unchanged. trainMod = 1 trains on everything.
    val trainSrc =
      if (trainMod <= 1L) corpus else corpus.filter(col(idCol) % trainMod === 0L)
    val sub = subspaces(trainSrc, dim, m, idCol, vecCol)
    val seeded = sub.select(col("s"),
      (seedId(idCol, trainMod) % ksub).cast("int").as("code"), col("sv"))
    // NOT a distributed-c0 (broadcast-joined) Lloyd round: same measured
    // r12 rejection as ivfCentroids' — under AQE the collect round-trip
    // was never a job, and the joined shape lost the baked-literal
    // codegen (family subset bench regressed ~25% on the PQ cells).
    val c0 = collectCodebooks(recompute(seeded))
    // one Lloyd round: per-subspace argmax against the broadcast
    // codebooks — a pure projection, scores staged per subspace so the
    // dot subtrees evaluate once (CASE picks the matching subspace's
    // array lazily; codegen evaluates only the taken branch)
    val scores = c0.foldRight(lit(null).cast("array<double>")) { case ((s, codes), acc) =>
      when(col("s") === s, array(codes.map { case (_, c) =>
        graft.functions.NativeExprs.floatDoubleVecDot(col("sv"), array(c.map(lit): _*))
      }: _*)).otherwise(acc)
    }
    val codeArr = c0.foldRight(lit(null).cast("array<int>")) { case ((s, codes), acc) =>
      when(col("s") === s, array(codes.map(c => lit(c._1)): _*)).otherwise(acc)
    }
    val a1 = sub.withColumn("__sc", scores)
      .withColumn("code",
        element_at(codeArr, array_position(col("__sc"), array_max(col("__sc"))).cast("int")))
    recompute(a1.select(col("s"), col("code"), col("sv")))
  }

  /** Codebooks with the empty-sample fallback: if the id-modulo training
    * sample produced NOTHING (trainMod coarser than the id range — a
    * config footgun, not a data property), retrain on the full corpus
    * rather than silently indexing nothing. A still-empty result means
    * the corpus itself is empty; callers return an empty top-k then. */
  /** Centroids with the same empty-sample fallback as
    * [[trainedCodebooks]]: a trainMod coarser than the id range must
    * retrain on the full corpus, not index nothing. */
  private def trainedCentroids(corpus: DataFrame, dim: Int, nCentroids: Int,
      iters: Int, idCol: String, vecCol: String,
      trainMod: Long): Array[(Int, Seq[Double])] = {
    val c = collectCentroids(
      ivfCentroids(corpus, dim, nCentroids, iters, idCol, vecCol, trainMod))
    if (c.nonEmpty || trainMod <= 1L) c
    else collectCentroids(ivfCentroids(corpus, dim, nCentroids, iters, idCol, vecCol))
  }

  private def trainedCodebooks(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      idCol: String, vecCol: String, trainMod: Long): Array[(Int, Array[(Int, Seq[Double])])] = {
    val cb = collectCodebooks(pqCodebooks(corpus, dim, m, ksub, idCol, vecCol, trainMod))
    if (cb.nonEmpty || trainMod <= 1L) cb
    else collectCodebooks(pqCodebooks(corpus, dim, m, ksub, idCol, vecCol))
  }

  /** Schema-correct empty ANN result (untrained index on an empty
    * corpus): (query_id, neighbor_id, cos, rank), zero rows. */
  private def emptyTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"))
      .crossJoin(corpus.select(col(idCol).as("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"),
        lit(0.0).as("cos"), lit(0).as("rank"))
      .limit(0)

  /** PQ ANN top-k with asymmetric-distance scoring: encode every corpus
    * vector as m small code indexes (64 floats → m ints — the 100 TB
    * memory/shuffle lever: the scored table carries codes, never raw
    * vectors), compute each query's m × ksub lookup table of quantized
    * partial dots ONCE, score every (query, vector) pair as m integer
    * table lookups summed as longs (order-free, engine-exact — the ADC
    * trick, no floating dot in the hot scan), keep the top
    * `nCandidates` by approximate score, then re-rank only those by
    * exact cosine against the raw vectors. Candidate and rank
    * boundaries are decided by exact longs / bit-identical doubles with
    * id tie-breaks, so the result is deterministic and cell-exact
    * cross-engine. Recall < 1 by construction (spec asserts a floor vs
    * brute force). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): DataFrame = {
    val subDim = dim / m
    val cb = trainedCodebooks(corpus, dim, m, ksub, idCol, vecCol, trainMod)
    if (cb.isEmpty) return emptyTopK(corpus, queries, idCol)
    // flat LUT offsets per subspace (codebooks may be ragged if a code
    // bucket emptied during training; positions are 1-based)
    val offsets = cb.scanLeft(0)((acc, sc) => acc + sc._2.length)
    def svCol(vc: String, s: Int) = slice(col(vc), s * subDim + 1, subDim)
    def scoreArr(vc: String, s: Int) = array(cb(s)._2.map { case (_, c) =>
      graft.functions.NativeExprs.floatDoubleVecDot(svCol(vc, s), array(c.map(lit): _*))
    }: _*)
    // codes-ONLY scan table: the raw vector is dropped before the ADC
    // join, so the hot scan and the candidate window shuffle carry
    // (id, m ints) — NOT 64 floats — per row. Raw vectors re-enter only
    // for the nCandidates survivors, via a keyed join below.
    val encoded = (0 until m).foldLeft(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))) { (df, s) =>
      df.withColumn(s"__sc$s", scoreArr("c_vec", s))
    }.select(col("neighbor_id"),
      array((0 until m).map(s =>
        array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))).cast("int")): _*)
        .as("__pos"))
    val lut = array((0 until m).flatMap(s => cb(s)._2.map { case (_, c) =>
      round(graft.functions.NativeExprs.floatDoubleVecDot(svCol("q_vec", s),
        array(c.map(lit): _*)) * CentroidQ).cast("long")
    }): _*)
    val qlut = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .select(col("query_id"), lut.as("__lut"))
    // thin approx rows: (query_id, neighbor_id, approx_q) ONLY — the
    // per-query rank shuffle must never carry vectors or the LUT
    val approx = encoded.join(broadcast(qlut), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (0 until m).map(s =>
          element_at(col("__lut"), lit(offsets(s)) + element_at(col("__pos"), s + 1)))
          .reduce(_ + _).as("approx_q"))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("approx_q").desc, col("neighbor_id"))
    val cand = approx.withColumn("__ra", row_number().over(wA))
      .filter(col("__ra") <= nCandidates).select("query_id", "neighbor_id")
    // exact re-rank: raw vectors rejoin for queries x nCandidates rows only
    val cn = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim)))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    val wC = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cn.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** CTE chain for the bit-reproducible PQ codebook training (one Lloyd
    * round, quantized-integer means — the subspace analogue of
    * [[kmeansAssignCtes]]). CTE names carry prefix `p` so the chain can
    * coexist with the IVF chain in one statement; ends in
    * `${p}cfin(s, code, cl)` (the codebooks) and
    * `${p}codes(vec_id, s, sv, code)` (every corpus subvector under its
    * final code). Shared verbatim by the PQ and IVF-PQ oracles. */
  private def pqTrainCtes(table: String, dim: Int, m: Int, ksub: Int,
      p: String, trainMod: Long = 1L): String = {
    val subDim = dim / m
    val q = CentroidQ
    def dotCl(sv: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $subDim + 1), " +
        s"i -> CAST($sv[i] AS DOUBLE) * c.cl[i])), (acc, x) -> acc + x)"
    def quantize(src: String) =
      s"""SELECT s, code, i, CAST(round(CAST(sv[i] AS DOUBLE) * $q) AS BIGINT) AS qv
         |  FROM $src CROSS JOIN (SELECT unnest(range(1, $subDim + 1)) AS i) __i""".stripMargin
    def means(qSrc: String) =
      s"""SELECT s, code, list(c ORDER BY i) AS cl FROM (
         |    SELECT s, code, i, CAST(sum(qv) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $q) AS c
         |    FROM $qSrc GROUP BY s, code, i) GROUP BY s, code""".stripMargin
    def assign(centCte: String, srcCte: String) =
      s"""SELECT vec_id, s, sv, code FROM (
         |    SELECT vec_id, s, sv, code,
         |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d DESC, code) AS rn
         |    FROM (SELECT u.vec_id, u.s, u.sv, c.code, ${dotCl("u.sv")} AS d
         |          FROM $srcCte u JOIN $centCte c ON c.s = u.s)) WHERE rn = 1""".stripMargin
    // trainMod > 1: the Lloyd round runs on the deterministic id-modulo
    // sample (same filter as the Scala side), with the Scala twins'
    // empty-sample fallback — a trainMod coarser than the id range
    // trains on the full corpus instead of silently indexing nothing —
    // and the same `id div trainMod` seed (see [[seedId]]: raw-id `% k`
    // seeding under the sample only covers multiples of
    // gcd(trainMod, k)). Final code assignment still covers the FULL
    // corpus. `//` is DuckDB integer division == Spark `div` on the
    // non-negative ids both engines see.
    val sampleCtes = if (trainMod <= 1L) ""
      else s"""${p}smp AS (
              |  SELECT * FROM ${p}sub WHERE vec_id % $trainMod = 0
              |), ${p}tr AS (
              |  SELECT * FROM ${p}smp
              |  UNION ALL
              |  SELECT * FROM ${p}sub WHERE NOT EXISTS (SELECT 1 FROM ${p}smp)
              |), """.stripMargin
    val tsub = if (trainMod <= 1L) s"${p}sub" else s"${p}tr"
    // the CASE keeps the fallback branch bit-identical to Scala's (which
    // retrains via trainMod = 1, i.e. raw-id seeding): divide only when
    // the sample actually trained
    val seedExpr = if (trainMod <= 1L) s"CAST(vec_id % $ksub AS INTEGER)"
      else s"CAST((CASE WHEN EXISTS (SELECT 1 FROM ${p}smp) " +
        s"THEN vec_id // $trainMod ELSE vec_id END) % $ksub AS INTEGER)"
    s"""${p}sub AS (
       |  SELECT vec_id, s,
       |         list_transform(range(1, $subDim + 1), i -> embedding[s * $subDim + i]) AS sv
       |  FROM $table CROSS JOIN (SELECT unnest(range(0, $m)) AS s) __s
       |), $sampleCtes${p}seed AS (
       |  SELECT vec_id, s, $seedExpr AS code, sv FROM $tsub
       |), ${p}q0 AS (
       |  ${quantize(s"${p}seed")}
       |), ${p}c0 AS (
       |  ${means(s"${p}q0")}
       |), ${p}a1 AS (
       |  ${assign(s"${p}c0", tsub)}
       |), ${p}q1 AS (
       |  ${quantize(s"${p}a1")}
       |), ${p}cfin AS (
       |  ${means(s"${p}q1")}
       |), ${p}codes AS (
       |  ${assign(s"${p}cfin", s"${p}sub")}
       |)""".stripMargin
  }

  /** Oracle twin for [[pqTopK]]: the same subspace split (explicit
    * element indexing, not engine slice syntax), the same
    * quantized-integer codebook training keyed (s, code), argmax
    * assignment with DESC+code tie-break, quantized-long LUT partials
    * summed order-free, and the same two deterministic windows. */
  def pqTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, nCandidates: Int = 50,
      trainMod: Long = 1L): String = {
    val subDim = dim / m
    val q = CentroidQ
    s"""WITH ${pqTrainCtes(table, dim, m, ksub, "__", trainMod)}, __qv AS (
       |  SELECT vec_id AS query_id, embedding AS q_vec FROM $table q WHERE $queryPred
       |), __lut AS (
       |  SELECT qs.query_id, c.s, c.code,
       |         CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, $subDim + 1), i -> CAST(qs.sv[i] AS DOUBLE) * c.cl[i])),
       |           (acc, x) -> acc + x) * $q) AS BIGINT) AS w
       |  FROM (SELECT v.query_id, u.s, u.sv FROM __qv v JOIN __sub u ON u.vec_id = v.query_id) qs
       |  JOIN __cfin c ON c.s = qs.s
       |), __ap AS (
       |  SELECT l.query_id, d.vec_id AS neighbor_id, CAST(sum(l.w) AS BIGINT) AS approx_q
       |  FROM __codes d JOIN __lut l ON l.s = d.s AND l.code = d.code
       |  WHERE l.query_id <> d.vec_id
       |  GROUP BY l.query_id, d.vec_id
       |), __cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY approx_q DESC, neighbor_id) AS ra
       |    FROM __ap) WHERE ra <= $nCandidates
       |), __rr AS (
       |  SELECT n.query_id, n.neighbor_id,
       |         ${cosineSql("v.q_vec", "e.embedding", dim)} AS cos
       |  FROM __cand n JOIN __qv v ON v.query_id = n.query_id
       |  JOIN $table e ON e.vec_id = n.neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __rr
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ composed ANN (the deployment shape of Jégou et al. 2011
    * §IV: coarse inverted-file probe + PQ asymmetric-distance scoring):
    * the IVF index restricts which corpus vectors are ADC-scored at all,
    * so per-query cost is `nProbe/nCentroids` of the corpus instead of a
    * full scan — the sub-linearity [[pqTopK]] alone gives up — while the
    * scored rows still carry m code ints instead of raw vectors.
    *
    * Plan shape: corpus rows get (cluster, codes, norm) in one
    * projection pass against the broadcast centroids + codebooks; the
    * query side explodes its nProbe probed clusters; candidate
    * generation is an EQUI-join on `cluster` (each corpus vector lives
    * in exactly one cluster, so no candidate dedup is needed); ADC
    * scoring, the `nCandidates` cut, and the exact-cosine re-rank are
    * identical to [[pqTopK]] — all boundaries decided by exact longs /
    * bit-identical doubles with id tie-breaks, so the composition stays
    * cell-exact cross-engine. Codebooks are trained on raw vectors (not
    * residuals): residual training couples the two indexes and buys
    * little at ADC's quantization resolution, while raw-vector training
    * lets the composition reuse both kernels' oracles verbatim. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3, m: Int = 8, ksub: Int = 16,
      nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): DataFrame = {
    val model = ivfPqIndex(corpus, dim, nCentroids, m, ksub, idCol, vecCol, trainMod)
    ivfPqQuery(model, corpus, queries, k, dim, nProbe, nCandidates, idCol, vecCol)
  }

  /** A trained IVF-PQ index: the driver-side coarse centroids and PQ
    * codebooks (catalog-sized), plus the distributed index table
    * (id, cluster, m code ints — NO raw vectors; ~40 bytes/vector vs
    * 256+ for the raw floats). At 100 TB this table is built ONCE via
    * [[ivfPqIndexMaterialized]] (parquet, bucketed by `cluster`),
    * maintained incrementally via [[ivfPqIndexAppend]] /
    * [[ivfPqIndexAppendStream]], and amortized across every query
    * batch — which is why [[ivfPqQuery]]'s per-batch cost is
    * probe-limited, not corpus-linear. */
  final case class IvfPqModel(
      centroids: Array[(Int, Seq[Double])],
      codebooks: Array[(Int, Array[(Int, Seq[Double])])],
      index: DataFrame)

  /** Build the IVF-PQ index: train the coarse k-means and the subspace
    * codebooks (both bit-reproducible), then encode every corpus vector
    * in ONE projection pass — coarse cluster by broadcast argmax, m code
    * ints by per-subspace argmax. Linear in the corpus by nature; run
    * once, reuse per query batch. */
  def ivfPqIndex(corpus: DataFrame, dim: Int, nCentroids: Int = 8,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): IvfPqModel = {
    // the coarse k-means and the PQ codebooks are INDEPENDENT trainings
    // — two driver-blocking collects over disjoint lineages — so run
    // them concurrently (guide §2.6: actions are only sequential
    // because the driver calls them sequentially; the scheduler
    // back-fills the second training's tasks into the first's tail).
    // The codebooks stay on the calling thread (keeping its job
    // description); only the centroid collect moves to a Future.
    import scala.concurrent.ExecutionContext.Implicits.global
    val centsF = scala.concurrent.Future(
      trainedCentroids(corpus, dim, nCentroids, 1, idCol, vecCol, trainMod))
    val cb = trainedCodebooks(corpus, dim, m, ksub, idCol, vecCol, trainMod)
    val centsLocal = scala.concurrent.Await.result(centsF,
      scala.concurrent.duration.Duration.Inf)
    if (cb.isEmpty) return IvfPqModel(centsLocal, cb,
      corpus.select(col(idCol).as("neighbor_id"), lit(null).cast("int").as("cluster"),
        lit(null).cast("array<int>").as("__pos")).limit(0))
    val model = IvfPqModel(centsLocal, cb, null)
    model.copy(index = ivfPqEncode(model, corpus, dim, idCol, vecCol))
  }

  /** Encode vectors against a FROZEN model: coarse cluster by broadcast
    * argmax + m code ints by per-subspace argmax, in ONE projection
    * pass that then DROPS the raw vector — each index row carries
    * (id, cluster, m ints), never the floats. Pure per-row, so an index
    * built in installments (batch or streaming) is ROW-IDENTICAL to a
    * single-shot encode of the union under the same model — the
    * property [[ivfPqIndexAppend]]'s no-rebuild contract rests on. */
  def ivfPqEncode(model: IvfPqModel, vecs: DataFrame, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = model.codebooks
    val m = cb.length
    val subDim = dim / m
    def svCol(vc: String, s: Int) = slice(col(vc), s * subDim + 1, subDim)
    def scoreArr(vc: String, s: Int) = array(cb(s)._2.map { case (_, c) =>
      graft.functions.NativeExprs.floatDoubleVecDot(svCol(vc, s), array(c.map(lit): _*))
    }: _*)
    val enc0 = assignClustersLocal(
      vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      model.centroids, "c_vec", "neighbor_id")
    (0 until m).foldLeft(enc0) { (df, s) =>
      df.withColumn(s"__sc$s", scoreArr("c_vec", s))
    }.select(col("neighbor_id"), col("cluster"),
      array((0 until m).map(s =>
        array_position(col(s"__sc$s"), array_max(col(s"__sc$s"))).cast("int")): _*)
        .as("__pos"))
  }

  /** [[ivfPqIndex]] with the index PERSISTED as a parquet table bucketed
    * (and per-file sorted) by `cluster` — the deployment shape the model
    * doc describes: the linear build runs ONCE, every subsequent query
    * batch probes the stored table. Bucketing by the probe key means
    * (a) the probe join and any cluster-keyed aggregate read the index
    * with ZERO exchanges (bucket distribution satisfies them), and
    * (b) a probed-cluster IN-filter prunes whole BUCKETS at the scan
    * ([[ivfPqQuery]]'s `pruneBuckets` — `SelectedBucketsCount` in the
    * plan), so a query batch reads ~nProbe·queries/nCentroids of the
    * index FILES, not just of its rows. Registered in the session
    * catalog ([[graft.ops.Relational.materializeBucketed]] — bucket
    * metadata lives there, not in the files). */
  def ivfPqIndexMaterialized(corpus: DataFrame, dim: Int,
      path: String, tableName: String, buckets: Int = 16,
      nCentroids: Int = 8, m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainMod: Long = 1L): IvfPqModel = {
    val model = ivfPqIndex(corpus, dim, nCentroids, m, ksub, idCol, vecCol, trainMod)
    model.copy(index = graft.ops.Relational.materializeBucketed(
      model.index, path, tableName, "cluster", buckets))
  }

  /** Incremental index maintenance: encode `newVecs` with the FROZEN
    * model and APPEND them to the persisted bucketed table — no
    * retrain, no rebuild, no touch of existing files (appends add new
    * per-bucket files beside the old ones; bucket pruning and the
    * exchange-free probe are unaffected — only the per-file sort
    * guarantee weakens to per-append, which nothing here relies on).
    * The per-batch cost is one projection over the BATCH. Mirrors the
    * archive's incremental-ingest contract (reference
    * `ingest.py:217-236`) applied to the ANN store; the writer must
    * re-declare the identical bucket spec or Spark rejects the append.
    * Returns the model re-pointed at the refreshed table. */
  def ivfPqIndexAppend(model: IvfPqModel, newVecs: DataFrame, dim: Int,
      tableName: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqModel = {
    val spark = newVecs.sparkSession
    ivfPqEncode(model, newVecs, dim, idCol, vecCol)
      .write.bucketBy(bucketCount(spark, tableName), "cluster").sortBy("cluster")
      .mode("append").saveAsTable(tableName)
    model.copy(index = spark.table(tableName))
  }

  /** Bucket count of a catalog table (the append writer must re-declare
    * the creating spec exactly). */
  private def bucketCount(spark: org.apache.spark.sql.SparkSession,
      tableName: String): Int = {
    val rows = spark.sql(s"DESCRIBE TABLE EXTENDED $tableName").collect()
    rows.find(_.getString(0) == "Num Buckets")
      .map(_.getString(1).trim.toInt)
      .getOrElse(sys.error(s"$tableName is not bucketed"))
  }

  /** Streaming face of [[ivfPqIndexAppend]]: newly ingested vectors are
    * assigned + encoded in foreachBatch and appended to the bucketed
    * index table — the ANN store stays query-ready while the corpus
    * grows, and a full rebuild is only ever a POLICY decision (model
    * drift), not an operational requirement. Restart-safe the usual
    * foreachBatch way: the checkpoint replays an unacknowledged batch,
    * whose rows land as duplicate index entries. [[ivfPqQuery]] dedups
    * its (tiny) candidate set before the exact re-rank, so a replayed
    * batch can never put the same neighbor in a top-k twice; the only
    * residual effect is the duplicate burning one approximate-window
    * slot until a compaction sweep rewrites the table. */
  def ivfPqIndexAppendStream(model: IvfPqModel, vecs: DataFrame, dim: Int,
      tableName: String, checkpointPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch runs in a CLONED session whose inserts refresh only
    // the clone's relation cache — the owning session (which resolved
    // the table when the model was built) would keep serving the stale
    // file listing and silently miss every appended row; refresh it
    // explicitly after each batch
    val owner = vecs.sparkSession
    vecs.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          ivfPqIndexAppend(model, batch, dim, tableName, idCol, vecCol)
          owner.catalog.refreshTable(tableName)
        }
        ()
      }
      .start()
  }

  /** Table maintenance for an appended ANN index (IVF-PQ or IVF-SQ8 —
    * both bucket on `cluster`): fold the per-append files in each
    * bucket back into one file per bucket and drop replay-duplicated
    * rows. A replayed foreachBatch appends byte-identical rows, so
    * DISTINCT is deterministic — it can only remove exact duplicates,
    * never choose between variants. Same-table rewrite: the read is
    * localCheckpointed so the overwrite may target the table it read
    * (the ArchiveStore.compact discipline). Query RESULTS are already
    * replay-safe without this ([[ivfPqQuery]] dedups its candidate
    * set); what compaction restores is the file listing — appends add
    * `buckets` files each, and scan-open cost grows with every sweep
    * interval — and the duplicate-free approximate window (a duplicate
    * burns one nCandidates slot). Run on whatever cadence keeps the
    * per-bucket file count short, exactly like the claim registries. */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame = {
    val buckets = bucketCount(spark, tableName)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tableName").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(sys.error(s"$tableName has no location"))
    val rows = spark.table(tableName).distinct().localCheckpoint()
    rows.write.bucketBy(buckets, "cluster").sortBy("cluster")
      .option("path", loc).mode("overwrite").saveAsTable(tableName)
    spark.table(tableName)
  }

  /** Query a prebuilt [[IvfPqModel]]: per query, an ADC lookup table and
    * the nProbe nearest coarse clusters; candidates via the cluster
    * equi-join against the index table; ADC score, nCandidates cut,
    * exact-cosine re-rank against the raw corpus. Per-batch cost is
    * `nProbe/nCentroids` of the index plus queries × nCandidates
    * re-rank rows.
    *
    * `pruneBuckets` — for a [[ivfPqIndexMaterialized]] cluster-bucketed
    * index: one tiny extra job computes the batch's distinct probed
    * cluster ids (≤ min(queries × nProbe, nCentroids) ints — catalog-
    * sized, never data-sized) and pins them as an IN-filter on the
    * bucket column, which Spark turns into BUCKET PRUNING at the scan
    * (`SelectedBucketsCount` in the plan): the query batch reads only
    * the probed clusters' index FILES instead of scanning and
    * discarding the rest. Identical results by construction (the
    * equi-join already kept only probed clusters' rows). */
  def ivfPqQuery(model: IvfPqModel, corpus: DataFrame, queries: DataFrame,
      k: Int, dim: Int, nProbe: Int = 3, nCandidates: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pruneBuckets: Boolean = false): DataFrame = {
    if (model.codebooks.isEmpty) return emptyTopK(corpus, queries, idCol)
    val m = model.codebooks.length
    val subDim = dim / m
    val cb = model.codebooks
    val centsLocal = model.centroids
    val offsets = cb.scanLeft(0)((acc, sc) => acc + sc._2.length)
    def svCol(vc: String, s: Int) = slice(col(vc), s * subDim + 1, subDim)
    // query side: ADC lookup table + the nProbe nearest coarse clusters
    val lut = array((0 until m).flatMap(s => cb(s)._2.map { case (_, c) =>
      round(graft.functions.NativeExprs.floatDoubleVecDot(svCol("q_vec", s),
        array(c.map(lit): _*)) * CentroidQ).cast("long")
    }): _*)
    val scoredCents = array(centsLocal.map { case (cid, c) =>
      struct((-graft.functions.NativeExprs.floatDoubleVecDot(col("q_vec"), array(c.map(lit): _*)))
        .as("neg"), lit(cid).as("cid"))
    }: _*)
    val probeCol =
      explode(slice(transform(array_sort(scoredCents), x => x("cid")), 1, nProbe))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .select(col("query_id"), lut.as("__lut"), probeCol.as("cluster"))
    val idx =
      if (!pruneBuckets) model.index
      else {
        val probed = queries.select(col(vecCol).as("q_vec"))
          .select(probeCol.as("cluster")).distinct()
          .collect().map(_.getInt(0)).toSeq
        model.index.filter(col("cluster").isin(probed: _*))
      }
    val approx = idx.join(broadcast(qb), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (0 until m).map(s =>
          element_at(col("__lut"), lit(offsets(s)) + element_at(col("__pos"), s + 1)))
          .reduce(_ + _).as("approx_q"))
    val wA = Window.partitionBy(col("query_id")).orderBy(col("approx_q").desc, col("neighbor_id"))
    // the dropDuplicates is a no-op on a cleanly-built index (each vector
    // lives in ONE cluster so pairs are unique) and costs one shuffle of
    // a queries × nCandidates frame; it exists so a replayed streaming
    // append ([[ivfPqIndexAppendStream]]) can never rank the same
    // neighbor twice in a top-k
    val cand = approx.withColumn("__ra", row_number().over(wA))
      .filter(col("__ra") <= nCandidates).select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    // exact re-rank: raw vectors rejoin for queries x nCandidates rows only
    val cn = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", sqrt(dot("c_vec", "c_vec", dim)))
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", sqrt(dot("q_vec", "q_vec", dim)))
    val wC = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cn.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("q_vec", "c_vec", dim) / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Oracle twin for [[ivfPqTopK]]: composes [[kmeansAssignCtes]] (the
    * IVF oracle's bit-identical coarse index) with [[pqTrainCtes]] (the
    * PQ oracle's bit-identical codebooks, `__p`-prefixed to coexist),
    * probes nProbe clusters per query exactly as [[ivfTopKSql]], and
    * ADC-scores ONLY the probed clusters' members before the same
    * nCandidates cut and exact-cosine re-rank as [[pqTopKSql]]. */
  def ivfPqTopKSql(table: String, queryPred: String, k: Int, dim: Int,
      nCentroids: Int = 8, nProbe: Int = 3, m: Int = 8, ksub: Int = 16,
      nCandidates: Int = 50): String = {
    val subDim = dim / m
    val q = CentroidQ
    def dotCl(v: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> CAST($v[i] AS DOUBLE) * c.cl[i])), (acc, x) -> acc + x)"
    s"""WITH ${kmeansAssignCtes(table, dim, nCentroids)},
       |${pqTrainCtes(table, dim, m, ksub, "__p")}, __qv AS (
       |  SELECT vec_id AS query_id, embedding AS q_vec FROM $table q WHERE $queryPred
       |), __qp AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT query_id, cluster,
       |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cluster) AS rn
       |    FROM (SELECT v.query_id, c.cluster, ${dotCl("v.q_vec")} AS d
       |          FROM __qv v CROSS JOIN __cf c)) WHERE rn <= $nProbe
       |), __lut AS (
       |  SELECT qs.query_id, c.s, c.code,
       |         CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(range(1, $subDim + 1), i -> CAST(qs.sv[i] AS DOUBLE) * c.cl[i])),
       |           (acc, x) -> acc + x) * $q) AS BIGINT) AS w
       |  FROM (SELECT v.query_id, u.s, u.sv FROM __qv v JOIN __psub u ON u.vec_id = v.query_id) qs
       |  JOIN __pcfin c ON c.s = qs.s
       |), __ap AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, CAST(sum(l.w) AS BIGINT) AS approx_q
       |  FROM __qp p JOIN __asg a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
       |  JOIN __pcodes d ON d.vec_id = a.vec_id
       |  JOIN __lut l ON l.query_id = p.query_id AND l.s = d.s AND l.code = d.code
       |  GROUP BY p.query_id, a.vec_id
       |), __cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY approx_q DESC, neighbor_id) AS ra
       |    FROM __ap) WHERE ra <= $nCandidates
       |), __rr AS (
       |  SELECT n.query_id, n.neighbor_id,
       |         ${cosineSql("v.q_vec", "e.embedding", dim)} AS cos
       |  FROM __cand n JOIN __qv v ON v.query_id = n.query_id
       |  JOIN $table e ON e.vec_id = n.neighbor_id
       |), __r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM __rr
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM __r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means the embedding corpus into
    * `nCentroids` buckets, find within-bucket pairs with cosine >=
    * `threshold`, connect them into duplicate groups, and keep the
    * lowest-id representative of each group. Returns one audit row per
    * corpus vector: (id, bucket, rep, kept).
    *
    * Scale shape: the k-means index is [[ivfCentroids]] (broadcast-
    * centroid argmax projection, one hash aggregate per Lloyd round),
    * candidate generation is [[nearDupPairs]]' equi-join on the LEARNED
    * bucket key — the paper's trick for avoiding the corpus² cosine
    * matrix — and the group fixpoint is [[graft.dedup.Dedup.clusters]]'
    * label propagation. Known SemDeDup recall caveat applies: a dup pair
    * split across a k-means boundary is not a candidate; both engines
    * compute the identical candidate set, so the oracle is still
    * cell-exact. */
  def semDedup(corpus: DataFrame, dim: Int, nCentroids: Int = 8,
      threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semDedupWithCents(corpus,
      collectCentroids(ivfCentroids(corpus, dim, nCentroids, 1, idCol, vecCol)),
      dim, threshold, idCol, vecCol)

  /** [[semDedup]] against ALREADY-TRAINED centroids — the pipeline after
    * the index: assign, within-bucket pairs, connected components,
    * min-id representative. Factored out so the incremental path
    * ([[semDedupIncrement]]) and any caller holding a frozen index run
    * the IDENTICAL suppression machinery the batch entry runs. */
  def semDedupWithCents(corpus: DataFrame, cents: Array[(Int, Seq[Double])],
      dim: Int, threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignClustersLocal(corpus.select(col(idCol), col(vecCol)), cents, vecCol, idCol)
      .withColumnRenamed("cluster", "bucket")
    val pairs = nearDupPairs(assigned, "bucket", threshold, dim, idCol, vecCol)
    graft.dedup.Dedup.clusters(corpus.select(col(idCol)), pairs, idCol)
      .select(col("id").as(idCol), col("cluster").as("rep"))
      .join(assigned.select(col(idCol), col("bucket")), Seq(idCol))
      .select(col(idCol), col("bucket"), col("rep"),
        (col(idCol) === col("rep")).as("kept"))
  }

  /** Frozen SemDeDup state between increments: the trained centroids
    * (catalog-sized, driver-resident) and the kept representatives WITH
    * their vectors and buckets — the only rows a future document must be
    * gated against. At 100 TB the reps frame is the post-dedup corpus
    * (bounded by the kept fraction), stored however the caller likes
    * (parquet bucketed by `bucket` composes with
    * [[graft.ops.Relational.materializeBucketed]] exactly like the ANN
    * index). */
  final case class SemDedupState(
      centroids: Array[(Int, Seq[Double])],
      reps: DataFrame)

  /** Initialize incremental SemDeDup: run the batch pipeline on the
    * first installment, return the audit rows plus the state future
    * increments gate against. */
  def semDedupInit(corpus: DataFrame, dim: Int, nCentroids: Int = 8,
      threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): (SemDedupState, DataFrame) = {
    val cents = collectCentroids(ivfCentroids(corpus, dim, nCentroids, 1, idCol, vecCol))
    val audit = semDedupWithCents(corpus, cents, dim, threshold, idCol, vecCol)
    val reps = corpus.select(col(idCol), col(vecCol))
      .join(audit.filter(col("kept")).select(col(idCol), col("bucket")), Seq(idCol))
    (SemDedupState(cents, reps), audit)
  }

  /** Incremental SemDeDup: dedup a NEW installment against the frozen
    * state without re-touching history. New vectors are assigned to the
    * EXISTING centroids (broadcast argmax projection), cosine-gated
    * against the kept representatives of their own bucket plus each
    * other (both pure bucket equi-joins — no cartesian, no rescan of
    * past non-representatives), grouped by connected components, and
    * labeled with the min reachable id. Emitted audit rows cover ONLY
    * the new documents; prior audit rows are immutable (an increment
    * never rewrites history — the streaming-friendly contract), and
    * survivors join the reps state for the next increment.
    *
    * Matches the batch pipeline exactly when (a) installment ids exceed
    * all prior ids (append-only streams — otherwise min-id could elect
    * a new doc as rep of an old group) and (b) no duplicate chain runs
    * THROUGH a suppressed non-representative or bridges two existing
    * groups (the rep-probe trade the SemDeDup paper's bucket recall
    * caveat already accepts; a bridging doc is suppressed by the
    * smaller-id rep while both old groups stand). The spec pins
    * batch-equality on the fixture and the no-cartesian plan. */
  def semDedupIncrement(state: SemDedupState, newDocs: DataFrame, dim: Int,
      threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): (SemDedupState, DataFrame) = {
    val assigned = assignClustersLocal(newDocs.select(col(idCol), col(vecCol)),
      state.centroids, vecCol, idCol)
      .withColumnRenamed("cluster", "bucket")
    // new-vs-new candidates: the ordinary within-bucket pair join
    val newPairs = nearDupPairs(assigned, "bucket", threshold, dim, idCol, vecCol)
      .select("id_a", "id_b")
    // new-vs-reps candidates: equi-join on the bucket key only (a rep
    // gates only its own bucket's newcomers), exact cosine as the
    // post-filter — same shape, same threshold arithmetic
    val n = assigned.withColumn("__na", sqrt(dot(vecCol, vecCol, dim)))
      .select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("__va"), col("__na"))
    val r = state.reps.withColumn("__nb", sqrt(dot(vecCol, vecCol, dim)))
      .select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__nb"))
    val repPairs = n.join(r, Seq("bucket"))
      .filter(dot("__va", "__vb", dim) / (col("__na") * col("__nb")) >= threshold)
      .select("id_a", "id_b")
    val nodes = assigned.select(col(idCol))
      .unionByName(state.reps.select(col(idCol)))
    val labels = graft.dedup.Dedup.clusters(
      nodes, newPairs.unionByName(repPairs), idCol)
      .select(col("id").as(idCol), col("cluster").as("rep"))
    val audit = assigned.select(col(idCol), col("bucket"))
      .join(labels, Seq(idCol))
      .select(col(idCol), col("bucket"), col("rep"),
        (col(idCol) === col("rep")).as("kept"))
    val newReps = assigned.select(col(idCol), col(vecCol))
      .join(audit.filter(col("kept")).select(col(idCol), col("bucket")), Seq(idCol))
    (state.copy(reps = state.reps.unionByName(newReps)), audit)
  }

  /** Oracle twin for [[semDedup]]: the shared [[kmeansAssignCtes]] index
    * (bit-identical centroids and assignments), the same within-bucket
    * cosine pair predicate, and the recursive-CTE reachability fixpoint
    * the near-dup cluster oracles use. */
  def semDedupSql(table: String, dim: Int, nCentroids: Int = 8,
      threshold: Double = 0.4): String =
    s"""WITH RECURSIVE ${kmeansAssignCtes(table, dim, nCentroids)}, __pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM __asg a JOIN __asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding", dim)} >= $threshold
       |), __sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM __pairs
       |  UNION ALL SELECT id_b, id_a FROM __pairs
       |), __reach(src, dst) AS (
       |  SELECT vec_id, vec_id FROM $table
       |  UNION
       |  SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src
       |), __cc AS (
       |  SELECT src AS vec_id, min(dst) AS rep FROM __reach GROUP BY src
       |)
       |SELECT c.vec_id, a.cluster AS bucket, c.rep, c.vec_id = c.rep AS kept
       |FROM __cc c JOIN __asg a USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin

  /** [[semDedup]] with the auto-k policy: `k = max(1, ceil(n / B))`
    * from ONE cheap count, so the expected bucket size — and with it
    * the within-bucket pair volume Σ|bucket|²/2 ≈ n·B/2 — stays
    * BOUNDED as the corpus grows, instead of the fixed-k n²/(2k) blowup
    * (the SemDeDup paper's ~11k clusters at LAION scale is this policy
    * at B ≈ 10k). The count is the only extra job; everything after is
    * [[semDedup]] verbatim at the computed k. */
  def semDedupAuto(corpus: DataFrame, dim: Int, targetBucket: Int = 20,
      threshold: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = corpus.count()
    val k = math.max(1L, math.ceil(n.toDouble / targetBucket).toLong).toInt
    semDedup(corpus, dim, k, threshold, idCol, vecCol)
  }

  /** Oracle twin for [[semDedupAuto]]: the SAME policy arithmetic
    * (ceil of a double division — exact for any corpus a test runs)
    * evaluated INSIDE the statement as a scalar subquery, threaded into
    * the shared k-means chain through [[kmeansAssignCtes]]'s expression
    * hook — so one static SQL string stays cell-exact at every corpus
    * size the driver happens to run it at. */
  def semDedupAutoSql(table: String, dim: Int, targetBucket: Int = 20,
      threshold: Double = 0.4): String = {
    val kCte = s"""__k AS (
       |  SELECT GREATEST(CAST(1 AS BIGINT),
       |         CAST(ceil(CAST(count(*) AS DOUBLE) / $targetBucket) AS BIGINT)) AS k
       |  FROM $table
       |)""".stripMargin
    s"""WITH RECURSIVE $kCte, ${kmeansAssignCtes(table, dim, "(SELECT k FROM __k)")}, __pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM __asg a JOIN __asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding", dim)} >= $threshold
       |), __sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM __pairs
       |  UNION ALL SELECT id_b, id_a FROM __pairs
       |), __reach(src, dst) AS (
       |  SELECT vec_id, vec_id FROM $table
       |  UNION
       |  SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src
       |), __cc AS (
       |  SELECT src AS vec_id, min(dst) AS rep FROM __reach GROUP BY src
       |)
       |SELECT c.vec_id, a.cluster AS bucket, c.rep, c.vec_id = c.rep AS kept
       |FROM __cc c JOIN __asg a USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Per-label class centroids with the same bit-reproducible
    * quantized-integer means as [[ivfCentroids]] — the "class geometry"
    * report a training pipeline runs over its embedding corpus (drift
    * detection, label-confusion candidates). ONE map-side-combinable
    * hash aggregate over the corpus (dim positional long sums); output
    * is (labels × dim) — catalog-sized. */
  def labelCentroids(corpus: DataFrame, dim: Int, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val sums = (0 until dim).map(i =>
      sum(round(element_at(col(vecCol), i + 1).cast("double") * CentroidQ)
        .cast("long")).as(s"__s$i"))
    corpus.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col(labelCol), col("n"),
        array((0 until dim).map(i =>
          col(s"__s$i").cast("double") / (col("n").cast("double") * CentroidQ)): _*)
        .as("centroid"))
  }

  /** Pairwise cosine between label centroids (label_a < label_b). The
    * centroid table is label-count-sized, so the pair matrix is a tiny
    * computation regardless of corpus size; every dot is the same
    * index-order fold as the SQL twin, so the doubles match bitwise. */
  def labelCentroidCosines(centroids: DataFrame, dim: Int,
      labelCol: String = "label"): DataFrame = {
    def dotDD(x: String, y: String): Column =
      aggregate(
        transform(sequence(lit(1), lit(dim)),
          i => element_at(col(x), i) * element_at(col(y), i)),
        lit(0.0), (acc, v) => acc + v)
    val a = centroids.select(col(labelCol).as("label_a"), col("n").as("n_a"),
      col("centroid").as("__ca"))
    val b = centroids.select(col(labelCol).as("label_b"), col("n").as("n_b"),
      col("centroid").as("__cb"))
    a.crossJoin(b).filter(col("label_a") < col("label_b"))
      .withColumn("cos", dotDD("__ca", "__cb") /
        (sqrt(dotDD("__ca", "__ca")) * sqrt(dotDD("__cb", "__cb"))))
      .select("label_a", "label_b", "n_a", "n_b", "cos")
  }

  /** Oracle twin for [[labelCentroids]] → [[labelCentroidCosines]]:
    * identical quantized sums, means, and index-order dot folds. */
  def labelCentroidCosinesSql(table: String, dim: Int): String = {
    val q = CentroidQ
    def dotDD(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, $dim + 1), " +
        s"i -> $x[i] * $y[i])), (acc, v) -> acc + v)"
    s"""WITH __q AS (
       |  SELECT label, i, CAST(round(CAST(embedding[i] AS DOUBLE) * $q) AS BIGINT) AS qv
       |  FROM $table CROSS JOIN (SELECT unnest(range(1, $dim + 1)) AS i) __i
       |), __c AS (
       |  SELECT label, list(c ORDER BY i) AS cl, any_value(n) AS n FROM (
       |    SELECT label, i, CAST(sum(qv) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $q) AS c,
       |           count(*) AS n
       |    FROM __q GROUP BY label, i) GROUP BY label
       |)
       |SELECT a.label AS label_a, b.label AS label_b,
       |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       |       ${dotDD("a.cl", "b.cl")} /
       |         (sqrt(${dotDD("a.cl", "a.cl")}) * sqrt(${dotDD("b.cl", "b.cl")})) AS cos
       |FROM __c a JOIN __c b ON a.label < b.label""".stripMargin
  }

  /** Embedding-cosine near-dup pairs within a block key (see
    * [[graft.dedup.Dedup]] scale notes): cosine >= threshold. */
  def nearDupPairs(df: DataFrame, blockCol: String, threshold: Double, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // precompute per-vector norms before the pair join (see bruteForceTopK)
    val n = df.select(col(blockCol), col(idCol), col(vecCol))
      .withColumn("norm", sqrt(dot(vecCol, vecCol, dim)))
    val a = n.select(col(blockCol), col(idCol).as("id_a"), col(vecCol).as("va"), col("norm").as("na"))
    val b = n.select(col(blockCol), col(idCol).as("id_b"), col(vecCol).as("vb"), col("norm").as("nb"))
    a.join(b, Seq(blockCol)).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot("va", "vb", dim) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("cos"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity re-ranker for retrieval/context
    * assembly: from a relevance-ranked candidate pool, greedily pick k
    * results maximizing `λ·rel − (1−λ)·max-sim-to-already-picked`, so
    * near-duplicate results can't crowd the slate. The greedy argmax is
    * inherently sequential in k, so k steps are UNROLLED (the graph-op
    * discipline): each step is a bounded anti-join + a
    * poolSize×(step−1) pair-scoring cross join + one argmax window —
    * every frame involved is ≤ poolSize rows by construction, which is
    * what makes the cross join and the unpartitioned window safe at any
    * corpus scale. The corpus-sized work is exactly ONE
    * [[bruteForceTopK]] pool scan (swap in an IVF/LSH pool for the
    * sub-linear deployment). λ is a percent so both engines see the
    * same decimal literal; all pair scores are the shared bit-stable
    * cosine fold.
    *
    * Output: (rank 1..k, neighbor_id, rel) — rel is the candidate's
    * relevance to the query, rank its MMR selection order. */
  def mmrSelect(corpus: DataFrame, query: DataFrame, k: Int, dim: Int,
      poolSize: Int = 20, lambdaPct: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 20, s"unrolled k must be in [1,20], got $k")
    require(poolSize >= k, s"pool ($poolSize) must cover k ($k)")
    require(lambdaPct >= 0 && lambdaPct <= 100)
    val lam = lambdaPct / 100.0
    val pool = bruteForceTopK(corpus, query, poolSize, dim, idCol, vecCol)
      .select(col("neighbor_id").as("id"), col("cos").as("rel"))
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), Seq("id"))
      .localCheckpoint(false) // every step re-reads the pool
    var sel = pool
      .withColumn("__r", row_number().over(
        Window.orderBy(col("rel").desc, col("id"))))
      .filter(col("__r") === 1)
      .select(lit(1).as("rank"), col("id"), col("rel"))
      .localCheckpoint(false)
    for (i <- 2 to k) {
      val selVec = sel.select(col("id"))
        .join(pool.select(col("id"), col("vec").as("s_vec")), Seq("id"))
        .select(col("s_vec"))
      // bounded cross join: ≤ poolSize candidates × ≤ k−1 picked
      val scored = pool.join(sel.select(col("id")), Seq("id"), "left_anti")
        .crossJoin(broadcast(selVec))
        .select(col("id"), col("rel"), cosine("vec", "s_vec", dim).as("__s"))
        .groupBy("id", "rel").agg(max(col("__s")).as("__ms"))
        .withColumn("__score",
          lit(lam) * col("rel") - lit(1.0 - lam) * col("__ms"))
      val pick = scored
        .withColumn("__r", row_number().over(
          Window.orderBy(col("__score").desc, col("id"))))
        .filter(col("__r") === 1)
        .select(lit(i).as("rank"), col("id"), col("rel"))
      sel = sel.unionByName(pick).localCheckpoint(false)
    }
    sel.select(col("rank"), col("id").as("neighbor_id"), col("rel"))
  }

  /** Oracle twin of [[mmrSelect]]: the greedy steps as chained CTEs —
    * same pool, same pairwise cosine fold, same λ literal, same
    * tie-breaks. `poolSql` must yield (id, rel, vec) — the relevance-
    * ranked pool with vectors. */
  def mmrSelectSql(poolSql: String, k: Int, dim: Int,
      lambdaPct: Int = 50): String = {
    require(k >= 1 && k <= 20)
    val lam = lambdaPct / 100.0
    val steps = (2 to k).map { i =>
      s"""__sim$i AS (
         |  SELECT c.id, c.rel, max(${cosineSql("c.vec", "s.vec", dim)}) AS ms
         |  FROM __pool c, __pool s
         |  WHERE s.id IN (SELECT id FROM __sel${i - 1})
         |    AND c.id NOT IN (SELECT id FROM __sel${i - 1})
         |  GROUP BY c.id, c.rel
         |), __pick$i AS (
         |  SELECT CAST($i AS INTEGER) AS rank, id, rel FROM __sim$i
         |  ORDER BY $lam * rel - ${1.0 - lam} * ms DESC, id LIMIT 1
         |), __sel$i AS (
         |  SELECT rank, id, rel FROM __sel${i - 1}
         |  UNION ALL SELECT rank, id, rel FROM __pick$i
         |)""".stripMargin
    }.mkString(", ")
    val chain = if (k >= 2) s", $steps" else ""
    s"""WITH __pool AS ($poolSql),
       |__sel1 AS (
       |  SELECT CAST(1 AS INTEGER) AS rank, id, rel FROM __pool
       |  ORDER BY rel DESC, id LIMIT 1
       |)$chain
       |SELECT rank, id AS neighbor_id, rel FROM __sel$k""".stripMargin
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of several
    * retriever rankings — the standard multi-retriever combiner (dense
    * + sparse + ANN tiers) for RAG pipelines: each list contributes
    * `10⁶ div (c + rank)` in integer micro-units (integer division, no
    * float 1/x to diverge), summed per (query, candidate), re-ranked
    * with a deterministic tie-break. Inputs are any frames with
    * (query_id, neighbor_id, rank) — [[bruteForceTopK]], [[lshTopK]],
    * [[ivfPqQuery]] outputs compose directly. Scale shape: the fuse
    * shuffles THIN (query, candidate, score) rows — never vectors —
    * and the re-rank window is per-query over ≤ Σ list lengths. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val scored = rankings.map(_.select(col("query_id"), col("neighbor_id"),
      expr(s"1000000 div ($c + rank)").as("__s")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("neighbor_id"))
    scored.reduce(_ unionByName _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("__s")).as("rrf_micro"), count(lit(1)).as("n_lists"))
      .withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= k)
  }

  /** Top principal component of the embedding corpus via POWER
    * ITERATION, in integer micro-units end to end — the dominant
    * direction of an embedding table (drift monitoring, projection
    * pruning, whitening prep), computed without ever materializing the
    * d×d covariance: each round is xᵀ(x·v) — one row-keyed dot product
    * and one dim-keyed weighted sum, both plain combinable aggregates.
    *
    * Determinism: floats quantize once (`floor(x·10⁶)`), means and all
    * carries are integers, per-round rescale is `(w·10⁶) div max|w|`
    * (truncation — Spark `div` and DuckDB `//` agree), and sums
    * accumulate exactly (DECIMAL(38,0) here, HUGEINT in the twin) so no
    * float-order or overflow divergence exists at ANY corpus size — a
    * float power iteration sums doubles in engine order and is not
    * reproducible across engines or partitionings. Sign is fixed by
    * convention (the largest-|v| entry, ties to smallest index, is
    * positive). `iters` rounds are exact by construction, converged or
    * not — the twin runs the identical recurrence.
    *
    * Scale shape: vectors stay PACKED — v broadcasts as one dim-sized
    * array row, the row dot product `(c_r · v) div 10⁶` is an in-row
    * `zip_with`+`aggregate` fold (no row-keyed join, no shuffle), and
    * the only per-round shuffle is the map-side-combinable
    * groupBy(dim) of w = Σ_r c_r·s_r — n·d values folding to d.
    * Nothing is ever pairwise in rows or dims. */
  def pcaTopComponent(vectors: DataFrame, dim: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(iters >= 1 && iters <= 8, s"unrolled iters must be in [1,8], got $iters")
    val xq = vectors.select(col(idCol).as("__id"),
      expr(s"transform($vecCol, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
        .as("__xa"))
    // integer column means, m_j = sum div n (truncation, like the twin),
    // packed back into one dim-sized array row for the centering zip
    val m = xq.select(posexplode(col("__xa")).as(Seq("__p", "__xv")))
      .groupBy("__p")
      .agg(sum(col("__xv").cast(DecimalType(38, 0))).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("__p"), expr("cast(__s div __n as bigint)").as("__m"))
    val mArr = m.agg(expr(
      "transform(array_sort(collect_list(struct(__p, __m))), t -> t.__m)").as("__ma"))
    val c = xq.crossJoin(broadcast(mArr))
      .select(col("__id"), expr("zip_with(__xa, __ma, (a, b) -> a - b)").as("__ca"))
      .localCheckpoint(false) // reused by every round
    var vArr = vectors.sparkSession.range(1)
      .select(expr(s"array_repeat(1000000L, $dim)").as("__va"))
    for (_ <- 1 to iters) {
      // s_r = (c_r · v) div 10⁶, computed IN ROW: products fit a long
      // (|c| ≤ 2·10⁶, |v| ≤ 10⁶) and the d-term fold stays far under
      // 2⁶³ for any realistic dim — no cross-row accumulation here
      val s = c.crossJoin(broadcast(vArr))
        .select(col("__ca"), expr(
          "aggregate(zip_with(__ca, __va, (a, b) -> a * b), 0L, (acc, x) -> acc + x) " +
            "div 1000000").as("__sr"))
      // w_j = Σ_r c_rj · s_r — the round's ONE shuffle, exact decimal
      val w = s.select(col("__sr"), posexplode(col("__ca")).as(Seq("__p", "__cv")))
        .groupBy("__p")
        .agg(sum((col("__cv") * col("__sr")).cast(DecimalType(38, 0))).as("__w"))
      val mx = w.agg(max(abs(col("__w"))).as("__mx"))
      vArr = w.crossJoin(broadcast(mx))
        .select(col("__p"),
          expr("cast((__w * 1000000) div nullif(__mx, 0) as bigint)").as("__vj"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(__p, __vj))), t -> t.__vj)").as("__va"))
        .localCheckpoint(false) // cut the per-round lineage
    }
    val v = vArr.select(posexplode(col("__va")).as(Seq("__p", "vj")))
      .select((col("__p") + 1).cast("long").as("j"), col("vj"))
    // sign convention via one struct-max: (|v|, -j) picks the canonical
    // entry deterministically; a zero vector keeps sign +1
    val sgn = v.agg(max(struct(abs(col("vj")).as("a"), (-col("j")).as("nj"),
        col("vj").as("vv"))).as("m"))
      .select(when(expr("sign(m.vv)") === 0, lit(1L))
        .otherwise(expr("cast(sign(m.vv) as bigint)")).as("sgn"))
    v.crossJoin(broadcast(sgn))
      .select(col("j").as("dim_idx"), (col("vj") * col("sgn")).as("component"))
  }

  /** Oracle twin of [[pcaTopComponent]]: the identical integer
    * recurrence as chained CTEs — HUGEINT sums, `//` truncation,
    * 1-based `range(1, dim+1)` indexing matching posexplode+1. */
  def pcaTopComponentSql(table: String, dim: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    require(iters >= 1 && iters <= 8)
    val steps = (1 to iters).map { i =>
      s"""__s$i AS (SELECT id, sum(cq * vj) // 1000000 AS sr
         |  FROM __c JOIN __v${i - 1} USING (j) GROUP BY id),
         |__w$i AS (SELECT j, sum(cq * sr) AS wj
         |  FROM __c JOIN __s$i USING (id) GROUP BY j),
         |__v$i AS (SELECT j, (wj * 1000000) // nullif((SELECT max(abs(wj)) FROM __w$i), 0) AS vj
         |  FROM __w$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH __x AS (
       |  SELECT $idCol AS id, r.j,
       |         CAST(floor(CAST($vecCol[r.j] AS DOUBLE) * 1000000) AS BIGINT) AS xq
       |  FROM $table, range(1, ${dim + 1}) AS r(j)),
       |__m AS (SELECT j, sum(xq) // count(*) AS mj FROM __x GROUP BY j),
       |__c AS (SELECT id, __x.j, xq - mj AS cq FROM __x JOIN __m ON __x.j = __m.j),
       |__v0 AS (SELECT r.j, CAST(1000000 AS HUGEINT) AS vj FROM range(1, ${dim + 1}) AS r(j)),
       |$steps,
       |__sgn AS (SELECT CASE WHEN vv = 0 THEN 1 ELSE sign(vv) END AS sgn FROM (
       |  SELECT vj AS vv FROM __v$iters ORDER BY abs(vj) DESC, j ASC LIMIT 1)),
       |__out AS (SELECT j AS dim_idx, CAST(vj * sgn AS BIGINT) AS component
       |  FROM __v$iters CROSS JOIN __sgn)
       |SELECT dim_idx, component FROM __out""".stripMargin
  }
}
