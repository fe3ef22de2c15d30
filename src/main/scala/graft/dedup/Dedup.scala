package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design (the 100 TB shapes):
  *  - exact: one hash-shuffle on the key — the cheapest possible dedup.
  *  - jaccardPairs: inverted-index join (explode shingle → equi-join on
  *    shingle) — NEVER a cross join; optional block columns bound the
  *    candidate space the way sharding keys do in production dedup.
  *  - minhashLsh: constant-size signatures (K hashes) per doc, band
  *    equi-join on (band, band-signature) buckets — candidate generation
  *    is linear in docs + bucket collisions, the textbook MinHash-LSH plan.
  *  - simhash: one 32-bit int per doc from one explode+sum aggregation;
  *    near-dup = small hamming distance.
  *  - embeddingNearDup: block-keyed self-join; the unblocked scale path
  *    is [[graft.sim.Similarity.lshBuckets]] hyperplane prefiltering.
  *
  * Hash arithmetic is shared with [[TextOps]] so every operator has a
  * bit-identical DuckDB oracle twin.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized text key.
    * One shuffle; at 100 TB prefer hashing the key first (`xxhash64`)
    * so the shuffle key is 8 bytes, not the document. */
  def exact(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Canonical text form for normalization-insensitive exact dedup:
    * lowercase, punctuation → space, whitespace collapsed, trimmed.
    * The "exact dedup after normalization" pass every web-corpus
    * pipeline runs between byte-exact and fuzzy dedup — re-crawls that
    * differ only in case, punctuation, or spacing collapse to one key.
    *
    * Computed as the maximal `[a-z0-9]+` runs of the lowercased text
    * joined by single spaces — provably the same string as the naive
    * replace-punct/collapse/trim chain (every non-alnum char is a
    * separator either way), but a dense POSITIVE-class extraction
    * instead of a negated-class substitution: java.util.regex pays
    * ~0.8 µs per FAILED match position, so the negated-class form
    * scans ~11× slower (24.1 s vs 2.1 s at 100×, equality verified on
    * all 500k docs — the [[TextOps]] punctCount cliff, same root
    * cause). Both engines extract identical runs (alternation-free
    * positive class, leftmost-longest ≡ greedy). */
  def canonicalKey(text: Column): Column =
    array_join(regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0)), " ")

  def canonicalKeySql(text: String): String =
    s"array_to_string(regexp_extract_all(lower($text), '[a-z0-9]+'), ' ')"

  /** Normalization-insensitive exact dedup audit: every doc with its
    * canonical-form hash, whether it is the keeper (lowest id of its
    * canon group), and the group size. One hash shuffle on the 8-byte
    * canon key (the window partition), same cost as [[exact]]; the
    * canon string itself never shuffles. The hash is the shared
    * [[TextOps.tokenHash]] fold, so collisions merge identically in
    * both engines and parity is exact by construction. */
  def canonicalDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("canon_h"))
    df.select(col(idCol), graft.functions.NativeExprs.polyHash(
        canonicalKey(col(textCol)), TextOps.CharMul, TextOps.P).as("canon_h"))
      .withColumn("keeper", col(idCol) === min(col(idCol)).over(w))
      .withColumn("n_dups", count(lit(1)).over(w))
  }

  /** Oracle twin of [[canonicalDedup]]: same canon regexes ('g' flag —
    * DuckDB substitutes only the first match otherwise), same hash
    * fold, same window. */
  def canonicalDedupSql(table: String, idCol: String, textCol: String): String = {
    s"SELECT $idCol, canon_h, " +
      s"$idCol = min($idCol) OVER (PARTITION BY canon_h) AS keeper, " +
      "CAST(count(*) OVER (PARTITION BY canon_h) AS BIGINT) AS n_dups " +
      s"FROM (SELECT $idCol, ${TextOps.tokenHashSql(canonicalKeySql(textCol))} AS canon_h " +
      s"FROM $table)"
  }

  /** Batch kernel of STREAMING canonical dedup (oracle-gated at
    * `d_stream_canon`): suppress
    * `batch` against `registry` — the distinct canonical-form hashes
    * claimed by all PRIOR batches, one `h` column — plus the batch's
    * own lowest-id-per-canon-group keeper rule. First batch to claim a
    * canonical form wins (arrival order across batches, id order within
    * one); when batches arrive in id order, concatenating the per-batch
    * keepers is EXACTLY [[canonicalDedup]]'s keeper set on the union.
    *
    * Returns (kept, claims): kept = (id, canon_h) for the batch's
    * surviving docs; claims = the canon hashes this batch claims (not
    * yet in the registry) to append. Registry rows are one 8-byte hash
    * per distinct canonical form — linear in distinct content. */
  def canonicalSuppress(batch: DataFrame, registry: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val reg = registry.select(col("h").as("canon_h")).distinct()
      .withColumn("__seen", lit(1))
    val w = Window.partitionBy("canon_h")
    val flagged = batch
      .select(col(idCol), graft.functions.NativeExprs.polyHash(
        canonicalKey(col(textCol)), TextOps.CharMul, TextOps.P).as("canon_h"))
      .withColumn("__first", min(col(idCol)).over(w))
      .join(reg, Seq("canon_h"), "left")
    val kept = flagged
      .filter(col("__seen").isNull && col(idCol) === col("__first"))
      .select(col(idCol), col("canon_h"))
    val claims = flagged.filter(col("__seen").isNull)
      .select(col("canon_h").as("h")).distinct()
    (kept, claims)
  }

  /** Oracle twin for [[canonicalSuppress]] as a one-shot statement:
    * docs matching `registryPred` play the prior batches (only their
    * distinct canon hashes matter), docs matching `batchPred` are the
    * incoming batch. */
  def canonicalSuppressSql(table: String, registryPred: String,
      batchPred: String, idCol: String, textCol: String): String = {
    val h = TextOps.tokenHashSql(canonicalKeySql(textCol))
    s"""WITH __b AS (SELECT $idCol, $h AS canon_h FROM $table WHERE $batchPred),
       |__reg AS (SELECT DISTINCT $h AS h FROM $table WHERE $registryPred),
       |__f AS (SELECT $idCol, canon_h,
       |        min($idCol) OVER (PARTITION BY canon_h) AS __first FROM __b)
       |SELECT f.$idCol, f.canon_h
       |FROM __f f LEFT JOIN __reg r ON f.canon_h = r.h
       |WHERE r.h IS NULL AND f.$idCol = f.__first""".stripMargin
  }

  /** Distinct (doc, token-HASH) pairs — the inverted-index input. With
    * n > 1 the "token" is an n-gram shingle (tokenized into a bound
    * column first — see [[TextOps.shinglesFromTokens]]).
    *
    * The token is carried as its 8-byte [[TextOps.tokenHash]], not the
    * string: the distinct and the pair join then shuffle fixed-width
    * longs instead of strings — the 100 TB shuffle-width lever. The
    * DuckDB oracle applies the SAME hash ([[TextOps.tokenHashSql]], a
    * bit-identical fold), so any hash collision merges identically in
    * both engines and parity is exact by construction. */
  def docTokens(df: DataFrame, idCol: String, textCol: String, extraCols: Seq[String],
      n: Int = 1): DataFrame = {
    val units =
      if (n == 1) df.select((idCol +: extraCols).map(col) :+
        explode(TextOps.tokens(col(textCol))).as("__tok"): _*)
      else df
        .select((idCol +: extraCols).map(col) :+ TextOps.tokens(col(textCol)).as("__toks"): _*)
        .select((idCol +: extraCols).map(col) :+
          explode(TextOps.shinglesFromTokens(col("__toks"), n)).as("__tok"): _*)
    units.select((idCol +: extraCols).map(col) :+ TextOps.tokenHash("__tok").as("tok"): _*)
      .distinct()
  }

  /** N-gram-Jaccard near-dup pairs via inverted index (n = 1 → unigram),
    * optionally blocked. Output: (id_a, id_b, common, n_a, n_b,
    * jaccard >= threshold). Jaccard is a single double division of exact
    * ints — engine-exact.
    *
    * `maxDf`: drop tokens whose document frequency exceeds the cap BEFORE
    * the pair join — the production skew lever. A token shared by d docs
    * contributes d² join rows, so one boilerplate shingle ("all rights
    * reserved …") turns the inverted index quadratic; capping df bounds
    * every token's contribution AND removes non-discriminative tokens
    * from the similarity itself (numerator and denominator both use the
    * capped sets, so the semantics stay self-consistent).
    *
    * `prefixFilter` turns on positional prefix filtering
    * (AllPairs/PPJoin, Bayardo/Ma/Srikant WWW'07): index only each doc's
    * `n - ceil(t*n) + 1` rarest tokens under a global (df, tok) order —
    * any pair with jaccard >= t shares at least ceil(t*n) tokens, so by
    * pigeonhole it collides inside both prefixes — generate candidates
    * from the PREFIX index only, then verify with an exact set
    * intersection over per-doc hash arrays. Exact (a superset of
    * candidates is verified), and cuts index join rows by the prefix
    * fraction; unprofitable on dense-shared-vocabulary fixtures
    * (candidates ≈ true pairs), so off by default. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double, n: Int = 1,
      maxDf: Option[Long] = None, prefixFilter: Boolean = false): DataFrame = {
    // lazy localCheckpoint, not cache(): computed once even though three
    // branches read it, but NOT pinned in the CacheManager — the blocks
    // are released by the ContextCleaner when the result plan is GC'd,
    // so repeated calls don't accrete executor storage
    val dtAll = docTokens(df, idCol, textCol, blockCols, n).localCheckpoint(false)
    val dt = maxDf match {
      case None => dtAll
      case Some(cap) =>
        val tokKey = "tok" +: blockCols
        val keep = dtAll.groupBy(tokKey.map(col): _*)
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= cap)
          .select(tokKey.map(col): _*)
        dtAll.join(keep, tokKey, "left_semi").localCheckpoint(false)
    }
    val sizes = dt.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val common =
      if (!prefixFilter) {
        val joinKeys = ("tok" +: blockCols).map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
        dt.as("a").join(dt.as("b"), joinKeys)
          .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
          .agg(count(lit(1)).as("common"))
      } else {
        val prefix = jaccardPrefixIndex(dt, sizes, idCol, blockCols, threshold)
        val joinKeys = ("tok" +: blockCols).map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
        val cands = prefix.as("a").join(prefix.as("b"), joinKeys)
          .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
          .distinct()
        // exact verification: dt rows are distinct per doc, so the
        // collected arrays are sets and the intersect size IS the common
        // count — linear in candidates, never in pair token products
        val tokSets = dt.groupBy(col(idCol)).agg(collect_list(col("tok")).as("__ts"))
        cands
          .join(tokSets.select(col(idCol).as("id_a"), col("__ts").as("__ta")), "id_a")
          .join(tokSets.select(col(idCol).as("id_b"), col("__ts").as("__tb")), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("__ta"), col("__tb"))).cast("long").as("common"))
      }
    common
      .join(broadcast(sizes.select(col(idCol).as("id_a"), col("n").as("n_a"))), "id_a")
      .join(broadcast(sizes.select(col(idCol).as("id_b"), col("n").as("n_b"))), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
  }

  /** Containment-scored near-dup pairs: same inverted-index candidate
    * generation as [[jaccardPairs]], scored by MAX-containment
    * `common / min(n_a, n_b)` instead of Jaccard. Containment catches
    * SUBSET duplication — a short doc wholly embedded in a long one
    * (quote farms, boilerplate wrappers, truncated re-crawls) scores
    * containment ≈ 1 while its Jaccard ≈ |short|/|long| can sit far
    * below any dedup threshold. The asymmetric metric of choice in
    * web-corpus dedup exactly because near-subset pairs are what
    * doc-level Jaccard structurally misses.
    *
    * Same 100 TB shape and levers as [[jaccardPairs]] (inverted-index
    * equi-join on 8-byte hashes, block columns, maxDf hot-token cap);
    * the score is one double division of exact ints — engine-exact. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double, n: Int = 1,
      maxDf: Option[Long] = None): DataFrame = {
    val dtAll = docTokens(df, idCol, textCol, blockCols, n).localCheckpoint(false)
    val dt = maxDf match {
      case None => dtAll
      case Some(cap) =>
        val tokKey = "tok" +: blockCols
        val keep = dtAll.groupBy(tokKey.map(col): _*)
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= cap)
          .select(tokKey.map(col): _*)
        dtAll.join(keep, tokKey, "left_semi").localCheckpoint(false)
    }
    val sizes = dt.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val joinKeys = ("tok" +: blockCols).map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    dt.as("a").join(dt.as("b"), joinKeys)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col(idCol).as("id_a"), col("n").as("n_a"))), "id_a")
      .join(broadcast(sizes.select(col(idCol).as("id_b"), col("n").as("n_b"))), "id_b")
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "common", "n_a", "n_b", "containment")
  }

  /** Oracle twin for [[containmentPairs]] (n = 1, no maxDf): the
    * d_jaccard statement with the containment formula. */
  def containmentPairsSql(table: String, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): String = {
    val toks = TextOps.tokensSql(textCol)
    val blocks = blockCols.mkString(", ")
    val blockEq = blockCols.map(c => s"a.$c = b.$c").map(" AND " + _).mkString
    val score = "CAST(common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)"
    s"WITH __u AS (SELECT $idCol, $blocks, unnest($toks) AS tok FROM $table), " +
      s"uniq AS (SELECT DISTINCT $idCol, $blocks, ${TextOps.tokenHashSql("tok")} AS tok FROM __u), " +
      s"sizes AS (SELECT $idCol, count(*) AS n FROM uniq GROUP BY $idCol), " +
      s"pairs AS (SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS common " +
      s"FROM uniq a JOIN uniq b ON a.tok = b.tok$blockEq " +
      s"AND a.$idCol < b.$idCol GROUP BY 1, 2) " +
      s"SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b, $score AS containment " +
      s"FROM pairs JOIN sizes sa ON sa.$idCol = id_a JOIN sizes sb ON sb.$idCol = id_b " +
      s"WHERE $score >= $threshold"
  }

  /** The PPJoin prefix index: each doc's `n - ceil(t*n) + 1` rarest
    * tokens under the global (document frequency, token) total order —
    * rarest-first ordering makes prefix buckets the SMALLEST buckets of
    * the inverted index, which is where the candidate reduction comes
    * from. The epsilon inside the ceil guards the float product from
    * landing a hair ABOVE an exact integer (which would shorten the
    * prefix by one and break the superset guarantee); erring the other
    * way only lengthens the prefix. Exposed for the row-count assertion
    * in the spec. */
  private[graft] def jaccardPrefixIndex(dt: DataFrame, sizes: DataFrame,
      idCol: String, blockCols: Seq[String], threshold: Double): DataFrame = {
    val tokKey = "tok" +: blockCols
    val tdf = dt.groupBy(tokKey.map(col): _*).agg(count(lit(1)).as("__tdf"))
    dt.join(tdf, tokKey)
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__tdf"), col("tok"))))
      .join(sizes, Seq(idCol))
      .filter(col("__pos") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select((idCol +: "tok" +: blockCols).map(col): _*)
  }

  /** Train/eval contamination check (decontamination): for each eval
    * document, the fraction of its distinct n-gram shingles that appear
    * anywhere in the train corpus. Output: (id, n_shingles, n_hit,
    * contamination); docs whose text yields no shingle emit no row in
    * BOTH engines.
    *
    * Scale shape: both sides reduce to distinct 8-byte shingle hashes —
    * the train side globally distinct (its per-doc identity is
    * irrelevant), so the probe join is an equi-join of fixed-width longs
    * whose right side is |train vocabulary|, not |train rows|; the
    * per-eval-doc aggregate is one map-side-combinable groupBy. At
    * 100 TB the train vocabulary join is the textbook candidate for a
    * bloom-filter pushdown on `tok`, which drops never-matching eval
    * shingles before the shuffle. */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val evalToks = docTokens(eval, idCol, textCol, Nil, n)
    val trainToks = docTokens(train, idCol, textCol, Nil, n)
      .select("tok").distinct().withColumn("__hit", lit(1L))
    evalToks.join(trainToks, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }

  /** N-gram novelty score: the fraction of a document's DISTINCT
    * n-gram shingles that appear in NO document with a smaller id — the
    * standard curation signal for ordering/pruning a crawl by marginal
    * new content (a doc whose grams all appeared earlier adds nothing
    * even if no single earlier doc duplicates it, which is exactly the
    * case Jaccard/MinHash pair scoring cannot see).
    *
    * A gram is novel for doc d iff min(doc_id) over its occurrences is
    * d itself — so the whole score is one first-occurrence aggregate
    * (map-side combinable min per 8-byte gram hash) joined back on that
    * hash. Per-gram join fanout = its document frequency: LINEAR in the
    * inverted index, never pairwise in documents. Documents with fewer
    * than n tokens have no grams and are absent from the output.
    * novelty = n_novel/n_grams is one double division of exact ints —
    * engine-exact. */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val dt = docTokens(docs, idCol, textCol, Nil, n)
    val first = dt.groupBy("tok").agg(min(col(idCol)).as("__first"))
    dt.join(first, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Oracle twin of [[noveltyScores]]: same shingles, same hash fold,
    * same first-occurrence min + join-back arithmetic. */
  def noveltyScoresSql(table: String, idCol: String, textCol: String,
      n: Int = 3): String = {
    val sh = TextOps.shinglesSql(textCol, n)
    s"""WITH __dt AS (
       |  SELECT DISTINCT $idCol, ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT $idCol, unnest($sh) AS tok FROM $table)
       |), __f AS (
       |  SELECT tok, min($idCol) AS __first FROM __dt GROUP BY tok
       |)
       |SELECT d.$idCol, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN f.__first = d.$idCol THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(sum(CASE WHEN f.__first = d.$idCol THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS novelty
       |FROM __dt d JOIN __f f ON d.tok = f.tok
       |GROUP BY d.$idCol""".stripMargin
  }

  /** Streaming face of [[noveltyScores]]: score one arriving batch
    * against the registry of every gram seen in EARLIER batches, and
    * emit the batch's first-seen grams as new claims. A gram is novel
    * for doc d iff it is absent from the registry AND d is its
    * within-batch first occurrence — so when batches arrive in id
    * order, concatenating the per-batch outputs is EXACTLY the batch
    * operator on the union (the global min(doc_id) lives in the batch
    * that first contains the gram, and within that batch the min
    * coincides); out-of-order ids only move WHICH doc counts a gram as
    * novel (arrival order wins — the streaming contract), never the
    * gram totals. Registry rows are one 8-byte hash per distinct seen
    * gram: linear in CONTENT, not occurrences.
    *
    * Returns (scored, claims): scored = (id, n_grams, n_novel,
    * novelty) for the batch's docs; claims = the `h` column to append
    * to the registry. */
  def noveltySuppress(batch: DataFrame, registry: DataFrame, idCol: String,
      textCol: String, n: Int = 3): (DataFrame, DataFrame) = {
    // consumed by both the first-occurrence aggregate and the join-back
    // — same lazy-localCheckpoint rationale as jaccardPairs
    val dt = docTokens(batch, idCol, textCol, Nil, n).localCheckpoint(false)
    val reg = registry.select(col("h").as("tok")).distinct()
      .withColumn("__seen", lit(1L))
    val first = dt.groupBy("tok").agg(min(col(idCol)).as("__first"))
      .join(reg, Seq("tok"), "left")
    val scored = dt.join(first, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull && col("__first") === col(idCol), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
    val claims = first.filter(col("__seen").isNull).select(col("tok").as("h"))
    (scored, claims)
  }

  /** Oracle twin of one [[noveltySuppress]] step: registry = the
    * distinct grams of the `registryPred` rows, batch = the
    * `batchPred` rows. */
  def noveltySuppressSql(table: String, registryPred: String,
      batchPred: String, idCol: String, textCol: String, n: Int = 3): String = {
    val sh = TextOps.shinglesSql(textCol, n)
    s"""WITH __bt AS (
       |  SELECT DISTINCT $idCol, ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT $idCol, unnest($sh) AS tok FROM $table WHERE $batchPred)
       |), __rg AS (
       |  SELECT DISTINCT ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT unnest($sh) AS tok FROM $table WHERE $registryPred)
       |), __f AS (
       |  SELECT b.tok, min(b.$idCol) AS __first,
       |         CASE WHEN max(r.tok) IS NULL THEN 0 ELSE 1 END AS __seen
       |  FROM __bt b LEFT JOIN __rg r ON b.tok = r.tok
       |  GROUP BY b.tok
       |)
       |SELECT d.$idCol, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN f.__seen = 0 AND f.__first = d.$idCol THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(sum(CASE WHEN f.__seen = 0 AND f.__first = d.$idCol THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS novelty
       |FROM __bt d JOIN __f f ON d.tok = f.tok
       |GROUP BY d.$idCol""".stripMargin
  }

  /** Contrastive training pairs from near-dup clusters: every ordered
    * intra-cluster pair is an (anchor, positive), and each anchor gets
    * a deterministic NEGATIVE — the next doc with a DIFFERENT cluster
    * in its shard's salted-hash order (NULL at a shard tail). The
    * standard recipe for mining embedding-training data from a dedup
    * pass: near-dups are semantic positives, and the hash-shard
    * neighbor is an unbiased random negative that is reproducible from
    * ids alone (no RNG state).
    *
    * Scale shape: positives are the intra-cluster self-join — bounded
    * by near-dup cluster sizes, the quantity being mined. Negatives
    * never sort globally: shard-partitioned windows (the
    * [[graft.text.TextOps.shardAssignment]] discipline) compute
    * consecutive equal-cluster runs, and because runs are consecutive
    * in window order, the row that STARTS a run is that run's first
    * doc — so "next different-cluster doc" is one lag/cumsum window
    * pass plus an equi-join on (shard, runId+1), no argmin anywhere. */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, nShards: Int = 16): DataFrame = {
    val cl = clusters(docs.select(col(idCol)),
      minhashLshCandidates(docs, idCol, textCol, n), idCol)
    val sh = cl.select(col("id"), col("cluster"),
      (graft.functions.NativeExprs.polyHash(
        concat(lit("cshard:"), col("id").cast("string")), TextOps.CharMul, TextOps.P)
        % nShards).cast("int").as("shard"),
      graft.functions.NativeExprs.polyHash(
        concat(lit("cord:"), col("id").cast("string")), TextOps.CharMul, TextOps.P)
        .as("ord"))
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("id"))
    val rr = sh
      .withColumn("__chg",
        when(lag(col("cluster"), 1).over(w).isNull ||
          lag(col("cluster"), 1).over(w) =!= col("cluster"), 1L).otherwise(0L))
      .withColumn("__runid",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val runFirst = rr.filter(col("__chg") === 1L)
      .select(col("shard"), (col("__runid") - 1).as("__runid"),
        col("id").as("negative_id"))
    val neg = rr.join(runFirst, Seq("shard", "__runid"), "left")
      .select(col("id"), col("negative_id"))
    val a = cl.select(col("cluster"), col("id").as("anchor_id"))
    val b = cl.select(col("cluster"), col("id").as("positive_id"))
    a.join(b, Seq("cluster")).filter(col("anchor_id") < col("positive_id"))
      .join(neg.withColumnRenamed("id", "anchor_id"), Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("positive_id"), col("negative_id"))
  }

  /** Oracle twin of [[contrastivePairs]]: the d_cluster recursive CTE
    * for components, the same shard/ord hashes, the same run windows. */
  def contrastivePairsSql(table: String, idCol: String, textCol: String,
      n: Int = 3, nShards: Int = 16): String = {
    val hs = s"CAST(${TextOps.tokenHashSql(s"'cshard:' || CAST(id AS VARCHAR)")} % $nShards AS INTEGER)"
    val ho = TextOps.tokenHashSql(s"'cord:' || CAST(id AS VARCHAR)")
    s"""WITH RECURSIVE __pairs AS (${minhashLshCandidatesSql(table, idCol, textCol, n)}),
       |__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs
       |          UNION ALL SELECT id_b, id_a FROM __pairs),
       |__reach(src, dst) AS (
       |  SELECT $idCol, $idCol FROM $table
       |  UNION
       |  SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src),
       |__cl AS (SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src),
       |__sh AS (SELECT id, cluster, $hs AS shard, $ho AS ord FROM __cl),
       |__rs AS (
       |  SELECT *, CASE WHEN lag(cluster) OVER w IS NULL
       |                   OR lag(cluster) OVER w <> cluster THEN 1 ELSE 0 END AS chg
       |  FROM __sh WINDOW w AS (PARTITION BY shard ORDER BY ord, id)),
       |__rr AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY shard ORDER BY ord, id
       |                           ROWS UNBOUNDED PRECEDING) AS runid
       |  FROM __rs),
       |__rf AS (SELECT shard, runid, id AS negative_id FROM __rr WHERE chg = 1),
       |__neg AS (
       |  SELECT r.id, f.negative_id
       |  FROM __rr r LEFT JOIN __rf f ON r.shard = f.shard AND f.runid = r.runid + 1),
       |__pos AS (
       |  SELECT a.id AS anchor_id, b.id AS positive_id
       |  FROM __cl a JOIN __cl b ON a.cluster = b.cluster AND a.id < b.id)
       |SELECT p.anchor_id, p.positive_id, g.negative_id
       |FROM __pos p JOIN __neg g ON g.id = p.anchor_id""".stripMargin
  }

  /** Cross-source contamination matrix: for every source pair (a < b),
    * the number of shared distinct n-gram shingles, each side's
    * vocabulary size, and the Jaccard overlap — the corpus-level
    * train/test-leak audit that [[contamination]] gives per document
    * (which sources should never be mixed across a split boundary).
    *
    * 100 TB shape: one distinct (source, shingle-hash) projection, a
    * self-equi-join on the 8-byte hash — per-token fanout = number of
    * sources containing it, capped by `maxDf` (the same hot-token lever
    * as the Jaccard pair join: a boilerplate shingle present in every
    * domain would otherwise contribute sources² rows) — and one
    * pair-keyed count. Nothing is ever pairwise in documents. With
    * `maxDf` below the source count the shared counts become lower
    * bounds (dropped tokens are the ones shared everywhere); vocabulary
    * sizes stay exact. */
  def contaminationMatrix(docs: DataFrame, sourceCol: String, textCol: String,
      n: Int, maxDf: Int = 1000): DataFrame = {
    val st = docTokens(docs, sourceCol, textCol, Nil, n)
    val capped = st
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("tok")))
      .filter(col("__df") <= maxDf)
      .select(col(sourceCol), col("tok"))
    val sizes = st.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_vocab"))
    val a = capped.select(col(sourceCol).as("source_a"), col("tok"))
    val b = capped.select(col(sourceCol).as("source_b"), col("tok"))
    a.join(b, Seq("tok")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col(sourceCol).as("source_a"), col("n_vocab").as("n_a")), Seq("source_a"))
      .join(sizes.select(col(sourceCol).as("source_b"), col("n_vocab").as("n_b")), Seq("source_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select("source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard")
  }

  /** Oracle twin for [[contaminationMatrix]]: same shingle + hash folds,
    * DISTINCT per (source, token), HAVING-capped df, the same pair join
    * and count arithmetic (one correctly-rounded double division). */
  def contaminationMatrixSql(table: String, sourceCol: String,
      textCol: String, n: Int, maxDf: Int = 1000): String = {
    val sh = TextOps.shinglesSql(textCol, n)
    s"""WITH __st AS (
       |  SELECT DISTINCT $sourceCol AS source, ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT $sourceCol, unnest($sh) AS tok FROM $table)
       |), __df AS (
       |  SELECT tok FROM __st GROUP BY tok HAVING count(*) <= $maxDf
       |), __c AS (
       |  SELECT s.source, s.tok FROM __st s JOIN __df USING (tok)
       |), __sz AS (
       |  SELECT source, count(*) AS n_vocab FROM __st GROUP BY source
       |), __p AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM __c a JOIN __c b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT source_a, source_b, n_shared, za.n_vocab AS n_a, zb.n_vocab AS n_b,
       |       CAST(n_shared AS DOUBLE) / CAST(za.n_vocab + zb.n_vocab - n_shared AS DOUBLE) AS jaccard
       |FROM __p JOIN __sz za ON za.source = source_a JOIN __sz zb ON zb.source = source_b""".stripMargin
  }

  /** Oracle twin for [[contamination]]: same shingle + hash folds, the
    * train vocabulary as a DISTINCT subquery probed by a LEFT JOIN. */
  def contaminationSql(table: String, trainPred: String, evalPred: String,
      idCol: String, textCol: String, n: Int): String = {
    val sh = TextOps.shinglesSql(textCol, n)
    s"""WITH __ev AS (
       |  SELECT DISTINCT $idCol, ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT $idCol, unnest($sh) AS tok FROM $table WHERE $evalPred)
       |), __tr AS (
       |  SELECT DISTINCT ${TextOps.tokenHashSql("tok")} AS tok
       |  FROM (SELECT unnest($sh) AS tok FROM $table WHERE $trainPred)
       |), __j AS (
       |  SELECT e.$idCol, CASE WHEN t.tok IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM __ev e LEFT JOIN __tr t ON e.tok = t.tok
       |)
       |SELECT $idCol, count(*) AS n_shingles, CAST(sum(hit) AS BIGINT) AS n_hit,
       |       CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination
       |FROM __j GROUP BY $idCol""".stripMargin
  }

  // ---- exact substring dedup --------------------------------------------

  /** Position-packing span for [[substringDedup]]'s global
    * first-occurrence argmin: `id * PosSpan + pos` must be injective and
    * order-preserving, so documents must stay under 2^21 (~2M) tokens —
    * a ~10 MB text at 5 chars/token, far above any sane training-doc
    * cap. Precondition documented, not runtime-asserted (a per-row guard
    * would sit in the hot explode). */
  val PosSpan: Long = 1L << 21

  /** Exact substring (k-token window) dedup — the ExactSubstr pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), re-expressed declaratively. A k-token window is
    * duplicated iff the same k-gram occurs anywhere EARLIER in the
    * global (id, pos) order — in a previous document or earlier in the
    * same one. Every token covered by at least one duplicated window is
    * removed; survivors are rejoined in order. The first occurrence of
    * any k-gram is never flagged, so shared content survives exactly
    * once, at its first appearance — the deterministic analog of the
    * paper's suffix-array pass with the match length fixed at k tokens.
    *
    * 100 TB shape: one posexplode linear in tokens; first-occurrence is
    * a map-side-combinable groupBy on the 31-bit gram hash, joined back
    * on that same key (a boilerplate gram shared by d windows costs d
    * join rows, never d² — AQE skew-join splits hot grams); the k-1
    * tail positions per doc bypass the join entirely (no null-key hot
    * partition); coverage is a bounded ROWS BETWEEN k-1 PRECEDING
    * window per document; reassembly one groupBy(id). Nothing pairwise,
    * no driver state.
    *
    * Output: (doc_id, clean_text, n_tokens, n_removed), one row per
    * input row — fully-duplicated docs keep their row with clean_text
    * '' (the audit trail a silent drop would lose), empty docs count 0.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val hashed = substringWindows(df, idCol, textCol, k)
    val windows = hashed.filter(col("h").isNotNull)
    val firsts = windows.groupBy("h").agg(min("packed").as("firstp"))
    val flagged = windows.join(firsts, Seq("h"))
      .withColumn("dupw", col("packed") =!= col("firstp"))
      .select("id", "pos", "tok", "dupw")
      .unionByName(hashed.filter(col("h").isNull)
        .select(col("id"), col("pos"), col("tok"), lit(false).as("dupw")))
    substringAssemble(flagged, df, idCol, k)
  }

  /** Shared window machinery of [[substringDedup]] and its streaming
    * face ([[substringSuppress]]): one
    * row per token position — (id, pos, tok, h, packed) with h the
    * k-gram hash of the window STARTING at pos (null for the k-1 tail
    * positions that start no full window — arrays_zip pads the shorter
    * shingle array) and packed the order-preserving id*PosSpan+pos. */
  private[graft] def substringWindows(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k); k = 1 is token-level removal")
    // stage tokens as a bound column (the shingle lambda re-evaluates its
    // subtree otherwise — same rationale as docTokens)
    df.select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("t"))
      .withColumn("g", TextOps.shinglesFromTokens(col("t"), k))
      .select(col("id"), posexplode(arrays_zip(col("t"), col("g"))))
      .select(col("id"), col("pos"), col("col.t").as("tok"),
        when(col("col.g").isNotNull,
          graft.functions.NativeExprs.polyHash(col("col.g"),
            TextOps.CharMul, TextOps.P)).as("h"))
      .withColumn("packed", col("id") * PosSpan + col("pos"))
  }

  /** Coverage + reassembly half of [[substringDedup]]: from flagged
    * window rows (id, pos, tok, dupw) to one (id, clean_text, n_tokens,
    * n_removed) row per input document. */
  private[graft] def substringAssemble(flagged: DataFrame, df: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val cover = Window.partitionBy("id").orderBy("pos").rowsBetween(-(k - 1), 0)
    val agg = flagged
      .withColumn("covered", max(when(col("dupw"), 1).otherwise(0)).over(cover) === 1)
      .groupBy("id").agg(
        array_join(transform(
          array_sort(collect_list(when(!col("covered"), struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("covered"), 1).otherwise(0)).cast("int").as("n_removed"))
    // empty/whitespace-only docs produce no token rows: restore them via
    // a left join so the output stays one row per input document
    df.select(col(idCol).cast("long").as("id")).join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0)).as("n_removed"))
  }

  /** Batch kernel of STREAMING substring dedup (oracle-gated at
    * `d_stream_substring`): suppress `batch` against `registry` — the
    * distinct first-seen gram hashes of all PRIOR batches, one `h`
    * column — plus this batch's own (id, pos) argmin. Returns (cleaned
    * docs, new claims): the batch's first-seen gram hashes not yet in
    * the registry. Arrival order wins across batches, (id, pos) order
    * within one; when batches arrive in id order the concatenated
    * outputs equal [[substringDedup]] on the union exactly. */
  def substringSuppress(batch: DataFrame, registry: DataFrame, idCol: String,
      textCol: String, k: Int): (DataFrame, DataFrame) = {
    val reg = registry.select("h").withColumn("__seen", lit(1))
    val hashed = substringWindows(batch, idCol, textCol, k)
    val windows = hashed.filter(col("h").isNotNull)
    val firsts = windows.groupBy("h").agg(min("packed").as("firstp"))
    val flagged = windows.join(firsts, Seq("h"))
      .join(reg, Seq("h"), "left")
      .withColumn("dupw",
        col("__seen").isNotNull || col("packed") =!= col("firstp"))
      .select("id", "pos", "tok", "dupw")
      .unionByName(hashed.filter(col("h").isNull)
        .select(col("id"), col("pos"), col("tok"), lit(false).as("dupw")))
    val cleaned = substringAssemble(flagged, batch, idCol, k)
    val claims = firsts.select("h").join(registry.select("h"), Seq("h"), "left_anti")
    (cleaned, claims)
  }

  /** Oracle twin for [[substringSuppress]] as a one-shot statement: docs
    * matching `registryPred` play the prior batches (only their DISTINCT
    * gram hashes matter), docs matching `batchPred` are the incoming
    * batch. */
  def substringSuppressSql(table: String, registryPred: String,
      batchPred: String, idCol: String, textCol: String, k: Int): String = {
    val toks = TextOps.tokensSql(textCol)
    val gram = (0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH __base AS (SELECT $idCol AS id, $toks AS t FROM $table WHERE $batchPred),
       |__rows AS (SELECT id, t, unnest(range(1, len(t) + 1)) AS i FROM __base),
       |__h AS (SELECT id, i, t[i] AS tok,
       |  CASE WHEN i + ${k - 1} <= len(t) THEN ${TextOps.tokenHashSql(s"($gram)")} END AS h
       |  FROM __rows),
       |__rb AS (SELECT $idCol AS id, $toks AS t FROM $table WHERE $registryPred),
       |__rr AS (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM __rb),
       |__reg AS (SELECT DISTINCT ${TextOps.tokenHashSql(s"($gram)")} AS h FROM __rr
       |  WHERE i + ${k - 1} <= len(t)),
       |__f AS (SELECT h, min(id * $PosSpan + i) AS firstp FROM __h WHERE h IS NOT NULL GROUP BY h),
       |__d AS (SELECT a.id, a.i, a.tok,
       |  CASE WHEN a.h IS NOT NULL AND (r.h IS NOT NULL OR (a.id * $PosSpan + a.i) <> f.firstp)
       |       THEN 1 ELSE 0 END AS dupw
       |  FROM __h a LEFT JOIN __f f ON a.h = f.h LEFT JOIN __reg r ON a.h = r.h),
       |__c AS (SELECT id, i, tok,
       |  max(dupw) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) = 1 AS covered
       |  FROM __d),
       |__a AS (SELECT id,
       |  coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT covered), '') AS clean_text,
       |  CAST(count(*) AS INTEGER) AS n_tokens,
       |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS INTEGER) AS n_removed
       |  FROM __c GROUP BY id)
       |SELECT d.$idCol, coalesce(a.clean_text, '') AS clean_text,
       |       coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.n_removed, 0) AS n_removed
       |FROM (SELECT $idCol FROM $table WHERE $batchPred) d LEFT JOIN __a a ON a.id = d.$idCol""".stripMargin
  }

  /** Oracle twin for [[substringDedup]]: same tokenize, the k-gram built
    * by `||`-joining list slices (byte-identical to concat_ws ' '), the
    * same char-fold hash, the same packed (id, pos) argmin — positions
    * are 1-based here vs 0-based in Spark, a uniform shift that
    * preserves the argmin — and the same bounded coverage window. */
  def substringDedupSql(table: String, idCol: String, textCol: String, k: Int): String = {
    val toks = TextOps.tokensSql(textCol)
    val gram = (0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    s"""WITH __base AS (SELECT $idCol AS id, $toks AS t FROM $table),
       |__rows AS (SELECT id, t, unnest(range(1, len(t) + 1)) AS i FROM __base),
       |__h AS (SELECT id, i, t[i] AS tok,
       |  CASE WHEN i + ${k - 1} <= len(t) THEN ${TextOps.tokenHashSql(s"($gram)")} END AS h
       |  FROM __rows),
       |__f AS (SELECT h, min(id * $PosSpan + i) AS firstp FROM __h WHERE h IS NOT NULL GROUP BY h),
       |__d AS (SELECT a.id, a.i, a.tok,
       |  CASE WHEN a.h IS NOT NULL AND (a.id * $PosSpan + a.i) <> f.firstp THEN 1 ELSE 0 END AS dupw
       |  FROM __h a LEFT JOIN __f f ON a.h = f.h),
       |__c AS (SELECT id, i, tok,
       |  max(dupw) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) = 1 AS covered
       |  FROM __d),
       |__a AS (SELECT id,
       |  coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT covered), '') AS clean_text,
       |  CAST(count(*) AS INTEGER) AS n_tokens,
       |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS INTEGER) AS n_removed
       |  FROM __c GROUP BY id)
       |SELECT d.$idCol, coalesce(a.clean_text, '') AS clean_text,
       |       coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.n_removed, 0) AS n_removed
       |FROM $table d LEFT JOIN __a a ON a.id = d.$idCol""".stripMargin
  }

  // ---- content-defined chunking -----------------------------------------

  /** Content-defined chunking (the FastCDC/rolling-hash boundary idea,
    * Xia et al. ATC'16, in its position-independent form): a chunk
    * boundary falls AFTER token j+window−1 wherever the char-fold hash
    * of the `window`-gram ending there ≡ 0 (mod `divisor`) — so
    * boundaries are a pure function of local CONTENT, and a shared
    * passage chunks identically in every document regardless of offset
    * (fixed-size [[graft.text.TextOps.chunkTokens]] grids shift with
    * insertions; CDC re-synchronizes — that is the whole point). The
    * final token never cuts (no empty tail); expected chunk length ≈
    * `divisor` tokens. Output: one row per chunk — (id, chunk_id,
    * n_toks, chunk_hash, chunk) — the chunk-level registry feed for
    * long-document/partial-overlap dedup, where doc-level MinHash
    * misses and token-level ExactSubstr ([[substringDedup]]) is the
    * heavier tool.
    *
    * Scale shape: pure per-document array expressions (tokenize,
    * shingle, one filter/transform pass, one slice per chunk) + one
    * posexplode — linear in tokens, shuffle-free until whatever
    * consumes the chunks; dedup downstream is an equi-join on 8-byte
    * chunk hashes. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val w1 = window - 1
    val base = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("__sh", TextOps.shinglesFromTokens(col("__toks"), window))
    // cut list = 0 ++ content-defined cuts ++ n; sequence is guarded to
    // stay ascending when the doc is shorter than the window
    val cuts = concat(
      array(lit(0)),
      transform(
        filter(sequence(lit(1), greatest(lit(1), col("__n") - w1)),
          j => (j <= col("__n") - w1) &&
            (graft.functions.NativeExprs.polyHash(
              element_at(col("__sh"), j), TextOps.CharMul, TextOps.P)
              % divisor === 0) &&
            (j + w1 < col("__n"))),
        j => j + w1),
      array(col("__n")))
    base.withColumn("__cuts", cuts)
      .select(col(idCol), posexplode(expr(
        "transform(sequence(1, size(__cuts) - 1), k -> " +
          "slice(__toks, element_at(__cuts, k) + 1, " +
          "element_at(__cuts, k + 1) - element_at(__cuts, k)))")))
      .select(col(idCol), col("pos").cast("int").as("chunk_id"),
        size(col("col")).as("n_toks"),
        graft.functions.NativeExprs.polyHash(
          array_join(col("col"), " "), TextOps.CharMul, TextOps.P)
          .as("chunk_hash"),
        array_join(col("col"), " ").as("chunk"))
  }

  /** Oracle twin of [[cdcChunks]]: identical tokenize/shingle/cut/slice
    * arithmetic — DuckDB `range` is empty when the doc is shorter than
    * the window, matching the guarded Spark sequence; `list_slice` is
    * 1-based inclusive like Spark's `slice(start, length)` form. */
  def cdcChunksSql(table: String, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16): String = {
    val w1 = window - 1
    val hash = TextOps.tokenHashSql("__sh[j]")
    s"""WITH __b AS (
       |  SELECT $idCol AS id, ${TextOps.tokensSql(textCol)} AS __toks
       |  FROM $table WHERE len(${TextOps.tokensSql(textCol)}) > 0
       |), __s AS (
       |  SELECT id, __toks, len(__toks) AS n,
       |         ${TextOps.shinglesFromTokensSql("__toks", window)} AS __sh
       |  FROM __b
       |), __c AS (
       |  SELECT id, __toks, n,
       |         list_concat(list_concat([0],
       |           list_transform(list_filter(range(1, greatest(1, n - $w1) + 1),
       |             j -> j <= n - $w1 AND ($hash) % $divisor = 0 AND j + $w1 < n),
       |             j -> j + $w1)), [n]) AS cuts
       |  FROM __s
       |), __k AS (
       |  SELECT id, __toks, cuts, unnest(range(1, len(cuts))) AS k FROM __c
       |), __ch AS (
       |  SELECT id, CAST(k - 1 AS INTEGER) AS chunk_id,
       |         list_slice(__toks, cuts[k] + 1, cuts[k + 1]) AS __c
       |  FROM __k
       |)
       |SELECT id AS $idCol, chunk_id, CAST(len(__c) AS INTEGER) AS n_toks,
       |       ${TextOps.tokenHashSql("array_to_string(__c, ' ')")} AS chunk_hash,
       |       array_to_string(__c, ' ') AS chunk
       |FROM __ch""".stripMargin
  }

  /** Chunk-level dedup POLICY over [[cdcChunks]]: a document whose
    * shared-chunk token coverage reaches `minSharedPct` percent is a
    * partial duplicate — kept only if it is the FIRST (min doc id)
    * among the docs containing its earliest shared chunk, the
    * keep-one-representative rule of doc-level dedup applied to
    * passage overlap. Coverage is exact integer arithmetic
    * (100·shared_tokens ≥ pct·total_tokens). Output: one row per doc —
    * (id, n_toks, shared_toks, shared_pct, is_dup, keep).
    *
    * Scale shape: [[cdcChunks]] (linear) + one combinable count per
    * chunk hash + two thin joins back on the 8-byte hash — the
    * RefinedWeb-style "near-dup by shared passages" gate without any
    * pairwise work at all. */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16,
      minSharedPct: Int = 50): DataFrame = {
    require(minSharedPct >= 1 && minSharedPct <= 100)
    val chunks = cdcChunks(df, idCol, textCol, window, divisor)
      .localCheckpoint(false) // registry + coverage + owner passes
    val shared = chunks.groupBy("chunk_hash")
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(col(idCol)).as("__owner"))
      .filter(col("__nd") >= 2)
    chunks
      .join(shared.select(col("chunk_hash"), col("__owner")),
        Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("n_toks")).as("n_toks"),
        coalesce(sum(when(col("__owner").isNotNull, col("n_toks"))), lit(0L))
          .as("shared_toks"),
        // the earliest shared chunk's owner decides who represents the
        // overlap group: min over (chunk_id, owner) pins "earliest"
        min(when(col("__owner").isNotNull,
          struct(col("chunk_id"), col("__owner")))).as("__first"))
      .withColumn("shared_pct",
        expr("(100 * shared_toks) div greatest(n_toks, 1)"))
      .withColumn("is_dup", col("shared_pct") >= minSharedPct)
      .withColumn("keep",
        !col("is_dup") || col("__first.__owner") === col(idCol))
      .select(col(idCol), col("n_toks"), col("shared_toks"),
        col("shared_pct"), col("is_dup"), col("keep"))
  }

  /** Oracle twin of [[cdcDedup]]. */
  def cdcDedupSql(table: String, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16, minSharedPct: Int = 50): String =
    s"""WITH __ch AS MATERIALIZED (${cdcChunksSql(table, idCol, textCol, window, divisor)}),
       |__sh AS (
       |  SELECT chunk_hash, min($idCol) AS owner FROM __ch
       |  GROUP BY chunk_hash HAVING count(DISTINCT $idCol) >= 2
       |), __cov AS (
       |  SELECT c.$idCol,
       |         CAST(sum(c.n_toks) AS BIGINT) AS n_toks,
       |         CAST(coalesce(sum(c.n_toks) FILTER (WHERE s.owner IS NOT NULL), 0) AS BIGINT) AS shared_toks,
       |         min(CASE WHEN s.owner IS NOT NULL
       |             THEN struct_pack(chunk_id := c.chunk_id, owner := s.owner) END) AS first_sh
       |  FROM __ch c LEFT JOIN __sh s ON c.chunk_hash = s.chunk_hash
       |  GROUP BY c.$idCol
       |)
       |SELECT $idCol, n_toks, shared_toks,
       |       (100 * shared_toks) // greatest(n_toks, 1) AS shared_pct,
       |       (100 * shared_toks) // greatest(n_toks, 1) >= $minSharedPct AS is_dup,
       |       NOT ((100 * shared_toks) // greatest(n_toks, 1) >= $minSharedPct)
       |         OR (first_sh).owner = $idCol AS keep
       |FROM __cov""".stripMargin

  /** Batch kernel of STREAMING chunk-level dedup (the [[cdcDedup]]
    * policy for a corpus that arrives as a feed; oracle-gated at
    * `d_stream_cdc`): a chunk in this batch is SHARED iff its hash was
    * claimed by any earlier batch (registry probe, one `h` column) or
    * belongs to an earlier doc (min id) within this batch. A doc
    * whose shared coverage reaches `minSharedPct` drops; the
    * representative survives automatically because ITS chunks were
    * unclaimed when it arrived — so with batches in id order the kept
    * set equals the batch operator's `keep` set exactly (spec-pinned).
    * Returns (per-doc decisions, new claims). */
  def cdcSuppress(batch: DataFrame, registry: DataFrame, idCol: String,
      textCol: String, window: Int = 3, divisor: Int = 16,
      minSharedPct: Int = 50): (DataFrame, DataFrame) = {
    require(minSharedPct >= 1 && minSharedPct <= 100)
    val reg = registry.select("h").distinct().withColumn("__seen", lit(1))
    val chunks = cdcChunks(batch, idCol, textCol, window, divisor)
      .localCheckpoint(false) // decisions + claims both read it
    val ownerInBatch = chunks.groupBy("chunk_hash")
      .agg(min(col(idCol)).as("__owner"))
    val decisions = chunks
      .join(reg.withColumnRenamed("h", "chunk_hash"), Seq("chunk_hash"), "left")
      .join(ownerInBatch, Seq("chunk_hash"))
      .withColumn("__shared",
        col("__seen").isNotNull || col("__owner") < col(idCol))
      .groupBy(col(idCol))
      .agg(sum(col("n_toks")).as("n_toks"),
        coalesce(sum(when(col("__shared"), col("n_toks"))), lit(0L))
          .as("shared_toks"))
      .withColumn("shared_pct",
        expr("(100 * shared_toks) div greatest(n_toks, 1)"))
      .withColumn("is_dup", col("shared_pct") >= minSharedPct)
      .withColumn("keep", !col("is_dup"))
    val claims = chunks.select(col("chunk_hash").as("h")).distinct()
      .join(registry.select("h"), Seq("h"), "left_anti")
    (decisions, claims)
  }

  /** Oracle twin for [[cdcSuppress]] as a one-shot statement: docs
    * matching `registryPred` play the prior batches (only their
    * DISTINCT chunk hashes matter), docs matching `batchPred` are the
    * incoming batch. */
  def cdcSuppressSql(table: String, registryPred: String, batchPred: String,
      idCol: String, textCol: String, window: Int = 3, divisor: Int = 16,
      minSharedPct: Int = 50): String =
    s"""WITH __bc AS MATERIALIZED (
       |  SELECT * FROM (${cdcChunksSql(s"(SELECT * FROM $table WHERE $batchPred)",
            idCol, textCol, window, divisor)})
       |), __reg AS MATERIALIZED (
       |  SELECT DISTINCT chunk_hash AS h
       |  FROM (${cdcChunksSql(s"(SELECT * FROM $table WHERE $registryPred)",
            idCol, textCol, window, divisor)})
       |), __own AS (
       |  SELECT chunk_hash, min($idCol) AS owner FROM __bc GROUP BY chunk_hash
       |), __cov AS (
       |  SELECT c.$idCol,
       |         CAST(sum(c.n_toks) AS BIGINT) AS n_toks,
       |         CAST(coalesce(sum(c.n_toks) FILTER (
       |           WHERE r.h IS NOT NULL OR o.owner < c.$idCol), 0) AS BIGINT) AS shared_toks
       |  FROM __bc c
       |  LEFT JOIN __reg r ON c.chunk_hash = r.h
       |  JOIN __own o ON c.chunk_hash = o.chunk_hash
       |  GROUP BY c.$idCol
       |)
       |SELECT $idCol, n_toks, shared_toks,
       |       (100 * shared_toks) // greatest(n_toks, 1) AS shared_pct,
       |       (100 * shared_toks) // greatest(n_toks, 1) >= $minSharedPct AS is_dup,
       |       NOT ((100 * shared_toks) // greatest(n_toks, 1) >= $minSharedPct) AS keep
       |FROM __cov""".stripMargin

  // ---- MinHash + LSH ----------------------------------------------------

  /** K permutation-hash parameters (a, b): h_i(x) = (a_i*x + b_i) mod P.
    * Fixed small primes — shared verbatim with the SQL oracle. */
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (2L, 7L), (3L, 13L), (5L, 29L), (7L, 41L),
    (11L, 59L), (13L, 73L), (17L, 97L), (19L, 113L))
  val BandSize = 2 // 4 bands of 2 rows each

  /** Per-doc MinHash signature over n-gram shingles: columns m0..m{K-1}.
    * One explode + one hash-aggregate — linear, no pairwise work. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // tokenize in its own projection so the shingle lambda reads a bound
    // array (CollapseProject keeps the non-cheap multi-referenced split
    // in a separate project — verified via .explain)
    val toks = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
    val sh = toks.select(col(idCol), explode(TextOps.shinglesFromTokens(col("__toks"), n)).as("sh"))
      .distinct()
      .withColumn("h", TextOps.tokenHash("sh"))
    val aggs = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % TextOps.P).as(s"m$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any band of the signature.
    * Spark plan: ONE signature computation (checkpointed — a self-join
    * over the raw pipeline would re-run the shingle explode + hash agg
    * once per band per side), exploded to (band, k0..kB) rows in a single
    * pass, then an equi-join on the band bucket — candidates scale with
    * bucket collisions, not n². */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n)
    val nBands = MinhashParams.size / BandSize
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band") +:
        (0 until BandSize).map(k => col(s"m${b * BandSize + k}").as(s"k$k")): _*)
    }: _*)
    val keyCols = Seq("band") ++ (0 until BandSize).map(k => s"k$k")
    val bands = sig.select(col(idCol), explode(bandStructs).as("bs"))
      .select(col(idCol) +: keyCols.map(k => col(s"bs.$k")): _*)
      .localCheckpoint(false) // see jaccardPairs: reused, auto-released
    val a = bands.select(col(idCol).as("id_a") +: keyCols.map(col): _*)
    val b = bands.select(col(idCol).as("id_b") +: keyCols.map(col): _*)
    a.join(b, keyCols).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Oracle twin for [[minhashSignatures]]: same arithmetic as SQL. */
  def minhashSignaturesSql(table: String, idCol: String, textCol: String, n: Int): String = {
    val mins = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % ${TextOps.P}) AS m$i"
    }.mkString(", ")
    s"""WITH __sh AS (
       |  SELECT DISTINCT $idCol, unnest(${TextOps.shinglesSql(textCol, n)}) AS sh FROM $table
       |), __h AS (
       |  SELECT $idCol, ${TextOps.tokenHashSql("sh")} AS h FROM __sh
       |)
       |SELECT $idCol, $mins FROM __h GROUP BY $idCol""".stripMargin
  }

  /** Oracle twin for [[minhashLshCandidates]]: O(n²) band-equality
    * formulation (fine at oracle scale; the Spark plan is the LSH one). */
  def minhashLshCandidatesSql(table: String, idCol: String, textCol: String, n: Int): String = {
    val nBands = MinhashParams.size / BandSize
    val bandEq = (0 until nBands).map { b =>
      (0 until BandSize).map(k => s"sa.m${b * BandSize + k} = sb.m${b * BandSize + k}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""WITH __sig AS (${minhashSignaturesSql(table, idCol, textCol, n)})
       |SELECT sa.$idCol AS id_a, sb.$idCol AS id_b
       |FROM __sig sa JOIN __sig sb ON sa.$idCol < sb.$idCol AND ($bandEq)""".stripMargin
  }

  // ---- LSH calibration ---------------------------------------------------

  /** Recall evaluation of the MinHash-LSH candidate generator against
    * the EXACT n-gram Jaccard pairs at `threshold` — the tuning loop a
    * production dedup needs before committing to a (bands, rows)
    * configuration: what fraction of the true near-dup pairs does the
    * banded index actually surface, and how many candidates does it pay
    * for them. One summary row: (n_true, n_cand, n_hit, recall,
    * candidate_precision).
    *
    * Scale shape: truth is the inverted-index equi-join of
    * [[jaccardPairs]], candidates the band equi-join of
    * [[minhashLshCandidates]] — both linear in the index, never
    * pairwise in docs; the evaluation itself is one equi-join on
    * (id_a, id_b) pairs plus two single-row aggregates crossed
    * broadcast-style. Ratios are divisions of exact longs —
    * engine-exact; zero denominators yield NULL in both engines. */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val truth = jaccardPairs(df, idCol, textCol, Nil, threshold, n)
      .select("id_a", "id_b")
    val cands = minhashLshCandidates(df, idCol, textCol, n)
      .localCheckpoint(false) // read by the hit join AND its own count
    val tAgg = truth
      .join(cands.withColumn("__c", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__c").isNotNull, 1L).otherwise(0L)).as("n_hit"))
    val cAgg = cands.agg(count(lit(1)).as("n_cand"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    tAgg.crossJoin(cAgg) // both sides are single-row aggregates
      .select(col("n_true"), col("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        ratio(coalesce(col("n_hit"), lit(0L)), col("n_true")).as("recall"),
        ratio(coalesce(col("n_hit"), lit(0L)), col("n_cand")).as("candidate_precision"))
  }

  /** Shared truth-pair CTE body: the d_jaccard statement without blocks,
    * stopping at (id_a, id_b) at `threshold`. */
  private def truthPairsSql(table: String, idCol: String, textCol: String,
      n: Int, threshold: Double): String = {
    val sh = TextOps.shinglesSql(textCol, n)
    s"""WITH __u AS (SELECT $idCol, unnest($sh) AS tok FROM $table),
       |uniq AS (SELECT DISTINCT $idCol, ${TextOps.tokenHashSql("tok")} AS tok FROM __u),
       |sizes AS (SELECT $idCol, count(*) AS n FROM uniq GROUP BY $idCol),
       |pairs AS (SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS common
       |  FROM uniq a JOIN uniq b ON a.tok = b.tok AND a.$idCol < b.$idCol GROUP BY 1, 2)
       |SELECT id_a, id_b FROM pairs
       |JOIN sizes sa ON sa.$idCol = id_a JOIN sizes sb ON sb.$idCol = id_b
       |WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= $threshold""".stripMargin
  }

  /** Oracle twin for [[lshRecallEval]]: the d_jaccard truth CTE (no
    * blocks) composed with the d_minhash_lsh candidate statement. */
  def lshRecallEvalSql(table: String, idCol: String, textCol: String,
      n: Int, threshold: Double): String = {
    s"""WITH __truth AS (SELECT * FROM (${truthPairsSql(table, idCol, textCol, n, threshold)})),
       |__cand AS (SELECT * FROM (${minhashLshCandidatesSql(table, idCol, textCol, n)})),
       |__t AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(coalesce(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
       |  FROM __truth t LEFT JOIN __cand c ON t.id_a = c.id_a AND t.id_b = c.id_b),
       |__c AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM __cand)
       |SELECT n_true, n_cand, n_hit,
       |  CASE WHEN n_true = 0 THEN NULL
       |       ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall,
       |  CASE WHEN n_cand = 0 THEN NULL
       |       ELSE CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS candidate_precision
       |FROM __t CROSS JOIN __c""".stripMargin
  }

  /** Per-candidate-pair MinHash calibration: for every LSH candidate
    * pair, the signature-based similarity ESTIMATE (fraction of the K
    * MinHash components that agree — the only similarity a
    * signature-store dedup ever sees) next to the EXACT n-gram Jaccard,
    * with the absolute error. The operator a pipeline runs on a sample
    * before trusting signature-threshold dedup at full scale.
    *
    * Scale shape: candidates from the band equi-join; the exact side
    * restricts the inverted index to docs that appear in some candidate
    * (left-semi on ids) BEFORE the pair groupBy, so verification work
    * scales with candidates, not the corpus; signatures join in K
    * fixed-width columns. Estimate, Jaccard, and error are arithmetic
    * on exact ints per row — engine-exact, no cross-row float order
    * anywhere. A band collision with zero shared shingles (possible
    * only through hash coincidence) keeps common = 0. */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val k = MinhashParams.size
    val cands = minhashLshCandidates(df, idCol, textCol, n).localCheckpoint(false)
    val ids = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    val dtAll = docTokens(df, idCol, textCol, Nil, n).localCheckpoint(false)
    val dt = dtAll.join(ids, Seq(idCol), "left_semi")
    val common = dt.as("a").join(dt.as("b"),
        col("a.tok") === col("b.tok") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("common"))
    val sizes = dtAll.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val sig = minhashSignatures(df, idCol, textCol, n).localCheckpoint(false)
    val sigA = sig.select(col(idCol).as("id_a") +:
      (0 until k).map(i => col(s"m$i").as(s"__a$i")): _*)
    val sigB = sig.select(col(idCol).as("id_b") +:
      (0 until k).map(i => col(s"m$i").as(s"__b$i")): _*)
    val estMatches = (0 until k).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0)).reduce(_ + _)
    cands
      .join(common, Seq("id_a", "id_b"), "left")
      .join(broadcast(sizes.select(col(idCol).as("id_a"), col("n").as("n_a"))), "id_a")
      .join(broadcast(sizes.select(col(idCol).as("id_b"), col("n").as("n_b"))), "id_b")
      .join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("est_matches", estMatches)
      .withColumn("est", col("est_matches").cast("double") / lit(k.toDouble))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .withColumn("abs_err", abs(col("est") - col("jaccard")))
      .select("id_a", "id_b", "est_matches", "common", "n_a", "n_b",
        "est", "jaccard", "abs_err")
  }

  /** Oracle twin for [[minhashEstimatePairs]]: candidate statement +
    * signature CTE + the unblocked inverted-index common counts, same
    * per-row arithmetic. */
  def minhashEstimatePairsSql(table: String, idCol: String, textCol: String,
      n: Int): String = {
    val k = MinhashParams.size
    val sh = TextOps.shinglesSql(textCol, n)
    val est = (0 until k).map(i =>
      s"CASE WHEN sa2.m$i = sb2.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH __cand AS (SELECT * FROM (${minhashLshCandidatesSql(table, idCol, textCol, n)})),
       |__sig AS (SELECT * FROM (${minhashSignaturesSql(table, idCol, textCol, n)})),
       |__u AS (SELECT $idCol, unnest($sh) AS tok FROM $table),
       |__uniq AS (SELECT DISTINCT $idCol, ${TextOps.tokenHashSql("tok")} AS tok FROM __u),
       |__sizes AS (SELECT $idCol, count(*) AS n FROM __uniq GROUP BY $idCol),
       |__common AS (SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS common
       |  FROM __uniq a JOIN __uniq b ON a.tok = b.tok AND a.$idCol < b.$idCol GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b,
       |  CAST($est AS INTEGER) AS est_matches,
       |  CAST(coalesce(m.common, 0) AS BIGINT) AS common,
       |  sa.n AS n_a, sb.n AS n_b,
       |  CAST($est AS DOUBLE) / $k AS est,
       |  CAST(coalesce(m.common, 0) AS DOUBLE)
       |    / CAST(sa.n + sb.n - coalesce(m.common, 0) AS DOUBLE) AS jaccard,
       |  abs(CAST($est AS DOUBLE) / $k - CAST(coalesce(m.common, 0) AS DOUBLE)
       |    / CAST(sa.n + sb.n - coalesce(m.common, 0) AS DOUBLE)) AS abs_err
       |FROM __cand c
       |LEFT JOIN __common m ON c.id_a = m.id_a AND c.id_b = m.id_b
       |JOIN __sizes sa ON sa.$idCol = c.id_a
       |JOIN __sizes sb ON sb.$idCol = c.id_b
       |JOIN __sig sa2 ON sa2.$idCol = c.id_a
       |JOIN __sig sb2 ON sb2.$idCol = c.id_b""".stripMargin
  }

  // ---- near-dup clusters ------------------------------------------------

  /** How long a convergence loop waits for an observed metric before
    * recomputing it with an explicit aggregate job. Observed metrics are
    * delivered via the async listener bus, which can drop events under
    * queue overflow (and a failed/cancelled checkpoint job may never
    * post one) — an unbounded `Observation.get` would then hang the
    * driver inside the loop forever. The metric normally arrives within
    * milliseconds of the eager checkpoint job returning, so a timeout
    * here is strictly a missed-event signal, not a tuning knob. */
  private val ObservedMetricTimeoutMs = 60000L

  /** The values of `aggs` over `frame`: from the observation when its
    * row arrives within the bounded wait, otherwise recomputed as one
    * explicit aggregate job (cheap — every call site passes the already
    * materialized checkpoint of the observed plan, and the fallback
    * aggregates are deterministic functions of that frame, so both
    * paths yield identical values). */
  private def observedOr(obs: org.apache.spark.sql.Observation,
      frame: DataFrame, aggs: Seq[Column]): Seq[Long] = {
    val row =
      try Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(ObservedMetricTimeoutMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)))
      catch { case _: java.util.concurrent.TimeoutException => None }
    row match {
      case Some(r) => aggs.indices.map(r.getLong(_))
      case None =>
        val r = frame.agg(aggs.head, aggs.tail: _*).head()
        aggs.indices.map(r.getLong(_))
    }
  }

  /** Connected components over a near-dup pair list: every node gets
    * `cluster` = the MINIMUM id reachable through pairs — the canonical
    * representative a keep-one dedup policy needs (pairs alone don't say
    * which of {a,b,c} to keep when a~b and b~c but a!~c).
    *
    * Iterative min-label propagation WITH pointer jumping: each round a
    * node takes the min of its own and its neighbors' labels, then
    * shortcuts through the previous round's table (cluster :=
    * l(cluster)) — so a depth-d chain converges in O(log d) rounds, not
    * d (near-dup components are short-diameter cliques in practice;
    * ER/SemDeDup gradient chains are not, and the jump is what keeps
    * their round count — i.e. their passes over the pair table — log).
    * Each round is one equi-join + one aggregation + one label-table
    * lookup — all shuffle-parallel — and labels are localCheckpointed
    * per round so lineage stays flat; the convergence count is observed
    * during the checkpoint's own job, so a round is ONE job.
    * Diameter-safe: if propagation has somehow not converged after
    * `maxIters` rounds (with jumping that means a component deeper than
    * ~2^maxIters — unreachable in practice, kept as a hard guarantee),
    * the kernel finishes by delegating to [[clustersStar]] (O(log n)
    * star contraction, same output contract) rather than aborting or
    * returning silently-wrong labels.
    *
    * `broadcastMaxLabels` gates the per-hop broadcast hints: the induced
    * subgraph is counted ONCE up front, and when it exceeds the threshold
    * every hop runs as plain shuffle equi-joins instead — same labels,
    * no driver-side collect of an unbroadcastable table. The default
    * (~4M labels ≈ 64 MB of packed longs) stays far inside executor
    * memory; a 100 TB corpus with a huge duplicate fraction takes the
    * shuffle path automatically. */
  def clusters(nodes: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b", maxIters: Int = 30,
      broadcastMaxLabels: Long = 1L << 22): DataFrame = {
    // cluster the symmetric pair table by dst ONCE before checkpointing:
    // every round's neighbor-min join keys on dst, so at shuffle scale
    // the rounds inherit this partitioning instead of re-exchanging the
    // pair table per round (LogicalRDD keeps the checkpoint's output
    // partitioning), and locally AQE sizes the exchange so the cached
    // table holds a few right-sized blocks rather than the caller's
    // partition count — a wide upstream pair generator (e.g. the ER
    // blocking join's pinned fan-out) otherwise leaks its width into
    // every one of the loop's cached scans (measured +2.5 s on er_inc's
    // 21 rounds)
    val sym = pairs.select(col(aCol).as("dst"), col(bCol).as("src"))
      .unionByName(pairs.select(col(bCol).as("dst"), col(aCol).as("src")))
      .repartition(col("dst"))
      .localCheckpoint(false) // reused every round
    // the loop runs ONLY on the induced subgraph (ids occurring in some
    // pair): a node with no neighbor can never change its label, and in
    // a near-dup workload touched docs are a small fraction of the
    // corpus — the full node set joins back in exactly once at the end
    // observe-on-checkpoint: the label count rides the eager
    // checkpoint's own materialization job (ObserveCheckpointSpec pins
    // the mechanism), so init costs ONE job, not checkpoint + count —
    // the loop below follows the same one-job-per-round shape. (A lazy
    // checkpoint would save the same job but materializes inside a
    // later query, after this plan's accumulators are GC-able —
    // "Failed to update accumulator" spam per task; measured r11.)
    val initObs = org.apache.spark.sql.Observation()
    var labels = sym.select(col("dst").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .observe(initObs, count(lit(1)).as("n"))
      .localCheckpoint()
    // one observed count on the checkpointed subgraph decides the join
    // strategy for every hop; the label count is invariant across rounds
    val useBroadcast =
      observedOr(initObs, labels, Seq(count(lit(1)))).head <= broadcastMaxLabels
    def hint(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    // one propagation round: every node takes the min of its own and its
    // neighbors' labels (one hop), then JUMPS through the previous
    // round's label table — cluster := min(cluster, l(cluster)) — the
    // classic pointer-doubling shortcut. Labels stay non-increasing and
    // the fixpoint is unchanged (stable ⟺ every label equals its closed
    // neighborhood's min AND its own label's label, which forces one
    // label — the component min — per component), but a depth-d chain
    // now converges in O(log d) rounds instead of d: each round a
    // node's label reaches twice as far back as last round, so the
    // 30-round cap covers astronomic diameters and the round count —
    // and with it the number of passes over the pair table, the real
    // 100 TB cost — drops from diameter-many to log-many. The jump is
    // a second subgraph-sized lookup join against the CHECKPOINTED
    // previous round (never against this round's uncheckpointed hop
    // output, which would duplicate the hop's plan). Extra columns
    // (the round's __old) pass through.
    // label/neighbor-min tables are subgraph-sized: when they fit the
    // broadcast gate a round is shuffle-free except the one groupBy on
    // the pair list; past the gate the identical loop runs as shuffle
    // joins
    def hop(l: DataFrame): DataFrame = {
      // ONE broadcast of the round's FULL label table serves all three
      // lookups (neighbor-min build, the step's own row, the pointer
      // jump): the hint subtrees canonicalize identically and every
      // join builds keyed on `id`, so ReuseExchange builds the
      // broadcast once — a round schedules one broadcast build plus
      // the checkpoint job. (The earlier shape also broadcast the
      // AGGREGATED neighbor-min table — a second sequential build job
      // and driver gap per round, and the rounds are the protocol
      // cells' cost.)
      val lt = hint(l).as("__lt")
      val lt2 = hint(l).as("__lt2")
      val lt3 = hint(l).as("__lt3")
      // the pair table is SYMMETRIC, so the neighbor-min can be
      // computed in either orientation: min over labels of x's
      // dst-neighbors grouped by src ≡ min over labels of x's
      // src-neighbors grouped by dst. In broadcast mode the label
      // lookup is a map-side probe, so aggregating by the CHECKPOINT'S
      // OWN key (dst) makes the whole round exchange-free — one shuffle
      // stage job fewer per round, and the rounds are the protocol
      // cells' cost (er_inc runs 21 of them). In shuffle mode the label
      // join itself keys on dst (inheriting the checkpoint's
      // partitioning), so the aggregate keys on src as before.
      val nbrMin =
        if (useBroadcast)
          sym.join(lt, col("src") === col("__lt.id"))
            .groupBy(col("dst").as("id")).agg(min(col("__lt.cluster")).as("nmin"))
        else
          sym.join(lt, col("dst") === col("__lt.id"))
            .groupBy(col("src").as("id")).agg(min(col("__lt.cluster")).as("nmin"))
      // nbrMin is TOTAL over the label table's ids (the loop runs on
      // the induced subgraph, where every node has a neighbor, and the
      // symmetric pair table yields the same id set in either
      // orientation), so streaming nbrMin through an inner join against
      // the broadcast labels is the old `l ⟕ broadcast(nbrMin)` with
      // the build sides swapped — same rows, one broadcast fewer.
      val stepped = nbrMin.as("__nm")
        .join(lt2, col("__nm.id") === col("__lt2.id"))
        .select(Seq(col("__nm.id").as("id")) ++
          l.columns.filter(c => c != "cluster" && c != "id")
            .map(c => col(s"__lt2.$c")) :+
          least(col("__lt2.cluster"), col("__nm.nmin")).as("__c1"): _*)
        .as("__st")
      stepped.join(lt3, col("__st.__c1") === col("__lt3.id"), "left")
        .select(l.columns.filter(_ != "cluster").map(c => col(s"__st.$c")) :+
          least(col("__st.__c1"),
            coalesce(col("__lt3.cluster"), col("__st.__c1"))).as("cluster"): _*)
    }
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      // ONE job per round: the moved-count is OBSERVED during the hop's
      // eager-checkpoint materialization (not a second count job over
      // the checkpointed table), so the final no-change confirmation
      // still costs exactly one hop and a round never pays a separate
      // convergence pass (a fused two-hop round would run a second,
      // provably idle hop)
      val obs = org.apache.spark.sql.Observation()
      val next = hop(labels.withColumn("__old", col("cluster")))
        .observe(obs, count(when(col("cluster") =!= col("__old"), 1)).as("moved"))
        .localCheckpoint()
      changed = observedOr(obs, next,
        Seq(count(when(col("cluster") =!= col("__old"), 1)))).head
      labels = next.select("id", "cluster")
      it += 1
    }
    // min-label propagation needs DIAMETER-many hops; exiting the loop
    // with moves still in flight would return wrong labels SILENTLY
    // (caught by the StreamingCcSpec deep-chain test: a 41-component
    // merge path mislabels at the 30-round cap). Components deeper than
    // maxIters are a real workload shape — SemDeDup buckets and ER
    // transitive chains produce exactly the gradient chains that exceed
    // any fixed one-hop budget — so instead of aborting the job (the
    // round-10 loud-failure fix) the kernel FINISHES with the
    // diameter-independent star-contraction kernel: same output
    // contract, O(log n) rounds, no broadcast. The maxIters min-label
    // rounds already paid are sunk cost bounded by the cap; every
    // caller keeps the cheap propagation path on the (overwhelmingly
    // common) shallow-component shape and is still guaranteed to
    // terminate with CORRECT labels on adversarial diameters.
    if (changed != 0L) clustersStar(nodes, pairs, idCol, aCol, bCol)
    else nodes.select(col(idCol).as("id"))
      .join(hint(labels.withColumnRenamed("cluster", "__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the extreme-scale alternative to [[clusters]]' label
    * propagation. Each round rewires edges toward component minima and
    * converges in O(log n) rounds REGARDLESS of component diameter
    * (min-label propagation needs diameter-many rounds on chain-shaped
    * components), with every step a plain shuffle groupBy/join — no
    * broadcast anywhere, nothing driver-sized. Same output contract as
    * [[clusters]]: (id, cluster = min reachable id) for every node in
    * `nodes`.
    *
    * large-star: every node points its LARGER neighbors at the minimum
    * of its closed neighborhood; small-star: every node and its smaller
    * neighbors collapse onto that minimum. Both preserve connectivity
    * exactly; at the fixed point the edge set is a star per component
    * rooted at the component minimum. */
  def clustersStar(nodes: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b", maxIters: Int = 30): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    // stop when the canonical edge set stops changing; (count, xor of
    // row hashes) detects that without a full set comparison per round
    // (xor, not sum: overflow-free under ANSI mode and order-insensitive).
    // The signature is OBSERVED during each round's eager-checkpoint
    // materialization (ObserveCheckpointSpec pins the mechanism), so a
    // round costs one job, not checkpoint + a separate aggregate job.
    def sigObs(e: DataFrame): (DataFrame, () => (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = e.observe(obs, count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("x"))
        .localCheckpoint()
      (observed,
        () => {
          val vs = observedOr(obs, observed, Seq(count(lit(1)),
            coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))))
          (vs(0), vs(1))
        })
    }
    val (edges0, sig0) = sigObs(canon(pairs.select(col(aCol).as("u"), col(bCol).as("v"))))
    var edges = edges0
    var prev = sig0()
    var it = 0
    var stable = false
    while (!stable && it < maxIters) {
      // large-star: m = min(closed neighborhood of u); larger neighbors
      // re-attach to m
      val s1 = sym(edges)
      val min1 = s1.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = canon(s1.filter(col("v") > col("u")).join(min1, "u")
        .select(col("v").as("u"), col("m").as("v")))
      // small-star on edges oriented larger→smaller: u and its smaller
      // neighbors all attach to the neighborhood minimum
      val s2 = sym(ls).filter(col("v") < col("u"))
      val min2 = s2.groupBy("u").agg(min(col("v")).as("m"))
      val (ss, sigSs) = sigObs(canon(
        s2.join(min2, "u").select(col("v").as("u"), col("m").as("v"))
          .unionByName(min2.select(col("u"), col("m").as("v")))))
      val cur = sigSs()
      stable = cur == prev
      prev = cur
      edges = ss
      it += 1
    }
    // fixed point = stars rooted at component minima: a node's label is
    // its minimum edge partner (only the root has a larger partner)
    val labels = sym(edges).groupBy(col("u").as("id"))
      .agg(min(col("v")).as("mn"))
      .select(col("id"), least(col("mn"), col("id")).as("__c"))
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** Default signature width. 32 bits suits corpora where the expected
    * (band, chunk) bucket population stays modest; at 100 TB-class
    * density pass `bits = 64` — radius-3 banding then yields 16-bit
    * chunks (65k bucket values per band instead of 256), the hot-bucket
    * skew lever. Both widths share one token hash (the low `bits` bits
    * of the 64-bit hash) and one code path. */
  val SimhashBits = 32

  /** `bits`-wide SimHash per doc over distinct tokens: bit b of the
    * result is 1 iff more token-hashes have bit b set than cleared. One
    * explode + one aggregation with `bits` conditional sums — linear and
    * codegen'd. Disjoint powers of two recombine by addition: with bit
    * 63 the sum starts at Long.MinValue and only moves toward zero, so
    * 64-bit signatures never overflow (ANSI-safe). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = SimhashBits): DataFrame = {
    require(bits > 0 && bits <= 64, "simhash width must be in [1, 64]")
    // > 32 bits needs the wide token hash: the default fold mod 2^31-1
    // leaves bits 31..63 constant, which would make every high band one
    // corpus-sized bucket (see TextOps.tokenHashWide)
    val dt = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .distinct()
      .withColumn("h",
        if (bits > 32) TextOps.tokenHashWide("tok") else TextOps.tokenHash("tok"))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    dt.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  def simhashSql(table: String, idCol: String, textCol: String,
      bits: Int = SimhashBits): String = {
    val hashSql = if (bits > 32) TextOps.tokenHashWideSql("tok")
      else TextOps.tokenHashSql("tok")
    val bitSums = (0 until bits).map { b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val recombine = (0 until bits).map { b =>
      s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH __dt AS (
       |  SELECT DISTINCT $idCol, unnest(${TextOps.tokensSql(textCol)}) AS tok FROM $table
       |), __h AS (
       |  SELECT $idCol, $hashSql AS h FROM __dt
       |), __s AS (
       |  SELECT $idCol, $bitSums FROM __h GROUP BY $idCol
       |)
       |SELECT $idCol, $recombine AS simhash FROM __s""".stripMargin
  }

  /** Band layout for a `bits`-wide signature split into `bands` chunks:
    * widths as even as possible, covering all bits exactly once. */
  private[graft] def bandLayout(bits: Int, bands: Int): (Seq[Int], Seq[Int]) = {
    val widths = (0 until bands).map(b =>
      bits / bands + (if (b < bits % bands) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _))
  }

  /** Chunk `b` of a signature. shiftright sign-extends on longs; the
    * mask cuts the extension bits, and a full-width (64-bit, single-
    * band) chunk masks with -1 since 1L<<64 wraps to 1. */
  private[graft] def chunkAt(sig: Column, widths: Seq[Int], offsets: Seq[Int],
      b: Int): Column = {
    val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1
    shiftright(sig, offsets(b)).bitwiseAND(lit(mask))
  }

  /** Near-dup pairs by SimHash hamming distance, EXACT via pigeonhole
    * banding (Manku/Jain/Sarma's block-permuted simhash search, WWW'07):
    * the 32-bit signature is split into `maxHamming + 1` contiguous bit
    * blocks; two signatures within hamming `d <= maxHamming` differ in at
    * most `d` blocks, so they AGREE exactly on at least one block — an
    * equi-join on (block index, block value) generates every qualifying
    * pair (no recall loss), hamming is verified post-join, and multi-block
    * matches collapse under one distinct. Candidate generation is
    * bucket-local (same shape as [[minhashLshCandidates]]) — never the
    * O(n²) all-pairs theta join, which Spark can only plan as a
    * nested-loop. The signature table is persisted (one explode+agg, not
    * one per join side); the band explode adds `maxHamming + 1` rows per
    * doc, constant per document. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int = SimhashBits): DataFrame =
    hammingPairs(simhash(df, idCol, textCol, bits), idCol, "simhash",
      maxHamming, bits)

  /** Exact hamming-≤τ pairs over ANY precomputed `bits`-wide BIGINT
    * signature column — the pigeonhole band kernel behind
    * [[simhashPairs]], factored out so every 64-bit fingerprint family
    * (simhash, media aHash, sign-quantized embeddings) shares one
    * audited candidate generator. Band equi-join (never a theta
    * all-pairs), hamming verified post-join, each qualifying signature
    * pair emitted ONLY from its lowest matching band (a codegen'd
    * filter instead of a distinct, so multi-band matches never shuffle
    * duplicates).
    *
    * The band join runs over DISTINCT signatures — the hammingClusters
    * collapse, extended to exact pair emission. Identical signatures
    * are banding's quadratic hazard: a g-member identical-hash group
    * lands g rows in EVERY band bucket and pays g² join candidates per
    * band (on the 100× media fixture — 500k assets, 13.8k distinct
    * aHashes — the occurrence-level join stalled a full sweep on one
    * hot-bucket straggler at r=10). Over distinct signatures the join
    * volume is a function of signature ENTROPY, not corpus size; member
    * pairs then expand through two output-proportional equi-joins, and
    * identical-signature pairs (hamming 0) come from one inverted-index
    * self-join — both linear in the RESULT, which is the operator's
    * intrinsic floor (the pair list is the product; use
    * [[hammingClusters]] when only components are needed). */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bits: Int = SimhashBits,
      wideProbe: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits)")
    val bands = maxHamming + 1
    val (widths, offsets) = bandLayout(bits, bands)
    // NULL signatures carry no similarity evidence and never joined
    // under the old null-unequal band keys either
    val members = sigs.select(col(idCol), col(sigCol))
      .filter(col(sigCol).isNotNull)
      .localCheckpoint(false) // reused: both expansion sides + self pairs
    val blocks = (0 until bands).map { b =>
      struct(lit(b).as("band"), chunkAt(col(sigCol), widths, offsets, b).as("chunk"))
    }
    // `wideProbe` pins the distinct-signature table to the
    // shuffle-partition knob (the repartition feeds the dedup its
    // required distribution, so it is still ONE exchange): the band
    // join probes this checkpoint at ITS width, and AQE's byte-based
    // coalescing packs the thin signature table into ONE partition —
    // on sf0.1 aHashes the whole band join + pair expansion ran as a
    // single 1.9 s task (JobProf r12; pinned: m_phash_pairs min
    // 2.90 s → 0.96 s). Opt-IN because the stage is compute-bound per
    // CANDIDATE pair, a function of signature entropy: low-entropy
    // perceptual hashes (aHash) pile members into few buckets and pay
    // quadratic bucket work, while high-entropy simhash buckets are
    // near-empty and the pinned 32-wide shuffle only adds task floor
    // (measured: d_simhash_pairs_w64 min 1.21 s → 1.50 s with it on).
    // The knob scales with the cluster conf, not the box (§2.1).
    val dsig = members.select(col(sigCol))
    val dedup =
      if (wideProbe) dsig.repartition(
          sigs.sparkSession.sessionState.conf.numShufflePartitions,
          col(sigCol)).dropDuplicates(sigCol)
      else dsig.distinct()
    val exploded = dedup
      .select(col(sigCol), explode(array(blocks: _*)).as("bc"))
      .select(col(sigCol), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
      .localCheckpoint(false) // reused by both band-join sides
    val ea = exploded.select(col("band"), col("chunk"), col(sigCol).as("sim_a"))
    val eb = exploded.select(col("band"), col("chunk"), col(sigCol).as("sim_b"))
    val firstMatchOnly = (0 until bands - 1).map { bp =>
      (col("band") <= bp) ||
        (chunkAt(col("sim_a"), widths, offsets, bp) =!=
          chunkAt(col("sim_b"), widths, offsets, bp))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val sigPairs = ea.join(eb, Seq("band", "chunk"))
      .filter(col("sim_a") < col("sim_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming && firstMatchOnly)
      .select(col("sim_a"), col("sim_b"), col("hamming"))
    val cross = sigPairs
      .join(members.select(col(idCol).as("__ia"), col(sigCol).as("sim_a")), Seq("sim_a"))
      .join(members.select(col(idCol).as("__ib"), col(sigCol).as("sim_b")), Seq("sim_b"))
      // duplicate-id inputs (one id under two near signatures) would
      // otherwise produce an (x, x) self-pair after least/greatest
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    val selfPairs = members.select(col(sigCol), col(idCol).as("id_a"))
      .join(members.select(col(sigCol), col(idCol).as("id_b")), Seq(sigCol))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))
    cross.unionByName(selfPairs)
  }

  /** Hamming-≤τ connected components over a signature column — the
    * CLUSTER face of [[hammingPairs]], scalable where the pair list is
    * not: identical signatures collapse to ONE representative (min id
    * per signature) BEFORE the band join, so a g-way identical-hash
    * group costs g rows instead of g²/2 pairs, and banding runs over
    * DISTINCT signatures only. On low-entropy perceptual hashes the
    * collapse is the whole game — the 100× media fixture has 500k
    * assets but 13.8k distinct aHashes: 80.2M raw radius-4 pairs
    * collapse to 7.3k representative pairs (a 10⁴× reduction) with
    * IDENTICAL components and labels (a component's min id is attained
    * at some member, every member's id ≥ its signature's rep, so
    * min-label propagation over reps reaches the same global min).
    * Emits (id, cluster) exactly like [[clusters]]. CC runs as
    * [[clustersStar]] (pointer-doubling star contraction), not plain
    * label-prop: a gradient of near hashes can chain representatives
    * into a component whose DIAMETER exceeds any fixed one-hop round
    * budget, and star contraction converges in O(log diameter). */
  def hammingClusters(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bits: Int = SimhashBits,
      wideProbe: Boolean = false): DataFrame = {
    // A NULL signature carries no similarity evidence: those rows skip
    // the rep/banding machinery entirely and come out as singleton
    // clusters (cluster = own id), matching the oracle face, which
    // emits every id. Previously the equi-join back on the signature
    // silently DROPPED them (null-unequal). Unreachable via aHash
    // (NULL text hashes to 0), but the operator API is general.
    val nullSingletons = sigs.filter(col(sigCol).isNull)
      .select(col(idCol).as("id"), col(idCol).as("cluster"))
    val nn = sigs.filter(col(sigCol).isNotNull)
    val reps = nn.groupBy(col(sigCol)).agg(min(col(idCol)).as("__rep"))
    val pairs = hammingPairs(reps.select(col("__rep").as(idCol), col(sigCol)),
      idCol, sigCol, maxHamming, bits, wideProbe)
    val repClusters = clustersStar(reps.select(col("__rep").as(idCol)), pairs,
      idCol).withColumnRenamed("id", "__rep")
    nn.select(col(idCol), col(sigCol))
      .join(reps, Seq(sigCol))
      .join(repClusters, Seq("__rep"))
      .select(col(idCol).as("id"), col("cluster"))
      .union(nullSingletons)
  }

  /** Oracle twin for [[simhashPairs]]. */
  def simhashPairsSql(table: String, idCol: String, textCol: String,
      maxHamming: Int, bits: Int = SimhashBits): String =
    s"""WITH __sh AS (${simhashSql(table, idCol, textCol, bits)})
       |SELECT a.$idCol AS id_a, b.$idCol AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM __sh a JOIN __sh b ON a.$idCol < b.$idCol
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin

  // ---- streaming near-dup suppression -----------------------------------

  /** Stateless (pure-projection, no aggregation) MinHash signature:
    * the SAME K permutation params and hash arithmetic as
    * [[minhashSignatures]], computed as `array_min` folds over the
    * shingle array instead of an explode + hash-aggregate. min over the
    * shingle MULTISET equals min over the shingle SET, so the two forms
    * are bit-identical wherever both are defined (spec-pinned); a
    * document with fewer than n tokens has no shingles and gets NULL
    * m-columns (the agg form simply emits no row).
    *
    * This is the streaming-ingest form: a micro-batch computes
    * signatures with ZERO shuffles (tokenize → shingle → K folds, all
    * whole-stage codegen), where the agg form would put a streaming
    * aggregation (= a state store) in front of every downstream step.
    * Each intermediate (tokens, shingles, shingle hashes) is bound in
    * its own projection so no lambda re-evaluates a non-cheap subtree
    * (see [[TextOps.shinglesFromTokens]]). */
  def minhashSignatureStateless(df: DataFrame, carryCols: Seq[String],
      textCol: String, n: Int): DataFrame = {
    val toks = df.select(carryCols.map(col) :+
      TextOps.tokens(col(textCol)).as("__toks"): _*)
    val sh = toks.select(carryCols.map(col) :+
      TextOps.shinglesFromTokens(col("__toks"), n).as("__sh"): _*)
    val hs = sh.select(carryCols.map(col) :+
      transform(col("__sh"),
        t => graft.functions.NativeExprs.polyHash(t, TextOps.CharMul, TextOps.P))
        .as("__hs"): _*)
    val mins = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("__hs"), h => (h * a + b) % TextOps.P)).as(s"m$i")
    }
    hs.select(carryCols.map(col) ++ mins: _*)
  }

  /** LSH band-bucket rows (band, k0..k{B-1}) for each document — the
    * same banding as [[minhashLshCandidates]], factored so the streaming
    * suppressor and the candidate join share one definition. Documents
    * with NULL signatures (< n tokens) produce no rows. */
  def bandRows(sig: DataFrame, carryCols: Seq[String]): DataFrame = {
    val nBands = MinhashParams.size / BandSize
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band") +:
        (0 until BandSize).map(k => col(s"m${b * BandSize + k}").as(s"k$k")): _*)
    }: _*)
    val keyCols = Seq("band") ++ (0 until BandSize).map(k => s"k$k")
    sig.filter(col("m0").isNotNull)
      .select(carryCols.map(col) :+ explode(bandStructs).as("bs"): _*)
      .select(carryCols.map(col) ++ keyCols.map(k => col(s"bs.$k")): _*)
  }

  /** Distinct band-bucket claims of a document set — the registry rows
    * an already-ingested corpus contributes to [[nearDupSuppress]]. */
  def bandClaims(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    bandRows(minhashSignatureStateless(df, Seq(idCol), textCol, n), Seq(idCol))
      .select("band", "k0", "k1").distinct()

  /** First-writer-wins near-dup suppression of one (micro-)batch against
    * a persistent bucket-claim registry — the streaming dedup kernel.
    *
    * Semantics (order-independent, hence parallelizable): a document is
    * DROPPED iff any of its LSH band buckets was already claimed by the
    * registry, or is also hit by a strictly earlier document — smaller
    * (tsCol, idCol) — in the same batch. ALL arriving documents then
    * claim their buckets (register-all-seen): in a chain a~b~c where b
    * collides with a and c only with b, c is still suppressed — exactly
    * what a sequential one-by-one ingest would do (spec-pinned against a
    * sequential fold).
    *
    * Returns (kept rows of `batch`, new claims to append to the
    * registry: band, k0, k1, claimed_ts = min claiming ts, for
    * retention sweeps).
    *
    * 100 TB shape: signatures are stateless projections (no shuffle);
    * the within-batch first-claimant window and the registry probe are
    * both keyed on the SAME (band, k0, k1) bucket key, so one exchange
    * co-partitions both; the verdict is a groupBy on the doc id whose
    * result anti-joins the batch on that same id. Candidate volume is
    * bounded by bucket collisions (the LSH lever), never docs². The
    * registry is a TABLE, not executor state: dedup-against-all-history
    * state lives in storage and scales with distinct buckets, not with
    * stream lifetime × heap. */
  def nearDupSuppress(batch: DataFrame, registry: DataFrame, idCol: String,
      tsCol: String, textCol: String, n: Int): (DataFrame, DataFrame) = {
    val carry = Seq(idCol, tsCol)
    val bands = bandRows(minhashSignatureStateless(batch, carry, textCol, n), carry)
      .localCheckpoint(false) // reused by verdict AND claims
    val keyCols = Seq("band", "k0", "k1")
    val w = Window.partitionBy(keyCols.map(col): _*)
    val me = struct(col(tsCol), col(idCol))
    // distinct on EXACTLY the key columns (the constant flag is added
    // after): a registry materialized bucketed on (band, k0, k1) then
    // satisfies both this aggregate's and the probe join's required
    // distribution — the registry side reads with zero exchanges
    val regHit = registry.select(keyCols.map(col): _*)
      .distinct().withColumn("__claimed", lit(true))
    val verdict = bands
      .withColumn("__first", min(me).over(w))
      .join(regHit, keyCols, "left")
      .withColumn("__hit", (me > col("__first")) || col("__claimed").isNotNull)
      .groupBy(col(idCol)).agg(max(col("__hit")).as("__dup"))
      .filter(col("__dup"))
    val kept = batch.join(verdict.select(idCol), Seq(idCol), "left_anti")
    val claims = bands.groupBy(keyCols.map(col): _*)
      .agg(min(col(tsCol)).as("claimed_ts"))
      .join(registry.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
    (kept, claims)
  }

  /** Oracle twin for [[nearDupSuppress]] over a SQL-expressible split of
    * one table: rows with `<registryPred>` form the registry, the rest
    * are the batch ordered by idCol (ts = id). Kept doc ids. */
  def nearDupSuppressSql(table: String, idCol: String, textCol: String,
      n: Int, registryPred: String, selectCols: String): String = {
    val nBands = MinhashParams.size / BandSize
    val bandSel = (0 until nBands).map { b =>
      s"SELECT $idCol, $b AS band, m${b * BandSize} AS k0, " +
        s"m${b * BandSize + 1} AS k1 FROM __sig"
    }.mkString(" UNION ALL ")
    s"""WITH __sig AS (${minhashSignaturesSql(table, idCol, textCol, n)}),
       |__bands AS ($bandSel),
       |__reg AS (SELECT DISTINCT band, k0, k1 FROM __bands
       |          WHERE $idCol IN (SELECT $idCol FROM $table WHERE $registryPred)),
       |__batch AS (SELECT * FROM __bands
       |            WHERE $idCol NOT IN (SELECT $idCol FROM $table WHERE $registryPred)),
       |__first AS (SELECT band, k0, k1, min($idCol) AS first_id
       |            FROM __batch GROUP BY band, k0, k1),
       |__verdict AS (
       |  SELECT b.$idCol,
       |         max(b.$idCol > f.first_id OR r.band IS NOT NULL) AS dup
       |  FROM __batch b
       |  JOIN __first f ON b.band = f.band AND b.k0 = f.k0 AND b.k1 = f.k1
       |  LEFT JOIN __reg r ON b.band = r.band AND b.k0 = r.k0 AND b.k1 = r.k1
       |  GROUP BY b.$idCol)
       |SELECT $selectCols
       |FROM (SELECT * FROM $table WHERE NOT ($registryPred)) d
       |LEFT JOIN __verdict v ON d.$idCol = v.$idCol
       |WHERE NOT coalesce(v.dup, false)""".stripMargin
  }
}
