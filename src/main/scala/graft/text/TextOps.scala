package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §7.1
  * step 8): token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is pure Column expressions (whole-stage codegen, no
  * UDFs), and every expression has a DuckDB-SQL twin generated from the
  * SAME constants (see the `*Sql` methods) so the driver oracle can
  * verify cell-exact equality. Hash folds are written as explicit
  * left-folds so Spark and DuckDB produce bit-identical integers.
  */
object TextOps {

  /** Large Mersenne prime modulus + multipliers for the polynomial hashes.
    * All arithmetic stays < 2^63: acc < 2^31, multiplier < 2^21. */
  val P = 2147483647L // 2^31 - 1
  val CharMul = 31L
  val TokenMul = 1000003L

  /** Whitespace tokenization of trimmed text (pandas-free analog of the
    * reference's string handling; the pipeline-standard tokenizer).
    * The empty-token filter closes the split("") == [""] quirk: without
    * it an empty/whitespace-only document carries one phantom ""
    * token — it counts 1 token, and two blank documents score
    * jaccard 1.0 through a token that doesn't exist. Non-empty trimmed
    * text never produces "" from a \\s+ split, so only the degenerate
    * case changes (both engines, identically). */
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")
  def tokensSql(text: String): String =
    s"list_filter(regexp_split_to_array(trim($text), '\\s+'), __t -> __t <> '')"

  /** A BPE-ish lexer: letter runs | single digits | single punct marks.
    * Counting these approximates subword token counts without a vocab. */
  val BpeRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def wsTokenCount(text: Column): Column = size(tokens(text))
  def bpeTokenCount(text: Column): Column = size(regexp_extract_all(text, lit(BpeRe), lit(0)))
  // the lambda variable is deliberately un-capturable (__ci): callers
  // inline arbitrary SQL expressions as $tok, and a plain `i` would be
  // shadow-captured by any outer list_transform/unnest alias named i
  // (substringDedupSql's position column was exactly that bug)
  private def charFoldSql(tok: String, mul: Long = CharMul): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($tok) + 1), " +
      s"__ci -> CAST(ascii(substr($tok, __ci, 1)) AS BIGINT))), (a, c) -> (a * $mul + c) % $P)"

  /** Hash one token column value (used by dedup minhash/simhash too).
    * Native codegen'd expression ([[graft.functions.PolyHash]]);
    * [[tokenHashSql]] is the same char fold as the oracle's SQL. */
  def tokenHash(tokCol: String): Column =
    graft.functions.NativeExprs.polyHash(col(tokCol), CharMul, P)
  def tokenHashSql(tokCol: String): String = charFoldSql(tokCol)

  /** 62-bit token hash for WIDE (64-bit) simhash signatures: the default
    * [[tokenHash]] is a fold mod P = 2^31-1, so its bits 31..63 are
    * constant zero — a 64-bit simhash built on it would have dead high
    * bands (every doc agreeing on the top chunks = all-pairs candidate
    * buckets). Two independent 31-bit folds (char multipliers 31 / 37)
    * packed as `h1 + (h2 << 31)` fill bits 0..61 with NO wrap-around
    * multiply: h2·2^31 < 2^62, so the sum is overflow-free under Spark
    * ANSI and DuckDB BIGINT alike. */
  /** Knuth's multiplicative constant (⌊2^32/φ⌋) for remixing the
    * char-fold hash where its MAGNITUDE (not just a small modulus of
    * it) must be uniform — see [[prioritySample]]. */
  val PrioMix = 2654435761L

  val CharMul2 = 37L
  def tokenHashWide(tokCol: String): Column =
    graft.functions.NativeExprs.polyHash(col(tokCol), CharMul, P) +
      shiftleft(graft.functions.NativeExprs.polyHash(col(tokCol), CharMul2, P), 31)
  def tokenHashWideSql(tokCol: String): String =
    s"(${charFoldSql(tokCol)} + (${charFoldSql(tokCol, CharMul2)} << 31))"

  /** Document fingerprint: rolling polynomial hash over the token stream
    * (order-sensitive — reordered words change the fingerprint). The
    * per-token char-fold is the native [[graft.functions.PolyHash]];
    * only the outer token fold stays a HOF (token counts are small). */
  def fingerprint(textCol: String): Column =
    aggregate(tokens(col(textCol)), lit(0L),
      (acc, t) => (acc * TokenMul +
        graft.functions.NativeExprs.polyHash(t, CharMul, P)) % P)
  def fingerprintSql(textCol: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(${tokensSql(textCol)}, t -> ${charFoldSql("t")})), " +
      s"(acc, h) -> (acc * $TokenMul + h) % $P)"

  // ---- quality scoring --------------------------------------------------

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Length / punctuation / stopword-ratio quality features + a composite
    * score. Ratios are double divisions of exact ints → bit-identical
    * across engines. A degenerate document (0 tokens / 0 chars) gets
    * NULL ratios — ANSI mode otherwise THROWS on the zero divisor, and
    * one blank row must never kill a corpus-wide job; NULL is visible
    * and filterable downstream (quality gates drop it). */
  private def safeRatio(num: Column, den: Column): Column =
    when(den === 0, lit(null).cast("double"))
      .otherwise(num.cast("double") / den.cast("double"))

  /** Count of characters OUTSIDE [A-Za-z0-9\s]: the length of the text
    * after deleting every character INSIDE the class. Numerically
    * identical to counting single-char matches of the negated class,
    * but ~20× cheaper at scale, for two stacked reasons measured on the
    * 100× corpus: RegExpExtractAll allocates an ArrayData + UTF8String
    * per row where RegExpReplace reuses one buffer (21.5 s → ~1.2 s),
    * and the java.util.regex NEGATED class `[^A-Za-z0-9\s]` scans ~18×
    * slower than the positive `[A-Za-z0-9\s]` on the same text
    * (24.0 s vs 1.3 s — so the positive-class deletion form, not a
    * negated-class count, is load-bearing). Counts UTF-16 code units,
    * so astral-plane symbols count as 2 where the match-count form said
    * 1 — immaterial for the ASCII fixture; the oracle twin uses the
    * same positive-class replace form. */
  private def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nStop = size(filter(toks, t => array_contains(lit(Stopwords.toArray), t)))
    val nPunct = punctCount(text)
    val nChars = length(text)
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "stop_ratio" -> safeRatio(nStop, nTok),
      "punct_ratio" -> safeRatio(nPunct, nChars),
      "mean_tok_len" -> safeRatio(nChars, nTok))
  }

  /** Heuristic quality score in [0,1]-ish: rewards stopword presence and
    * moderate token length, penalizes punctuation soup. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    f("stop_ratio") * lit(2.0) + f("mean_tok_len") / lit(10.0) - f("punct_ratio") * lit(5.0)
  }

  /** [[qualityFeatures]] + [[qualityScore]] with the token array staged
    * as a bound column (each feature otherwise re-tokenizes; same
    * rationale as [[withLangId]]). Adds columns n_chars, n_tokens,
    * stop_ratio, punct_ratio, mean_tok_len, score. */
  def withQualityFeatures(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("n_chars", length(col(textCol)))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("stop_ratio", safeRatio(
        size(filter(col("__toks"), t => array_contains(lit(Stopwords.toArray), t))),
        col("n_tokens")))
      .withColumn("punct_ratio", safeRatio(
        punctCount(col(textCol)), col("n_chars")))
      .withColumn("mean_tok_len", safeRatio(col("n_chars"), col("n_tokens")))
      .withColumn("score",
        col("stop_ratio") * lit(2.0) + col("mean_tok_len") / lit(10.0) -
          col("punct_ratio") * lit(5.0))
      .drop("__toks")
  }

  def qualityFeaturesSql(text: String): Map[String, String] = {
    val toks = tokensSql(text)
    val inList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    Map(
      "n_chars" -> s"CAST(length($text) AS INTEGER)",
      "n_tokens" -> s"CAST(len($toks) AS INTEGER)",
      "stop_ratio" -> (s"CASE WHEN len($toks) = 0 THEN NULL ELSE " +
        s"CAST(len(list_filter($toks, t -> list_contains($inList, t))) AS DOUBLE) / CAST(len($toks) AS DOUBLE) END"),
      "punct_ratio" -> (s"CASE WHEN length($text) = 0 THEN NULL ELSE " +
        s"CAST(length(regexp_replace($text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length($text) AS DOUBLE) END"),
      "mean_tok_len" -> (s"CASE WHEN len($toks) = 0 THEN NULL ELSE " +
        s"CAST(length($text) AS DOUBLE) / CAST(len($toks) AS DOUBLE) END"))
  }

  def qualityScoreSql(text: String): String = {
    val f = qualityFeaturesSql(text)
    s"${f("stop_ratio")} * 2.0 + ${f("mean_tok_len")} / 10.0 - ${f("punct_ratio")} * 5.0"
  }

  // ---- readability scoring ------------------------------------------------

  /** Flesch-style readability, made cell-exact across engines by doing
    * every division in INTEGER milli-units (a float Flesch differs in the
    * last ulp between engines once words/sentences/syllables interact).
    * Syllables use the standard vowel-group heuristic (runs of [aeiouy]
    * in the lowercased token, min 1 per word); sentences are [.!?]+ runs
    * (min 1 — a fragment still reads as one sentence). Output per doc:
    * words, sentences, syllables, poly_words (≥3 syllables — the FOG
    * ingredient), spw_milli (syllables-per-word ×1000),
    * flesch_milli (Flesch reading-ease ×1000, integer-truncated terms),
    * grade bucket. All per-row projection — scan-shaped at 100 TB, no
    * shuffle at all until the caller aggregates.
    *
    * Reference behavior modeled: the reference's per-document quality
    * columns (`curation/quality.py` analog in SURVEY §2.10); the Flesch
    * constants are the published 206.835 / 1.015 / 84.6 in milli-units.
    */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val syl: Column => Column = t =>
      greatest(lit(1L),
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast("long"))
    df.select(col(idCol),
        tokens(col(textCol)).as("__toks"),
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
          .as("sentences"))
      .withColumn("words", size(col("__toks")).cast("long"))
      .withColumn("syllables",
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + syl(t)))
      .withColumn("poly_words",
        aggregate(col("__toks"), lit(0L),
          (acc, t) => acc + when(syl(t) >= 3L, 1L).otherwise(0L)))
      .withColumn("spw_milli",
        when(col("words") > 0, expr("(1000 * syllables) div words")))
      .withColumn("flesch_milli",
        when(col("words") > 0,
          lit(206835L) - expr("(1015 * words) div sentences") -
            expr("(84600 * syllables) div words")))
      .withColumn("grade",
        when(col("flesch_milli").isNull, lit(null).cast("string"))
          .when(col("flesch_milli") >= 60000L, lit("easy"))
          .when(col("flesch_milli") >= 30000L, lit("medium"))
          .otherwise(lit("hard")))
      .select(col(idCol), col("words"), col("sentences"), col("syllables"),
        col("poly_words"), col("spw_milli"), col("flesch_milli"), col("grade"))
  }

  /** DuckDB twin of [[readability]] — same constants, same integer
    * truncation (`div` vs `//` agree on the non-negative operands used
    * here), same vowel-group regex through both engines' RE dialects
    * (a plain character class, no divergence surface). */
  def readabilitySql(table: String, id: String, text: String): String = {
    val toks = tokensSql(text)
    val syl = (t: String) =>
      s"greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(lower($t), '[aeiouy]+')) AS BIGINT))"
    s"""WITH __r AS (
       |  SELECT $id, CAST(len($toks) AS BIGINT) AS words,
       |         greatest(CAST(1 AS BIGINT),
       |                  CAST(len(regexp_extract_all($text, '[.!?]+')) AS BIGINT)) AS sentences,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform($toks, __t -> ${syl("__t")})), (a, b) -> a + b) AS syllables,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform($toks, __t -> CASE WHEN ${syl("__t")} >= 3 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |           (a, b) -> a + b) AS poly_words
       |  FROM $table)
       |SELECT $id, words, sentences, syllables, poly_words,
       |       CASE WHEN words > 0 THEN (1000 * syllables) // words END AS spw_milli,
       |       CASE WHEN words > 0 THEN 206835 - (1015 * words) // sentences - (84600 * syllables) // words END AS flesch_milli,
       |       CASE WHEN words = 0 THEN NULL
       |            WHEN 206835 - (1015 * words) // sentences - (84600 * syllables) // words >= 60000 THEN 'easy'
       |            WHEN 206835 - (1015 * words) // sentences - (84600 * syllables) // words >= 30000 THEN 'medium'
       |            ELSE 'hard' END AS grade
       |FROM __r""".stripMargin
  }

  // ---- deterministic corpus splitting -----------------------------------

  /** Reproducible train/val/test assignment from the polynomial hash of
    * the document id rendered as a string: stable under resharding,
    * reordering, and re-runs (no RNG state, unlike `df.randomSplit`),
    * which is what makes a corpus split auditable. Hash ∈ [0, P) so the
    * `% 100` bucket needs no sign handling. */
  def hashSplit(idCol: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val h = graft.functions.NativeExprs.polyHash(idCol.cast("string"), CharMul, P) % 100L
    when(h < trainPct, lit("train"))
      .when(h < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  def hashSplitSql(id: String, trainPct: Int = 80, valPct: Int = 10): String = {
    val h = s"(${charFoldSql(s"CAST($id AS VARCHAR)")} % 100)"
    s"CASE WHEN $h < $trainPct THEN 'train' " +
      s"WHEN $h < ${trainPct + valPct} THEN 'val' ELSE 'test' END"
  }

  /** GROUP-level k-fold assignment for cross-validation over training
    * data: the fold is a salted hash of the GROUP key (user, source,
    * session — whatever unit leaks), so every record of a group lands
    * in the same fold BY CONSTRUCTION — the leakage-safe split
    * (sklearn's GroupKFold, as one pure column expression instead of a
    * stateful assigner). Deterministic under resharding/re-runs like
    * [[hashSplit]]; the salt keeps folds independent of the other
    * hash-bucket families. Fold ∈ [0, k). */
  def groupKFold(groupCol: Column, k: Int, salt: String = "kfold:"): Column = {
    require(k >= 2, s"need at least 2 folds, got $k")
    graft.functions.NativeExprs.polyHash(
      concat(lit(salt), groupCol.cast("string")), CharMul, P) % k
  }

  def groupKFoldSql(group: String, k: Int, salt: String = "kfold:"): String =
    s"(${charFoldSql(s"'$salt' || CAST($group AS VARCHAR)")} % $k)"

  /** Deterministic corpus sharding for training dataloaders: every doc
    * gets (shard, pos) — shard = salted hash mod nShards, pos = the
    * doc's rank within its shard under a SECOND independent salted hash
    * (ties by id). Together they are a reproducible global shuffle of
    * the corpus expressed as a pure projection plus one per-shard rank
    * window: no RNG state, stable under any input re-partitioning
    * (assignment depends on ids only), and auditable by re-running the
    * same expression. Salts ("shard:", "ord:") keep both hashes
    * independent of [[hashSplit]] and [[mixtureKeep]] buckets.
    *
    * Scale shape: one hash shuffle on shard + per-shard windows; the
    * shard is the natural output-file unit, so the window partition IS
    * the write partition and nothing global ever sorts.
    *
    * `epoch` rotates the shuffle: each epoch's salt ("shard:eN:" /
    * "ord:eN:"; epoch 0 keeps the original unsuffixed salts) yields an
    * independent permutation, so multi-epoch training re-shuffles the
    * corpus without any stored RNG state — epoch k's order is fully
    * reproducible from (ids, k) alone. */
  private def epochSalt(prefix: String, epoch: Int): String =
    if (epoch == 0) s"$prefix:" else s"$prefix:e$epoch:"

  def shardAssignment(df: org.apache.spark.sql.DataFrame, idCol: String,
      nShards: Int, epoch: Int = 0): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__ord"), col(idCol))
    df.select(col(idCol),
        (graft.functions.NativeExprs.polyHash(
          concat(lit(epochSalt("shard", epoch)), col(idCol).cast("string")), CharMul, P)
          % nShards).cast("int").as("shard"),
        graft.functions.NativeExprs.polyHash(
          concat(lit(epochSalt("ord", epoch)), col(idCol).cast("string")), CharMul, P).as("__ord"))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  def shardAssignmentSql(table: String, id: String, nShards: Int,
      epoch: Int = 0): String = {
    val hs = s"CAST(${charFoldSql(s"'${epochSalt("shard", epoch)}' || CAST($id AS VARCHAR)")} % $nShards AS INTEGER)"
    val ho = charFoldSql(s"'${epochSalt("ord", epoch)}' || CAST($id AS VARCHAR)")
    s"SELECT $id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY __ord, $id) AS INTEGER) AS pos " +
      s"FROM (SELECT $id, $hs AS shard, $ho AS __ord FROM $table)"
  }

  /** Deterministic per-source downsampling for corpus-mixture control:
    * keep a document iff its hash bucket falls under the source's target
    * percentage. The hash is salted ("mix:") so sampling decisions are
    * independent of [[hashSplit]]'s buckets — a doc's split and its
    * mixture fate never correlate. Sources absent from `pctBySource`
    * keep everything. Pure projection + filter: no RNG state, stable
    * under resharding, and the realized rate per source is auditable by
    * re-running the same expression. */
  def mixtureKeep(idCol: Column, sourceCol: Column,
      pctBySource: Seq[(String, Int)]): Column = {
    val h = graft.functions.NativeExprs.polyHash(
      concat(lit("mix:"), idCol.cast("string")), CharMul, P) % 100L
    val pct = pctBySource.foldLeft(lit(100)) { case (acc, (src, p)) =>
      when(sourceCol === src, lit(p)).otherwise(acc)
    }
    h < pct.cast("long")
  }

  def mixtureKeepSql(id: String, source: String,
      pctBySource: Seq[(String, Int)]): String = {
    val h = s"(${charFoldSql(s"'mix:' || CAST($id AS VARCHAR)")} % 100)"
    val pct = pctBySource.foldRight("100") { case ((src, p), acc) =>
      s"CASE WHEN $source = '$src' THEN $p ELSE $acc END"
    }
    s"$h < $pct"
  }

  /** Quality-greedy token-budget selection: per source, take documents
    * in descending [[qualityScore]] order until the cumulative token
    * count would exceed `budget` — the standard "best N tokens per
    * domain" curation step when the training recipe fixes a per-domain
    * token allowance rather than a document count. Output: one row per
    * KEPT doc — (id, source, n_tok, score, cum_tok), cum_tok ≤ budget.
    *
    * Determinism: the ordering key is (score DESC NULLS LAST, id) — the
    * score is a per-row expression both engines evaluate identically
    * (IEEE on the same exact-int ratios), and the id tie-break makes the
    * cumulative sum unique, so kept sets are engine-exact. The frame is
    * pinned ROWS (RANGE would merge score peers).
    *
    * Scale shape: one projection + one window per source partition —
    * the same shuffle a per-source groupBy would pay, no global sort;
    * sources are the natural write partition downstream. A doc larger
    * than the remaining allowance stops its source's intake (greedy
    * prefix, not knapsack) — the simple contract dataloaders expect. */
  def tokenBudgetSelect(df: org.apache.spark.sql.DataFrame, idCol: String,
      srcCol: String, textCol: String, budget: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(col("score").desc_nulls_last, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // token array staged ONCE via withQualityFeatures: the raw
    // qualityScore Column re-tokenizes per feature (3× per row), which
    // the 100× spot-bench showed dominating this scan-shaped operator
    withQualityFeatures(df.select(col(idCol), col(srcCol), col(textCol)), textCol)
      .select(col(idCol), col(srcCol),
        col("n_tokens").cast("long").as("n_tok"), col("score"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
  }

  /** DuckDB twin of [[tokenBudgetSelect]]: identical ordering key,
    * identical pinned ROWS frame. */
  def tokenBudgetSelectSql(table: String, id: String, src: String,
      text: String, budget: Long): String = {
    s"SELECT $id, $src, n_tok, score, cum_tok FROM (" +
      s"SELECT $id, $src, n_tok, score, " +
      s"CAST(sum(n_tok) OVER (PARTITION BY $src ORDER BY score DESC NULLS LAST, $id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok " +
      s"FROM (SELECT $id, $src, CAST(len(${tokensSql(text)}) AS BIGINT) AS n_tok, " +
      s"${qualityScoreSql(text)} AS score FROM $table)) WHERE cum_tok <= $budget"
  }

  /** Token-phrase search over the corpus as ONE fused scan: each
    * phrase compiles to a position predicate (`filter(sequence(...))`
    * comparing tokens IN PLACE — the first-token test short-circuits
    * almost every position), so all phrases are answered in a single
    * corpus pass of pure whole-stage-codegen projection — no window
    * strings are ever materialized, no join, no shuffle before the
    * final per-doc rows. A LIKE/contains scan re-reads the corpus per
    * phrase and can't report positions; the window-string explode
    * (the substring-dedup shape) is right for open-ended gram INDEXING
    * but pays corpus × k string churn that a literal phrase list never
    * needs — it benched 35× per 2 decades before this form. Output:
    * one row per (phrase, doc) with the match count (overlapping
    * counted — `replace`-based counting can't) and the 1-based first
    * token position. */
  def phraseSearch(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrases: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val parsed = phrases.map(p => (p, p.trim.split("\\s+").toSeq))
    require(parsed.forall(_._2.length >= 2), "phrases must have >= 2 tokens")
    val tok = docs.select(col(idCol).cast("long").as(idCol),
      tokens(col(textCol)).as("__t"))
    val perPhrase = parsed.map { case (p, ts) =>
      val k = ts.length
      // positions i (1-based) where every phrase token matches in place
      val hit = (i: Column) => ts.zipWithIndex.map { case (t0, off) =>
        element_at(col("__t"), (i + lit(off)).cast("int")) === lit(t0)
      }.reduce(_ && _)
      val pos = when(size(col("__t")) >= k,
        filter(sequence(lit(1), size(col("__t")) - (k - 1)), hit))
        .otherwise(expr("array()"))
      struct(lit(p).as("phrase"), pos.as("pos"))
    }
    tok.select(col(idCol), explode(array(perPhrase: _*)).as("__ph"))
      .filter(size(col("__ph.pos")) >= 1)
      .select(col("__ph.phrase").as("phrase"), col(idCol),
        size(col("__ph.pos")).cast("long").as("n_matches"),
        element_at(col("__ph.pos"), 1).cast("long").as("first_pos"))
  }

  /** DuckDB twin of [[phraseSearch]]: per phrase, the positions whose
    * k-token slice equals the phrase's token list (a per-row
    * `unnest(range(...))` — overlap-correct, unlike replace-counting),
    * unioned across phrases. */
  def phraseSearchSql(table: String, id: String, text: String,
      phrases: Seq[String]): String = {
    val parts = phrases.map { p =>
      val ts = p.trim.split("\\s+").toSeq
      val k = ts.length
      val lit = p.replace("'", "''")
      val arr = ts.map(t => s"'${t.replace("'", "''")}'").mkString("[", ", ", "]")
      s"""SELECT '$lit' AS phrase, $id, CAST(count(*) AS BIGINT) AS n_matches,
         |CAST(min(p) AS BIGINT) AS first_pos FROM (
         |  SELECT $id, __t, unnest(range(1, len(__t) - ${k - 1} + 1)) AS p
         |  FROM (SELECT $id, ${tokensSql(text)} AS __t FROM $table))
         |WHERE list_slice(__t, p, p + ${k - 1}) = $arr GROUP BY $id""".stripMargin
    }
    parts.mkString("SELECT * FROM (", " UNION ALL ", ") __u")
  }

  /** Systematic probability-proportional-to-size (PPS) sampling: lay
    * documents on a weight axis (cumulative token counts in id order)
    * and take every `step = max(totalW div n, 1)`-th point — each doc
    * is hit in proportion to its weight, with NO random state (the
    * deterministic cousin of weighted reservoir sampling; `hits` > 1
    * marks docs heavier than the stride, the dataloader's repetition
    * factor). All arithmetic is integer, so both engines agree cell
    * for cell.
    *
    * Scale shape: the cumulative sum is the TWO-LEVEL prefix sum, not
    * one global window — per-group (id div 1024) subtotals, a
    * catalog-sized running offset over the group table, and a
    * group-partitioned within-group window; only the tiny group table
    * ever sorts globally. Zero-weight docs are never hit. */
  def ppsSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Long): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("__id"),
        wsTokenCount(col(textCol)).cast("long").as("__w"))
      .withColumn("__g", expr("__id div 1024"))
    val offs = base.groupBy("__g").agg(sum("__w").as("__gw"))
      .withColumn("__off", coalesce(
        sum(col("__gw")).over(W.orderBy("__g")
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select("__g", "__off")
    val tot = base.agg(
      greatest(expr(s"sum(__w) div $n"), lit(1L)).as("__step"))
    base.join(broadcast(offs), Seq("__g"))
      .withColumn("__cum", col("__off") + sum(col("__w")).over(
        W.partitionBy("__g").orderBy("__id")
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("hits",
        expr("__cum div __step - (__cum - __w) div __step"))
      .filter(col("hits") >= 1)
      .select(col("__id").as(idCol), col("__w").as("weight"), col("hits"))
  }

  /** DuckDB twin of [[ppsSample]]: ONE global running sum (the oracle
    * can afford it) — identical id order, stride, and hit arithmetic,
    * which is exactly what the two-level prefix sum must reproduce. */
  def ppsSampleSql(table: String, id: String, text: String, n: Long): String =
    s"""WITH __b AS (SELECT $id AS id, CAST(len(${tokensSql(text)}) AS BIGINT) AS w FROM $table),
       |__c AS (SELECT id, w, sum(w) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum FROM __b),
       |__t AS (SELECT greatest(sum(w) // $n, 1) AS step FROM __b)
       |SELECT id AS $id, w AS weight, CAST(cum // step - (cum - w) // step AS BIGINT) AS hits
       |FROM __c CROSS JOIN __t WHERE cum // step - (cum - w) // step >= 1""".stripMargin

  /** BPE merge training (Sennrich et al., ACL 2016): learn the first
    * `rounds` byte-pair merges from the corpus — each round counts
    * adjacent symbol pairs weighted by WORD frequency, picks the most
    * frequent pair ((count DESC, left, right) total order, so ties are
    * engine-deterministic), and rewrites every word's symbol sequence
    * with the merge applied greedily left-to-right (the reference
    * implementation's regex-replace semantics, expressed as a string
    * fold: a merged symbol never re-merges with the following symbol in
    * the same round). Emits one row per learned merge:
    * (round, merge_left, merge_right, merged, pair_count).
    *
    * Scale shape: the corpus is scanned ONCE into the distinct-word
    * frequency vocab; every round is vocab-sized (a pair count with
    * map-side combine, a 1-row TakeOrdered argmax, a pure projection) —
    * the textbook trainer's loop, distributed. The only driver traffic
    * is the single best-pair row per round (the centroid-collect
    * precedent); per-round localCheckpoint keeps the unrolled fold
    * plans from nesting. Symbols join on ' ' — safe by construction,
    * whitespace tokens contain none. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int, batch: Int = 1): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeLoop(df, textCol, rounds, batch)._1
      .toDF("round", "merge_left", "merge_right", "merged", "pair_count")
  }

  /** The trained vocabulary APPLIED back to the corpus it was learned
    * from — the one-row segmentation datasheet: distinct words, total
    * word occurrences, total subword tokens under the learned merges,
    * and the exact subwords-per-word micro ratio (the fertility of the
    * in-training tokenizer; 1.0 means every word became one token).
    * Same scale shape as [[bpeTrain]] — the stats are one combinable
    * aggregate over the vocab table. */
  def bpeSegmentStats(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int, batch: Int = 1): org.apache.spark.sql.DataFrame =
    bpeLoop(df, textCol, rounds, batch)._2
      .agg(count(lit(1)).as("n_distinct_words"),
        sum(col("__f")).as("total_words"),
        sum(col("__f") * size(split(col("__s"), " "))).as("total_subwords"))
      .withColumn("subwords_per_word_micro",
        expr("(1000000 * total_subwords) div total_words"))

  /** Shared trainer loop: (merges, final vocab frame (__f, __s)).
    *
    * `batch` > 1 turns on SUPERSTEP training: one pair-count job learns
    * up to `batch` merges instead of one, so a K-merge vocabulary costs
    * ~K/batch Spark jobs instead of K — the lever that makes a real
    * (32k-merge) tokenizer trainable on this engine. The batched result
    * is EXACTLY the sequential greedy result: each superstep collects a
    * horizon of top pairs plus the first count BELOW it (`cutoff`,
    * bounding every unseen pair) and hands them to [[selectBatch]],
    * whose acceptance rule (and its soundness argument — the 4×
    * interferer margin and the self-pair batch stop) is documented and
    * unit-fuzzed there. Accepted merges are pairwise symbol-disjoint,
    * so the fold rewrites commute and compose in ONE projection. The
    * superstep BUDGET adapts (see the loop comment): it starts at the
    * sequential shape and widens only while supersteps consume it, so
    * `batch` is a ceiling and the worst case (adversarial ties, early
    * zipf rounds) pays sequential cost, not a wide horizon collect. */
  private def bpeLoop(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int, batch: Int = 1): (Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    require(rounds >= 1 && rounds <= 4096, s"rounds must be in [1,4096], got $rounds")
    require(batch >= 1 && batch <= 64, s"batch must be in [1,64], got $batch")
    def applyMerge(s: Column, l: String, r: String): Column =
      aggregate(split(s, " "), lit(""), (acc, x) =>
        when((acc === l || acc.endsWith(" " + l)) && x === r,
          concat(acc.substr(lit(1), length(acc) - lit(l.length)), lit(l + r)))
          .when(acc === "", x)
          .otherwise(concat(acc, lit(" "), x)))
    var cur = df
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .select(col("__f"), expr(
        "array_join(transform(sequence(1, length(__w)), i -> substring(__w, i, 1)), ' ')")
        .as("__s"))
      .localCheckpoint(false)
    // ADAPTIVE superstep budget: `batch` is the ceiling, but the loop
    // starts at 1 and widens only while supersteps actually consume
    // their budget. A SOUND acceptance rule cannot batch early zipf
    // rounds (adjacent counts are too close for any margin), so a fixed
    // wide budget pays the horizon collect for nothing — measured 19.0 s
    // vs 15.8 s sequential at K=64 on the 100× corpus (BENCH_SCALE.md).
    // Fully-consumed budget → double (deep rounds spread out and batch
    // well); partial → shrink to what cleared the margin. At effBatch=1
    // the loop IS the sequential shape (2-row collect), so batched is
    // never slower than sequential at any K beyond one superstep's lag.
    var effBatch = 1
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val horizon = if (effBatch == 1) 1 else math.max(effBatch * 4, 64)
      val top = cur
        .select(col("__f"), split(col("__s"), " ").as("__sy"))
        .filter(size(col("__sy")) >= 2) // Spark sequence(1, 0) DESCENDS — guard, don't clamp
        .select(col("__f"), explode(expr(
          "transform(sequence(1, size(__sy) - 1), " +
            "i -> struct(element_at(__sy, i) AS l, element_at(__sy, i + 1) AS r))")).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum("__f").as("c"))
        .orderBy(col("c").desc, col("l"), col("r")).limit(horizon + 1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // every pair NOT collected has count <= cutoff
        val cutoff = if (top.length > horizon) top(horizon).getLong(2) else -1L
        val cand = top.take(horizon)
          .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        val want = math.min(effBatch, rounds - merges.size)
        val accepted = selectBatch(cand, cutoff, want)
        accepted.foreach { case (l, r, c) =>
          merges += ((merges.size + 1, l, r, l + r, c))
        }
        val rewritten = accepted.foldLeft(col("__s")) { case (s, (l, r, _)) =>
          applyMerge(s, l, r)
        }
        cur = cur.select(col("__f"), rewritten.as("__s"))
          .localCheckpoint(false)
        effBatch =
          if (accepted.size >= want && want == effBatch) math.min(batch, effBatch * 2)
          else math.max(1, accepted.size)
      }
    }
    (merges.toSeq, cur)
  }

  /** The superstep batch selector — pure and driver-side (unit-fuzzed
    * against a sequential reference in `TextDedupSpec` without a Spark
    * job). Given the top pairs of ONE count (`cand`, in (count DESC, l,
    * r) order) plus `cutoff` (an upper bound on every uncollected
    * pair's count), returns the longest prefix-consistent merge batch
    * that provably reproduces sequential greedy BPE:
    *
    *  - the first merge is the global argmax — always exact;
    *  - a later candidate (count c) is accepted only while c >
    *    u_max + 3·maxMCap. u_max bounds every NON-accepted pair that
    *    shares a symbol with the accepted set (seen interferers and the
    *    unseen tail via cutoff). Applying an accepted merge (l,r)→m can
    *    only (a) zero its own pair, (b) decrease pairs sharing l or r,
    *    or (c) create/boost pairs involving m, each bounded by a SUM:
    *    count(x,m) ≤ pre(x,m) + pre(x,l) — the name m may collide with
    *    a pre-existing symbol, so the created and pre-existing
    *    populations POOL — and a chain pair (m_j, m_k) across accepted
    *    merges sums four such terms (pre(r_j,l_k) + pre(m_j,l_k) +
    *    pre(r_j,m_k) + pre(m_j,m_k)). Every pre(·,m) term is capped by
    *    mCap(m): u_max when m is VISIBLE as a symbol of some collected
    *    pair, else cutoff (an invisible symbol's pairs all sit below
    *    the horizon), clamped at 0 — so the margin stays tight in the
    *    common fresh-name case instead of a blanket 4×. The bound keeps
    *    every changed pair STRICTLY below the candidate, so no rename
    *    can win the (count, l, r) tie-break;
    *  - accepting a SELF-PAIR (l == r) ends the batch: its greedy
    *    application chains ("llll" → "ll ll"), creating pairs like
    *    (m, m)/(m, l) bounded only by the accepted pair's OWN count,
    *    which no interferer-based margin covers (the (bb,bb)→(bbbb,bb)
    *    counterexample a review fuzz found against the first draft of
    *    this rule, which wrongly exempted accepted pairs outright);
    *  - the first rejected exact candidate ends the batch (it still
    *    outranks everything below it in sequential order).
    *
    * Worst case (dense ties) a superstep still learns 1 merge — never
    * wrong, at most un-batched. */
  private[graft] def selectBatch(cand: Seq[(String, String, Long)],
      cutoff: Long, maxAccept: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val acceptedPairs = scala.collection.mutable.Set.empty[(String, String)]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val visible = cand.flatMap(p => Seq(p._1, p._2)).toSet
    def safe(c: Long): Boolean = {
      val uMax = math.max(0L, cand.foldLeft(cutoff) { case (m, (pl, pr, pc)) =>
        if (!acceptedPairs((pl, pr)) && (used(pl) || used(pr))) math.max(m, pc)
        else m
      })
      val maxMCap = accepted.foldLeft(0L) { case (m, (l, r, _)) =>
        math.max(m, if (visible(l + r)) uMax else math.max(cutoff, 0L))
      }
      c > uMax + 3 * maxMCap
    }
    var stopped = false
    for ((l, r, c) <- cand
         if !stopped && accepted.size < maxAccept
         if !(used(l) || used(r))) {
      if (accepted.isEmpty || safe(c)) {
        accepted += ((l, r, c))
        acceptedPairs += ((l, r))
        used ++= Seq(l, r, l + r)
        if (l == r) stopped = true // self-chaining merge: see doc
      } else stopped = true
    }
    accepted.toSeq
  }

  /** DuckDB twin of [[bpeTrain]]: the same rounds statically unrolled
    * as a CTE chain — per round a pair count, a 1-row argmax, and the
    * same greedy string fold (lambda capturing the argmax row's
    * columns through a CROSS JOIN).
    *
    * `rounds` is capped at 16 (throws above), NOT the trainer's
    * 4096-round ceiling: each round unrolls a CTE trio into one
    * statement, so deep depths would emit a multi-thousand-CTE string
    * the oracle engine may fail to plan. The twin exists for
    * gate-sized depths only. */
  def bpeTrainSql(table: String, text: String, rounds: Int): String = {
    val out = (1 to rounds).map { k =>
      s"SELECT $k AS round, l AS merge_left, r AS merge_right, " +
        s"l || r AS merged, c AS pair_count FROM __b$k"
    }.mkString(" UNION ALL ")
    s"""WITH ${bpeChainSql(table, text, rounds)}
       |SELECT * FROM ($out) ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[bpeSegmentStats]]: the same chain, one aggregate
    * over the final vocab frame. `rounds` capped at 16 like
    * [[bpeTrainSql]] (see its scaladoc for the unroll rationale). */
  def bpeSegmentStatsSql(table: String, text: String, rounds: Int): String =
    s"""WITH ${bpeChainSql(table, text, rounds)}
       |SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       |       CAST(sum(f) AS BIGINT) AS total_words,
       |       CAST(sum(f * len(string_split(s, ' '))) AS BIGINT) AS total_subwords,
       |       CAST((1000000 * CAST(sum(f * len(string_split(s, ' '))) AS BIGINT))
       |            // CAST(sum(f) AS BIGINT) AS BIGINT) AS subwords_per_word_micro
       |FROM __s$rounds""".stripMargin

  /** The vocab + per-round (pair-count → argmax → fold-rewrite) CTE
    * chain shared by [[bpeTrainSql]] and [[bpeSegmentStatsSql]].
    *
    * Bounded independently of the trainer's 4096-round ceiling: each
    * round unrolls a CTE TRIO into one statement, so a deep-training
    * depth passed here would emit a multi-thousand-CTE string the
    * oracle engine may fail to plan. The twin exists only for
    * gate-sized depths (the pipe_bpe_* oracles run ≤ 6 rounds). */
  private def bpeChainSql(table: String, text: String, rounds: Int): String = {
    require(rounds >= 1 && rounds <= 16,
      s"bpe oracle twin unrolls 3 CTEs per round; keep rounds in [1,16] (got $rounds)")
    val fold = "list_reduce(list_prepend('', string_split(s, ' ')), (acc, x) -> " +
      "CASE WHEN (acc = b.l OR right(acc, length(b.l) + 1) = (' ' || b.l)) AND x = b.r " +
      "THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r " +
      "WHEN acc = '' THEN x ELSE acc || ' ' || x END)"
    val chain = (1 to rounds).map { k =>
      // LEFT JOIN ON TRUE, not CROSS JOIN: when merges exhaust before
      // `rounds`, __b$k is EMPTY and a cross join would wipe the vocab
      // (the Spark trainer keeps its final vocab on exhaustion) — the
      // NULL-guarded fold passes rows through unchanged instead
      s"""__p$k AS (
         |  SELECT sy[i] AS l, sy[i + 1] AS r, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT f, string_split(s, ' ') AS sy FROM __s${k - 1}),
         |       unnest(range(1, len(sy))) AS t(i)
         |  GROUP BY 1, 2),
         |__b$k AS (SELECT l, r, c FROM __p$k ORDER BY c DESC, l, r LIMIT 1),
         |__s$k AS (SELECT f, CASE WHEN b.l IS NULL THEN s ELSE $fold END AS s
         |          FROM __s${k - 1} LEFT JOIN __b$k b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""__v AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(${tokensSql(text)}) AS w FROM $table) GROUP BY w),
       |__s0 AS (
       |  SELECT f, array_to_string(
       |    list_transform(range(1, length(w) + 1), __ci -> substr(w, __ci, 1)), ' ') AS s
       |  FROM __v),
       |$chain""".stripMargin
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): each doc
    * draws priority q = w / u with u uniform on (0,1], the k highest
    * priorities are the sample, and with τ = the (k+1)-th priority,
    * est = max(w, τ) per sampled doc is an UNBIASED estimator of any
    * subset's total weight — the weighted-sampling dual of [[ppsSample]]
    * (PPS is systematic/stratified; priority sampling composes under
    * unions and supports per-subset estimates). u comes from the
    * [[hashSplit]] hash family REMIXED multiplicatively (Knuth's
    * 2^32/φ): the raw char-fold is fine for mod-100 bucket assignment
    * but MAGNITUDE-biased for short keys (the fold of "prio:<id>"
    * spans only ~[0.46, 0.85]·P — a u drawn from it is no uniform),
    * and priority sampling consumes u's magnitude; (h·A) mod P
    * decorrelates it (measured deciles 0.1/0.3/…/0.9 over the id
    * range). The sample stays a pure function of the doc id: no RNG
    * state, repartition-stable, engine-exact. Integer form:
    * u = (h+1)/P with h ∈ [0,P) ⇒ q = (w·P) div (h+1) ≥ w, all BIGINT
    * (w·P < 2^44 at w < 2^13).
    *
    * Scale shape: one scan computes (w, q); the top-(k+1) rows travel
    * via TakeOrdered (never a global sort), and τ is derived on that
    * (k+1)-row frame — the only single-partition work is k-sized. */
  def prioritySample(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, salt: String = "prio:"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("__id"),
        wsTokenCount(col(textCol)).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .withColumn("__h", graft.functions.NativeExprs.polyHash(
        concat(lit(salt), col("__id").cast("string")), CharMul, P))
      .withColumn("__h", expr(s"(__h * ${PrioMix}L) % $P"))
      .withColumn("__q", expr(s"(__w * $P) div (__h + 1)"))
    val top = base.orderBy(col("__q").desc, col("__id")).limit(k + 1)
      .withColumn("__rn", row_number().over(W.orderBy(col("__q").desc, col("__id"))))
    val tau = top.agg(coalesce(max(when(col("__rn") === k + 1, col("__q"))),
      lit(0L)).as("__tau"))
    top.filter(col("__rn") <= k)
      .crossJoin(broadcast(tau))
      .select(col("__id").as(idCol), col("__w").as("weight"),
        col("__q").as("priority"),
        greatest(col("__w"), col("__tau")).as("est_weight"))
  }

  /** DuckDB twin of [[prioritySample]]: same hash, same integer
    * priority, same (q DESC, id) total order and τ rule. */
  def prioritySampleSql(table: String, id: String, text: String, k: Int,
      salt: String = "prio:"): String =
    s"""WITH __b AS (
       |  SELECT $id AS id, w, (w * $P) // (h + 1) AS q FROM (
       |    SELECT $id, CAST(len(${tokensSql(text)}) AS BIGINT) AS w,
       |           (${charFoldSql(s"('$salt' || CAST($id AS VARCHAR))")} * $PrioMix) % $P AS h
       |    FROM $table) WHERE w > 0),
       |__r AS (SELECT id, w, q, row_number() OVER (ORDER BY q DESC, id) AS rn FROM __b),
       |__t AS (SELECT coalesce(max(CASE WHEN rn = ${k + 1} THEN q END), 0) AS tau
       |        FROM __r WHERE rn <= ${k + 1})
       |SELECT id AS $id, w AS weight, q AS priority,
       |       greatest(w, tau) AS est_weight
       |FROM __r CROSS JOIN __t WHERE rn <= $k""".stripMargin

  /** Deterministic negative sampling for contrastive / recsys training:
    * every (user, positive-item) interaction draws `m` candidate
    * negatives — candidate j is the catalog item at index
    * `H(salt·user·pos·j) mod |catalog|` — and candidates the user has
    * actually interacted with are anti-joined away (a collided draw is
    * DROPPED, not re-drawn: rejection re-draws are sequential, and at
    * catalog ≫ per-user-history density the loss is a few percent the
    * training loop never notices; the kept set is still a pure function
    * of (user, pos, j)). No RNG state, stable under resharding — the
    * triplet corpus is reproducible and auditable like [[hashSplit]].
    *
    * Scale shape: the catalog gets a dense index via ONE dim-sized
    * row_number window and broadcasts into the pick join; interactions
    * explode ×m and anti-join on (user, item) — linear in
    * interactions·m, no shuffle wider than the interaction table. */
  def negativeSample(interactions: org.apache.spark.sql.DataFrame,
      userCol: String, itemCol: String,
      catalog: org.apache.spark.sql.DataFrame, catalogItemCol: String,
      m: Int, salt: String = "neg:"): org.apache.spark.sql.DataFrame = {
    require(m >= 1 && m <= 100, s"m must be in [1,100], got $m")
    val idx = catalog.select(col(catalogItemCol).cast("long").as("__item"))
      .filter(col("__item").isNotNull).distinct()
      .withColumn("__idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("__item")))
      .localCheckpoint(false) // dim-sized; reused by the size agg + pick join
    val n = idx.agg(max(col("__idx")).cast("long").as("__n"))
    val inter = interactions
      .select(col(userCol).cast("long").as("user_id"),
        col(itemCol).cast("long").as("pos_item"))
      .filter(col("user_id").isNotNull && col("pos_item").isNotNull)
      .distinct()
      .localCheckpoint(false) // read by the draw AND the anti-join
    val pick = graft.functions.NativeExprs.polyHash(
      concat(lit(salt), col("user_id").cast("string"), lit(":"),
        col("pos_item").cast("string"), lit(":"), col("j").cast("string")),
      CharMul, P) % col("__n") + 1
    inter.crossJoin(broadcast(n)) // 1-row scalar, never collected
      .withColumn("j", explode(sequence(lit(1), lit(m))))
      .withColumn("__pick", pick)
      .join(broadcast(idx), col("__pick") === col("__idx"))
      .select(col("user_id"), col("pos_item"), col("j"),
        col("__item").as("neg_item"))
      .join(inter.select(col("user_id"), col("pos_item").as("neg_item")),
        Seq("user_id", "neg_item"), "left_anti")
      // the USING anti-join pulls its keys to the front; restore the
      // (user, pos, draw, neg) triplet order readers expect
      .select("user_id", "pos_item", "j", "neg_item")
  }

  /** Oracle twin of [[negativeSample]] — same dense index, same salted
    * draw, same drop-on-collision anti-join. */
  def negativeSampleSql(interactionsSql: String, catalogTable: String,
      catalogItemCol: String, m: Int, salt: String = "neg:"): String = {
    val h = tokenHashSql(
      s"'$salt' || CAST(user_id AS VARCHAR) || ':' || CAST(pos_item AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    s"""WITH __cat AS (
       |  SELECT DISTINCT CAST($catalogItemCol AS BIGINT) AS item
       |  FROM $catalogTable WHERE $catalogItemCol IS NOT NULL
       |), __idx AS (
       |  SELECT item, row_number() OVER (ORDER BY item) AS idx FROM __cat
       |), __n AS (SELECT CAST(max(idx) AS BIGINT) AS n FROM __idx),
       |__i AS (
       |  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
       |         CAST(pos_item AS BIGINT) AS pos_item
       |  FROM ($interactionsSql)
       |  WHERE user_id IS NOT NULL AND pos_item IS NOT NULL
       |), __d AS (
       |  SELECT i.user_id, i.pos_item, CAST(t.j AS INTEGER) AS j,
       |         ($h) % __n.n + 1 AS pick
       |  FROM __i i CROSS JOIN __n CROSS JOIN range(1, ${m + 1}) t(j)
       |), __cand AS (
       |  SELECT d.user_id, d.pos_item, d.j, x.item AS neg_item
       |  FROM __d d JOIN __idx x ON d.pick = x.idx
       |)
       |SELECT c.user_id, c.pos_item, c.j, c.neg_item
       |FROM __cand c LEFT JOIN __i e
       |  ON c.user_id = e.user_id AND c.neg_item = e.pos_item
       |WHERE e.user_id IS NULL""".stripMargin
  }

  /** Temperature-based corpus rebalancing (the XLM-R / mT5 multilingual
    * sampling scheme, Conneau et al. 2020 §3.1): group g is sampled in
    * proportion to n_g^alpha, flattening the head and lifting the tail.
    * Output is (id, group, n_copies >= 1): a downsampled group keeps a
    * deterministic hash-rate subset at 1 copy; an upsampled (tail)
    * group keeps everything and marks the repetition factor the
    * dataloader should apply. sum(n_copies) concentrates on `budget`
    * (binomial tails — exact to ~1e-6 relative at production scale).
    *
    * Everything after the weight quantization is INTEGER arithmetic, so
    * both engines agree bit-for-bit: w_g = floor(n_g^alpha * 2^20)
    * (alpha restricted to {1, 0.5, 0.25} = identity / sqrt / sqrt∘sqrt,
    * all correctly-rounded IEEE in Spark and DuckDB alike — arbitrary
    * pow() is NOT cross-engine exact and is deliberately unsupported),
    * k_g = budget*w_g div sum(w), base copies = k_g div n_g, and the
    * fractional remainder is realized by salted-hash rate: bucket
    * b = ((h² + h) mod P) mod 2^20 gets the extra copy iff
    * b < (k_g mod n_g)*2^20 div n_g. The square is load-bearing: the
    * poly-31 char fold is LINEAR in the trailing id digits, so
    * near-consecutive ids land in a window a few thousand wide and the
    * raw low 20 bits are grossly non-uniform (a % 100 bucket as in
    * [[mixtureKeep]] is far below the window width and unaffected);
    * squaring avalanche-mixes the window across [0, P) and stays exact
    * in both engines (h < 2^31 → h² < 2^62 < 2^63). Preconditions
    * (documented, generous): budget * sum(w) < 2^63 and n_g < 2^43 —
    * at 10^12 documents both hold with room.
    *
    * 100 TB shape: ONE map-side-combinable count per group (output rows
    * = number of groups), a broadcast of that catalog-sized table, then
    * a pure projection — no window, no rank, no shuffle of the corpus
    * at all. The exact-count alternative (rank rk <= k_g per group)
    * needs a per-group global sort that cannot be WindowGroupLimit-
    * pruned for upsampled groups; the rate form trades a vanishing
    * budget error for a shuffle-free plan. */
  val TempScale = 1048576L // 2^20
  private def alphaPow(c: Column, alpha: Double): Column = alpha match {
    case 1.0  => c.cast("double")
    case 0.5  => sqrt(c.cast("double"))
    case 0.25 => sqrt(sqrt(c.cast("double")))
    case a => throw new IllegalArgumentException(
      s"alpha=$a: only {1, 0.5, 0.25} are cross-engine exact (see doc)")
  }
  private def alphaPowSql(e: String, alpha: Double): String = alpha match {
    case 1.0  => s"CAST($e AS DOUBLE)"
    case 0.5  => s"sqrt($e)"
    case 0.25 => s"sqrt(sqrt($e))"
    case a => throw new IllegalArgumentException(s"alpha=$a unsupported")
  }

  def temperatureSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, budget: Long, alpha: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    val st = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"))
      .withColumn("w", floor(alphaPow(col("n"), alpha) * TempScale).cast("long"))
    val tot = st.agg(sum("w").as("tw"))
    val kg = st.crossJoin(broadcast(tot))
      .withColumn("k", expr(s"(CAST($budget AS BIGINT) * w) DIV tw"))
      .select(col(groupCol), col("n"), col("k"))
    val h = graft.functions.NativeExprs.polyHash(
      concat(lit("temp:"), col(idCol).cast("string")), CharMul, P)
    df.select(col(idCol), col(groupCol))
      .withColumn("__h", h)
      .withColumn("__b", ((col("__h") * col("__h") + col("__h")) % P) % TempScale)
      .join(broadcast(kg), Seq(groupCol))
      .withColumn("n_copies",
        (expr("k DIV n") +
          when(col("__b") < expr(s"((k % n) * ${TempScale}L) DIV n"), lit(1L))
            .otherwise(lit(0L))).cast("int"))
      .filter(col("n_copies") > 0)
      .select(col(idCol), col(groupCol), col("n_copies"))
  }

  /** Oracle twin of [[temperatureSample]]: same quantized weights,
    * integer division (`//`), and salted-hash remainder rate. */
  def temperatureSampleSql(table: String, id: String, group: String,
      budget: Long, alpha: Double = 0.5): String = {
    val h = charFoldSql(s"'temp:' || CAST($id AS VARCHAR)")
    s"""WITH __st AS (
       |  SELECT $group, count(*) AS n,
       |         CAST(floor(${alphaPowSql("count(*)", alpha)} * $TempScale) AS BIGINT) AS w
       |  FROM $table GROUP BY $group),
       |__kg AS (
       |  SELECT $group, n, (CAST($budget AS BIGINT) * w) // (SELECT sum(w) FROM __st) AS k
       |  FROM __st),
       |__d AS (
       |  SELECT $id, $group, ((__h * __h + __h) % $P) % $TempScale AS __b
       |  FROM (SELECT $id, $group, $h AS __h FROM $table)),
       |__c AS (
       |  SELECT d.$id, d.$group,
       |         CAST(g.k // g.n + CASE WHEN d.__b < ((g.k % g.n) * $TempScale) // g.n
       |           THEN 1 ELSE 0 END AS INTEGER) AS n_copies
       |  FROM __d d JOIN __kg g USING ($group))
       |SELECT $id, $group, n_copies FROM __c WHERE n_copies > 0""".stripMargin
  }

  /** Vocabulary drift between two corpus snapshots, per group: the
    * total-variation distance between the reference and current unigram
    * distributions — the "did the crawl shift under me" monitor a
    * continuously-ingested corpus needs (quality scores catch bad
    * DOCUMENTS; drift catches a changed MIXTURE at unchanged per-doc
    * quality).
    *
    * TVD = ½·Σ_t |p_ref(t) − p_cur(t)| is computed EXACTLY:
    * Σ|c_ref·N_cur − c_cur·N_ref| is a BIGINT sum (order-independent —
    * a float Σ|p−q| would be engine-order-dependent), and the single
    * final double division by (2·N_ref·N_cur) is correctly rounded.
    * Precondition: c·N < 2^63 (token count × corpus tokens; at 10^9 ×
    * 10^12 scale switch the numerator to DECIMAL — documented, not
    * silently wrong: ANSI mode throws on overflow).
    *
    * Shape: one explode linear in tokens, a (group, tok-hash) count
    * with map-side combine, a broadcast-sized per-group total join, one
    * integer sum. Nothing pairwise; hot tokens cost their count, not
    * its square. A group empty on either side yields NULL tvd. */
  def vocabDrift(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, refPred: Column): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(groupCol), refPred.as("__ref"), tokens(col(textCol)).as("__toks"))
      .select(col(groupCol), col("__ref"), explode(col("__toks")).as("__tok"))
      .select(col(groupCol), col("__ref"),
        graft.functions.NativeExprs.polyHash(col("__tok"), CharMul, P).as("tok"))
    val counts = toks.groupBy(col(groupCol), col("tok"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("c_cur"))
    val tot = counts.groupBy(col(groupCol))
      .agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"))
    counts.join(broadcast(tot), Seq(groupCol))
      .groupBy(col(groupCol), col("n_ref"), col("n_cur"))
      .agg(count(lit(1)).as("vocab"),
        sum(abs(col("c_ref") * col("n_cur") - col("c_cur") * col("n_ref"))).as("__num"))
      .withColumn("tvd",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("__num").cast("double") /
            (lit(2.0) * col("n_ref").cast("double") * col("n_cur").cast("double"))))
      .select(col(groupCol), col("n_ref"), col("n_cur"), col("vocab"), col("tvd"))
  }

  /** Oracle twin of [[vocabDrift]]: same hash, same integer
    * cross-multiplied numerator, same single final division. */
  def vocabDriftSql(table: String, group: String, textCol: String,
      refPred: String): String = {
    s"""WITH __tk AS (
       |  SELECT $group, ($refPred) AS ref, ${tokenHashSql("__tok")} AS tok
       |  FROM (SELECT *, unnest(${tokensSql(textCol)}) AS __tok FROM $table)
       |), __c AS (
       |  SELECT $group, tok,
       |         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
       |         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
       |  FROM __tk GROUP BY $group, tok
       |), __t AS (
       |  SELECT $group, CAST(sum(c_ref) AS BIGINT) AS n_ref,
       |         CAST(sum(c_cur) AS BIGINT) AS n_cur
       |  FROM __c GROUP BY $group
       |)
       |SELECT c.$group, t.n_ref, t.n_cur, count(*) AS vocab,
       |       CASE WHEN t.n_ref > 0 AND t.n_cur > 0 THEN
       |         CAST(sum(abs(c.c_ref * t.n_cur - c.c_cur * t.n_ref)) AS DOUBLE)
       |           / (2.0 * CAST(t.n_ref AS DOUBLE) * CAST(t.n_cur AS DOUBLE))
       |       END AS tvd
       |FROM __c c JOIN __t t USING ($group)
       |GROUP BY c.$group, t.n_ref, t.n_cur""".stripMargin
  }

  /** Hashed unigram counts of a document set: (h, cnt) — the
    * aggregate [[vocabDriftAgainst]] consumes and the unit the
    * streaming drift registry stores (one row per distinct token,
    * linear in VOCABULARY). */
  def hashTokenCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(tokens(col(textCol)).as("__toks"))
      .select(explode(col("__toks")).as("__tok"))
      .select(graft.functions.NativeExprs.polyHash(col("__tok"), CharMul, P).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))

  /** [[vocabDrift]] against a PRE-COUNTED reference — the streaming
    * face: the arriving batch's counts score against the summed count
    * registry of every earlier batch (full-outer join on the 8-byte
    * hash; same cross-multiplied integer numerator, same single final
    * division). One row: (n_ref, n_cur, vocab, tvd); NULL tvd until a
    * baseline exists (first batch). Both inputs are vocabulary-sized
    * aggregates, so the join is vocabulary × 1 — never corpus-sized. */
  def vocabDriftAgainst(curCounts: org.apache.spark.sql.DataFrame,
      refCounts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ref = refCounts.groupBy("h").agg(sum("cnt").as("c_ref"))
    val cur = curCounts.groupBy("h").agg(sum("cnt").as("c_cur"))
    val j = ref.join(cur, Seq("h"), "full_outer")
      .select(coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val tot = j.agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"))
    j.crossJoin(broadcast(tot))
      .groupBy("n_ref", "n_cur")
      .agg(count(lit(1)).as("vocab"),
        sum(abs(col("c_ref") * col("n_cur") - col("c_cur") * col("n_ref"))).as("__num"))
      .withColumn("tvd",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("__num").cast("double") /
            (lit(2.0) * col("n_ref").cast("double") * col("n_cur").cast("double"))))
      .select(col("n_ref"), col("n_cur"), col("vocab"), col("tvd"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4, the
    * denoising-objective data prep): each token position is masked by a
    * deterministic salted hash at `pct`%, consecutive masked runs
    * collapse to ONE sentinel in the inputs, and the targets carry each
    * span's tokens behind the same sentinel — (inputs, targets) being
    * the seq2seq training pair. Unnumbered sentinel (`<X>`): numbering
    * needs a prefix count per position, which neither engine's lambda
    * dialect shares portably; span STRUCTURE is what the objective
    * needs and run-starts are position-local. Caveat shared with every
    * in-band sentinel scheme: a document whose TEXT contains the
    * literal sentinel token is ambiguous to reconstruct — harmless for
    * training (the model sees the same kind of stream either way), but
    * pick a sentinel outside the corpus vocabulary if round-tripping
    * matters.
    *
    * Everything is a pure projection: mask(i) and mask(i−1) recompute
    * the position hash directly (no window, no explode), so the
    * operator is embarrassingly parallel and reproducible from
    * (doc_id, position) alone — same auditability contract as
    * [[hashSplit]]/[[shardAssignment]]. The `% 100` bucket is safe
    * against the poly-31 low-bit clustering because adjacent positions
    * step the hash by a full multiplier (see [[temperatureSample]]'s
    * square-mix note; 100 ≪ the cluster window). */
  def spanCorrupt(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, pct: Int = 15): org.apache.spark.sql.DataFrame = {
    def mh(i: Column): Column =
      graft.functions.NativeExprs.polyHash(
        concat(lit("msk:"), col(idCol).cast("string"), lit(":"), i.cast("string")),
        CharMul, P) % 100
    def masked(i: Column): Column = mh(i) < pct
    def runStart(i: Column): Column = (i === 1) || !masked(i - 1)
    val toksC = col("__toks")
    val n = size(toksC)
    val idxs = sequence(lit(1), n)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("inputs", when(n === 0, lit("")).otherwise(
        array_join(filter(
          transform(idxs, i =>
            when(!masked(i), element_at(toksC, i))
              .otherwise(when(runStart(i), lit("<X>")))),
          x => x.isNotNull), " ")))
      .withColumn("targets", when(n === 0, lit("")).otherwise(
        array_join(filter(
          transform(idxs, i =>
            when(masked(i) && runStart(i),
              concat_ws(" ", lit("<X>"), element_at(toksC, i)))
              .when(masked(i), element_at(toksC, i))),
          x => x.isNotNull), " ")))
      .withColumn("n_masked",
        size(filter(idxs, i => masked(i))).cast("long"))
      .withColumn("n_spans",
        size(filter(idxs, i => masked(i) && runStart(i))).cast("long"))
      .select(col(idCol), col("inputs"), col("targets"),
        col("n_masked"), col("n_spans"))
  }

  /** Oracle twin of [[spanCorrupt]]: same position hash, the same
    * run-start collapse, the same join order. */
  def spanCorruptSql(table: String, id: String, textCol: String,
      pct: Int = 15): String = {
    def mh(i: String) =
      s"(${charFoldSql(s"'msk:' || CAST($id AS VARCHAR) || ':' || CAST($i AS VARCHAR)")} % 100)"
    def masked(i: String) = s"(${mh(i)} < $pct)"
    def runStart(i: String) = s"($i = 1 OR NOT ${masked(s"($i - 1)")})"
    s"""SELECT $id,
       |  coalesce(array_to_string(list_filter(
       |    list_transform(range(1, len(__toks) + 1), __i ->
       |      CASE WHEN NOT ${masked("__i")} THEN __toks[__i]
       |           WHEN ${runStart("__i")} THEN '<X>' END),
       |    __x -> __x IS NOT NULL), ' '), '') AS inputs,
       |  coalesce(array_to_string(list_filter(
       |    list_transform(range(1, len(__toks) + 1), __i ->
       |      CASE WHEN ${masked("__i")} AND ${runStart("__i")} THEN '<X> ' || __toks[__i]
       |           WHEN ${masked("__i")} THEN __toks[__i] END),
       |    __x -> __x IS NOT NULL), ' '), '') AS targets,
       |  CAST(len(list_filter(range(1, len(__toks) + 1), __i -> ${masked("__i")})) AS BIGINT) AS n_masked,
       |  CAST(len(list_filter(range(1, len(__toks) + 1), __i ->
       |    ${masked("__i")} AND ${runStart("__i")})) AS BIGINT) AS n_spans
       |FROM (SELECT $id, ${tokensSql(textCol)} AS __toks FROM $table)""".stripMargin
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, PSM mode) —
    * the code-model counterpart of [[spanCorrupt]]: two deterministic
    * cut points split the token stream into (prefix, middle, suffix)
    * and the training text is reordered `<PRE> prefix <SUF> suffix
    * <MID> middle`, teaching infilling with a plain LM objective. Cut
    * points c1 ≤ c2 come from two independent salted hashes mod (n+1),
    * so the transform is a pure projection reproducible from doc_id
    * alone; empty segments are legal (c1=0, c2=n degenerate to plain
    * continuation). Sentinels and segments assemble through ONE
    * array flatten + join — no string surgery, no window, no shuffle. */
  def fimTransform(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    def cutHash(salt: String): Column =
      graft.functions.NativeExprs.polyHash(
        concat(lit(salt), col(idCol).cast("string")), CharMul, P)
    val toksC = col("__toks")
    val n = size(toksC)
    val h1 = cutHash("fim1:") % (n + 1)
    val h2 = cutHash("fim2:") % (n + 1)
    val c1 = least(h1, h2)
    val c2 = greatest(h1, h2)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__c1", c1.cast("int"))
      .withColumn("__c2", c2.cast("int"))
      .withColumn("psm", array_join(flatten(array(
        array(lit("<PRE>")), slice(toksC, lit(1), col("__c1")),
        array(lit("<SUF>")), slice(toksC, col("__c2") + 1, n - col("__c2")),
        array(lit("<MID>")), slice(toksC, col("__c1") + 1, col("__c2") - col("__c1")))), " "))
      .select(col(idCol), col("psm"),
        col("__c1").cast("long").as("n_prefix"),
        (col("__c2") - col("__c1")).cast("long").as("n_middle"),
        (n - col("__c2")).cast("long").as("n_suffix"))
  }

  /** Oracle twin of [[fimTransform]]: same cut hashes, same 1-based
    * inclusive slices, same flatten order. */
  def fimTransformSql(table: String, id: String, textCol: String): String = {
    def cutHash(salt: String) =
      charFoldSql(s"'$salt' || CAST($id AS VARCHAR)")
    s"""SELECT $id,
       |  array_to_string(
       |    ['<PRE>'] || __toks[1:__c1] ||
       |    ['<SUF>'] || __toks[__c2 + 1:__n] ||
       |    ['<MID>'] || __toks[__c1 + 1:__c2], ' ') AS psm,
       |  CAST(__c1 AS BIGINT) AS n_prefix,
       |  CAST(__c2 - __c1 AS BIGINT) AS n_middle,
       |  CAST(__n - __c2 AS BIGINT) AS n_suffix
       |FROM (
       |  SELECT $id, __toks, __n,
       |         least(__h1, __h2) AS __c1, greatest(__h1, __h2) AS __c2
       |  FROM (
       |    SELECT $id, __toks, len(__toks) AS __n,
       |           ${cutHash("fim1:")} % (len(__toks) + 1) AS __h1,
       |           ${cutHash("fim2:")} % (len(__toks) + 1) AS __h2
       |    FROM (SELECT $id, ${tokensSql(textCol)} AS __toks FROM $table)))""".stripMargin
  }

  // ---- n-gram shingles --------------------------------------------------

  /** N-gram shingle array from an ALREADY-MATERIALIZED token-array
    * column. `toks` must be a plain column reference, never an inline
    * `split(...)` expression: every `element_at(toks, i+k)` inside the
    * transform lambda re-evaluates its subtree, so an inline split makes
    * shingling O(tokens²) regex work per document (observed as a 10-50×
    * slowdown on real documents). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array())

  def shinglesSql(text: String, n: Int): String =
    shinglesFromTokensSql(tokensSql(text), n)

  /** [[shinglesSql]] over an already-bound token-LIST expression (a
    * column reference avoids DuckDB re-evaluating the tokenizer per
    * element, the same O(tokens²) trap [[shinglesFromTokens]]
    * documents on the Spark side). */
  def shinglesFromTokensSql(toks: String, n: Int): String = {
    val parts = (0 until n).map(k => s"($toks)[__si + $k]").mkString(" || ' ' || ")
    s"CASE WHEN len($toks) >= $n THEN " +
      s"list_transform(range(1, len($toks) - ${n - 1} + 1), __si -> $parts) " +
      s"ELSE [] END"
  }

  // ---- importance scoring (DSIR-shaped corpus selection) ----------------

  /** Hashed-unigram importance scores for corpus selection — the shape of
    * Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    * rank raw documents by how much their token distribution leans toward
    * a small target corpus's unigram model versus the raw corpus's own,
    * then keep the top of the ranking as training data.
    *
    * Statistic (deliberate deviation from the paper's log weights): the
    * per-token weight is the add-one-smoothed count ratio quantized to an
    * integer, `w_q(t) = ((c_tgt(t)+1) * scale) div (c_raw(t)+1)`, and a
    * document's score is the exact long sum of `w_q` over its token
    * occurrences — not a sum of `ln` ratios. Both are monotone in
    * per-token target-vs-raw affinity; the integer form is chosen because
    * `ln` is a libm call whose last ulp differs across engines, which
    * would make the cross-engine oracle flaky, while integer multiply /
    * integer divide / long sums are bit-identical everywhere (the same
    * quantized-exactness discipline as the TWA and histogram sketches).
    *
    * Scale shape: two map-side-combinable token-count aggregations, one
    * vocabulary-sized left join to form the weight table, one fixed-width
    * (8-byte hashed token) equi-join back to the token stream, and one
    * per-doc long-sum — every shuffle is linear in token occurrences or
    * vocabulary, nothing is ever pairwise in documents. Overflow bound:
    * `(c_tgt+1)*scale` stays under 2^63 while the target corpus holds
    * fewer than ~9e12 occurrences of one token at the default scale;
    * per-doc sums stay under 2^63 for any document shorter than ~9e12 /
    * max(w_q) tokens.
    *
    * Output: one row per raw document that has at least one token —
    * (id, n_toks, score); tokenless documents emit no row (they carry no
    * evidence either way; gate them on [[qualityFeatures]] instead). */
  def importanceScores(raw: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L, n: Int = 1): org.apache.spark.sql.DataFrame = {
    // n > 1 scores hashed n-gram occurrences (the DSIR paper's unit);
    // shingle arrays are built from a materialized token column (the
    // same O(tokens) discipline as the dedup suite)
    def units(df: org.apache.spark.sql.DataFrame, pre: Seq[Column]) =
      if (n == 1) df.select(pre :+ explode(tokens(col(textCol))).as("__tok"): _*)
      else df.select(pre :+ tokens(col(textCol)).as("__toks"): _*)
        .select(pre :+ explode(shinglesFromTokens(col("__toks"), n)).as("__tok"): _*)
    val rawToks = units(raw, Seq(col(idCol)))
      .select(col(idCol), tokenHash("__tok").as("tok"))
    val tgtToks = units(target, Seq.empty)
      .select(tokenHash("__tok").as("tok"))
    val cRaw = rawToks.groupBy("tok").agg(count(lit(1)).as("__cr"))
    val cTgt = tgtToks.groupBy("tok").agg(count(lit(1)).as("__ct"))
    val weights = cRaw.join(cTgt, Seq("tok"), "left_outer").select(col("tok"),
      expr(s"((coalesce(__ct, 0L) + 1L) * ${scale}L) div (__cr + 1L)").as("__wq"))
    rawToks.join(weights, "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"), sum(col("__wq")).as("score"))
  }

  /** DuckDB twin of [[importanceScores]]: identical hashed-unigram
    * counts, identical integer ratio quantization (`//` is DuckDB's
    * integer floor division — both operands are positive, so it agrees
    * with Spark's `div` truncation), identical long sums. `targetPred`
    * selects the target subset of `table`. */
  def importanceScoresSql(table: String, targetPred: String, id: String,
      text: String, scale: Long = 1000000L, n: Int = 1): String = {
    val toks = if (n == 1) tokensSql(text) else shinglesSql(text, n)
    val h = tokenHashSql("__tok")
    s"WITH __rt AS (SELECT $id, $h AS tok FROM " +
      s"(SELECT $id, unnest($toks) AS __tok FROM $table)), " +
      s"__tt AS (SELECT $h AS tok FROM " +
      s"(SELECT unnest($toks) AS __tok FROM $table WHERE $targetPred)), " +
      "__cr AS (SELECT tok, count(*) AS c_r FROM __rt GROUP BY tok), " +
      "__ct AS (SELECT tok, count(*) AS c_t FROM __tt GROUP BY tok), " +
      s"__w AS (SELECT __cr.tok, ((COALESCE(__ct.c_t, 0) + 1) * $scale) // (__cr.c_r + 1) AS w_q " +
      "FROM __cr LEFT JOIN __ct ON __cr.tok = __ct.tok) " +
      s"SELECT __rt.$id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "CAST(sum(__w.w_q) AS BIGINT) AS score " +
      s"FROM __rt JOIN __w ON __rt.tok = __w.tok GROUP BY __rt.$id"
  }

  // ---- naive-Bayes-shaped text classification ---------------------------

  /** Hashed-token multinomial classifier with the quantized-integer
    * weight discipline of [[importanceScores]] — the fastText-shaped
    * "train a cheap linear classifier on a labeled slice, apply it to
    * the corpus" step of a curation pipeline (language ID, quality
    * tiering), evaluated end to end: train on the [[hashSplit]] `train`
    * docs, predict the held-out `test` docs, return the confusion
    * matrix.
    *
    * Per-class per-token weight is the add-one-smoothed count ratio
    * quantized to an integer, `w_q(c,t) = ((n(t|c)+1) * scale) div
    * (N_c + V)` — the multinomial naive-Bayes likelihood with the same
    * deliberate deviation as [[importanceScores]]: an integer ratio sum
    * instead of a log-probability sum, because `ln`'s last ulp is
    * engine-specific while integer multiply/divide and long sums are
    * bit-identical everywhere. A document's per-class score is the long
    * sum of `w_q` over its in-vocabulary token occurrences; prediction
    * is the argmax (ties to the lexicographically first class — pinned
    * in both engines). Out-of-vocabulary tokens drop on both sides;
    * documents with no in-vocabulary token emit no row.
    *
    * Scale shape: one map-side-combinable (class, token) count, one
    * class-count aggregate, one vocabulary-sized weight build (vocab ×
    * classes rows), one 8-byte-key equi-join back to the held-out token
    * stream, one per-(doc, class) long sum, one per-doc argmax window.
    * Nothing is pairwise in documents; the widest shuffle is token
    * occurrences × classes. */
  def nbClassify(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, classCol: String,
      scale: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .withColumn("__split", hashSplit(col(idCol)))
      .select(col(idCol), col(classCol), col("__split"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol), col(classCol), col("__split"),
        tokenHash("__tok").as("tok"))
    val train = toks.filter(col("__split") === "train")
    val held = toks.filter(col("__split") === "test")
    val counts = train.groupBy(col(classCol).as("__cls"), col("tok"))
      .agg(count(lit(1)).as("__c"))
    val totals = train.groupBy(col(classCol).as("__cls"))
      .agg(count(lit(1)).as("__t"))
    val vocab = train.select("tok").distinct()
    // scalar vocabulary size joined in like A3's scalar-agg subquery:
    // broadcast one row, never a collect
    val vsize = broadcast(vocab.agg(count(lit(1)).as("__v")))
    val weights = vocab.crossJoin(broadcast(totals))
      .join(counts, Seq("tok", "__cls"), "left")
      .crossJoin(vsize)
      .select(col("tok"), col("__cls"),
        expr(s"((coalesce(__c, 0L) + 1L) * ${scale}L) div (__t + __v)").as("__w"))
    val scored = held.join(weights, Seq("tok"))
      .groupBy(col(idCol), col(classCol), col("__cls"))
      .agg(sum(col("__w")).as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__score").desc, col("__cls"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col(idCol), col(classCol).as("true_class"), col("__cls").as("pred_class"))
      .groupBy("true_class", "pred_class")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))
  }

  /** DuckDB twin of [[nbClassify]]: identical hash split, identical
    * hashed-token counts, identical integer weight quantization (`//`
    * floor division agrees with Spark's `div` on these all-positive
    * operands), identical long sums and argmax tie-break. */
  def nbClassifySql(table: String, id: String, text: String, cls: String,
      scale: Long = 1000000L): String = {
    val h = tokenHashSql("__tok")
    s"WITH __tk AS (SELECT $id, $cls, __split, $h AS tok FROM " +
      s"(SELECT $id, $cls, ${hashSplitSql(id)} AS __split, " +
      s"unnest(${tokensSql(text)}) AS __tok FROM $table)), " +
      s"__tr AS (SELECT $cls, tok FROM __tk WHERE __split = 'train'), " +
      s"__ev AS (SELECT $id, $cls, tok FROM __tk WHERE __split = 'test'), " +
      s"__c AS (SELECT $cls, tok, count(*) AS c FROM __tr GROUP BY $cls, tok), " +
      s"__t AS (SELECT $cls, count(*) AS t FROM __tr GROUP BY $cls), " +
      "__v AS (SELECT count(DISTINCT tok) AS v FROM __tr), " +
      "__vt AS (SELECT DISTINCT tok FROM __tr), " +
      s"__w AS (SELECT __vt.tok, __t.$cls, ((COALESCE(__c.c, 0) + 1) * $scale) // (__t.t + __v.v) AS w " +
      "FROM __vt CROSS JOIN __t CROSS JOIN __v " +
      s"LEFT JOIN __c ON __c.tok = __vt.tok AND __c.$cls = __t.$cls), " +
      s"__s AS (SELECT e.$id, e.$cls AS true_class, w.$cls AS pred_class, sum(w.w) AS score " +
      s"FROM __ev e JOIN __w w ON e.tok = w.tok GROUP BY e.$id, e.$cls, w.$cls), " +
      s"__p AS (SELECT $id, true_class, pred_class, " +
      s"row_number() OVER (PARTITION BY $id ORDER BY score DESC, pred_class) AS rn FROM __s) " +
      "SELECT true_class, pred_class, CAST(count(*) AS BIGINT) AS n_docs, " +
      s"min($id) AS first_doc FROM __p WHERE rn = 1 GROUP BY true_class, pred_class"
  }

  // ---- bigram-LM perplexity bucketing (CCNet-shaped) --------------------

  /** Scaled integer log2 as a Spark-SQL expression string over a
    * positive BIGINT column/expression `c`: `L(x) = 1024·floor(log2 x)
    * + ((x << 10) >> floor) − 1024` — the exact floor from the binary
    * string length plus a linear interpolation of the fraction (max
    * error ≈ 0.086 bits, monotone in x). Pure integer shifts and string
    * length: bit-identical in every engine, unlike libm `log`/`log2`
    * whose last ulp is engine-specific (the same reason
    * [[importanceScores]] avoids the DSIR paper's log weights). */
  def ilog2ScaledExpr(c: String): String = {
    val f = s"(length(bin($c)) - 1)"
    s"(CAST($f AS BIGINT) * 1024L + shiftright(shiftleft($c, 10), $f) - 1024L)"
  }

  /** DuckDB twin of [[ilog2ScaledExpr]]: `bin()` is leading-zero-free
    * for positive integers in both engines, and `<<`/`>>` mirror
    * Spark's `shiftleft`/`shiftright`. */
  def ilog2ScaledSql(c: String): String = {
    val f = s"(length(bin($c)) - 1)"
    s"(CAST($f AS BIGINT) * 1024 + (($c << 10) >> $f) - 1024)"
  }

  /** CCNet-shaped perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting high quality monolingual datasets from web crawl data",
    * 2020): score every document by a cheap n-gram language model
    * trained on a reference slice, then split the corpus into
    * head/middle/tail buckets by score. Here the LM is an add-one-
    * smoothed hashed-BIGRAM model trained on the [[hashSplit]] `train`
    * docs (standing in for CCNet's Wikipedia reference corpus), the
    * per-document statistic is the total scaled-integer bit cost
    * `Σ L(c1+V) − L(c12+1)` over its bigram occurrences (a monotone
    * fixed-point analog of summed −log2 P(w2|w1); see
    * [[ilog2ScaledExpr]] for why not libm log), and the bucket cuts are
    * the 0.25/0.75 estimates from the bounded-error histogram-quantile
    * sketch — never an exact global percentile, which buffers
    * data-proportional state in one task (the round-3 hazard
    * `pipe_quality_gate` already retired). 0.25/0.75 rather than
    * CCNet's terciles because those literals parse to identical doubles
    * in both engines; 1/3 does not round-trip through a decimal literal.
    *
    * Scale shape: one bigram explode (linear in tokens), two
    * vocabulary-sized count aggregates + one distinct-vocab scalar, two
    * 8-byte-key equi-joins back to the bigram stream, one per-doc long
    * sum, one bins-sized quantile walk, one broadcast threshold join.
    * Nothing pairwise, no data-sized driver structure, no global sort.
    *
    * Output: (id, n_bigrams, bits_q, avg_bits_q, bucket) — one row per
    * document with ≥ 2 tokens ("head" = lowest bit cost, the CCNet
    * keep-first bucket). */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, bins: Int = 256): org.apache.spark.sql.DataFrame = {
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val bi = base.filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("__toks")) - 1),
          i => struct(element_at(col("__toks"), i).as("w1"),
            concat_ws(" ", element_at(col("__toks"), i),
              element_at(col("__toks"), i + 1)).as("w12")))).as("__bg"))
      .select(col(idCol),
        graft.functions.NativeExprs.polyHash(col("__bg").getField("w1"), CharMul, P).as("h1"),
        graft.functions.NativeExprs.polyHash(col("__bg").getField("w12"), CharMul, P).as("h12"))
      // three consumers (both count tables + the per-doc probe) would
      // re-run the tokenize+explode+hash pipeline per consumer; one lazy
      // materialization of the 24-byte-row hash stream pays for all
      // (same reuse pattern as Dedup.nearDupSuppress)
      .localCheckpoint(false)
    val trainBi = bi.filter(hashSplit(col(idCol)) === "train")
    val c12 = trainBi.groupBy("h12").agg(count(lit(1)).as("__c12"))
    val c1 = trainBi.groupBy("h1").agg(count(lit(1)).as("__c1"))
    // smoothing vocab = distinct train-doc token hashes; a broadcast
    // one-row scalar like A3's subquery, never a collect
    val vb = broadcast(base.filter(hashSplit(col(idCol)) === "train")
      .select(explode(col("__toks")).as("__tok"))
      .select(tokenHash("__tok").as("__h"))
      .agg(countDistinct(col("__h")).as("__v")))
    val perDoc = bi
      .join(c12, Seq("h12"), "left")
      .join(c1, Seq("h1"), "left")
      .crossJoin(vb)
      .withColumn("__num", expr("coalesce(__c12, 0L) + 1L"))
      .withColumn("__den", expr("coalesce(__c1, 0L) + __v"))
      .withColumn("__bits", expr(s"${ilog2ScaledExpr("__den")} - ${ilog2ScaledExpr("__num")}"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__bits")).as("bits_q"))
      .withColumn("avg_bits_q", expr("(bits_q * 1024L) div n_bigrams"))
    val th = broadcast(graft.sketch.Sketches
      .histogramQuantiles(perDoc, "avg_bits_q", bins, Seq(0.25, 0.75))
      .agg(min(when(col("q") < 0.5, col("estimate"))).as("__q25"),
        min(when(col("q") >= 0.5, col("estimate"))).as("__q75")))
    perDoc.crossJoin(th)
      .select(col(idCol), col("n_bigrams"), col("bits_q"), col("avg_bits_q"),
        when(col("avg_bits_q").cast("double") <= col("__q25"), lit("head"))
          .when(col("avg_bits_q").cast("double") <= col("__q75"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** DuckDB twin of [[perplexityBuckets]]: identical tokenization,
    * bigram construction (zipped parallel unnests over the same 1-based
    * index range), hashes, counts, integer log2, long sums, `//` floor
    * division (all-positive operands agree with Spark's `div`), and the
    * same nested histogram-quantile walk + threshold compare. */
  def perplexityBucketsSql(table: String, id: String, text: String,
      bins: Int = 256): String = {
    val h1 = charFoldSql("w1")
    val h12 = charFoldSql("w12")
    val histSql = graft.sketch.Sketches
      .histogramQuantilesSql("__sc", "avg_bits_q", bins, Seq(0.25, 0.75))
    s"""WITH __d AS (
       |  SELECT $id, ${tokensSql(text)} AS toks FROM $table
       |), __bi AS (
       |  SELECT $id, $h1 AS h1, $h12 AS h12 FROM (
       |    SELECT $id, unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
       |           unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS w12
       |    FROM __d WHERE len(toks) >= 2)
       |), __tb AS (
       |  SELECT h1, h12 FROM __bi WHERE ${hashSplitSql(id)} = 'train'
       |), __c12 AS (
       |  SELECT h12, count(*) AS c12 FROM __tb GROUP BY h12
       |), __c1 AS (
       |  SELECT h1, count(*) AS c1 FROM __tb GROUP BY h1
       |), __vv AS (
       |  SELECT count(DISTINCT ${charFoldSql("__tok")}) AS v FROM (
       |    SELECT unnest(toks) AS __tok, $id FROM __d) WHERE ${hashSplitSql(id)} = 'train'
       |), __pb AS (
       |  SELECT $id, COALESCE(c12, 0) + 1 AS num, COALESCE(c1, 0) + v AS den
       |  FROM __bi LEFT JOIN __c12 USING (h12) LEFT JOIN __c1 USING (h1) CROSS JOIN __vv
       |), __pd AS (
       |  SELECT $id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(${ilog2ScaledSql("den")} - ${ilog2ScaledSql("num")}) AS BIGINT) AS bits_q
       |  FROM __pb GROUP BY $id
       |), __sc AS (
       |  SELECT $id, n_bigrams, bits_q, (bits_q * 1024) // n_bigrams AS avg_bits_q FROM __pd
       |), __th AS (
       |  SELECT min(CASE WHEN q < 0.5 THEN estimate END) AS q25,
       |         min(CASE WHEN q >= 0.5 THEN estimate END) AS q75
       |  FROM ($histSql) __hq
       |)
       |SELECT $id, n_bigrams, bits_q, avg_bits_q,
       |       CASE WHEN CAST(avg_bits_q AS DOUBLE) <= q25 THEN 'head'
       |            WHEN CAST(avg_bits_q AS DOUBLE) <= q75 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM __sc CROSS JOIN __th""".stripMargin
  }

  // ---- BM25 ranked retrieval --------------------------------------------

  /** BM25 top-k document retrieval (Robertson/Walker, Okapi; k1 = 1.2,
    * b = 0.75) — exact integer arithmetic end to end, so the ranking is
    * cell-exact cross-engine:
    *
    *  - idf: `log2((N−df+0.5)/(df+0.5))` becomes `L(2(N−df)+1) −
    *    L(2df+1)` with [[ilog2ScaledExpr]] — the half-counts clear to
    *    exact odd integers, no floating log anywhere (negative for
    *    df > N/2, as Robertson's idf is).
    *  - tf saturation: `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    *    avgdl = T/N multiplies through by 20T into
    *    `(44·T·tf·scale) div (20·T·tf + 6·T + 18·dl·N)` — one exact
    *    integer division per (doc, term). Overflow bound: needs
    *    `44·T·tf·scale < 2^63`, i.e. corpus-tokens × per-doc-tf below
    *    ~2·10¹³ at the default scale of 10⁴ — document the corpus or
    *    lower `scale` past that.
    *
    * Scale shape: the query-term table is a broadcast hash join against
    * the token stream (the corpus is probed by hash, never scanned per
    * term), tf/df are map-side-combinable aggregates on 8-byte keys,
    * N/T is one broadcast scalar row, and top-k is TakeOrdered — no
    * global sort, nothing pairwise. Output: (id, n_terms, score_q), the
    * k best documents by (score desc, id). */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k: Int = 10,
      scale: Long = 10000L): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms)
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"), explode(col("__toks")).as("__tok"))
      .select(col(idCol), col("__dl"), tokenHash("__tok").as("tok"))
    val stats = broadcast(docs.select(tokens(col(textCol)).as("__toks"))
      .agg(count(lit(1)).as("__n"), sum(size(col("__toks")).cast("long")).as("__t")))
    val qdf = broadcast(docs.sparkSession
      .createDataFrame(queryTerms.map(Tuple1(_))).toDF("term")
      .select(graft.functions.NativeExprs.polyHash(col("term"), CharMul, P).as("tok")))
    val matched = toks.join(qdf, "tok")
    val tf = matched.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    val dfreq = matched.select(col(idCol), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "tok").crossJoin(stats)
      .withColumn("__idf",
        expr(s"${ilog2ScaledExpr("(2L * (__n - __df) + 1L)")} - ${ilog2ScaledExpr("(2L * __df + 1L)")}"))
      .withColumn("__tfq",
        expr(s"(44L * __t * __tf * ${scale}L) div (20L * __t * __tf + 6L * __t + 18L * __dl * __n)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(expr("__idf * __tfq")).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol)).limit(k)
  }

  /** DuckDB twin of [[bm25TopK]]: identical hashes (the term literals
    * hash through the same char fold), counts, integer log2, and the
    * same multiplied-through tf division (`//` floor agrees with
    * Spark's `div` on the all-positive operands). */
  def bm25TopKSql(table: String, id: String, text: String,
      queryTerms: Seq[String], k: Int = 10, scale: Long = 10000L): String = {
    val qHashes = queryTerms
      .map(t => charFoldSql("'" + t.replace("'", "''") + "'")).mkString(", ")
    s"""WITH __tk AS (
       |  SELECT $id, len(toks) AS dl, unnest(toks) AS __tok
       |  FROM (SELECT $id, ${tokensSql(text)} AS toks FROM $table)
       |), __th AS (
       |  SELECT $id, dl, ${charFoldSql("__tok")} AS tok FROM __tk
       |), __qt AS (
       |  SELECT unnest([$qHashes]) AS tok
       |), __m AS (
       |  SELECT t.$id, t.dl, t.tok FROM __th t JOIN __qt USING (tok)
       |), __tf AS (
       |  SELECT $id, tok, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
       |  FROM __m GROUP BY $id, tok
       |), __dfq AS (
       |  SELECT tok, CAST(count(DISTINCT $id) AS BIGINT) AS df FROM __m GROUP BY tok
       |), __st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(len(${tokensSql(text)})) AS BIGINT) AS t FROM $table
       |), __sc AS (
       |  SELECT f.$id,
       |         (${ilog2ScaledSql("(2 * (s.n - d.df) + 1)")} - ${ilog2ScaledSql("(2 * d.df + 1)")}) AS idf,
       |         (44 * s.t * f.tf * $scale) // (20 * s.t * f.tf + 6 * s.t + 18 * f.dl * s.n) AS tfq
       |  FROM __tf f JOIN __dfq d USING (tok) CROSS JOIN __st s
       |)
       |SELECT $id, CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(idf * tfq) AS BIGINT) AS score_q
       |FROM __sc GROUP BY $id ORDER BY score_q DESC, $id LIMIT $k""".stripMargin
  }

  // ---- line-level quality filtering -------------------------------------

  /** C4/Gopher-style line filtering: keep only lines with at least
    * `minWords` whitespace words AND a terminal-punctuation ending
    * (`. ! ? "`), emit the per-doc audit counts + the filtered text.
    * The famous web-corpus cleanup that doc-level scoring
    * ([[qualityFeatures]]) can't express — boilerplate navigation lines
    * die here while the prose survives. Pure array lambdas over one
    * split: scan-shaped, no shuffle, no UDF; the ending test is an
    * anchored character class, span-identical under Java regex and RE2
    * (same argument as [[redactPii]]). */
  def lineQualityFilter(text: Column, minWords: Int = 3): Seq[(String, Column)] = {
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      size(array_remove(split(trim(l), "\\s+"), "")) >= minWords &&
        l.rlike("[.!?\"]\\s*$"))
    Seq(
      "n_lines" -> size(lines),
      "n_kept" -> size(kept),
      "clean_text" -> array_join(kept, "\n"))
  }

  def lineQualityFilterSql(text: String, minWords: Int = 3): Map[String, String] = {
    val lines = s"string_split($text, chr(10))"
    val kept = s"list_filter($lines, __l -> " +
      s"len(list_filter(regexp_split_to_array(trim(__l), '\\s+'), __w -> __w <> '')) >= $minWords " +
      """AND regexp_matches(__l, '[.!?"]\s*$'))"""
    Map(
      "n_lines" -> s"CAST(len($lines) AS INTEGER)",
      "n_kept" -> s"CAST(len($kept) AS INTEGER)",
      "clean_text" -> s"array_to_string($kept, chr(10))")
  }

  /** RefinedWeb-style cross-document boilerplate line removal: a line
    * whose trimmed form appears in at least `minDocs` DISTINCT
    * documents is boilerplate (cookie banners, nav bars, copyright
    * footers) and is removed from EVERY document; everything else
    * keeps its original bytes and order. The corpus-level complement
    * of [[lineQualityFilter]] (which judges each line in isolation)
    * and of [[graft.dedup.Dedup.substringDedup]] (which keeps shared
    * content at its FIRST occurrence — boilerplate must survive
    * nowhere). Within-document repetition alone never trips the gate:
    * the frequency is count(DISTINCT doc).
    *
    * Output: (id, n_lines, n_removed, clean_text) per document; a
    * document of nothing but boilerplate yields clean_text = ''.
    *
    * Scale shape: one posexplode linear in lines, a
    * map-side-combinable distinct-count on the 62-bit line hash, and
    * an equi-join back on that 8-byte key (the common-line side is
    * df-bounded: at most total_lines / minDocs rows — broadcastable in
    * any real corpus); reassembly is one groupBy(id) with an in-memory
    * sort of each document's own lines. Nothing pairwise, nothing
    * driver-side. */
  /** 62-bit trim-normalized line hash — the line identity every
    * boilerplate operator keys on (two independent 31-bit char folds
    * packed without wrap-around, the [[tokenHashWide]] construction). */
  private def lineHash(line: Column): Column = {
    val norm = trim(line)
    graft.functions.NativeExprs.polyHash(norm, CharMul, P) +
      shiftleft(graft.functions.NativeExprs.polyHash(norm, CharMul2, P), 31)
  }

  /** One row per physical line of each document, with position and the
    * trim-normalized 62-bit hash. */
  private def docLines(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__h", lineHash(col("__line")))

  /** Per-line distinct-document counts of a corpus (h, cnt) — the
    * boilerplate frequency table, and the claim rows of the streaming
    * face ([[boilerplateSuppress]]). Linear in lines; one
    * map-side-combinable aggregate on the 8-byte hash. */
  def lineDocCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docLines(docs, idCol, textCol).groupBy(col("__h").as("h"))
      .agg(count_distinct(col(idCol)).as("cnt"))

  /** Rebuild each document from its non-removed lines (original bytes,
    * original order) + the audit counts. `marked` is docLines plus a
    * nullable `__rm` flag. */
  private def reassemble(marked: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    marked.groupBy(col(idCol)).agg(
      count(lit(1)).cast("int").as("n_lines"),
      sum(when(col("__rm"), 1).otherwise(0)).cast("int").as("n_removed"),
      array_join(
        transform(
          array_sort(collect_list(
            when(col("__rm").isNull, struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")),
        "\n").as("clean_text"))

  def boilerplateRemove(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDocs: Int = 5): org.apache.spark.sql.DataFrame = {
    val lines = docLines(docs, idCol, textCol)
    val common = lines.groupBy("__h")
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"), lit(true).as("__rm"))
    reassemble(lines.join(common, Seq("__h"), "left"), idCol)
  }

  /** Streaming face of [[boilerplateRemove]]: suppress the boilerplate
    * lines of one micro-batch against the CUMULATIVE distinct-doc
    * counts — a line is removed from this batch's documents iff its
    * count over (all earlier batches + this batch) reaches `minDocs`.
    * Returns (cleaned docs, this batch's claim rows (h, cnt)).
    *
    * The streaming contract: occurrences emitted before the count
    * crossed the threshold survive (arrival order wins — the same
    * asymmetry as [[graft.dedup.Dedup.substringSuppress]]); from the
    * crossing batch onward the line is boilerplate everywhere. A
    * single batch over the whole corpus is EXACTLY
    * [[boilerplateRemove]] (spec-pinned). `registry` is (h, cnt) rows
    * from STRICTLY EARLIER batches — a count registry, so the
    * strictly-earlier read (not exclude-own-batch) is what makes
    * replay byte-identical (a replayed batch must not see the counts
    * of batches after it);
    * pre-summed (compacted) and per-batch row forms both work, the
    * kernel re-sums. */
  def boilerplateSuppress(batch: org.apache.spark.sql.DataFrame,
      registry: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDocs: Int = 5)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val lines = docLines(batch, idCol, textCol)
    val claims = lines.groupBy(col("__h").as("h"))
      .agg(count_distinct(col(idCol)).as("cnt"))
    val earlier = registry.groupBy("h").agg(sum("cnt").as("__prev"))
    val common = claims.join(earlier, Seq("h"), "left")
      .filter(col("cnt") + coalesce(col("__prev"), lit(0L)) >= minDocs)
      .select(col("h").as("__h"), lit(true).as("__rm"))
    (reassemble(lines.join(common, Seq("__h"), "left"), idCol), claims)
  }

  /** Oracle twin of [[boilerplateRemove]]: same trim-normalized 62-bit
    * line hash, distinct-doc threshold, and position-ordered
    * reassembly. `textExpr` is a SQL expression over `table`'s
    * columns. */
  def boilerplateRemoveSql(table: String, idCol: String, textExpr: String,
      minDocs: Int = 5): String =
    s"""WITH __b AS (
       |  SELECT $idCol, string_split($textExpr, chr(10)) AS ls FROM $table
       |), __i AS (
       |  SELECT $idCol, ls, unnest(range(1, len(ls) + 1)) AS pos FROM __b
       |), __l AS (
       |  SELECT $idCol, pos, ls[pos] AS line,
       |         (${charFoldSql("trim(ls[pos])")}
       |          + (${charFoldSql("trim(ls[pos])", CharMul2)} << 31)) AS h
       |  FROM __i
       |), __c AS (
       |  SELECT h FROM __l GROUP BY h HAVING count(DISTINCT $idCol) >= $minDocs
       |), __m AS (
       |  SELECT $idCol, pos, line, h IN (SELECT h FROM __c) AS rm FROM __l
       |)
       |SELECT $idCol, CAST(count(*) AS INTEGER) AS n_lines,
       |       CAST(count(*) FILTER (WHERE rm) AS INTEGER) AS n_removed,
       |       coalesce(string_agg(line, chr(10) ORDER BY pos)
       |                FILTER (WHERE NOT rm), '') AS clean_text
       |FROM __m GROUP BY $idCol""".stripMargin

  /** Oracle twin of [[boilerplateSuppress]] as ONE static statement:
    * registry counts from the `$registryPred` documents, the
    * `$batchPred` documents suppressed against registry + their own
    * batch counts. */
  def boilerplateSuppressSql(table: String, registryPred: String,
      batchPred: String, idCol: String, textExpr: String,
      minDocs: Int = 5): String =
    s"""WITH __rb AS (
       |  SELECT $idCol, string_split($textExpr, chr(10)) AS ls
       |  FROM $table WHERE $registryPred
       |), __ri AS (
       |  SELECT $idCol, ls, unnest(range(1, len(ls) + 1)) AS pos FROM __rb
       |), __rc AS (
       |  SELECT (${charFoldSql("trim(ls[pos])")}
       |          + (${charFoldSql("trim(ls[pos])", CharMul2)} << 31)) AS h,
       |         CAST(count(DISTINCT $idCol) AS BIGINT) AS cnt
       |  FROM __ri GROUP BY 1
       |), __bb AS (
       |  SELECT $idCol, string_split($textExpr, chr(10)) AS ls
       |  FROM $table WHERE $batchPred
       |), __bi AS (
       |  SELECT $idCol, ls, unnest(range(1, len(ls) + 1)) AS pos FROM __bb
       |), __bl AS (
       |  SELECT $idCol, pos, ls[pos] AS line,
       |         (${charFoldSql("trim(ls[pos])")}
       |          + (${charFoldSql("trim(ls[pos])", CharMul2)} << 31)) AS h
       |  FROM __bi
       |), __bc AS (
       |  SELECT h, CAST(count(DISTINCT $idCol) AS BIGINT) AS cnt FROM __bl GROUP BY h
       |), __c AS (
       |  SELECT b.h FROM __bc b LEFT JOIN __rc r ON b.h = r.h
       |  WHERE b.cnt + coalesce(r.cnt, 0) >= $minDocs
       |), __m AS (
       |  SELECT $idCol, pos, line, h IN (SELECT h FROM __c) AS rm FROM __bl
       |)
       |SELECT $idCol, CAST(count(*) AS INTEGER) AS n_lines,
       |       CAST(count(*) FILTER (WHERE rm) AS INTEGER) AS n_removed,
       |       coalesce(string_agg(line, chr(10) ORDER BY pos)
       |                FILTER (WHERE NOT rm), '') AS clean_text
       |FROM __m GROUP BY $idCol""".stripMargin

  // ---- Gopher document-level quality rules ------------------------------

  /** The Gopher stopword-presence list (Rae et al. 2021, A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-level quality rules (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * Appendix A1.1) — the published web-corpus gate, as per-rule audit
    * flags plus the composite verdict. Every threshold is evaluated as
    * a cross-multiplied INTEGER comparison (`n_bullet·10 < n_lines·9`,
    * `sum_len ≥ 3·n_words`, …), so there is no floating ratio anywhere
    * and the oracle is trivially cell-exact. Scan-shaped: one token
    * split + one line split per document, pure array lambdas, no
    * shuffle, no UDF.
    *
    * Rules (defaults from the paper): word count in [minWords,
    * maxWords]; mean word length in [3, 10]; symbol-to-word ratio
    * (`#` or `...`) ≤ 0.1; < 90% of lines start with a bullet; < 30%
    * of lines end with an ellipsis; ≥ 80% of words contain an
    * alphabetic character; ≥ 2 distinct stopwords present. */
  def gopherRules(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nW = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
    // symbol counts as length differences (see punctCount's rationale);
    // '...' is non-overlapping in both forms, so /3 is the match count
    val nSym = (length(text) - length(regexp_replace(text, "#", ""))) +
      ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("int")
    val lines = split(text, "\n")
    val nL = size(lines)
    val nBullet = size(filter(lines, l => l.rlike("^[-*•]")))
    val nEllip = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val nStop = size(filter(lit(GopherStopwords.toArray),
      s => array_contains(toks, s)))
    Seq(
      "n_words" -> nW,
      "r_wordcount" -> (nW >= minWords && nW <= maxWords),
      "r_wordlen" -> (sumLen >= nW * 3 && sumLen <= nW * 10),
      "r_symbol" -> (nSym * 10 <= nW),
      "r_bullet" -> (nBullet * 10 < nL * 9),
      "r_ellipsis" -> (nEllip * 10 < nL * 3),
      "r_alpha" -> (nAlpha * 5 >= nW * 4),
      "r_stop" -> (nStop >= 2))
  }

  /** DuckDB twin of [[gopherRules]]: identical splits, identical
    * integer cross-multiplications, identical anchored character-class
    * regexes (span-identical under Java regex and RE2 — same argument
    * as [[redactPii]]). */
  def gopherRulesSql(text: String, minWords: Int = 50,
      maxWords: Int = 100000): Map[String, String] = {
    val toks = tokensSql(text)
    val nW = s"len($toks)"
    val sumLen = s"list_reduce(list_prepend(0, list_transform($toks, __t -> length(__t))), (a, x) -> a + x)"
    val nSym = s"((length($text) - length(regexp_replace($text, '#', '', 'g'))) + " +
      s"(length($text) - length(regexp_replace($text, '\\.\\.\\.', '', 'g'))) // 3)"
    val lines = s"string_split($text, chr(10))"
    val nL = s"len($lines)"
    val nBullet = s"len(list_filter($lines, __l -> regexp_matches(__l, '^[-*•]')))"
    val nEllip = s"len(list_filter($lines, __l -> regexp_matches(__l, '\\.\\.\\.\\s*$$')))"
    val nAlpha = s"len(list_filter($toks, __t -> regexp_matches(__t, '[A-Za-z]')))"
    val stopList = GopherStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val nStop = s"len(list_filter($stopList, __s -> list_contains($toks, __s)))"
    Map(
      "n_words" -> s"CAST($nW AS INTEGER)",
      "r_wordcount" -> s"($nW >= $minWords AND $nW <= $maxWords)",
      "r_wordlen" -> s"($sumLen >= $nW * 3 AND $sumLen <= $nW * 10)",
      "r_symbol" -> s"($nSym * 10 <= $nW)",
      "r_bullet" -> s"($nBullet * 10 < $nL * 9)",
      "r_ellipsis" -> s"($nEllip * 10 < $nL * 3)",
      "r_alpha" -> s"($nAlpha * 5 >= $nW * 4)",
      "r_stop" -> s"($nStop >= 2)")
  }

  // ---- PII redaction ----------------------------------------------------

  /** Redaction patterns: emails, NNN-NNN-NNNN phone numbers, IPv4-shaped
    * dotted quads. Alternation-free character-class regexes on purpose:
    * Spark matches with Java's backtracking-greedy engine and DuckDB with
    * RE2's leftmost-longest engine, and for patterns of this shape (each
    * alternative-free, quantifiers over disjoint-enough classes) the two
    * disciplines select identical spans — which is what lets the redacted
    * TEXT itself be oracle-checked, not just the counts. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrub for a text column over an ordered class table of
    * (count column, regex, placeholder): per-class match counts (the
    * audit trail a redaction pass must emit) + the text with every
    * match replaced by its typed placeholder. Counts are measured on
    * the input text independently per class; replacement is
    * sequential in table order (identical order in the SQL twin). The
    * default [[PiiClasses]] is email → phone → IP; [[PiiClassesV2]] and
    * [[PiiClassesV3]] add classes. Scan-shaped: pure projections, no
    * shuffle, no UDF. */
  def redactPii(text: Column,
      classes: Seq[(String, String, String)] = PiiClasses): Seq[(String, Column)] =
    classes.map { case (n, re, _) => n -> size(regexp_extract_all(text, lit(re), lit(0))) } :+
      ("clean" -> classes.foldLeft(text) { case (t, (_, re, tag)) => regexp_replace(t, re, tag) })

  def redactPiiSql(text: String,
      classes: Seq[(String, String, String)] = PiiClasses): Map[String, String] =
    (classes.map { case (n, re, _) =>
      n -> s"CAST(len(regexp_extract_all($text, '$re')) AS INTEGER)"
    } :+ ("clean" -> ("regexp_replace(" * classes.size + text +
      classes.map { case (_, re, tag) => s", '$re', '$tag', 'g')" }.mkString))).toMap

  /** The `t_redact` class table: email → phone → IP. */
  val PiiClasses: Seq[(String, String, String)] = Seq(
    ("n_emails", EmailRe, "<EMAIL>"),
    ("n_phones", PhoneRe, "<PHONE>"),
    ("n_ips", Ipv4Re, "<IP>"))

  /** IBAN shape (ISO 13616 surface form, no checksum validation):
    * country code + 2 check digits + 10-30 alphanumerics. Uppercase
    * only — lowercase runs are prose, not account numbers. */
  val IbanRe = "[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}"

  /** E.164 international phone: '+', non-zero lead, 8-15 digits total.
    * Both new classes keep the [[redactPii]] engine-parity discipline:
    * alternation-free single-path patterns whose greedy class
    * quantifiers select the same span under Java's backtracking and
    * RE2's leftmost-longest (maximal munch over a character class with
    * nothing after it never backtracks) — additionally pinned by the
    * crafted adversarial rows `t_redact_v2` runs through BOTH engines:
    * boundary lengths ({10,30} clamp, 15-digit max, 16-digit overrun),
    * case sensitivity, and leading-zero rejection are oracle rows, not
    * just a span-equality argument. */
  val E164Re = "\\+[1-9][0-9]{7,14}"

  /** [[PiiClasses]] with the IBAN and E.164 classes added (the
    * `t_redact_v2` table). Counts are independent per class on the
    * INPUT text (v1 contract); replacement order email → iban → e164 →
    * phone → ip. Placeholders are uppercase-letter-only, so no earlier
    * replacement can create a later class's match. */
  val PiiClassesV2: Seq[(String, String, String)] = Seq(
    ("n_emails", EmailRe, "<EMAIL>"),
    ("n_ibans", IbanRe, "<IBAN>"),
    ("n_e164", E164Re, "<E164>"),
    ("n_phones", PhoneRe, "<PHONE>"),
    ("n_ips", Ipv4Re, "<IP>"))

  /** US Social Security number surface shape: 3-2-4 digit groups. The
    * group widths are disjoint from [[PhoneRe]]'s 3-3-4, so the two
    * classes can never claim the same span (boundary row 900011). No
    * area/group validity rules — this is span redaction, not
    * verification. */
  val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** UK National Insurance number surface shape: 2 letters, 6 digits,
    * 1 suffix letter, uppercase only (lowercase runs are prose — the
    * [[IbanRe]] argument). Fixed length, single path, class quantifiers
    * only: identical spans under Java backtracking and RE2
    * leftmost-longest. A NINO-prefixed run that also matches the longer
    * IBAN shape is counted by BOTH classes (v1 contract: counts are
    * independent per class on the input) and replaced by the earlier
    * IBAN pass (row 900014). */
  val NinoRe = "[A-Z]{2}[0-9]{6}[A-Z]"

  /** [[PiiClassesV2]] with the US-SSN and UK-NINO national-id classes
    * (the `t_redact_v3` table). Replacement order email → iban → nino →
    * e164 → ssn → phone → ip: iban before nino so the longer shape wins
    * the span; ssn/phone are shape-disjoint so their order is cosmetic.
    * Placeholders stay uppercase-letter-only — no pass can create a
    * later class's match ("<SSN>" contains no digits, "<NINO>" no digit
    * run). */
  val PiiClassesV3: Seq[(String, String, String)] = Seq(
    ("n_emails", EmailRe, "<EMAIL>"),
    ("n_ibans", IbanRe, "<IBAN>"),
    ("n_ninos", NinoRe, "<NINO>"),
    ("n_e164", E164Re, "<E164>"),
    ("n_ssns", SsnRe, "<SSN>"),
    ("n_phones", PhoneRe, "<PHONE>"),
    ("n_ips", Ipv4Re, "<IP>"))

  /** Adversarial PII rows for the `t_redact_v2` crafted-fixture oracle:
    * every boundary where the two regex engines COULD diverge is a row
    * both engines must agree on cell-exactly. Apostrophe-free so the
    * strings embed verbatim in a SQL VALUES list. */
  val CraftedPiiRows: Seq[(Long, String)] = Seq(
    900001L -> "Pay to DE89370400440532013000 today",
    900002L -> "iban de89370400440532013000 lowercase stays prose",
    900003L -> "GB82WEST12345698765432 starts the line",
    900004L -> "call +14155552671 or 415-555-2671 now",
    900005L -> "plus +0123456789 leading zero never matches",
    900006L -> "max +123456789012345 and beyond +1234567890123456 overruns",
    900007L -> "mail bob@example.com IBAN FR1420041010050500013M02606 ip 10.0.0.1",
    900008L -> "token XY99ABCDEF0123456789XYZ0987654321ABCD clamps at thirty",
    900009L -> "short AB12CDEF90 only six after the prefix never matches")

  /** Adversarial rows for the national-id classes, appended to
    * [[CraftedPiiRows]] by the `t_redact_v3` oracle: every boundary
    * where the engines could diverge — group-width confusion with the
    * dash phone, lowercase rejection, digit over/underrun, and the
    * NINO-prefix-of-IBAN span contest — is a row both engines must
    * agree on cell-exactly. */
  val CraftedPiiRowsV3: Seq[(Long, String)] = CraftedPiiRows ++ Seq(
    900010L -> "SSN 123-45-6789 filed today",
    900011L -> "not an SSN 415-555-2671 is a dash phone",
    900012L -> "NI number QQ123456C on file",
    900013L -> "lowercase qq123456c stays prose",
    900014L -> "run AB123456CDEF0123456789 is iban shaped with a nino prefix",
    900015L -> "short 123-45-678 never matches and 123-45-67890 overruns by one",
    900016L -> "AB1234567C has seven digits so it is no nino")

  // ---- token chunking ---------------------------------------------------

  /** Sliding-window token chunking: split each document's token stream
    * into training-window rows of `chunkSize` tokens overlapping by
    * `overlap` (stride = chunkSize − overlap). Chunk k starts at token
    * k·stride; a document of n > 0 tokens yields
    * 1 + ceil(max(0, n − chunkSize) / stride) chunks (the last may be
    * short); tokenless documents yield none. Pure explode — linear in
    * token count, shuffle-free until whatever consumes the chunks. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("chunk_id", explode(expr(
        s"sequence(0, (greatest(0, __n - $chunkSize) + ${stride - 1}) div $stride)")))
      .withColumn("chunk_id", col("chunk_id").cast("int"))
      .select(col(idCol), col("chunk_id"),
        expr(s"slice(__toks, chunk_id * $stride + 1, $chunkSize)").as("__c"))
      .select(col(idCol), col("chunk_id"),
        size(col("__c")).as("n_toks"),
        array_join(col("__c"), " ").as("chunk"))
  }

  /** DuckDB twin of [[chunkTokens]]: identical chunk-count arithmetic
    * (`//` floor division on non-negative ints ≡ Spark `div`), identical
    * 1-based inclusive slicing (both engines clamp at the list end). */
  def chunkTokensSql(table: String, id: String, text: String,
      chunkSize: Int, overlap: Int): String = {
    val stride = chunkSize - overlap
    s"SELECT $id, chunk_id, CAST(len(__c) AS INTEGER) AS n_toks, " +
      "array_to_string(__c, ' ') AS chunk FROM (" +
      s"SELECT $id, CAST(k AS INTEGER) AS chunk_id, " +
      s"list_slice(__toks, k * $stride + 1, k * $stride + $chunkSize) AS __c FROM (" +
      s"SELECT $id, __toks, unnest(range(0, " +
      s"(greatest(0, len(__toks) - $chunkSize) + ${stride - 1}) // $stride + 1)) AS k " +
      s"FROM (SELECT $id, ${tokensSql(text)} AS __toks FROM $table) " +
      "WHERE len(__toks) > 0))"
  }

  // ---- language ID ------------------------------------------------------

  /** Marker-token profiles (standard function-word n-gram heuristic).
    * Ordered: ties resolve to the earliest profile. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "es" -> Seq("el", "los", "las", "y", "que", "de"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo"))

  /** Predicted language: argmax of marker-token hit counts, first-profile
    * tie-break, 'und' (undetermined) when no marker hits at all. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(toks, t => array_contains(lit(markers.toArray), t)))
    }
    val best = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("und")) { case ((lang, c), acc) =>
      when(best > 0 && c === best, lit(lang)).otherwise(acc)
    } // foldRight keeps first-profile-wins order via otherwise chaining
  }

  /** [[langId]] with the intermediate token array and count vector bound
    * as real columns: the single-Column form re-evaluates the tokenize +
    * 5 marker scans inside every `when` branch (~25 splits per row);
    * staged columns make each stage evaluate exactly once. Semantics are
    * identical (array_position ties resolve to the first profile, same
    * as the foldRight chain). Prefer this on any real data path. */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String,
      out: String = "lang_pred"): org.apache.spark.sql.DataFrame = {
    val langs = array(LangProfiles.map(p => lit(p._1)): _*)
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__counts", array(LangProfiles.map { case (_, markers) =>
        size(filter(col("__toks"), t => array_contains(lit(markers.toArray), t)))
      }: _*))
      .withColumn(out,
        when(array_max(col("__counts")) > 0,
          element_at(langs,
            array_position(col("__counts"), array_max(col("__counts"))).cast("int")))
          .otherwise(lit("und")))
      .drop("__toks", "__counts")
  }

  def langIdSql(text: String): String = {
    val toks = tokensSql(text)
    def cnt(markers: Seq[String]) =
      s"len(list_filter($toks, t -> list_contains(${markers.map(m => s"'$m'").mkString("[", ", ", "]")}, t)))"
    val counts = LangProfiles.map { case (l, m) => l -> cnt(m) }
    val best = s"greatest(${counts.map(_._2).mkString(", ")})"
    val cases = counts.map { case (l, c) => s"WHEN $best > 0 AND $c = $best THEN '$l'" }
    s"CASE ${cases.mkString(" ")} ELSE 'und' END"
  }

  /** Deterministic weighted interleave schedule — the training
    * dataloader's ORDER, complementing [[temperatureSample]] (which
    * decides how much of each source) by deciding WHEN each document
    * surfaces: source s with integer weight w emits its r-th document
    * at virtual time (r · 2^20) div w, the classic weighted-fair-
    * queueing / stride-scheduling timeline — heavier sources emit
    * proportionally more often, and the mix stays smooth from step one
    * (no source-sized runs, which destabilize training).
    *
    * Intra-source order is the reproducible salted-hash shuffle
    * ([[shardAssignment]]'s discipline); vtime is exact BIGINT floor
    * division. The consumer sorts by (vtime, source, id) — the operator
    * itself is ONE row_number window per source partition, no global
    * sort.
    *
    * Scale shape: one hash shuffle on source + a linear rank pass;
    * everything after is a pure projection. */
  def interleaveSchedule(df: org.apache.spark.sql.DataFrame, idCol: String,
      sourceCol: String, weights: Seq[(String, Int)],
      defaultWeight: Int = 1): org.apache.spark.sql.DataFrame = {
    require(weights.forall(_._2 >= 1) && defaultWeight >= 1,
      "weights must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy(col("__h"), col(idCol))
    val wt = weights.foldRight(lit(defaultWeight)) { case ((s, k), acc) =>
      when(col(sourceCol) === s, lit(k)).otherwise(acc)
    }
    df.select(col(idCol), col(sourceCol),
        col(idCol).cast("string").as("__id_s"))
      .withColumn("__h", tokenHash("__id_s"))
      .withColumn("intra_rank", row_number().over(w).cast("long"))
      .withColumn("weight", wt.cast("long"))
      .withColumn("vtime", expr("(intra_rank * 1048576) div weight"))
      .select(col(idCol), col(sourceCol), col("intra_rank"), col("weight"), col("vtime"))
  }

  /** Oracle twin of [[interleaveSchedule]]: same salted-hash intra-source
    * order, same stride arithmetic. */
  def interleaveScheduleSql(table: String, id: String, source: String,
      weights: Seq[(String, Int)], defaultWeight: Int = 1): String = {
    val cases = weights.map { case (s, k) => s"WHEN $source = '$s' THEN $k" }
      .mkString(" ")
    s"""WITH __r AS (
       |  SELECT $id, $source,
       |         CAST(row_number() OVER (PARTITION BY $source
       |           ORDER BY ${tokenHashSql(s"CAST($id AS VARCHAR)")}, $id) AS BIGINT) AS intra_rank,
       |         CAST(CASE $cases ELSE $defaultWeight END AS BIGINT) AS weight
       |  FROM $table
       |)
       |SELECT $id, $source, intra_rank, weight,
       |       (intra_rank * 1048576) // weight AS vtime
       |FROM __r""".stripMargin
  }

  /** Per-document token-distribution Shannon entropy — the
    * repetitive-garbage detector (spam keyword stuffing and template
    * boilerplate sit near 0 bits; natural prose sits near log2 of its
    * vocabulary): H = Σ (c/n)·log2(n/c) over the doc's token counts.
    *
    * A libm-log formulation would be engine-divergent; instead the
    * scaled-integer log2 ([[ilog2ScaledExpr]], the perplexity
    * machinery) makes the entropy numerator an exact BIGINT via the
    * identity Σ c·(L(n) − L(c)) = n·L(n) − Σ c·L(c), and bits/token is
    * ONE double division at the end — cell-exact through any engine.
    *
    * Scale shape: one token explode (linear), one (doc, token) count,
    * one per-doc combinable aggregate. Output one row per non-empty
    * doc: (id, n_tokens, n_distinct, h_q, h_bits). */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("__cl", expr(s"c * ${ilog2ScaledExpr("c")}"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("__cl")).as("__scl"))
      .withColumn("h_q",
        expr(s"n_tokens * ${ilog2ScaledExpr("n_tokens")}") - col("__scl"))
      .withColumn("h_bits",
        col("h_q").cast("double") / (col("n_tokens").cast("double") * 1024.0))
      .select(col(idCol), col("n_tokens"), col("n_distinct"), col("h_q"), col("h_bits"))
  }

  /** Oracle twin of [[tokenEntropy]]: same counts, same scaled-integer
    * log2, same single division. */
  def tokenEntropySql(table: String, idCol: String, textCol: String): String =
    s"""WITH __tc AS (
       |  SELECT $idCol, tok, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT $idCol, unnest(${tokensSql(textCol)}) AS tok FROM $table
       |  ) GROUP BY $idCol, tok
       |), __d AS (
       |  SELECT $idCol, CAST(sum(c) AS BIGINT) AS n_tokens,
       |         CAST(count(*) AS BIGINT) AS n_distinct,
       |         CAST(sum(c * ${ilog2ScaledSql("c")}) AS BIGINT) AS scl
       |  FROM __tc GROUP BY $idCol
       |)
       |SELECT $idCol, n_tokens, n_distinct,
       |       n_tokens * ${ilog2ScaledSql("n_tokens")} - scl AS h_q,
       |       CAST(n_tokens * ${ilog2ScaledSql("n_tokens")} - scl AS DOUBLE)
       |         / (CAST(n_tokens AS DOUBLE) * 1024.0) AS h_bits
       |FROM __d""".stripMargin

  /** First-iteration BPE merge candidates (Sennrich et al., ACL 2016):
    * the top-k most frequent ADJACENT character pairs, weighted by word
    * frequency — the statistic a tokenizer-vocab induction run computes
    * over the corpus before each merge. Within-word repeats count per
    * occurrence ("aaa" contributes "aa" twice), the standard BPE count.
    *
    * Scale shape: the corpus is touched by exactly ONE map-side-
    * combinable word-count groupBy (corpus → vocab-sized); the pair
    * explode and everything after runs over the VOCAB table, so a 100 TB
    * corpus costs one combinable pass + vocab-scale work. Counts are
    * exact BIGINTs; ties break on the pair string. */
  def bpePairCandidates(docs: org.apache.spark.sql.DataFrame,
      textCol: String, k: Int = 20): org.apache.spark.sql.DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__wc"))
    words.filter(length(col("w")) >= 2)
      .select(col("__wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), __i -> substring(w, __i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("__wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Oracle twin of [[bpePairCandidates]]: same word counts, same
    * adjacent-pair explode over the vocab, same (n DESC, pair) top-k. */
  def bpePairCandidatesSql(table: String, textCol: String, k: Int = 20): String =
    s"""WITH __w AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(${tokensSql(textCol)}) AS w FROM $table
       |  ) GROUP BY w
       |), __p AS (
       |  SELECT wc, unnest(list_transform(range(1, length(w)), __i -> substr(w, __i, 2))) AS pair
       |  FROM __w WHERE length(w) >= 2
       |)
       |SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM __p
       |GROUP BY pair ORDER BY n DESC, pair LIMIT $k""".stripMargin
}
