package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Probabilistic sketches as DISTRIBUTED AGGREGATIONS (the "novel
  * sketch" operator class): Count-Min for frequency estimation and
  * HyperLogLog for distinct counting.
  *
  * Both are deterministic functions of the input multiset — counters are
  * exact integer sums, registers are exact integer maxima — so unlike
  * typical sketch libraries these are cell-exact ORACLE-CHECKABLE, and
  * the HLL estimate itself is bit-exact too (the harmonic sum adds 2^-r
  * terms, all exactly representable, so even its double arithmetic is
  * order-free).
  *
  * Scale shape: one explode + one map-side-combinable groupBy each; the
  * sketch is CONSTANT-SIZE (d×w counters / m registers) regardless of
  * input rows, and two sketches built on different partitions of the
  * data merge by counter addition / register max — the property that
  * makes them the standard 100 TB cardinality/frequency tools. The
  * hashes reuse [[TextOps.tokenHash]] (the codegen'd PolyHash) so every
  * slot decision has a bit-identical SQL twin.
  */
object Sketches {

  /** Pairwise-independent-ish row hash parameters (a, b) for the CMS
    * rows: slot_i = ((h * a_i + b_i) mod P) mod w. Shared with the SQL
    * twin verbatim. */
  val CmsRowParams: Seq[(Long, Long)] = Seq(
    (31L, 11L), (37L, 101L), (41L, 1009L), (43L, 10007L))

  /** Count-Min sketch of token frequencies: (row, slot, count) with
    * d = CmsRowParams.size rows and `width` slots — counts are EXACT
    * integer sums, so the sketch (not just its estimates) is
    * oracle-checkable. One token explode, one groupBy; rows output:
    * d × width regardless of corpus size. */
  def countMinTokens(df: DataFrame, textCol: String, width: Int): DataFrame = {
    val toks = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextOps.tokenHash("tok"))
    val rows = array(CmsRowParams.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"),
        (((col("h") * a + b) % TextOps.P) % width).as("slot"))
    }: _*)
    toks.select(explode(rows).as("rs"))
      .select(col("rs.row").as("row"), col("rs.slot").as("slot"))
      .groupBy("row", "slot").agg(count(lit(1)).as("n"))
  }

  /** Oracle twin for [[countMinTokens]]. */
  def countMinTokensSql(table: String, textCol: String, width: Int): String = {
    val h = TextOps.tokenHashSql("tok")
    val rows = CmsRowParams.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT ((h * $a + $b) % ${TextOps.P}) % $width AS slot, $i AS row FROM __h"
    }.mkString(" UNION ALL ")
    s"""WITH __t AS (SELECT unnest(${TextOps.tokensSql(textCol)}) AS tok FROM $table),
       |__h AS (SELECT $h AS h FROM __t),
       |__s AS ($rows)
       |SELECT row, slot, count(*) AS n FROM __s GROUP BY row, slot""".stripMargin
  }

  /** Point estimates from a Count-Min sketch: for each probe token,
    * est = min over rows of the counter at its slot — always >= the true
    * count (the CMS guarantee, asserted in the spec). `cms` is the
    * output of [[countMinTokens]]; probes is (tok) rows. The sketch is
    * d×w rows → broadcast to the probe side. */
  def countMinEstimate(cms: DataFrame, probes: DataFrame, width: Int): DataFrame = {
    val withSlots = probes.withColumn("h", TextOps.tokenHash("tok"))
      .withColumn("rs", explode(array(CmsRowParams.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("row"), (((col("h") * a + b) % TextOps.P) % width).as("slot"))
      }: _*)))
      .select(col("tok"), col("rs.row").as("row"), col("rs.slot").as("slot"))
    withSlots.join(broadcast(cms), Seq("row", "slot"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /** Bloom filter over the corpus vocabulary: the DISTINCT set of bits
    * hit by k = CmsRowParams.size hash functions into an `mBits`-slot
    * array. Output is the set bits as rows (slot ASC) — a deterministic
    * set, so the filter itself is oracle-checkable. Merge = set union.
    * One explode + one distinct; constant-size output. */
  def bloomSlots(df: DataFrame, textCol: String, mBits: Int): DataFrame = {
    val toks = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextOps.tokenHash("tok"))
    val slots = array(CmsRowParams.map { case (a, b) =>
      ((col("h") * a + b) % TextOps.P) % mBits
    }: _*)
    toks.select(explode(slots).as("slot")).distinct()
  }

  def bloomSlotsSql(table: String, textCol: String, mBits: Int): String = {
    val h = TextOps.tokenHashSql("tok")
    val rows = CmsRowParams.map { case (a, b) =>
      s"SELECT ((h * $a + $b) % ${TextOps.P}) % $mBits AS slot FROM __h"
    }.mkString(" UNION ALL ")
    s"""WITH __t AS (SELECT unnest(${TextOps.tokensSql(textCol)}) AS tok FROM $table),
       |__h AS (SELECT $h AS h FROM __t)
       |SELECT DISTINCT slot FROM ($rows)""".stripMargin
  }

  /** Membership probe: a token is reported present iff ALL k of its
    * slots are set — may false-positive, can never false-negative (the
    * Bloom guarantee, asserted in the spec and visible in the probe
    * query's `ok` column). The filter is sketch-sized → broadcast. */
  def bloomContains(bloom: DataFrame, probes: DataFrame, mBits: Int): DataFrame = {
    val k = CmsRowParams.size
    val withSlots = probes.withColumn("h", TextOps.tokenHash("tok"))
      .withColumn("slot", explode(array(CmsRowParams.map { case (a, b) =>
        ((col("h") * a + b) % TextOps.P) % mBits
      }: _*)))
    withSlots
      .join(broadcast(bloom.withColumn("__set", lit(1))), Seq("slot"), "left")
      .groupBy("tok")
      .agg((sum(coalesce(col("__set"), lit(0))) === k).as("in_bloom"))
  }

  /** Knuth's multiplicative constant: the leading-zero estimator needs
    * avalanche-mixed bits, and a polynomial string hash of similar-length
    * inputs occupies a narrow band (near-constant bit length → useless
    * registers). `(h * A) mod 2^31` wraps the band tens of millions of
    * times, spreading the quotient uniformly; products stay < 2^63 so
    * the arithmetic is exact in both engines. */
  val HllMixA = 2654435761L
  val HllMixMod = 2147483648L // 2^31

  /** HyperLogLog registers over a hash column `h` in [0, 2^31):
    * mix → bucket = h' mod m, register = leading zeros of the quotient's
    * (31 - log2 m)-bit representation + 1. The bit length comes from
    * `length(bin(q))` — pure integer/string arithmetic (a float log2
    * would round 30.0 to 29.999… differently per engine at power-of-two
    * boundaries). Registers are integer maxima: exact, mergeable,
    * order-free. Input needs no distinct — max is idempotent, which is
    * the whole HLL trick. `m` must be a power of two.
    *
    * `groupCols` keeps ONE register set per group key — the
    * windowed/dashboard shape ("distinct users per (hour, event type)"):
    * the group key simply joins the bucket in the groupBy, so a 100 TB
    * stream aggregates map-side into (groups × m) rows total, and
    * per-group sketches merge by register max exactly like the global
    * one. No group columns is the global sketch. */
  def hllRegisters(hashed: DataFrame, m: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    val quotBits = 31 - Integer.numberOfTrailingZeros(m)
    val mixed = (col("h") * HllMixA) % HllMixMod
    val quot = floor(mixed / m).cast("long") // exact: m a power of two
    val rho = when(quot === 0, lit(quotBits + 1))
      .otherwise(lit(quotBits + 1) - length(bin(quot)))
    hashed.select(groupCols.map(col) :+ (mixed % m).as("bucket") :+ rho.cast("int").as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("register"))
  }

  /** HLL distinct-count estimate from [[hllRegisters]] output, with the
    * standard alpha_m bias correction — one estimate per `groupCols`
    * key, or one global row with no group columns. All 2^-r terms are
    * exact powers of two, so the harmonic sum is order-free and the
    * estimate is bit-identical across engines. Buckets that never
    * received a value contribute 2^0 (register 0). */
  def hllEstimate(registers: DataFrame, m: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(sum(pow(lit(2.0), -col("register"))).as("__sum"),
        count(lit(1)).as("__nonEmpty"))
      .select(groupCols.map(col) :+
        ((lit(alpha) * m * m /
          (col("__sum") + (lit(m) - col("__nonEmpty")))).as("estimate")): _*)
  }

  /** Oracle twin for [[hllEstimate]]: the alpha constant is rendered
    * from the SAME Scala double (shortest round-trip repr), and the
    * expression order matches the Column form operator for operator. */
  def hllEstimateSql(registersSql: String, m: Int,
      groupCols: Seq[String] = Nil): String = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val g = groupCols.map(_ + ", ").mkString
    // explicit DOUBLE: DuckDB would otherwise type the literal DECIMAL
    // and overflow the * m * m product
    s"SELECT ${g}CAST($alpha AS DOUBLE) * $m * $m / (sum(pow(2.0, -register)) + ($m - count(*))) AS estimate " +
      s"FROM ($registersSql)" +
      (if (groupCols.isEmpty) "" else s" GROUP BY ${groupCols.mkString(", ")}")
  }

  /** Oracle twin for [[hllRegisters]]: same expressions, same order. */
  def hllRegistersSql(hashedSql: String, m: Int,
      groupCols: Seq[String] = Nil): String = {
    val quotBits = 31 - Integer.numberOfTrailingZeros(m)
    val mixed = s"((h * $HllMixA) % $HllMixMod)"
    val quot = s"CAST(floor($mixed / $m) AS BIGINT)"
    val g = groupCols.map(_ + ", ").mkString
    s"""SELECT $g$mixed % $m AS bucket,
       |       CAST(max(CASE WHEN $quot = 0 THEN ${quotBits + 1}
       |                ELSE ${quotBits + 1} - length(bin($quot))
       |           END) AS INTEGER) AS register
       |FROM ($hashedSql) GROUP BY $g$mixed % $m""".stripMargin
  }

  /** Approximate quantiles from an equi-width histogram — the mergeable
    * quantile sketch (bin counts add across partitions/partial sketches,
    * exactly like CMS counters; error is bounded by one bin width).
    * Two passes: a (min, max, n) aggregate fixes the bin boundaries,
    * then one map-side-combinable count per bin; the quantile walk runs
    * on the BINS-row cumulative table, never the data. Exact `percentile`
    * needs a full sort of every group — this reads the data twice
    * sequentially and shuffles only `bins` integers, the standard
    * 100 TB quantile trade. Deterministic (integer counts + fixed-order
    * double arithmetic) → cell-exact oracle like the other sketches.
    * Returns (q, estimate) per requested quantile, linearly interpolated
    * inside the covering bin.
    *
    * `groupCols` gives per-group bin boundaries and per-group quantile
    * walks (daily/monthly latency percentiles, the monitoring shape):
    * the per-group (lo, hi, n) table joins on the group key and the
    * cumulative walk partitions by it over the (groups × bins)-row
    * table. No group columns is the global sketch: the 1-row
    * (lo, hi, n) side then joins with no key, as a broadcast. */
  def histogramQuantiles(df: DataFrame, valueCol: String, bins: Int,
      qs: Seq[Double], groupCols: Seq[String] = Nil): DataFrame = {
    require(bins > 0 && qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    val v = col(valueCol).cast("double")
    val mm = df.groupBy(groupCols.map(col): _*)
      .agg(min(v).as("lo"), max(v).as("hi"), count(v).as("n"))
    val width = (col("hi") - col("lo")) / bins
    // NULLs are excluded from n = count(v); binning them would create a
    // NULL bin that the NULLS-FIRST cumulative window counts ahead of
    // every real bin, shifting every estimate — filter before binning.
    val counts = df.select(groupCols.map(col) :+ v.as("__v"): _*)
      .filter(col("__v").isNotNull)
      .join(mm, groupCols)
      .select(groupCols.map(col) :+
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(floor((col("__v") - col("lo")) / width).cast("int"),
            lit(bins - 1))).as("bin"): _*)
      .groupBy(groupCols.map(col) :+ col("bin"): _*).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // 1-based rank, floored at 1: q = 0 means "the minimum" (rank 1) —
    // a plain q*n rank of 0 satisfies no bin's (cum_before < r) and the
    // quantile would silently vanish from the output
    val r = greatest(col("q") * col("n").cast("double"), lit(1.0))
    counts.withColumn("cum", sum(col("c")).over(w)) // (groups ×) bins rows: tiny window
      .join(mm, groupCols)
      .withColumn("q", explode(array(qs.map(lit): _*)))
      // the covering bin: first whose cumulative count reaches rank q*n
      .filter(col("cum").cast("double") >= r &&
        (col("cum") - col("c")).cast("double") < r)
      .select(groupCols.map(col) :+ col("q") :+
        ((col("lo") + col("bin").cast("double") * width +
          ((r - (col("cum") - col("c")).cast("double")) / col("c").cast("double")) * width)
          .as("estimate")): _*)
  }

  /** Oracle twin for [[histogramQuantiles]]: same binning, same
    * cumulative walk, same interpolation expression order, grouped by
    * `groupCols` (none: the global form). Quantile literals are CAST AS
    * DOUBLE (DuckDB types bare float literals DECIMAL); the window cum
    * is cast back to BIGINT (DuckDB sums BIGINT into HUGEINT). */
  def histogramQuantilesSql(table: String, valueCol: String, bins: Int,
      qs: Seq[Double], groupCols: Seq[String] = Nil): String = {
    val qList = qs.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
    val width = s"((hi - lo) / $bins)"
    val rank = "greatest(q * CAST(n AS DOUBLE), CAST(1 AS DOUBLE))"
    val gl = groupCols.mkString(", ")
    val g = groupCols.map(_ + ", ").mkString
    val (groupBy, joinMm, cum) =
      if (groupCols.isEmpty) ("", "CROSS JOIN __mm",
        "SELECT bin, c, CAST(sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM __c")
      else (s" GROUP BY $gl", s"JOIN __mm USING ($gl)",
        s"""SELECT ${g}bin, c,
           |         CAST(sum(c) OVER (PARTITION BY $gl ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM __c""".stripMargin)
    s"""WITH __mm AS (
       |  SELECT ${g}min(CAST($valueCol AS DOUBLE)) AS lo, max(CAST($valueCol AS DOUBLE)) AS hi,
       |         count($valueCol) AS n FROM $table$groupBy
       |), __b AS (
       |  SELECT ${g}CASE WHEN hi = lo THEN 0
       |         ELSE least(CAST(floor((CAST($valueCol AS DOUBLE) - lo) / $width) AS INTEGER), ${bins - 1})
       |         END AS bin
       |  FROM $table $joinMm
       |  WHERE $valueCol IS NOT NULL
       |), __c AS (
       |  SELECT ${g}bin, count(*) AS c FROM __b GROUP BY ${g}bin
       |), __cum AS (
       |  $cum
       |), __q AS (SELECT unnest([$qList]) AS q)
       |SELECT ${g}q, lo + CAST(bin AS DOUBLE) * $width +
       |       (($rank - CAST(cum - c AS DOUBLE)) / CAST(c AS DOUBLE)) * $width AS estimate
       |FROM __cum $joinMm CROSS JOIN __q
       |WHERE CAST(cum AS DOUBLE) >= $rank
       |  AND CAST(cum - c AS DOUBLE) < $rank""".stripMargin
  }

  // ---- KMV (k minimum values) distinct sketch ----------------------------

  /** KMV sketch per group (Bar-Yossef et al., RANDOM 2002): the k
    * smallest DISTINCT n-gram shingle hashes of the group's documents.
    * Like the CMS/HLL above, the sketch is a deterministic function of
    * the input SET — exact integer minima under the shared PolyHash — so
    * the sketch, its distinct estimate, AND the pairwise set-overlap
    * estimates are all cell-exact oracle-checkable.
    *
    * Scale shape: one shingle explode + one (group, hash) distinct
    * (map-side combinable), then a k-bounded rank per group
    * (WindowGroupLimit prunes to k rows per group before any sort
    * materializes). Output is #groups × k rows regardless of corpus
    * size, and two KMV sketches merge as "union, keep k smallest" — the
    * mergeability that lets 1000 executors sketch shards of 100 TB and
    * combine the results at catalog size. */
  def kmvSketch(df: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("h")
    kmvHashes(df, groupCol, textCol, n)
      .withColumnRenamed("__g", groupCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Distinct-count estimate from a [[kmvSketch]]: the classic
    * (k−1)·|H| / h_k when the sketch is full (h_k = largest retained
    * hash, |H| = PolyHash space = P), the EXACT sketch size when the
    * group has fewer than k distinct values (the sketch IS the set).
    * Integer division keeps both engines bit-identical. */
  def kmvEstimate(sketch: DataFrame, groupCol: String, k: Int): DataFrame =
    sketch.groupBy(groupCol)
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(s"${(k - 1).toLong * TextOps.P} div kth_hash")))

  /** Pairwise set-overlap estimates between every two groups, straight
    * from the sketches — the "how much do crawl A and crawl B overlap"
    * question answered WITHOUT ever joining the corpora: per pair, the
    * union sketch is the k smallest of the merged hash sets, the match
    * count is how many of those appear in both sketches, jaccard_est =
    * matches / |union sketch|, and the intersection estimate rescales
    * the union estimate by the same ratio in pure integer arithmetic.
    * Everything here operates on #groups² × k rows — catalog-sized by
    * construction, independent of corpus size. */
  def kmvJaccardPairs(sketch: DataFrame, groupCol: String, k: Int): DataFrame = {
    val s = sketch.select(col(groupCol).as("__g"), col("h"))
    val groups = s.select("__g").distinct()
    val pairs = groups.select(col("__g").as("ga"))
      .join(groups.select(col("__g").as("gb")), col("ga") < col("gb"))
    val sa = pairs.join(s.withColumnRenamed("__g", "ga"), Seq("ga"))
      .select("ga", "gb", "h")
    val sb = pairs.join(s.withColumnRenamed("__g", "gb"), Seq("gb"))
      .select("ga", "gb", "h")
    val merged = sa.unionByName(sb)
      .groupBy("ga", "gb", "h").agg(count(lit(1)).as("__sides"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ga", "gb").orderBy("h")
    merged.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_union_sketch"),
        sum(when(col("__sides") === 2, 1L).otherwise(0L)).as("n_common"),
        max(col("h")).as("__kth"))
      .withColumn("est_union",
        when(col("n_union_sketch") < k, col("n_union_sketch"))
          .otherwise(expr(s"${(k - 1).toLong * TextOps.P} div __kth")))
      .withColumn("est_intersection",
        expr("(n_common * est_union) div n_union_sketch"))
      .withColumn("jaccard_est",
        col("n_common").cast("double") / col("n_union_sketch").cast("double"))
      .select("ga", "gb", "n_union_sketch", "n_common", "est_union",
        "est_intersection", "jaccard_est")
  }

  /** Distinct (group, shingle-hash) pairs — the set both the sketch and
    * the exact evaluation columns derive from. The raw PolyHash of a
    * SHORT string is small (a c-char fold is < 31^c·128, nowhere near
    * P), which would wreck the (k−1)·P/h_k estimator's uniformity
    * assumption — so the fold is square-mixed, (h²+h) mod P, the same
    * fix the temperature-sampling rate buckets needed. h < 2^31 keeps
    * h²+h < 2^63: overflow-free in both engines. */
  private def kmvHashes(df: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(groupCol).as("__g"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("__g"), explode(TextOps.shinglesFromTokens(col("__toks"), n)).as("sh"))
      .select(col("__g"), TextOps.tokenHash("sh").as("__h0"))
      .select(col("__g"),
        ((col("__h0") * col("__h0") + col("__h0")) % TextOps.P).as("h"))
      .distinct()

  /** [[kmvEstimate]] joined with the exact per-group distinct count —
    * the oracle-facing evaluation form (est vs truth side by side). */
  def kmvDistinctEval(df: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val est = kmvEstimate(kmvSketch(df, groupCol, textCol, n, k), groupCol, k)
    val exact = kmvHashes(df, groupCol, textCol, n)
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, Seq(groupCol))
      .select(groupCol, "n_sketch", "kth_hash", "est_distinct", "exact_distinct")
  }

  /** [[kmvJaccardPairs]] joined with the TRUE per-pair jaccard from the
    * full distinct-hash sets (hash equi-join — never pairwise in docs). */
  def kmvOverlapEval(df: DataFrame, groupCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val est = kmvJaccardPairs(kmvSketch(df, groupCol, textCol, n, k), groupCol, k)
    val kh = kmvHashes(df, groupCol, textCol, n)
    val da = kh.groupBy(col("__g").as("ga")).agg(count(lit(1)).as("__da"))
    val db = kh.groupBy(col("__g").as("gb")).agg(count(lit(1)).as("__db"))
    val ix = kh.as("a").join(kh.as("b"),
        col("a.h") === col("b.h") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("ga"), col("b.__g").as("gb"))
      .agg(count(lit(1)).as("__ix"))
    est.join(da, Seq("ga")).join(db, Seq("gb"))
      .join(ix, Seq("ga", "gb"), "left")
      .withColumn("true_jaccard",
        coalesce(col("__ix"), lit(0L)).cast("double") /
          (col("__da") + col("__db") - coalesce(col("__ix"), lit(0L))).cast("double"))
      .select("ga", "gb", "n_union_sketch", "n_common", "est_union",
        "est_intersection", "jaccard_est", "true_jaccard")
  }

  /** Merge per-shard KMV sketches: union, dedupe (the same hash can be
    * in several shards' k-minima), keep the k smallest per group — the
    * operation that lets every executor sketch its shard independently
    * and a reducer combine them at catalog size. The merge law
    * (merged == sketch of the union) is both spec-pinned and verified
    * through the k_kmv_merge oracle, whose DuckDB twin sketches the
    * whole corpus directly. */
  def kmvMerge(sketches: DataFrame, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("h")
    sketches.select(col(groupCol), col("h")).distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** [[kmvDistinctEval]] with the estimate built from TWO per-shard
    * sketches merged via [[kmvMerge]] — output-identical to the direct
    * form by the merge law, so the shared oracle statement (the direct
    * whole-corpus sketch) verifies distributed sketching end to end. */
  def kmvDistinctEvalSharded(df: DataFrame, shardCol: Column,
      groupCol: String, textCol: String, n: Int, k: Int): DataFrame = {
    val shards = Seq(0, 1).map(i =>
      kmvSketch(df.filter(shardCol === i), groupCol, textCol, n, k))
    val est = kmvEstimate(
      kmvMerge(shards(0).unionByName(shards(1)), groupCol, k), groupCol, k)
    val exact = kmvHashes(df, groupCol, textCol, n)
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, Seq(groupCol))
      .select(groupCol, "n_sketch", "kth_hash", "est_distinct", "exact_distinct")
  }

  /** Shared CTE for the KMV oracle twins: distinct (group, shingle-hash)
    * pairs, then the per-group k-minimum ranks. */
  def kmvSketchCtes(table: String, group: String, text: String,
      n: Int, k: Int): String = {
    val sh = TextOps.shinglesSql(text, n)
    val h = TextOps.tokenHashSql("sh")
    s"""__kh AS (SELECT DISTINCT g, (h0 * h0 + h0) % ${TextOps.P} AS h FROM
       |  (SELECT g, $h AS h0 FROM
       |    (SELECT $group AS g, unnest($sh) AS sh FROM $table))),
       |__sk AS (SELECT g, h FROM
       |  (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r FROM __kh)
       |  WHERE r <= $k)""".stripMargin
  }

  /** Oracle twin of [[kmvSketch]] + [[kmvEstimate]] joined with the
    * exact per-group distinct count (the evaluation column). */
  def kmvEstimateSql(table: String, group: String, text: String,
      n: Int, k: Int): String =
    s"""WITH ${kmvSketchCtes(table, group, text, n, k)},
       |__e AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS kth_hash
       |        FROM __sk GROUP BY g),
       |__x AS (SELECT g, CAST(count(*) AS BIGINT) AS exact_distinct FROM __kh GROUP BY g)
       |SELECT e.g AS $group, e.n_sketch, e.kth_hash,
       |       CASE WHEN e.n_sketch < $k THEN e.n_sketch
       |            ELSE ${(k - 1).toLong * TextOps.P} // e.kth_hash END AS est_distinct,
       |       x.exact_distinct
       |FROM __e e JOIN __x x ON x.g = e.g""".stripMargin

  /** Oracle twin of [[kmvJaccardPairs]], plus the TRUE jaccard per pair
    * from the full distinct-hash sets (equi-join on hash — the
    * d_contam_matrix shape, never pairwise in documents). */
  def kmvJaccardPairsSql(table: String, group: String, text: String,
      n: Int, k: Int): String =
    s"""WITH ${kmvSketchCtes(table, group, text, n, k)},
       |__gs AS (SELECT DISTINCT g FROM __sk),
       |__pr AS (SELECT x.g AS ga, y.g AS gb FROM __gs x JOIN __gs y ON x.g < y.g),
       |__m AS (SELECT ga, gb, h, count(*) AS sides FROM (
       |    SELECT p.ga, p.gb, s.h FROM __pr p JOIN __sk s ON s.g = p.ga
       |    UNION ALL
       |    SELECT p.ga, p.gb, s.h FROM __pr p JOIN __sk s ON s.g = p.gb)
       |  GROUP BY ga, gb, h),
       |__u AS (SELECT ga, gb, h, sides,
       |        row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r FROM __m),
       |__agg AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_union_sketch,
       |        CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |        max(h) AS kth FROM __u WHERE r <= $k GROUP BY ga, gb),
       |__est AS (SELECT ga, gb, n_union_sketch, n_common,
       |        CASE WHEN n_union_sketch < $k THEN n_union_sketch
       |             ELSE ${(k - 1).toLong * TextOps.P} // kth END AS est_union
       |        FROM __agg),
       |__da AS (SELECT g, CAST(count(*) AS BIGINT) AS d FROM __kh GROUP BY g),
       |__ix AS (SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS inter
       |         FROM __kh a JOIN __kh b ON a.h = b.h AND a.g < b.g GROUP BY 1, 2)
       |SELECT e.ga, e.gb, e.n_union_sketch, e.n_common, e.est_union,
       |       (e.n_common * e.est_union) // e.n_union_sketch AS est_intersection,
       |       CAST(e.n_common AS DOUBLE) / CAST(e.n_union_sketch AS DOUBLE) AS jaccard_est,
       |       CAST(coalesce(i.inter, 0) AS DOUBLE) /
       |         CAST(da.d + db.d - coalesce(i.inter, 0) AS DOUBLE) AS true_jaccard
       |FROM __est e
       |JOIN __da da ON da.g = e.ga
       |JOIN __da db ON db.g = e.gb
       |LEFT JOIN __ix i ON i.ga = e.ga AND i.gb = e.gb""".stripMargin
}
