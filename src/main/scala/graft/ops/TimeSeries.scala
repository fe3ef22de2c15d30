package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series resampling for the tall archive (SURVEY.md §2.9 T1).
  *
  * The reference never interpolates itself — it asks the PI Web API for a
  * pre-interpolated 1-minute grid (`interval=1m`, reference
  * `src/pi/extraction/ingest.py:236,267`) and stores the result. When the
  * engine owns the raw points, that source capability becomes this
  * operator: align every series to a fixed grid, linearly interpolating
  * between the bracketing observations.
  *
  * Scale shape: NO range join and no per-key collect. Grid rows are
  * generated per attribute from its (min, max) epoch (one tiny aggregate,
  * then a `sequence` explode — rows proportional to the output), unioned
  * with the observations, and one window sorted by (epoch, side) carries
  * the previous/next observation to each grid row — linear per key
  * partition, the same union-sort shape as [[Relational.asofJoin]].
  * Skewed attributes cost one partition's sort, never a pair explosion.
  */
object TimeSeries {

  /** Resample `archive` (attribute_id, timestamp, value) to a fixed
    * `gridSeconds` grid per attribute. Grid points cover the aligned
    * range [ceil(min), floor(max)] of each attribute's observations —
    * interpolation only, never extrapolation (PI interpolated-read
    * semantics). NULL observations are gaps (dropped before
    * bracketing). A grid point that hits an observation exactly returns
    * that value bit-exactly; otherwise
    * `v0 + (v1 - v0) * ((t - t0) / (t1 - t0))` in double — the same
    * expression order as [[interpolateSql]], so the oracle matches
    * bitwise. */
  def resampleInterpolate(archive: DataFrame, gridSeconds: Long): DataFrame = {
    val g = gridSeconds * 1000000L // grid in epoch micros
    // collapse duplicate (attribute, t) observations to min(value) BEFORE the
    // window carry: the carry orders only by (t, side), so with tied
    // timestamps the bracketing v0/v1 would otherwise depend on sort
    // stability — the same hazard ts_moving/ts_staleness dedupe for
    val obs = archive.filter(col("value").isNotNull)
      .select(col("attribute_id"),
        unix_micros(col("timestamp").cast("timestamp")).as("t"),
        col("value").cast("double").as("v"))
      .groupBy(col("attribute_id"), col("t")).agg(min(col("v")).as("v"))
    // per-attribute aligned grid: one row per output point, no cross join
    // double-precision floor/ceil on epoch micros is exact here: values
    // (< 2^53) and g are exactly representable, and an off-by-one at a
    // grid-multiple would need a sub-microsecond remainder
    val grid = obs.groupBy(col("attribute_id"))
      .agg(min(col("t")).as("t_min"), max(col("t")).as("t_max"))
      .select(col("attribute_id"),
        (-floor(-col("t_min") / g) * g).cast("long").as("g_lo"),
        (floor(col("t_max") / g) * g).cast("long").as("g_hi"))
      .filter(col("g_lo") <= col("g_hi")) // span shorter than one interval → no grid points
      .select(col("attribute_id"), explode(sequence(col("g_lo"), col("g_hi"), lit(g))).as("t"))
    val unioned = obs.withColumn("side", lit(0))
      .unionByName(grid.select(col("attribute_id"), col("t"),
        lit(null).cast("double").as("v"), lit(1).as("side")))
    // obs sorts before grid at the same epoch, so an exact hit brackets
    // itself: t0 = t (frac 0) and t1 is the NEXT observation (or null at
    // the series tail — the t = t0 branch covers both)
    val wPrev = Window.partitionBy("attribute_id").orderBy("t", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("attribute_id").orderBy("t", "side")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // v is never null on an obs row, so (t0, v0) always come from the
    // same row and the per-column ignoreNulls carry is atomic
    unioned
      .withColumn("t0", last(when(col("side") === 0, col("t")), ignoreNulls = true).over(wPrev))
      .withColumn("v0", last(when(col("side") === 0, col("v")), ignoreNulls = true).over(wPrev))
      .withColumn("t1", first(when(col("side") === 0, col("t")), ignoreNulls = true).over(wNext))
      .withColumn("v1", first(when(col("side") === 0, col("v")), ignoreNulls = true).over(wNext))
      .filter(col("side") === 1)
      .select(col("attribute_id"),
        timestamp_micros(col("t")).cast("timestamp_ntz").as("timestamp"),
        when(col("t") === col("t0"), col("v0"))
          .otherwise(col("v0") + (col("v1") - col("v0")) *
            ((col("t") - col("t0")).cast("double") / (col("t1") - col("t0")).cast("double")))
          .as("value"))
  }

  /** Time-weighted average per attribute — the PI summaries-API
    * semantic (a value holds until the next observation, so sparse slow
    * signals aren't drowned by dense fast ones the way a plain AVG
    * drowns them). Weight = hold duration in seconds over the observed
    * span [min_t, max_t] (the last point holds nothing); step
    * semantics, matching [[resampleStep]].
    *
    * Exactness: `sum(v * dur)` in doubles is summation-order-dependent —
    * not oracle-comparable — so the value is quantized once
    * (`round(v·2^20)` as long), the weighted sum accumulates as exact
    * long products (order-free), and ONE double division at the end is
    * correctly rounded in both engines. Magnitudes: |qv| < 2^31,
    * dur_s < 2^22 (a 48-day hold) → each product < 2^53, so ~2^10 rows
    * per attribute of headroom even at extreme density; far inside
    * int64 for any real series. One window + one aggregate, all
    * map-side-combinable after the shuffle on the key. */
  def timeWeightedAvg(archive: DataFrame): DataFrame = {
    val obs = archive.filter(col("value").isNotNull)
      .select(col("attribute_id"),
        // integral `div`, not double `/`+cast: both engines truncate
        // toward zero (verified: DuckDB -7//2 = -3), but the double
        // roundtrip loses exactness past 2^53 µs — div stays in longs
        expr("unix_micros(CAST(timestamp AS TIMESTAMP)) div 1000000").as("t"),
        col("value").cast("double").as("v"))
      .groupBy(col("attribute_id"), col("t")).agg(min(col("v")).as("v"))
    val w = Window.partitionBy("attribute_id").orderBy("t")
    obs
      .withColumn("__dur", coalesce(lead(col("t"), 1).over(w) - col("t"), lit(0L)))
      .groupBy(col("attribute_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(round(col("v") * 1048576.0).cast("long") * col("__dur")).as("__qs"),
        sum(col("__dur")).as("__ds"))
      .filter(col("__ds") > 0) // single-point series have no held span
      .select(col("attribute_id"), col("n_points"),
        (col("__qs").cast("double") / (col("__ds").cast("double") * 1048576.0)).as("twa"))
  }

  /** DuckDB oracle twin of [[timeWeightedAvg]]: identical quantization,
    * identical long arithmetic, one identical final division. */
  def timeWeightedAvgSql(archiveSql: String): String =
    s"""WITH __obs AS (
       |  SELECT attribute_id, t, min(v) AS v FROM (
       |    SELECT attribute_id, epoch_us(CAST(timestamp AS TIMESTAMP)) // 1000000 AS t,
       |           CAST(value AS DOUBLE) AS v
       |    FROM ($archiveSql) WHERE value IS NOT NULL
       |  ) GROUP BY attribute_id, t
       |), __d AS (
       |  SELECT attribute_id, v,
       |         coalesce(lead(t) OVER (PARTITION BY attribute_id ORDER BY t) - t, 0) AS dur
       |  FROM __obs
       |)
       |SELECT attribute_id, count(*) AS n_points,
       |       CAST(CAST(sum(CAST(round(v * 1048576.0) AS BIGINT) * dur) AS BIGINT) AS DOUBLE) /
       |         (CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) * 1048576.0) AS twa
       |FROM __d GROUP BY attribute_id
       |HAVING CAST(sum(dur) AS BIGINT) > 0""".stripMargin

  /** Stepped (previous-value / LOCF) resampling — the PI "stepped
    * attribute" read semantics (the Web API's other interpolation mode
    * for discrete tags, where a value holds until the next observation;
    * reference `src/pi/extraction/ingest.py:236` pulls `interval=1m`
    * grids whose shape is mode-independent). Same union-sort carry as
    * [[resampleInterpolate]], but each grid point takes the LAST
    * observation at-or-before it verbatim — no second bracket, no
    * arithmetic, so values are bit-exact carries by construction. */
  def resampleStep(archive: DataFrame, gridSeconds: Long): DataFrame = {
    val g = gridSeconds * 1000000L
    val obs = archive.filter(col("value").isNotNull)
      .select(col("attribute_id"),
        unix_micros(col("timestamp").cast("timestamp")).as("t"),
        col("value").cast("double").as("v"))
      .groupBy(col("attribute_id"), col("t")).agg(min(col("v")).as("v"))
    val grid = obs.groupBy(col("attribute_id"))
      .agg(min(col("t")).as("t_min"), max(col("t")).as("t_max"))
      .select(col("attribute_id"),
        (-floor(-col("t_min") / g) * g).cast("long").as("g_lo"),
        (floor(col("t_max") / g) * g).cast("long").as("g_hi"))
      .filter(col("g_lo") <= col("g_hi"))
      .select(col("attribute_id"), explode(sequence(col("g_lo"), col("g_hi"), lit(g))).as("t"))
    val unioned = obs.withColumn("side", lit(0))
      .unionByName(grid.select(col("attribute_id"), col("t"),
        lit(null).cast("double").as("v"), lit(1).as("side")))
    val wPrev = Window.partitionBy("attribute_id").orderBy("t", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("v0", last(when(col("side") === 0, col("v")), ignoreNulls = true).over(wPrev))
      .filter(col("side") === 1)
      .select(col("attribute_id"),
        timestamp_micros(col("t")).cast("timestamp_ntz").as("timestamp"),
        col("v0").as("value"))
  }

  /** DuckDB oracle twin of [[resampleStep]]. */
  def stepSql(archiveSql: String, gridSeconds: Long): String = {
    val g = gridSeconds * 1000000L
    s"""WITH __obs AS (
       |  SELECT attribute_id, t, min(v) AS v FROM (
       |    SELECT attribute_id, epoch_us(CAST(timestamp AS TIMESTAMP)) AS t,
       |           CAST(value AS DOUBLE) AS v
       |    FROM ($archiveSql) WHERE value IS NOT NULL
       |  ) GROUP BY attribute_id, t
       |), __grid AS (
       |  SELECT attribute_id, CAST(unnest(range(((min_t + $g - 1) // $g) * $g, (max_t // $g) * $g + 1, $g)) AS BIGINT) AS t
       |  FROM (SELECT attribute_id, min(t) AS min_t, max(t) AS max_t FROM __obs GROUP BY attribute_id)
       |), __u AS (
       |  SELECT attribute_id, t, v, 0 AS side FROM __obs
       |  UNION ALL
       |  SELECT attribute_id, t, NULL, 1 FROM __grid
       |)
       |SELECT attribute_id, make_timestamp(t) AS timestamp,
       |       last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
       |         OVER (PARTITION BY attribute_id ORDER BY t, side
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
       |FROM __u QUALIFY side = 1""".stripMargin
  }

  /** DuckDB oracle twin of [[resampleInterpolate]]: identical grid
    * arithmetic (integer ceil/floor alignment on epoch micros), the same
    * union + IGNORE NULLS window carry, and the same double expression
    * order for the interpolation itself. `archiveSql` must select
    * (attribute_id, timestamp, value). */
  def interpolateSql(archiveSql: String, gridSeconds: Long): String = {
    val g = gridSeconds * 1000000L
    s"""WITH __obs AS (
       |  SELECT attribute_id, t, min(v) AS v FROM (
       |    SELECT attribute_id, epoch_us(CAST(timestamp AS TIMESTAMP)) AS t,
       |           CAST(value AS DOUBLE) AS v
       |    FROM ($archiveSql) WHERE value IS NOT NULL
       |  ) GROUP BY attribute_id, t
       |), __grid AS (
       |  SELECT attribute_id, CAST(unnest(range(((min_t + $g - 1) // $g) * $g, (max_t // $g) * $g + 1, $g)) AS BIGINT) AS t
       |  FROM (SELECT attribute_id, min(t) AS min_t, max(t) AS max_t FROM __obs GROUP BY attribute_id)
       |), __u AS (
       |  SELECT attribute_id, t, v, 0 AS side FROM __obs
       |  UNION ALL
       |  SELECT attribute_id, t, NULL, 1 FROM __grid
       |), __b AS (
       |  SELECT attribute_id, t, side,
       |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
       |      OVER (PARTITION BY attribute_id ORDER BY t, side
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
       |    last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
       |      OVER (PARTITION BY attribute_id ORDER BY t, side
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
       |    first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
       |      OVER (PARTITION BY attribute_id ORDER BY t, side
       |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
       |    first_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
       |      OVER (PARTITION BY attribute_id ORDER BY t, side
       |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
       |  FROM __u
       |)
       |SELECT attribute_id, make_timestamp(t) AS timestamp,
       |       CASE WHEN t = t0 THEN v0
       |            ELSE v0 + (v1 - v0) * (CAST(t - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
       |       END AS value
       |FROM __b WHERE side = 1""".stripMargin
  }

  /** Quantization scale for the z-score sums: q = round(value · 2^10).
    * ×2^10 is a power-of-two scaling (exact in IEEE), round() is
    * away-from-zero-on-.5 in Spark (HALF_UP) and DuckDB alike, and all
    * window sums run over BIGINTs — order-INDEPENDENT, where a moving
    * SUM of doubles is engine-order-dependent (segment tree vs running
    * accumulation; the reason ts_moving restricts itself to
    * min/max/count). The z computed from the integer sums has ONE
    * deterministic double op chain at the end. */
  val ZScoreQ = 1024L

  /** Rolling z-score anomaly detection per series: each point scored
    * against the mean/stddev of the `window` points STRICTLY BEFORE it
    * (ROWS window PRECEDING .. 1 PRECEDING), anomaly iff |z| ≥
    * `zThresh`. The monitoring face of the archive — "this sensor just
    * jumped N sigmas". Excluding the current point is load-bearing: a
    * self-inclusive frame caps |z| at (n−1)/√n ≈ √n (the outlier
    * inflates its own baseline), so a 3σ threshold could never fire at
    * small windows; against the trailing baseline z is unbounded.
    *
    * With S1 = Σq, S2 = Σq² over the baseline frame (exact BIGINTs):
    * z = (q·n − S1) / sqrt((n·S2 − S1²) · n / (n−1)) — algebraically
    * (x − mean)/stddev_samp, but every intermediate is an exact integer
    * and the final chain (×, /, sqrt, /) is one fixed IEEE op tree the
    * SQL twin mirrors verbatim. NULL z (→ anomaly false) when n < 2 or
    * the baseline is constant. Rows collapse to unique
    * (attribute, timestamp) first — a ROWS frame over tied sort keys
    * would be order-ambiguous across engines (ts_moving's rationale).
    *
    * Scale shape: one hash shuffle on attribute_id + a linear window
    * pass per series; integer precondition |value| · 2^10 · window
    * within BIGINT — vast headroom for physical sensor ranges. */
  def zscoreAnomalies(archive: DataFrame, window: Int = 7,
      zThresh: Double = 3.0): DataFrame = {
    val w = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(-window, -1)
    val n = col("__n"); val s1 = col("__s1"); val s2 = col("__s2")
    val a = (col("__q") * n - s1).cast("double")
    val b = (n * s2 - s1 * s1).cast("double")
    archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("__q")).over(w))
      .withColumn("__s2", sum(col("__q") * col("__q")).over(w))
      .withColumn("z",
        when(n >= 2 && (n * s2 > s1 * s1),
          a / sqrt(b * n.cast("double") / (n - 1).cast("double"))))
      .withColumn("anomaly", coalesce(abs(col("z")) >= zThresh, lit(false)))
      .select("attribute_id", "timestamp", "value", "z", "anomaly")
  }

  /** Oracle twin of [[zscoreAnomalies]]: same dedup, quantization,
    * BIGINT window sums (DuckDB's HUGEINT sum is cast back down), and
    * the identical final double op tree. */
  def zscoreAnomaliesSql(archiveSql: String, window: Int = 7,
      zThresh: Double = 3.0): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __qd AS (
       |  SELECT attribute_id, timestamp, value,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q
       |  FROM __pts
       |), __wd AS (
       |  SELECT attribute_id, timestamp, value, q,
       |         CAST(count(*) OVER w AS BIGINT) AS n,
       |         CAST(sum(q) OVER w AS BIGINT) AS s1,
       |         CAST(sum(q * q) OVER w AS BIGINT) AS s2
       |  FROM __qd
       |  WINDOW w AS (PARTITION BY attribute_id ORDER BY timestamp
       |               ROWS BETWEEN $window PRECEDING AND 1 PRECEDING)
       |)
       |SELECT attribute_id, timestamp, value,
       |       CASE WHEN n >= 2 AND n * s2 > s1 * s1
       |            THEN CAST(q * n - s1 AS DOUBLE)
       |                 / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
       |       END AS z,
       |       coalesce(abs(CASE WHEN n >= 2 AND n * s2 > s1 * s1
       |            THEN CAST(q * n - s1 AS DOUBLE)
       |                 / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
       |       END) >= $zThresh, false) AS anomaly
       |FROM __wd""".stripMargin

  /** Truncated exponential moving average (α = 1/2) per series: each
    * point smoothed over the `window` most recent observations with
    * weights 2^(n−1) (newest) down to 2^0 (oldest) — the classic EWMA
    * recursion s ← (s + v)/2 cut off at `window` terms, which is
    * where >99.99% of the mass lives for window ≥ 16.
    *
    * EWMA is order-DEPENDENT, so a float formulation would be
    * engine-ambiguous; here the weighted numerator is an exact BIGINT
    * fold over the frame's quantized values — collect the frame's
    * q-values in ORDER (both engines fill window frames in ORDER BY
    * order), reverse so the newest folds first, then a·2+x — and the
    * denominator is 2^n − 1, so the one double division at the end is
    * engine-exact. Frame order must be unambiguous: rows collapse to
    * unique (attribute, timestamp) first (ts_moving's rationale).
    *
    * Scale shape: one hash shuffle on attribute_id + a linear window
    * pass; the collected frame is `window` longs (bounded, never
    * data-proportional). Integer headroom: |q|·2^window within BIGINT —
    * |value|·2^10·2^16 leaves ~2^37 of slack for sensor ranges. */
  def ewma(archive: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 1 && window <= 40, "window must keep 2^window in BIGINT headroom")
    val w = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(-(window - 1), 0)
    archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
      .withColumn("__arr", collect_list(col("__q")).over(w))
      .withColumn("__num", aggregate(reverse(col("__arr")), lit(0L), (a, x) => a * 2 + x))
      .withColumn("__den", expr("shiftleft(CAST(1 AS BIGINT), size(__arr))") - 1)
      .withColumn("ewma", col("__num").cast("double") /
        (col("__den").cast("double") * ZScoreQ.toDouble))
      .select("attribute_id", "timestamp", "value", "ewma")
  }

  /** Oracle twin of [[ewma]]: same dedup and quantization, same
    * ordered frame collect (`list()` fills in ORDER BY order), same
    * reversed BIGINT fold and final division. */
  def ewmaSql(archiveSql: String, window: Int = 16): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __wd AS (
       |  SELECT attribute_id, timestamp, value,
       |         list(CAST(round(value * $ZScoreQ) AS BIGINT)) OVER
       |           (PARTITION BY attribute_id ORDER BY timestamp
       |            ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW) AS arr
       |  FROM __pts
       |)
       |SELECT attribute_id, timestamp, value,
       |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(arr)),
       |              (a, x) -> a * 2 + x) AS DOUBLE)
       |         / (CAST((CAST(1 AS BIGINT) << len(arr)) - 1 AS DOUBLE) * $ZScoreQ) AS ewma
       |FROM __wd""".stripMargin

  /** Brown's double exponential smoothing (α = 1/2, truncated at
    * `window` terms like [[ewma]]): s1 = EWMA(x), s2 = EWMA(s1),
    * level a = 2s1 − s2, trend b = (α/(1−α))(s1 − s2) = s1 − s2, and
    * the one-step-ahead forecast a + b = 3s1 − 2s2 — the trend-aware
    * smoother a flat EWMA can't express (it lags every ramp).
    *
    * Exactness: both smoothing passes are the [[ewma]] BIGINT fold.
    * With a FULL first frame the denominator is the constant
    * D = 2^window − 1, so s1 = n1/(D·Q), s2 = n2/(D²·Q) and
    * forecast = (3·n1·D − 2·n2)/(D²·Q) — all-integer numerators, one
    * engine-exact double division each. Rows whose second-pass frame
    * would mix partial first-pass frames (row index < 2·window − 1)
    * emit NULL — visible warm-up, not a silently-wrong smoothing.
    *
    * Integer headroom: |q|·2^(2·window) must stay inside BIGINT —
    * window = 12 leaves q < 2^38, ~5 decades above the fixture's
    * quantized range. Scale shape: one hash shuffle on attribute_id,
    * two linear window passes, frames of `window` longs (bounded,
    * never data-proportional). */
  def doubleEwma(archive: DataFrame, window: Int = 12): DataFrame = {
    require(window >= 2 && window <= 20,
      "window must keep |q|*2^(2*window) in BIGINT headroom")
    val frame = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(-(window - 1), 0)
    val seq = Window.partitionBy("attribute_id").orderBy("timestamp")
    val den = (1L << window) - 1
    val qd = ZScoreQ.toDouble
    archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
      .withColumn("__rn", row_number().over(seq))
      .withColumn("__n1", aggregate(reverse(collect_list(col("__q")).over(frame)),
        lit(0L), (a, x) => a * 2 + x))
      .withColumn("__n2", aggregate(reverse(collect_list(col("__n1")).over(frame)),
        lit(0L), (a, x) => a * 2 + x))
      .withColumn("__full", col("__rn") >= 2 * window - 1)
      .select(col("attribute_id"), col("timestamp"), col("value"),
        when(col("__full"), col("__n1").cast("double") / (den * qd)).as("s1"),
        when(col("__full"), col("__n2").cast("double") / (den.toDouble * den * qd)).as("s2"),
        when(col("__full"), (lit(3L) * col("__n1") * den - lit(2L) * col("__n2"))
          .cast("double") / (den.toDouble * den * qd)).as("forecast_next"))
  }

  /** Oracle twin of [[doubleEwma]]: same dedup, quantization, ordered
    * frame folds, warm-up NULLs, and final divisions. */
  def doubleEwmaSql(archiveSql: String, window: Int = 12): String = {
    val den = (1L << window) - 1
    val fold = (arr: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse($arr)), (a, x) -> a * 2 + x)"
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __w1 AS (
       |  SELECT attribute_id, timestamp, value,
       |         row_number() OVER (PARTITION BY attribute_id ORDER BY timestamp) AS rn,
       |         ${fold(s"list(CAST(round(value * $ZScoreQ) AS BIGINT)) OVER " +
             s"(PARTITION BY attribute_id ORDER BY timestamp " +
             s"ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW)")} AS n1
       |  FROM __pts
       |), __w2 AS (
       |  SELECT attribute_id, timestamp, value, rn, n1,
       |         ${fold(s"list(n1) OVER (PARTITION BY attribute_id ORDER BY timestamp " +
             s"ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW)")} AS n2
       |  FROM __w1
       |)
       |SELECT attribute_id, timestamp, value,
       |       CASE WHEN rn >= ${2 * window - 1}
       |            THEN CAST(n1 AS DOUBLE) / (CAST($den AS DOUBLE) * $ZScoreQ) END AS s1,
       |       CASE WHEN rn >= ${2 * window - 1}
       |            THEN CAST(n2 AS DOUBLE) / (CAST($den AS DOUBLE) * $den * $ZScoreQ) END AS s2,
       |       CASE WHEN rn >= ${2 * window - 1}
       |            THEN CAST(3 * n1 * $den - 2 * n2 AS DOUBLE)
       |                 / (CAST($den AS DOUBLE) * $den * $ZScoreQ) END AS forecast_next
       |FROM __w2""".stripMargin
  }

  /** Two-window mean-shift (changepoint candidate) score per series:
    * at each point, the mean of the `window` observations STARTLY
    * before it versus the mean of the window starting AT it — the
    * CUSUM-free level-shift detector that window frames can express
    * exactly (true CUSUM is a nonlinear recursion no engine-portable
    * window computes). shift = after-mean − before-mean via
    * cross-multiplied exact integers: (s2·n1 − s1·n2) as BIGINT, ONE
    * double division by (n1·n2·Q) at the end — engine-exact. Rows
    * without a full window on both sides emit NULL shift (visible, not
    * a fake zero). Scale: one hash shuffle + linear frame sums. */
  def meanShift(archive: DataFrame, window: Int = 7): DataFrame = {
    val before = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(-window, -1)
    val after = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(0, window - 1)
    archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
      .withColumn("__n1", count(lit(1)).over(before))
      .withColumn("__s1", sum(col("__q")).over(before))
      .withColumn("__n2", count(lit(1)).over(after))
      .withColumn("__s2", sum(col("__q")).over(after))
      .withColumn("shift",
        when(col("__n1") === window && col("__n2") === window,
          (col("__s2") * col("__n1") - col("__s1") * col("__n2")).cast("double") /
            (col("__n1") * col("__n2") * ZScoreQ).cast("double")))
      .select("attribute_id", "timestamp", "value", "shift")
  }

  /** Oracle twin of [[meanShift]]: identical frames, identical
    * cross-multiplied BIGINT arithmetic and final division. */
  def meanShiftSql(archiveSql: String, window: Int = 7): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __qd AS (
       |  SELECT attribute_id, timestamp, value,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q
       |  FROM __pts
       |), __wd AS (
       |  SELECT attribute_id, timestamp, value,
       |         CAST(count(*) OVER wb AS BIGINT) AS n1,
       |         CAST(sum(q) OVER wb AS BIGINT) AS s1,
       |         CAST(count(*) OVER wa AS BIGINT) AS n2,
       |         CAST(sum(q) OVER wa AS BIGINT) AS s2
       |  FROM __qd
       |  WINDOW wb AS (PARTITION BY attribute_id ORDER BY timestamp
       |                ROWS BETWEEN $window PRECEDING AND 1 PRECEDING),
       |         wa AS (PARTITION BY attribute_id ORDER BY timestamp
       |                ROWS BETWEEN CURRENT ROW AND ${window - 1} FOLLOWING)
       |)
       |SELECT attribute_id, timestamp, value,
       |       CASE WHEN n1 = $window AND n2 = $window
       |            THEN CAST(s2 * n1 - s1 * n2 AS DOUBLE)
       |                 / CAST(n1 * n2 * $ZScoreQ AS DOUBLE) END AS shift
       |FROM __wd""".stripMargin

  /** Per-series autocorrelation (ACF), lags 1..`maxLag`: the Pearson
    * correlation of the aligned pairs (x_t, x_{t+k}) of each
    * attribute's series — the diagnostic that separates trending /
    * mean-reverting / periodic sensors and picks AR model orders.
    *
    * Exactness: one lag window produces the pairs, then every sum
    * (Σx, Σy, Σxy, Σx², Σy²) runs over quantized BIGINT products
    * accumulated in DECIMAL(38,0) on the Spark side and HUGEINT on the
    * DuckDB side — both exact integer arithmetic, order-INDEPENDENT
    * where a float covariance is engine-order-dependent. The final
    * r = (n·Σxy − ΣxΣy) / sqrt((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²)) converts
    * each exact integer term to double once and applies one fixed IEEE
    * op tree (×, sqrt, /) both engines evaluate identically. NULL r
    * when either side of a lag is constant (zero variance). Integer
    * precondition: n²·(value·2^10)² within 38 digits — n up to ~10^13
    * points per series at sensor ranges, vastly beyond any archive.
    *
    * Scale shape: one hash shuffle on attribute_id, a linear lag
    * window per series, then a map-side-combinable aggregate down to
    * (attributes × maxLag) rows — output is catalog-sized. */
  def acf(archive: DataFrame, maxLag: Int = 3): DataFrame = {
    val w = Window.partitionBy("attribute_id").orderBy("timestamp")
    val base = archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
    val lagged = (1 to maxLag).foldLeft(base) { (df, k) =>
      df.withColumn(s"__x$k", lag(col("__q"), k).over(w))
    }
    // one row per (point, lag) with x = the point k rows earlier, y = this
    // point; the first k rows of each series have no partner and drop out
    val pairs = lagged.select(col("attribute_id"),
      explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), col(s"__x$k").as("x"), col("__q").as("y"))): _*)).as("p"))
      .select(col("attribute_id"), col("p.lag").as("lag"),
        col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x").isNotNull)
    val dec = DecimalType(38, 0)
    val agg = pairs.groupBy("attribute_id", "lag").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val n = col("n").cast(dec)
    val dx = n * col("sxx") - col("sx") * col("sx")
    val dy = n * col("syy") - col("sy") * col("sy")
    agg.withColumn("r",
      when(dx > 0 && dy > 0,
        (n * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(dx.cast("double") * dy.cast("double"))))
      .select("attribute_id", "lag", "n", "r")
  }

  /** Oracle twin of [[acf]]: identical dedup, quantization, lag
    * windows, HUGEINT (= the Spark DECIMAL(38,0)) exact sums, and the
    * same final double op tree. */
  def acfSql(archiveSql: String, maxLag: Int = 3): String = {
    val lagCols = (1 to maxLag)
      .map(k => s"lag(q, $k) OVER w AS x$k").mkString(", ")
    val pairSelects = (1 to maxLag).map(k =>
      s"SELECT attribute_id, $k AS lag, x$k AS x, q AS y FROM __lg WHERE x$k IS NOT NULL")
      .mkString("\n  UNION ALL ")
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __qd AS (
       |  SELECT attribute_id, timestamp,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q
       |  FROM __pts
       |), __lg AS (
       |  SELECT attribute_id, q, $lagCols
       |  FROM __qd
       |  WINDOW w AS (PARTITION BY attribute_id ORDER BY timestamp)
       |), __pairs AS (
       |  $pairSelects
       |), __agg AS (
       |  SELECT attribute_id, CAST(lag AS INTEGER) AS lag,
       |         CAST(count(*) AS BIGINT) AS n,
       |         sum(CAST(x AS HUGEINT)) AS sx,
       |         sum(CAST(y AS HUGEINT)) AS sy,
       |         sum(CAST(x AS HUGEINT) * y) AS sxy,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx,
       |         sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM __pairs GROUP BY attribute_id, lag
       |)
       |SELECT attribute_id, lag, n,
       |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       |            THEN CAST(n * sxy - sx * sy AS DOUBLE)
       |                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |                        * CAST(n * syy - sy * sy AS DOUBLE))
       |       END AS r
       |FROM __agg""".stripMargin
  }

  /** Cross-attribute correlation matrix: the Pearson correlation of
    * every attribute PAIR over their time-aligned observations — which
    * sensors move together (the process-topology signal operators read
    * off a correlation heatmap). Same exact-integer discipline as
    * [[acf]]: quantized BIGINT products in DECIMAL(38,0)/HUGEINT sums,
    * one final double op tree; NULL r for a constant-on-the-overlap
    * side. Pairs are oriented attr_a < attr_b (each unordered pair
    * once).
    *
    * Scale shape: the alignment is an equi-join on timestamp where
    * each side has at most |attributes| rows per timestamp — join
    * output is hours × attrs², never quadratic in observations — and
    * the aggregate collapses to the attrs² catalog-sized matrix
    * map-side. */
  def crossCorrelation(archive: DataFrame): DataFrame = {
    val pts = archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .select(col("attribute_id"), col("timestamp"),
        round(col("value") * ZScoreQ).cast("long").as("__q"))
    val a = pts.select(col("attribute_id").as("attr_a"),
      col("timestamp"), col("__q").as("x"))
    val b = pts.select(col("attribute_id").as("attr_b"),
      col("timestamp"), col("__q").as("y"))
    val dec = DecimalType(38, 0)
    val agg = a.join(b, Seq("timestamp"))
      .filter(col("attr_a") < col("attr_b"))
      .groupBy("attr_a", "attr_b").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
    val n = col("n").cast(dec)
    val dx = n * col("sxx") - col("sx") * col("sx")
    val dy = n * col("syy") - col("sy") * col("sy")
    agg.withColumn("r",
      when(dx > 0 && dy > 0,
        (n * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(dx.cast("double") * dy.cast("double"))))
      .select("attr_a", "attr_b", "n", "r")
  }

  /** Oracle twin of [[crossCorrelation]]. */
  def crossCorrelationSql(archiveSql: String): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __qd AS (
       |  SELECT attribute_id, timestamp,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q
       |  FROM __pts
       |), __agg AS (
       |  SELECT a.attribute_id AS attr_a, b.attribute_id AS attr_b,
       |         CAST(count(*) AS BIGINT) AS n,
       |         sum(CAST(a.q AS HUGEINT)) AS sx,
       |         sum(CAST(b.q AS HUGEINT)) AS sy,
       |         sum(CAST(a.q AS HUGEINT) * b.q) AS sxy,
       |         sum(CAST(a.q AS HUGEINT) * a.q) AS sxx,
       |         sum(CAST(b.q AS HUGEINT) * b.q) AS syy
       |  FROM __qd a JOIN __qd b
       |    ON a.timestamp = b.timestamp AND a.attribute_id < b.attribute_id
       |  GROUP BY a.attribute_id, b.attribute_id
       |)
       |SELECT attr_a, attr_b, n,
       |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       |            THEN CAST(n * sxy - sx * sy AS DOUBLE)
       |                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |                        * CAST(n * syy - sy * sy AS DOUBLE))
       |       END AS r
       |FROM __agg""".stripMargin

  /** Hour-of-day seasonal baseline + per-point residual: each series'
    * mean value per hour-of-day slot (the diurnal profile every
    * operations dashboard draws), joined back so every observation
    * carries its slot mean and deviation — the seasonality-adjusted
    * signal that a plain rolling z-score (ts_zscore) confounds with
    * the daily cycle.
    *
    * Slot means come from exact BIGINT sums of quantized values (a
    * per-group AVG of doubles is summation-order-dependent), divided
    * once; the residual is one further subtraction — engine-exact.
    *
    * Scale shape: the profile is catalog-sized (attributes × 24) from
    * one map-side-combinable groupBy, broadcast back against the
    * archive — the scan never shuffles. */
  def seasonalResiduals(archive: DataFrame): DataFrame = {
    val pts = archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("hod", hour(col("timestamp")))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
    val profile = pts.groupBy("attribute_id", "hod")
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__sq"))
    pts.join(broadcast(profile), Seq("attribute_id", "hod"))
      .withColumn("seasonal_mean", col("__sq").cast("double") /
        (col("__n").cast("double") * ZScoreQ.toDouble))
      .withColumn("residual", col("value") - col("seasonal_mean"))
      .select("attribute_id", "timestamp", "hod", "value",
        "seasonal_mean", "residual")
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per (series, time
    * bucket) keep exactly the four value-bearing extremes a pixel-width
    * bucket needs to render error-free — first, min, max, last — plus
    * the bucket's point count. The canonical dashboard/preview
    * downsampler: a 100 TB archive collapses to (#series × #pixels)
    * rows while min/max spikes survive exactly.
    *
    * Engine-exactness: rows first collapse to unique (attribute,
    * timestamp) (min value on ties — ts_moving's rationale), so
    * `min_by`/`max_by` over the bucket pick the value at a UNIQUE
    * first/last timestamp — no ordering ambiguity — and min/max/count
    * are order-free. No sums of doubles anywhere.
    *
    * Scale shape: ONE map-side-combinable groupBy on (attribute,
    * bucket) — each partial aggregate carries eight scalars, the
    * shuffle is output-sized (buckets, not points). No window, no
    * join. */
  def m4Downsample(archive: DataFrame, bucket: String = "1 day"): DataFrame = {
    val pts = archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("bucket_start", window(col("timestamp"), bucket).getField("start"))
    pts.groupBy("attribute_id", "bucket_start")
      .agg(
        count(lit(1)).as("n"),
        min(col("timestamp")).as("t_first"),
        max(col("timestamp")).as("t_last"),
        min_by(col("value"), col("timestamp")).as("v_first"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        max_by(col("value"), col("timestamp")).as("v_last"))
      .select("attribute_id", "bucket_start", "n", "t_first", "t_last",
        "v_first", "v_min", "v_max", "v_last")
  }

  /** Oracle twin of [[m4Downsample]]: same unique-point pre-pass, same
    * bucket (time_bucket = Spark's epoch-aligned `window` for day
    * buckets), arg_min/arg_max over the now-unique timestamps. */
  def m4DownsampleSql(archiveSql: String, bucketSql: String = "INTERVAL 1 DAY"): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |)
       |SELECT attribute_id, time_bucket($bucketSql, timestamp) AS bucket_start,
       |       CAST(count(*) AS BIGINT) AS n,
       |       min(timestamp) AS t_first, max(timestamp) AS t_last,
       |       arg_min(value, timestamp) AS v_first,
       |       min(value) AS v_min, max(value) AS v_max,
       |       arg_max(value, timestamp) AS v_last
       |FROM __pts GROUP BY attribute_id, bucket_start""".stripMargin

  /** Classical additive decomposition (trend + seasonal + residual) —
    * the [[seasonalResiduals]] profile with the TREND separated first,
    * so a drifting series doesn't smear its drift into the hourly
    * profile: trend = centered moving average over ±`halfWindow`
    * points, seasonal = per-(series, hour-of-day) mean of the
    * DETRENDED values, residual = value − trend − seasonal. (True STL
    * iterates loess fits — a sequential recursion no engine-portable
    * window expresses; one decomposition pass is the standard
    * first-order form.)
    *
    * Exactness: the detrended value is kept as the exact BIGINT
    * q·n − Σq (scale n·Q — never a double subtraction), so the
    * seasonal mean is an order-free integer sum with ONE double
    * division; trend likewise. Rows without a FULL centered window
    * emit NULL trend/residual (visible edges, and it keeps the
    * detrended scale constant — partial windows would mix scales).
    * Scale shape: one hash shuffle per series + a linear window pass +
    * a catalog-sized (series × 24) broadcast profile. */
  def decompose(archive: DataFrame, halfWindow: Int = 12): DataFrame = {
    require(halfWindow >= 1 && halfWindow <= 512, "halfWindow out of range")
    val n = 2 * halfWindow + 1
    val qd = ZScoreQ.toDouble
    val w = Window.partitionBy("attribute_id").orderBy("timestamp")
      .rowsBetween(-halfWindow, halfWindow)
    val pts = archive.filter(col("value").isNotNull)
      .groupBy("attribute_id", "timestamp").agg(min(col("value")).as("value"))
      .withColumn("hod", hour(col("timestamp")))
      .withColumn("__q", round(col("value") * ZScoreQ).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__sum", sum(col("__q")).over(w))
    val seasonal = pts.filter(col("__cnt") === n)
      .withColumn("__det", col("__q") * n - col("__sum"))
      .groupBy("attribute_id", "hod")
      .agg(sum(col("__det")).as("__sd"), count(lit(1)).as("__sn"))
    pts.join(broadcast(seasonal), Seq("attribute_id", "hod"), "left")
      .withColumn("trend",
        when(col("__cnt") === n, col("__sum").cast("double") / (n * qd)))
      .withColumn("seasonal_mean",
        col("__sd").cast("double") / (col("__sn").cast("double") * n * qd))
      .withColumn("residual",
        col("value") - col("trend") - col("seasonal_mean"))
      .select("attribute_id", "timestamp", "hod", "value", "trend",
        "seasonal_mean", "residual")
  }

  /** Oracle twin of [[decompose]]: same dedup, quantization, centered
    * frame, integer detrending, and division order. */
  def decomposeSql(archiveSql: String, halfWindow: Int = 12): String = {
    val n = 2 * halfWindow + 1
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __w AS (
       |  SELECT attribute_id, timestamp, value, hour(timestamp) AS hod,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q,
       |         count(*) OVER __f AS cnt,
       |         sum(CAST(round(value * $ZScoreQ) AS BIGINT)) OVER __f AS s
       |  FROM __pts
       |  WINDOW __f AS (PARTITION BY attribute_id ORDER BY timestamp
       |                 ROWS BETWEEN $halfWindow PRECEDING AND $halfWindow FOLLOWING)
       |), __sea AS (
       |  SELECT attribute_id, hod, CAST(sum(q * $n - s) AS BIGINT) AS sd,
       |         CAST(count(*) AS BIGINT) AS sn
       |  FROM __w WHERE cnt = $n GROUP BY 1, 2
       |)
       |SELECT w.attribute_id, w.timestamp, w.hod, w.value,
       |       CASE WHEN w.cnt = $n
       |            THEN CAST(w.s AS DOUBLE) / ($n * CAST($ZScoreQ AS DOUBLE)) END AS trend,
       |       CAST(sd AS DOUBLE) / (CAST(sn AS DOUBLE) * $n * $ZScoreQ) AS seasonal_mean,
       |       w.value - (CASE WHEN w.cnt = $n
       |            THEN CAST(w.s AS DOUBLE) / ($n * CAST($ZScoreQ AS DOUBLE)) END)
       |         - (CAST(sd AS DOUBLE) / (CAST(sn AS DOUBLE) * $n * $ZScoreQ)) AS residual
       |FROM __w w LEFT JOIN __sea USING (attribute_id, hod)""".stripMargin
  }

  /** Oracle twin of [[seasonalResiduals]]: same quantized-integer slot
    * sums, same single division and subtraction. */
  def seasonalResidualsSql(archiveSql: String): String =
    s"""WITH __pts AS (
       |  SELECT attribute_id, timestamp, min(value) AS value
       |  FROM ($archiveSql) WHERE value IS NOT NULL
       |  GROUP BY attribute_id, timestamp
       |), __qd AS (
       |  SELECT attribute_id, timestamp, value,
       |         CAST(hour(timestamp) AS INTEGER) AS hod,
       |         CAST(round(value * $ZScoreQ) AS BIGINT) AS q
       |  FROM __pts
       |), __prof AS (
       |  SELECT attribute_id, hod, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(q) AS BIGINT) AS sq
       |  FROM __qd GROUP BY attribute_id, hod
       |)
       |SELECT d.attribute_id, d.timestamp, d.hod, d.value,
       |       CAST(p.sq AS DOUBLE) / (CAST(p.n AS DOUBLE) * $ZScoreQ) AS seasonal_mean,
       |       d.value - CAST(p.sq AS DOUBLE) / (CAST(p.n AS DOUBLE) * $ZScoreQ) AS residual
       |FROM __qd d JOIN __prof p ON d.attribute_id = p.attribute_id AND d.hod = p.hod""".stripMargin
}
