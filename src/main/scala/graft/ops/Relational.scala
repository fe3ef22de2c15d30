package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators from the reference's query surface (SURVEY.md §2.2-§2.6).
  *
  * Each helper is a thin, composable declaration over the DataFrame API so
  * Catalyst keeps full visibility (pushdown, pruning, join selection). Nothing
  * here collects to the driver; every operator is partition-parallel.
  */
object Relational {

  /** P2 — dynamic IN-list filter (reference `database/database.py:381-384`).
    * For id-lists large enough to blow the IN-list (>~10k) prefer
    * [[semiJoinFilter]] which becomes a broadcast semi-join. */
  def inList(df: DataFrame, col: String, values: Seq[Any]): DataFrame =
    df.filter(new Column(col).isin(values: _*))

  /** P2 at scale: the id-set as a broadcast left-semi join instead of a
    * literal IN-list — same semantics, bounded plan size. */
  def semiJoinFilter(df: DataFrame, keys: DataFrame, col: String): DataFrame =
    df.join(broadcast(keys), Seq(col), "left_semi")

  /** P3 — inclusive-both-ends time range (reference `database.py:386-391`).
    * Bounds are optional exactly as in the reference API. On a
    * date-partitioned archive this prunes partitions at planning time. */
  def timeRange(df: DataFrame, tsCol: String,
      start: Option[String], end: Option[String]): DataFrame = {
    val c = new Column(tsCol)
    // cast literals to the column's own type (TIMESTAMP vs TIMESTAMP_NTZ —
    // parquet files without UTC-adjustment read as NTZ) so the predicate
    // stays a pushable comparison, not a cast around the column
    val t = df.schema(tsCol).dataType
    val withStart = start.fold(df)(s => df.filter(c >= lit(s).cast(t)))
    end.fold(withStart)(e => withStart.filter(c <= lit(e).cast(t)))
  }

  /** P4 — exact-name lookup, first match (reference `database.py:120-124`).
    * The reference's LIMIT 1 is order-undefined; we pin determinism by
    * ordering on the key columns before limiting. */
  def lookupFirst(df: DataFrame, filterExpr: Column, orderCols: Seq[String]): DataFrame =
    df.filter(filterExpr).orderBy(orderCols.map(new Column(_)): _*).limit(1)

  /** P5 — case-insensitive LIKE with caller-supplied wildcards
    * (reference `database.py:256-262`). */
  def ilike(df: DataFrame, col: String, pattern: String): DataFrame =
    df.filter(lower(new Column(col)).like(pattern.toLowerCase))

  /** J1/J2 — dimension joins. Dimensions (element/attribute analogs) are
    * thousands of rows → always broadcast; the fact side never shuffles for
    * the join itself (reference `database.py:394-406` pushes this to PG). */
  def dimJoin(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim), Seq(key))

  /** J8 — existence semi-join (reference `src/database/populate.py:500-506`). */
  def existsIn(df: DataFrame, other: DataFrame, key: String): DataFrame =
    df.join(other, Seq(key), "left_semi")

  /** P11/J9 — anti-join (orphan cleanup, reference `populate.py:410-413`). */
  def notIn(df: DataFrame, other: DataFrame, key: String): DataFrame =
    df.join(other, Seq(key), "left_anti")

  /** A7 — deterministic keep-first dedup (reference `ingest.py:155-159`
    * `drop_duplicates(keep='first')`). pandas "first" means input order; we
    * pin an explicit tiebreak ordering so the result is reproducible on any
    * cluster layout. One shuffle on the key columns.
    */
  def dedupFirst(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(new Column(_)): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** V1 — the signature long→wide pivot (reference `database.py:415-421`).
    * `values` MUST be the pre-resolved, sorted pivot domain: pandas sorts
    * pivot columns lexicographically and an explicit list keeps the Spark
    * schema deterministic AND skips the extra distinct-collect job.
    * `cellAgg` defaults to max (deterministic); the reference's 'first' is
    * only reproducible when (key, pivotCol) is unique — which its unique
    * archive constraint guarantees. */
  def pivotWide(df: DataFrame, keyCols: Seq[String], pivotCol: String,
      values: Seq[String], valueCol: String,
      cellAgg: Column => Column = max): DataFrame =
    df.groupBy(keyCols.map(new Column(_)): _*)
      .pivot(pivotCol, values)
      .agg(cellAgg(new Column(valueCol)))

  /** A3 — scalar-subquery comparison (reference `database.py:95`): rows whose
    * column equals the global aggregate. Implemented as a broadcast
    * cross-join with the 1-row aggregate, not a driver collect. */
  def whereEqualsGlobalAgg(df: DataFrame, valueCol: String, agg: Column): DataFrame = {
    val scalar = df.agg(agg.as("__agg"))
    df.join(broadcast(scalar), new Column(valueCol) === col("__agg")).drop("__agg")
  }

  /** O-family — deterministic top-k: total order via explicit tiebreak. */
  def topK(df: DataFrame, k: Int, orderCols: Column*): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** As-of join — for each left row, attach the latest right row with
    * `right.tsCol <= left.tsCol` under the same key (the time-series
    * join Spark has no built-in operator for; the reference's J4
    * alignment is the exact-timestamp special case).
    *
    * Implemented as the scalable union-sort form, NOT a range join:
    * both sides are unioned, one shuffle partitions by key, and a
    * running `last(_, ignoreNulls)` window carries each right payload
    * forward to the left rows that follow it in (ts, side, tiebreak)
    * order. Cost is a single sort per key partition — linear, no
    * per-key collect, no quadratic candidate pairs, and skewed keys
    * stay one partition's sort rather than a join explosion.
    *
    * Semantics pinned for determinism: inclusive (a right row exactly
    * at left.ts matches, because right sorts before left on ties), and
    * among right rows sharing (key, ts) the greatest `tiebreak` wins.
    * `payload` columns must exist on `right` and not collide with left
    * columns; left rows with no earlier right row keep NULL payloads
    * (left-outer semantics).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      payload: Seq[String], tiebreak: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => c == key || c == tsCol).toSeq
    // the payload travels as ONE struct: per-column carry would stitch
    // together fields of DIFFERENT right rows when the latest row has a
    // NULL field (ignoreNulls would skip past it per-column); the struct
    // is never null for a right row, so the carry is atomic
    val plType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))
    val l = left.select(
      Seq(col(key), col(tsCol), lit(1).as("__side"),
        lit(null).cast(plType).as("__pl")) ++
        leftCols.map(col) ++
        tiebreak.map(c => lit(null).cast(right.schema(c).dataType).as(s"__tb_$c")): _*)
    val r = right.select(
      Seq(col(key), col(tsCol), lit(0).as("__side"),
        struct(payload.map(col): _*).as("__pl")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        tiebreak.map(c => col(c).as(s"__tb_$c")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol) +: col("__side") +: tiebreak.map(c => col(s"__tb_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__pl", last(col("__pl"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(Seq(col(key), col(tsCol)) ++ leftCols.map(col) ++
        payload.map(c => col(s"__pl.$c").as(c)): _*)
  }

  /** Typo-tolerant lookup: rows whose `nameCol` is within `maxDist`
    * case-insensitive edit distance of the query, nearest first (ties by
    * name). Complements the exact/ILIKE lookups — the catalog-search
    * behavior users expect when a sensor tag is misremembered by a
    * character. `levenshtein`'s codegen'd and capped in Spark via the
    * threshold overload, so the scan stays a linear projection + filter;
    * at catalog size this is trivially cheap, and even on a large
    * dimension it's scan-shaped (no join). */
  def fuzzyLookup(df: DataFrame, nameCol: String, query: String,
      maxDist: Int): DataFrame =
    df.withColumn("__dist", levenshtein(lower(col(nameCol)), lit(query.toLowerCase)))
      .filter(col("__dist") <= maxDist)
      .withColumnRenamed("__dist", "dist")
      .orderBy(col("dist"), col(nameCol))

  /** Forward as-of join: each left row picks the EARLIEST right row with
    * `right.ts >= left.ts` (inclusive; smallest (ts, tiebreak) wins) —
    * the "next reading after the query instant" lookup, the mirror of
    * [[asofJoin]]. Same union-sort shape: right rows get side 2 so they
    * sort AFTER a left row at the same timestamp (making the match
    * inclusive), and one `first` over the following window carries the
    * next payload back — linear per key partition, no pair join. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      payload: Seq[String], tiebreak: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => c == key || c == tsCol).toSeq
    val plType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))
    val l = left.select(
      Seq(col(key), col(tsCol), lit(1).as("__side"),
        lit(null).cast(plType).as("__pl")) ++
        leftCols.map(col) ++
        tiebreak.map(c => lit(null).cast(right.schema(c).dataType).as(s"__tb_$c")): _*)
    val r = right.select(
      Seq(col(key), col(tsCol), lit(2).as("__side"),
        struct(payload.map(col): _*).as("__pl")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        tiebreak.map(c => col(c).as(s"__tb_$c")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol) +: col("__side") +: tiebreak.map(c => col(s"__tb_$c")): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(r)
      .withColumn("__pl", first(col("__pl"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(Seq(col(key), col(tsCol)) ++ leftCols.map(col) ++
        payload.map(c => col(s"__pl.$c").as(c)): _*)
  }

  /** Nearest as-of join: each left row picks the right row with the
    * SMALLEST |Δt| in either direction — the sensor-alignment lookup
    * when readings may lag or lead the query instant ([[asofJoin]] and
    * [[asofJoinForward]] are its one-sided halves). Equidistant
    * before/after → the earlier (backward) row wins; among equal-ts
    * candidates each side keeps its own direction's convention (the
    * backward leg the largest tiebreak, the forward leg the smallest —
    * inherited verbatim from the one-sided operators). Appends
    * `matched_ts` (the chosen row's timestamp) and `dir`
    * ('before' — including an exact-ts hit — or 'after').
    *
    * Scale shape: the SAME single union-sort as the one-sided joins —
    * one window partition sort per key carries the previous payload
    * (last over preceding) and the next (first over following)
    * simultaneously; the Δt comparison is a per-row integer-micros
    * expression. Never a range join, never a pair explosion; a same-ts
    * right row lands in the backward carry with Δ=0, which always
    * wins, so one sort order serves both directions. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, payload: Seq[String], tiebreak: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => c == key || c == tsCol).toSeq
    val plType = org.apache.spark.sql.types.StructType(
      right.schema(tsCol).copy(name = "__mts") +:
        payload.map(c => right.schema(c).copy(name = c)))
    val l = left.select(
      Seq(col(key), col(tsCol), lit(1).as("__side"),
        lit(null).cast(plType).as("__pl")) ++
        leftCols.map(col) ++
        tiebreak.map(c => lit(null).cast(right.schema(c).dataType).as(s"__tb_$c")): _*)
    val r = right.select(
      Seq(col(key), col(tsCol), lit(0).as("__side"),
        struct(col(tsCol).as("__mts") +: payload.map(col): _*).as("__pl")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        tiebreak.map(c => col(c).as(s"__tb_$c")): _*)
    val ord = col(tsCol) +: col("__side") +: tiebreak.map(c => col(s"__tb_$c"))
    val wPrev = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val lts = unix_micros(col(tsCol).cast("timestamp"))
    val pd = lts - unix_micros(col("__prev.__mts").cast("timestamp"))
    val nd = unix_micros(col("__next.__mts").cast("timestamp")) - lts
    val chosen = when(col("__prev").isNull, col("__next"))
      .when(col("__next").isNull, col("__prev"))
      .when(pd <= nd, col("__prev"))
      .otherwise(col("__next"))
    l.unionByName(r)
      .withColumn("__prev", last(col("__pl"), ignoreNulls = true).over(wPrev))
      .withColumn("__next", first(col("__pl"), ignoreNulls = true).over(wNext))
      .filter(col("__side") === 1)
      .withColumn("__ch", chosen)
      .select(Seq(col(key), col(tsCol)) ++ leftCols.map(col) ++
        payload.map(c => col(s"__ch.$c").as(c)) ++ Seq(
          col("__ch.__mts").as("matched_ts"),
          when(col("__ch").isNull, lit(null).cast("string"))
            .when(col("__ch.__mts") <= col(tsCol), lit("before"))
            .otherwise(lit("after")).as("dir")): _*)
  }

  /** Range (interval) join — match each left row to the right intervals
    * containing its timestamp under the same key: `start <= ts <= end`
    * (inclusive both ends, like SQL BETWEEN). The second time-series
    * join Spark has no built-in operator for (with [[asofJoin]]).
    *
    * Scale shape: NEVER a key-equi join with a range residual — on a
    * hot key that degenerates to |events| × |intervals| pair
    * generation. Instead both sides are bucketed onto a fixed time
    * grid: an interval registers one row per covered cell (bounded by
    * its duration / bucket), an event probes exactly its own cell, and
    * the join is a pure equi-join on (key, cell) with the precise
    * bounds as a post-filter. Each qualifying pair materializes exactly
    * once (the event's cell intersects a covering interval's cell list
    * exactly once), so no dedup pass is needed. `bucketSeconds` tunes
    * replication: pick it near the typical interval length so most
    * intervals register 1-2 cells. */
  def rangeJoin(events: DataFrame, intervals: DataFrame, key: String,
      tsCol: String, startCol: String, endCol: String,
      bucketSeconds: Long): DataFrame = {
    val b = bucketSeconds * 1000000L
    def cellOf(c: Column) = floor(unix_micros(c.cast("timestamp")) / b).cast("long")
    val e = events.withColumn("__cell", cellOf(col(tsCol)))
    // an inverted interval (end < start) matches nothing by BETWEEN
    // semantics; without this filter `sequence(hi, lo, 1)` would THROW at
    // runtime and one malformed row would fail the whole job
    val iv = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__cell",
        explode(sequence(cellOf(col(startCol)), cellOf(col(endCol)), lit(1L))))
    e.join(iv, Seq(key, "__cell"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__cell")
  }

  /** Interval-overlap join — match left intervals to right intervals
    * that OVERLAP them under the same key (`l_start <= r_end AND
    * r_start <= l_end`, inclusive like BETWEEN): the third temporal
    * join Spark has no operator for, completing [[asofJoin]]
    * (point→latest point) and [[rangeJoin]] (point→containing
    * interval). The segment-alignment primitive: sessions × incident
    * windows, speech turns × video scenes, maintenance windows ×
    * sensor outages.
    *
    * Scale shape: same grid trick as [[rangeJoin]], but since BOTH
    * sides are intervals a pair can now share MANY cells — instead of
    * a dedup pass, a pair is emitted only in the FIRST shared cell of
    * its overlap (`cell = max(cell(l_start), cell(r_start))`, well
    * defined because an overlap is contiguous in cell space), so each
    * qualifying pair materializes exactly once and the join stays a
    * pure (key, cell) equi-join with post-filters. Inverted intervals
    * (end < start) match nothing on either side. Left and right must
    * not share data column names (select/alias before joining). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame, key: String,
      lStartCol: String, lEndCol: String, rStartCol: String, rEndCol: String,
      bucketSeconds: Long): DataFrame = {
    val b = bucketSeconds * 1000000L
    def cellOf(c: Column) = floor(unix_micros(c.cast("timestamp")) / b).cast("long")
    def cells(df: DataFrame, s: String, e: String) = df
      .filter(col(e) >= col(s))
      .withColumn("__cell",
        explode(sequence(cellOf(col(s)), cellOf(col(e)), lit(1L))))
    cells(left, lStartCol, lEndCol)
      .join(cells(right, rStartCol, rEndCol), Seq(key, "__cell"))
      .filter(col(lStartCol) <= col(rEndCol) && col(rStartCol) <= col(lEndCol))
      .filter(col("__cell") ===
        greatest(cellOf(col(lStartCol)), cellOf(col(rStartCol))))
      .drop("__cell")
  }

  /** Materialize a frame bucketed+sorted by its join key — the layout
    * that lets two big fact tables join with NO shuffle exchange on
    * either side (co-located sort-merge join), the 100 TB alternative
    * to shuffling both sides on every query. One write-time shuffle
    * buys every subsequent join; `ScaleTechniquesSpec` proves the
    * zero-exchange plan. Registers `tableName` in the session catalog
    * (bucket metadata lives in the catalog, not the files — a plain
    * `spark.read.parquet` of the path would NOT get the bucketed plan). */
  def materializeBucketed(df: DataFrame, path: String, tableName: String,
      key: String, buckets: Int): DataFrame =
    materializeBucketed(df, path, tableName, Seq(key), buckets)

  /** [[materializeBucketed]] on a compound key (e.g. the streaming-dedup
    * registry's (band, k0, k1) bucket id): a join or aggregate keyed on
    * ALL the bucket columns reads the table with no exchange. */
  def materializeBucketed(df: DataFrame, path: String, tableName: String,
      keys: Seq[String], buckets: Int): DataFrame =
    materializeBucketed(df, path, tableName, keys, buckets,
      onePerBucket = false)

  /** [[materializeBucketed]] with the file-count lever explicit.
    *
    * `onePerBucket = true` repartitions on the bucket key FIRST: a
    * bucketed write emits one file per (task, bucket) pair, so writing
    * from an N-partition frame produces N×buckets small files and every
    * later probe pays N× the footer/open cost (measured 4× on the 100×
    * incremental-CC append). Spark's repartition hash IS the bucket
    * hash (Murmur3 pmod), so this aligns each task with exactly one
    * bucket → one file per bucket. Use it for PROBE-shaped registries
    * (a maintenance sweep writing compact state).
    *
    * Leave it false for corpus-sized tables bucketed on LOW-CARDINALITY
    * keys (the ANN indexes bucket by "cluster" with ≤ nCentroids
    * distinct values): there the repartition would funnel the whole
    * corpus through ≤ cardinality write tasks — one task external-sorts
    * 1/k of the corpus — where the plain write keeps all upstream
    * tasks in parallel. */
  def materializeBucketed(df: DataFrame, path: String, tableName: String,
      keys: Seq[String], buckets: Int, onePerBucket: Boolean): DataFrame = {
    val src = if (onePerBucket) df.repartition(buckets, keys.map(col): _*) else df
    src.write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path).mode("overwrite").saveAsTable(tableName)
    df.sparkSession.table(tableName)
  }

  /** Z-order (Morton) key: round-robin bit interleave of up to a few
    * non-negative integer columns, each clamped to `bits` bits. Rows
    * sorted by this key cluster into small HYPER-RECTANGLES of the
    * multi-column space instead of thin slices of the leading column —
    * the layout Delta's OPTIMIZE ZORDER / Iceberg's sort-order z-curve
    * produce, in plain Spark expressions. Callers pre-scale each column
    * into [0, 2^bits) (rank, modulo, or min-max scale — the spec shows
    * the pattern); `bits * cols.length` must stay ≤ 62. */
  def zOrderKey(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && bits * cols.length <= 62,
      s"need 1+ cols and bits*n <= 62 (got ${cols.length} cols x $bits bits)")
    val mask = (1L << bits) - 1
    val clamped = cols.map(c => least(greatest(c.cast("long"), lit(0L)), lit(mask)))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      clamped.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(c, i).bitwiseAND(lit(1L)), i * cols.length + j))
      }
    }
  }

  /** Oracle twin of [[zOrderKey]]: the identical interleave in portable
    * div/mod arithmetic (`((x // 2^i) % 2) * 2^(i*n+j)` summed) — equal
    * to the Scala bit ops for the non-negative pre-scaled inputs the
    * contract requires, and runnable by any ANSI engine. */
  def zOrderKeySql(cols: Seq[String], bits: Int = 16): String = {
    require(cols.nonEmpty && bits * cols.length <= 62)
    val n = cols.length
    val terms = for (i <- 0 until bits; (c, j) <- cols.zipWithIndex)
      yield s"((($c) // ${1L << i}) % 2) * ${1L << (i * n + j)}"
    terms.mkString("(CAST(", " + ", " AS BIGINT))")
  }

  /** Write `df` as parquet clustered on the Z-order key of `cols`:
    * range-partition on the key (one write-time shuffle), sort within
    * each file, drop the key. Every output file then covers a small
    * hyper-rectangle of the clustered columns, so the per-file /
    * per-row-group min-max stats are TIGHT in EVERY clustered dimension
    * — a range filter on any of them skips most of the data (parquet
    * row-group pruning; file-level skipping too under a stats manifest
    * à la Delta/Iceberg). Linear sort gives this for the leading column
    * only; Z-order buys it for all of them at the cost of slightly
    * looser leading-column bounds. The complement of
    * [[materializeBucketed]]: bucketing optimizes equi-JOIN locality,
    * Z-order optimizes multi-column range SCANS. */
  def materializeZOrdered(df: DataFrame, path: String, cols: Seq[Column],
      nFiles: Int, bits: Int = 16): DataFrame = {
    df.withColumn("__z", zOrderKey(cols, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Numeric band (theta) join: match rows whose INTEGER-unit values
    * differ by at most `eps` under the same key (`|l − r| ≤ eps`,
    * inclusive) — the [[rangeJoin]] grid trick on a numeric axis
    * instead of time, for price-band matching, tolerance joins,
    * measurement reconciliation. The left side registers its single
    * eps-cell (floor division via `pmod`, correct for NEGATIVE values
    * where `div` truncation would misplace a cell); the right side
    * registers (cell−1, cell, cell+1), so every qualifying pair meets
    * in exactly the left row's cell — a pure (key, cell) equi-join
    * with the exact band as a post-filter, never a key-join with a
    * range residual. Value columns must be pre-quantized to integer
    * units (e.g. cents) by the caller. */
  def bandJoin(left: DataFrame, right: DataFrame, key: String,
      lValCol: String, rValCol: String, eps: Long): DataFrame = {
    require(eps >= 1, s"eps must be >= 1 integer unit, got $eps")
    // (c - pmod(c, eps)) is exactly divisible by eps, so integer `div`
    // is exact and negative-safe; SQL '/' would be DOUBLE division,
    // inexact past 2^53 — breaking the all-integer contract
    def cellOf(c: String) = expr(s"($c - pmod($c, $eps)) div $eps")
    val l = left.withColumn("__cell", cellOf(lValCol))
    val r = right.withColumn("__rc", cellOf(rValCol))
      .withColumn("__cell",
        explode(array(col("__rc") - 1, col("__rc"), col("__rc") + 1)))
      .drop("__rc")
    l.join(r, Seq(key, "__cell"))
      .filter(abs(col(lValCol) - col(rValCol)) <= eps)
      .drop("__cell")
  }

  /** Snapshot diff (CDC between two keyed table versions): one full
    * outer join on the key, classified into insert / delete / update /
    * unchanged by null-side and value comparison over the tracked
    * columns (null-safe `<=>`, so a NULL→value change is an update,
    * not noise). The change-data-capture primitive for publishing
    * incremental table versions; emit `unchanged = false` rows only
    * and the output is the delta a downstream MERGE applies. Scale
    * shape: one key shuffle (or zero on bucketed layouts via
    * [[materializeBucketed]]); values compare map-side. */
  def snapshotDiff(before: DataFrame, after: DataFrame, keys: Seq[String],
      trackCols: Seq[String], includeUnchanged: Boolean = false): DataFrame = {
    require(keys.nonEmpty && trackCols.nonEmpty)
    val b = before.select((keys ++ trackCols).map(col): _*)
      .withColumn("__b", lit(1))
    val a = after.select(keys.map(col) ++
      trackCols.map(c => col(c).as(s"__a_$c")): _*).withColumn("__a", lit(1))
    val changed = trackCols.map(c => !(col(c) <=> col(s"__a_$c")))
      .reduce(_ || _)
    val op = when(col("__b").isNull, lit("insert"))
      .when(col("__a").isNull, lit("delete"))
      .when(changed, lit("update"))
      .otherwise(lit("unchanged"))
    val out = b.join(a, keys, "full_outer").withColumn("op", op)
      .select(keys.map(col) :+ col("op") :++
        trackCols.flatMap(c => Seq(col(c).as(s"before_$c"),
          col(s"__a_$c").as(s"after_$c"))): _*)
    if (includeUnchanged) out else out.filter(col("op") =!= "unchanged")
  }

  /** Per-file min/max stats MANIFEST over a parquet layout — the
    * Delta/Iceberg file-skipping metadata as a plain table: one
    * combinable scan grouped by `input_file_name`, one row per file
    * with `min_<col>`/`max_<col>` bounds plus a row count. Built once
    * per layout write (amortized over every subsequent pruned read);
    * the result is FILE-catalog-sized, not data-sized. Pairs with
    * [[materializeZOrdered]]: Z-order makes the per-file boxes tight
    * in every clustered dimension, which is what makes the manifest
    * selective. */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Manifest-pruned range read: keep only the files whose
    * [min, max] box INTERSECTS every requested range (a file that
    * cannot match is never opened), then re-apply the exact predicate
    * to the survivors — so the result is row-identical to the full
    * filtered scan, only cheaper. The manifest filter collects a FILE
    * LIST (bounded by the layout's file count, catalog-sized by
    * construction); zero surviving files short-circuits to an empty
    * frame without touching storage. `ranges` are inclusive bounds per
    * column. */
  def manifestPrunedRead(spark: org.apache.spark.sql.SparkSession,
      path: String, manifest: DataFrame,
      ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "pruned read needs at least one range")
    val boxHit = ranges.map { case (c, lo, hi) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    val exact = ranges.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    val files = manifest.filter(boxHit).select("file")
      .collect().map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else
      spark.read.parquet(files: _*).filter(exact)
  }

  /** Skew-safe equi-join (the 100 TB tool for hot keys, e.g. one sensor
    * producing most archive rows): the big side's hot partitions are split
    * by a salt derived from a per-row expression, the small side is
    * replicated `saltFactor`× so every (key, salt) pair still matches.
    * Result set is EXACTLY the plain inner join's; only the shuffle
    * layout changes — max partition size drops by ~saltFactor. Use when
    * AQE's skew-join split can't help (e.g. pre-bucketed layouts).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      bigSaltSource: Column, saltFactor: Int): DataFrame = {
    val b = big.withColumn("__salt", pmod(xxhash64(bigSaltSource), lit(saltFactor)).cast("int"))
    val s = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Market-basket association rules (Agrawal & Srikant, VLDB 1994 —
    * the 2-itemset pass): for every DIRECTED item pair co-occurring in
    * at least `minPairCount` baskets, support / confidence / lift. Item
    * multiplicity within a basket is ignored (set semantics —
    * `baskets` dedupes first). Counts are exact BIGINTs and each
    * metric is ONE double division (lift's numerator/denominator
    * cross-multiplied first), so rows are engine-exact; the
    * minPairCount gate is on the exact pair COUNT, never on a derived
    * float.
    *
    * Scale shape: basket dedup + item counts are combinable groupBys;
    * pair volume is bounded by the basket-size distribution (Σ k_i² —
    * the d_jaccard inverted-index arithmetic) and generated IN-ROW
    * from each basket's collected item set (two pipelined explodes —
    * one groupBy(basket) shuffle instead of a within-basket self-join
    * SMJ that shuffles the row set twice). The pair keys are
    * near-unique (most co-bought pairs occur in few baskets), so the
    * pair count pre-repartitions on the pair key and aggregates
    * COMPLETE in-stage — a partial aggregate over near-unique keys
    * does full hash-map work for ~zero reduction and overflows into
    * the sort-based fallback (the g_linkpred r9 root cause,
    * `GraphOps.linkPrediction`). Item totals join back by single-key
    * equi-joins against the item-count table (vocab-sized). No
    * all-pairs across baskets, nothing collected to the driver. */
  def associationRules(baskets: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L): DataFrame = {
    // ONE shuffle builds the per-basket item SET (collect_set dedupes
    // in-agg, so no separate distinct pass), and basket total / item
    // counts / pair-gen all hang off it — AQE exchange reuse shuffles
    // the raw rows once for all three consumers. Semantics parity with
    // the former distinct() form: groupBy treats NULL baskets as one
    // group exactly as DISTINCT does; count(col) skips it exactly as
    // countDistinct did; collect_set drops NULL items exactly as the
    // item_a =!= item_b pair filter did (and NULL item-count groups
    // never survived the equi-join back anyway).
    val ba = baskets.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .groupBy("__bk").agg(collect_set(col("__it")).as("__is"))
    val nBaskets = ba.agg(count(col("__bk")).as("__n"))
    val itemCounts = ba.select(explode(col("__is")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    // explicit partition count = the session's AQE initialPartitionNum
    // (scales with the cluster; stops AQE coalescing the exchange into
    // advisory-size partitions whose per-task maps would hold millions
    // of near-unique keys — measured 1.5-2× slower on g_linkpred)
    val aggParts = baskets.sparkSession.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(_.toInt)
      .getOrElse(baskets.sparkSession.sessionState.conf.numShufflePartitions)
    // NULL baskets form no pairs (the old self-join's equi-key
    // semantics). Double explode streams the k² directed pairs through
    // pipelined generators without materializing a k²-sized array per
    // basket; per-row memory stays O(basket), the collect_set contract.
    val pairs = ba.filter(col("__bk").isNotNull)
      .select(explode(col("__is")).as("item_a"), col("__is"))
      .select(col("item_a"),
        explode(filter(col("__is"), x => x =!= col("item_a"))).as("item_b"))
      .repartition(aggParts, col("item_a"), col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(itemCounts.select(col("item").as("item_a"), col("n_item").as("n_a")), Seq("item_a"))
      .join(itemCounts.select(col("item").as("item_b"), col("n_item").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("__n").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_ab") * col("__n")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Oracle twin of [[associationRules]]: same basket dedup, same exact
    * counts, same three single divisions. */
  def associationRulesSql(basketsSql: String, basketCol: String, itemCol: String,
      minPairCount: Long = 2L): String =
    s"""WITH __b AS (
       |  SELECT DISTINCT $basketCol AS bk, $itemCol AS it FROM ($basketsSql)
       |), __n AS (
       |  SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM __b
       |), __ic AS (
       |  SELECT it AS item, CAST(count(*) AS BIGINT) AS n_item FROM __b GROUP BY it
       |), __p AS (
       |  SELECT a.it AS item_a, b.it AS item_b, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM __b a JOIN __b b ON a.bk = b.bk AND a.it <> b.it
       |  GROUP BY a.it, b.it HAVING count(*) >= $minPairCount
       |)
       |SELECT p.item_a, p.item_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
       |       CAST(p.n_ab AS DOUBLE) / CAST(n.n AS DOUBLE) AS support,
       |       CAST(p.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
       |       CAST(p.n_ab * n.n AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
       |FROM __p p JOIN __ic ia ON p.item_a = ia.item
       |           JOIN __ic ib ON p.item_b = ib.item
       |           CROSS JOIN __n n""".stripMargin

  /** Slowly-changing-dimension TYPE 2 history from versioned snapshots:
    * given rows (key, value, version), keep only the versions where the
    * value CHANGED vs the key's previous snapshot, then stitch validity
    * intervals — valid_from = the changing version, valid_to = the next
    * change (NULL = current). The standard warehouse mechanism as two
    * keyed windows and zero joins: snapshots diff against their own lag,
    * so N snapshots cost one sort per key group, not N−1 self-joins.
    * Works for any snapshot cadence; `version` only needs to be ordered.
    * (The companion snapshot-DIFF operator is d_diff; this is the
    * history ASSEMBLY it feeds.) */
  def scd2(snapshots: DataFrame, keyCol: String, valueCol: String,
      versionCol: String): DataFrame = {
    val byVer = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(versionCol)
    snapshots
      .withColumn("__prev", lag(col(valueCol), 1).over(byVer))
      .filter(col("__prev").isNull || col(valueCol) =!= col("__prev"))
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(byVer))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("valid_to"), col("is_current"))
  }

  /** Oracle twin of [[scd2]] — same two windows. The second window runs
    * over the FILTERED change rows, exactly as the Scala plan does. */
  def scd2Sql(snapshotsSql: String, key: String, value: String,
      version: String): String =
    s"""WITH __s AS (
       |  SELECT $key, $value, $version,
       |         lag($value) OVER (PARTITION BY $key ORDER BY $version) AS prev
       |  FROM ($snapshotsSql)
       |), __c AS (
       |  SELECT $key, $value, $version AS valid_from
       |  FROM __s WHERE prev IS NULL OR $value <> prev
       |)
       |SELECT $key, $value, valid_from,
       |       lead(valid_from) OVER (PARTITION BY $key ORDER BY valid_from) AS valid_to,
       |       lead(valid_from) OVER (PARTITION BY $key ORDER BY valid_from) IS NULL AS is_current
       |FROM __c""".stripMargin
}
