package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Entity resolution (record linkage) over structured records: the
  * blocking → pairwise-scoring → clustering pipeline of Fellegi–Sunter
  * style dedup systems (Dedupe, Zingg, Splink), re-expressed as three
  * declarative Spark stages.
  *
  *  - BLOCKING is an equi-self-join on a compound block key — the only
  *    candidate generator, so pair volume is Σ_b |block_b|² / 2, never
  *    |records|². The block key is the scale lever: at 100 TB you widen
  *    it (more columns, finer buckets) until blocks are small, and
  *    [[candidatePairs]]' `maxBlock` drops pathological blocks outright
  *    (the `maxDf` discipline of the Jaccard pair generators — a block
  *    too big to score pairwise is by definition not discriminating).
  *  - SCORING is `levenshtein` — codegen'd in Spark, identical classic
  *    edit-distance semantics in the DuckDB twin — plus an integer
  *    similarity percent, so no float comparison exists to diverge.
  *  - ENTITIES is connected components over the match pairs
  *    ([[Dedup.clusters]]' label propagation): matched records collapse
  *    to the min-id canonical record of their component.
  *
  * Part of the beyond-reference curation surface (like the dedup and
  * ANN families): the structured-record face of near-duplicate
  * detection, for catalogs and metadata tables rather than documents.
  */
object EntityResolution {

  /** Candidate pairs via blocking: records sharing EVERY `blockCols`
    * value meet; each unordered pair emits once (`id_a < id_b`).
    * Records with a NULL in any block column never pair (a NULL key is
    * not evidence of sameness). `maxBlock` drops blocks larger than the
    * cap BEFORE the self-join — the skew lever that keeps the join's
    * per-key fanout bounded. */
  def candidatePairs(records: DataFrame, idCol: String,
      blockCols: Seq[String], maxBlock: Option[Int] = None): DataFrame = {
    require(blockCols.nonEmpty, "blocking needs at least one column")
    val base0 = records
      .select(col(idCol).as("__id") +: blockCols.map(col): _*)
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
    val base = maxBlock match {
      case Some(cap) =>
        // block sizes are one combinable groupBy, catalog-shaped in the
        // block key; the cap filter is a broadcast-able semi structure
        val sizes = base0.groupBy(blockCols.map(col): _*)
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= cap)
          .drop("__bn")
        base0.join(broadcast(sizes), blockCols, "left_semi")
      case None => base0
    }
    // hash-cluster on the block key BEFORE the self-join: both branches
    // then share one exchange (ReuseExchange) and the per-block pair
    // fan-out runs wide instead of inheriting the record scan's task
    // count (the sf fixtures' single-row-group part file scans as ONE
    // task, which serialized the whole levenshtein stage downstream —
    // measured 1.5-1.8 s of er_match's ~2 s in one task on 32 cores).
    // The count is PINNED to spark.sql.shuffle.partitions (the
    // cluster-scaled parallelism knob): AQE sizes coalescing by the
    // exchange's INPUT bytes, and a catalog-sized record table under
    // minPartitionSize coalesces to ONE partition — serializing the
    // block² pair fan-out AQE cannot see. (The wider
    // initialPartitionNum lever was measured here too: its 8×-cores
    // width leaks into the downstream CC loop's checkpointed pair
    // table, multiplying every propagation round's task count for no
    // win — pair streams are join inputs, not near-unique-key
    // aggregates.) At 100 TB a blocking join shuffles by block key
    // anyway, so this pins the right plan instead of trusting the
    // broadcast estimate.
    // NOTE: conf.get, not sessionState.conf.numShufflePartitions — the
    // latter returns the AQE INITIAL partition count (8× cores) when
    // coalescing is enabled, which is the wide lever this comment just
    // rejected.
    val parted = base.repartition(
      records.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      blockCols.map(col): _*)
    parted.as("a").join(parted.as("b"),
        blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
  }

  /** Blocked pairwise matching: candidate pairs whose `nameCol` edit
    * distance is ≤ `maxDist`, with names, the distance, and an integer
    * similarity percent (100 − 100·dist div max-length — exact integer
    * arithmetic, no float similarity to diverge between engines). */
  def matchPairs(records: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDist: Int,
      maxBlock: Option[Int] = None): DataFrame = {
    val names = records.select(col(idCol).as("__id"), col(nameCol).as("__nm"))
    candidatePairs(records, idCol, blockCols, maxBlock)
      .join(names.select(col("__id").as("id_a"), col("__nm").as("name_a")), Seq("id_a"))
      .join(names.select(col("__id").as("id_b"), col("__nm").as("name_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("int"))
      .filter(col("dist") <= maxDist)
      .withColumn("sim_pct",
        (lit(100L) - expr("(100 * cast(dist as bigint)) div " +
          "greatest(length(name_a), length(name_b))")).cast("bigint"))
      .select("id_a", "id_b", "name_a", "name_b", "dist", "sim_pct")
  }

  /** Resolved entities: connected components over the match pairs —
    * every record labeled with the min record id of its match component
    * (itself when unmatched). Label propagation runs only on the
    * matched subgraph; the full record set joins back once. */
  def entities(records: DataFrame, idCol: String, matches: DataFrame): DataFrame =
    Dedup.clusters(records.select(idCol), matches, idCol)
      .withColumnRenamed("cluster", "entity")

  /** Survivorship — one GOLDEN record per resolved entity (the MDM
    * step after [[entities]]): the canonical name is the entity's MODE
    * with a deterministic tie-break (highest count, then lexically
    * smallest — never "whichever row arrived first"), and each
    * `maxCols` field survives as its per-entity MAX (the
    * highest-confidence-value rule for monotone fields like
    * last-updated or price ceilings). Emits
    * (entity, n_records, canonical_name, max_<col>...).
    *
    * Scale shape: the mode is a (entity, name) count + per-entity
    * rank-1 — Spark plans the rank as WindowGroupLimit, so only each
    * entity's leading candidate crosses the final shuffle; everything
    * else is combinable aggregation. No collect, no pairwise work —
    * cost is linear in records regardless of entity skew. */
  def goldenRecords(records: DataFrame, idCol: String, entities: DataFrame,
      nameCol: String, maxCols: Seq[String]): DataFrame = {
    val joined = records.join(entities, records(idCol) === entities("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("entity").orderBy(col("__cnt").desc, col(nameCol).asc)
    // NULL names are MISSING data, never mode candidates (and Spark's
    // asc sorts NULLs first while DuckDB defaults NULLS LAST — the
    // filter removes the divergence along with the bad survivor); an
    // entity whose every name is NULL keeps a NULL canonical_name
    // through the left join
    val canon = joined.filter(col(nameCol).isNotNull)
      .groupBy(col("entity"), col(nameCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("entity"), col(nameCol).as("canonical_name"))
    val aggs = count(lit(1)).as("n_records") +:
      maxCols.map(c => max(col(c)).as(s"max_$c"))
    joined.groupBy("entity").agg(aggs.head, aggs.tail: _*)
      .join(canon, Seq("entity"), "left")
      .select(col("entity") +: col("n_records") +: col("canonical_name") +:
        maxCols.map(c => col(s"max_$c")): _*)
  }

  /** One field's comparison levels in a Fellegi–Sunter model: agree /
    * (optional) fuzzy-agree within `fuzzyDist` edits / disagree, each
    * carrying an integer log-likelihood weight in MILLI-units
    * (1000 = one bit of evidence if the weights are log2(m/u) — the
    * m/u estimation is a modeling step done offline, exactly as in
    * Splink/Dedupe; the engine's job is the exact weighted sum). A
    * NULL on either side contributes 0 (absence is not evidence).
    * `fuzzyDist = 0` disables the fuzzy level (right for non-string
    * fields). */
  final case class FsField(field: String, agreeW: Long, disagreeW: Long,
      fuzzyDist: Int = 0, fuzzyW: Long = 0)

  /** Fellegi–Sunter pairwise match scoring (Fellegi & Sunter, JASA
    * 1969; the Splink/Dedupe scoring core): blocked candidate pairs
    * scored as the SUM of per-field comparison-level weights, then
    * gated at `minScore` and classified at `matchScore` —
    * `decision = 'match'` at or above it, `'possible'` below (the
    * clerical-review band). All arithmetic is exact BIGINT milli-units;
    * the only string op is codegen'd `levenshtein` on fields that
    * declare a fuzzy level.
    *
    * Scale shape: [[candidatePairs]]' blocked equi-join bounds pair
    * volume (Σ block²/2, `maxBlock`-capped); field values ride the
    * pair stream through two thin id joins; scoring is pure
    * column arithmetic, no UDF, no shuffle beyond the joins. */
  def fsScore(records: DataFrame, idCol: String, fields: Seq[FsField],
      blockCols: Seq[String], minScore: Long, matchScore: Long,
      maxBlock: Option[Int] = None): DataFrame = {
    require(fields.nonEmpty, "need at least one scored field")
    val cols = fields.map(_.field).distinct
    val sides = records.select(col(idCol).as("__id") +: cols.map(col): _*)
    val a = sides.select(col("__id").as("id_a") +:
      cols.map(c => col(c).as(s"a_$c")): _*)
    val b = sides.select(col("__id").as("id_b") +:
      cols.map(c => col(c).as(s"b_$c")): _*)
    val weighted = candidatePairs(records, idCol, blockCols, maxBlock)
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
    val fieldW: Seq[Column] = fields.map { f =>
      val (av, bv) = (col(s"a_${f.field}"), col(s"b_${f.field}"))
      val base = when(av.isNull || bv.isNull, lit(0L))
        .when(av === bv, lit(f.agreeW))
      val levelled =
        if (f.fuzzyDist > 0)
          base.when(levenshtein(av, bv) <= f.fuzzyDist, lit(f.fuzzyW))
        else base
      levelled.otherwise(lit(f.disagreeW))
    }
    weighted
      .withColumn("score", fieldW.reduce(_ + _))
      .filter(col("score") >= minScore)
      .withColumn("decision",
        when(col("score") >= matchScore, lit("match")).otherwise(lit("possible")))
      .select("id_a", "id_b", "score", "decision")
  }

  // ---- oracle twins -------------------------------------------------------

  /** SQL twin of [[fsScore]] (no block cap, same as [[matchPairsSql]]).
    * CASE evaluates levels in the same order as the Column chain. */
  def fsScoreSql(table: String, idCol: String, fields: Seq[FsField],
      blockCols: Seq[String], minScore: Long, matchScore: Long): String = {
    val cols = fields.map(_.field).distinct
    val blockEq = blockCols.map(c => s"a.$c = b.$c").mkString(" AND ")
    val notNull = blockCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val terms = fields.map { f =>
      val (av, bv) = (s"a.${f.field}", s"b.${f.field}")
      val fuzzy =
        if (f.fuzzyDist > 0)
          s" WHEN levenshtein($av, $bv) <= ${f.fuzzyDist} THEN CAST(${f.fuzzyW} AS BIGINT)"
        else ""
      s"""CASE WHEN $av IS NULL OR $bv IS NULL THEN CAST(0 AS BIGINT)
         |     WHEN $av = $bv THEN CAST(${f.agreeW} AS BIGINT)$fuzzy
         |     ELSE CAST(${f.disagreeW} AS BIGINT) END""".stripMargin
    }.mkString(" + ")
    s"""WITH __r AS (SELECT $idCol AS id, ${(cols ++ blockCols).distinct.mkString(", ")}
       |             FROM $table WHERE $notNull),
       |__s AS (SELECT a.id AS id_a, b.id AS id_b, $terms AS score
       |        FROM __r a JOIN __r b ON $blockEq AND a.id < b.id)
       |SELECT id_a, id_b, score,
       |       CASE WHEN score >= $matchScore THEN 'match' ELSE 'possible' END AS decision
       |FROM __s WHERE score >= $minScore""".stripMargin
  }

  /** SQL twin of [[matchPairs]] (no block cap — the cap is a scale
    * lever, exercised by spec, not semantics). */
  def matchPairsSql(table: String, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDist: Int): String = {
    val blockEq = blockCols.map(c => s"a.$c = b.$c").mkString(" AND ")
    val notNull = blockCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    s"""WITH __r AS (SELECT $idCol AS id, $nameCol AS nm, ${blockCols.mkString(", ")}
       |             FROM $table WHERE $notNull),
       |__p AS (SELECT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b,
       |               CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
       |        FROM __r a JOIN __r b ON $blockEq AND a.id < b.id)
       |SELECT id_a, id_b, name_a, name_b, dist,
       |       CAST(100 - (100 * CAST(dist AS BIGINT)) // greatest(length(name_a), length(name_b)) AS BIGINT) AS sim_pct
       |FROM __p WHERE dist <= $maxDist""".stripMargin
  }

  /** SQL twin of [[entities]]: recursive reachability over the
    * symmetric closure of the match pairs, min-id label per record —
    * the d_cluster oracle shape seeded from `table`. */
  def entitiesSql(table: String, idCol: String, pairsSql: String): String =
    s"""WITH RECURSIVE __pairs AS ($pairsSql),
       |__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs
       |          UNION ALL SELECT id_b, id_a FROM __pairs),
       |__reach(src, dst) AS (
       |  SELECT $idCol, $idCol FROM $table
       |  UNION
       |  SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src)
       |SELECT src AS id, min(dst) AS entity FROM __reach GROUP BY src""".stripMargin

  /** SQL twin of [[goldenRecords]]: `entitiesSelect` is a full
    * [[entitiesSql]] statement (nested as a derived table), the mode
    * rank uses the same (count DESC, name ASC) total order. */
  def goldenRecordsSql(recordsSql: String, idCol: String,
      entitiesSelect: String, nameCol: String, maxCols: Seq[String]): String = {
    val maxes = maxCols.map(c => s"max($c) AS max_$c").mkString(", ")
    val outMax = maxCols.map(c => s"a.max_$c").mkString(", ")
    s"""WITH __ent AS (SELECT * FROM ($entitiesSelect)),
       |__rec AS ($recordsSql),
       |__j AS (SELECT e.entity, r.* FROM __rec r JOIN __ent e ON r.$idCol = e.id),
       |__nc AS (SELECT entity, $nameCol AS nm, count(*) AS cnt FROM __j
       |         WHERE $nameCol IS NOT NULL GROUP BY 1, 2),
       |__cn AS (SELECT entity, nm AS canonical_name FROM (
       |  SELECT entity, nm, row_number() OVER (PARTITION BY entity ORDER BY cnt DESC, nm) AS rn
       |  FROM __nc) WHERE rn = 1),
       |__agg AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_records, $maxes
       |          FROM __j GROUP BY 1)
       |SELECT entity, a.n_records, c.canonical_name, $outMax
       |FROM __agg a LEFT JOIN __cn c USING (entity)""".stripMargin
  }
}
