package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.formula.Formula
import graft.model.Tables
import graft.multimodal.Multimodal
import graft.ops.Relational
import graft.sim.Similarity
import graft.text.TextOps
import graft.tree.Hierarchy

/** Driver contract — one `queries` entry (plus a DuckDB `oracleSql` twin)
  * per implemented operator from SURVEY.md §2. Every query orders its
  * output deterministically (explicit total-order tiebreaks) and avoids
  * cross-engine float-summation ambiguity (decimal casts for money sums;
  * min/max/count for everything aggregated from doubles).
  */
object SparkEntry {

  /** Event-type → attribute_id mapping used to model the reference's tall
    * EAV `archive` on the harness `events` table (alphabetical, 1-based). */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The er_score Fellegi–Sunter model, shared by the query and its
    * oracle twin: name carries the discriminating evidence (fuzzy level
    * at ≤3 edits), the categorical fields corroborate. Milli-unit
    * log-likelihood weights — plausible log2(m/u) magnitudes, pinned as
    * constants because m/u estimation is an offline modeling step. */
  private[graft] val ErScoreFields = Seq(
    graft.er.EntityResolution.FsField("p_name", agreeW = 4000L,
      disagreeW = -3000L, fuzzyDist = 3, fuzzyW = 2500L),
    graft.er.EntityResolution.FsField("p_size", agreeW = 1800L, disagreeW = -1200L))

  /** Target keep-percentages per source for the mixture-sampling query
    * (sources not listed keep 100%). */
  private val MixtureRates = Seq("src0" -> 100, "src1" -> 50, "src2" -> 25)

  /** The brute-force exact kNN oracle statement — shared by s_knn_brute
    * and as the ground-truth side of the recall evaluations. */
  private lazy val BruteKnnSql =
    "WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5), " +
      "s AS (SELECT query_id, e.vec_id AS neighbor_id, " +
      s"${graft.sim.Similarity.cosineSql("q_vec", "e.embedding", 64)} AS cos " +
      "FROM embeddings e JOIN q ON query_id <> e.vec_id), " +
      "r AS (SELECT query_id, neighbor_id, cos, " +
      "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM s) " +
      "SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank"

  /** One shared parent for the incremental-query temp registries
    * (d_stream_cluster, er_inc, w3_session_inc, g_pagerank_inc, g_cc_inc)
    * with ONE process-wide shutdown hook — repeated invocations in a
    * long-lived session (bench passes, verify loops) each get a fresh
    * subdirectory but never accumulate hooks, and the whole tree is
    * swept at JVM exit. */
  private lazy val tmpRegistryRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_inc_reg")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
    root
  }

  private def freshRegistryDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tmpRegistryRoot, prefix).toString

  /** The reference's `element` tree (site → unit) modeled from
    * region (level 0, roots) ∪ nation (level 1, element_id offset +100). */
  private def elementDim(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).select(
      lit(0).as("level"), col("r_regionkey").as("element_id"),
      col("r_name").as("name"), lit(null).cast("int").as("parent_id"))
    val nation = Tables.nation(s, dir).select(
      lit(1).as("level"), (col("n_nationkey") + 100).cast("int").as("element_id"),
      col("n_name").as("name"), col("n_regionkey").as("parent_id"))
    region.unionByName(nation)
  }

  /** The co-purchase basket projection (order key, part key),
    * pre-repartitioned by order key. The graph cells' basket self-join
    * inherits its parallelism from THIS frame: without the repartition
    * the sf fixtures' single-row-group lineitem file scans as ONE task
    * and the whole k²-per-basket pair fan-out (plus the distinct's
    * partial aggregate) runs serially — measured 3.7 s of g_lpa's 7 s
    * inside a 6-task job on 32 cores. Hash-clustering on the join key
    * means both self-join branches share the one exchange
    * (ReuseExchange), so this adds no second shuffle; no partition
    * count is pinned — AQE sizes the exchange (scale-adaptive, and
    * parallelismFirst keeps it at ≥ default parallelism; the pinned
    * initialPartitionNum variant measured the same wall-clock for 3×
    * the task-overhead CPU at sf0.1). */
  private def basketItems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey"))
      .repartition(col("ok"))

  /** Tall archive analog: events on an hourly grid, event_type as
    * attribute_id (SURVEY.md §1.3: archive(attribute_id, timestamp, value)). */
  private def archiveDim(s: SparkSession, dir: String): DataFrame = {
    val attrId = eventTypes.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (t, i)) => when(col("event_type") === t, lit(i + 1)).otherwise(acc)
    }
    Tables.events(s, dir).select(
      date_trunc("hour", col("ts")).as("timestamp"),
      attrId.as("attribute_id"),
      col("value"))
  }

  private val elementSqlCte =
    """element AS (
      |  SELECT 0 AS level, r_regionkey AS element_id, r_name AS name, CAST(NULL AS INTEGER) AS parent_id FROM region
      |  UNION ALL
      |  SELECT 1, CAST(n_nationkey + 100 AS INTEGER), n_name, n_regionkey FROM nation
      |)""".stripMargin

  /** Boilerplate-injection augmentation shared by t_boilerplate /
    * d_stream_boiler: the fixture text is single-line, so both engines
    * append the same newsletter line (every 3rd doc), copyright line
    * (every 4th), and a per-doc unique closing line. */
  private def boilerAug: Column = concat(col("text"),
    when(col("doc_id") % 3 === 0,
      lit("\nSubscribe to our newsletter today!")).otherwise(lit("")),
    when(col("doc_id") % 4 === 0,
      lit("\n(c) 2024 Example Corp. All rights reserved.")).otherwise(lit("")),
    lit("\nClosing note for document "), col("doc_id").cast("string"))

  private val boilerAugSql: String = "(text || " +
    "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter today!' ELSE '' END || " +
    "CASE WHEN doc_id % 4 = 0 THEN chr(10) || '(c) 2024 Example Corp. All rights reserved.' ELSE '' END || " +
    "chr(10) || 'Closing note for document ' || CAST(doc_id AS VARCHAR))"

  private val archiveSqlCte =
    """archive AS (
      |  SELECT date_trunc('hour', ts) AS timestamp,
      |         CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |              WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'view' THEN 5 END AS attribute_id,
      |         value
      |  FROM events
      |)""".stripMargin

  /** Flagship: the reference's export query (SURVEY.md §3.1) — archive
    * filtered to selected attributes + time range, pivoted wide, one column
    * per attribute, ordered by timestamp. Driver smoke-checks rows>0.
    * The range goes through [[Tables.eventsInRange]] so it reaches the
    * parquet scan as pushed raw-nanos bounds (equivalent to filtering the
    * hour-truncated timestamp for an hour-aligned start, since date_trunc
    * rounds down). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val attrId = eventTypes.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (t, i)) => when(col("event_type") === t, lit(i + 1)).otherwise(acc)
    }
    val archive = Tables.eventsInRange(spark, dir, Some("2024-01-01 00:00:00"), None)
      .select(date_trunc("hour", col("ts")).as("timestamp"), attrId.as("attribute_id"),
        col("value"))
    Relational.pivotWide(archive,
      Seq("timestamp"), "attribute_id", (1 to 5).map(_.toString), "value")
      .orderBy("timestamp")
  }

  /** One FK relation's two-directional integrity row for a_ref_integrity:
    * orphan children (FK value with no parent — NULL keys count as
    * orphans, they reference nothing) and unreferenced parents. Scale
    * shape: the fact never crosses a join at full width — both probes
    * project the child to its ONE key column first. The orphan probe
    * deliberately keeps duplicate keys (orphans are counted per
    * occurrence); only the unreferenced-parent side distincts the child
    * keys before its anti join. Small dims broadcast. */
  private def fkAudit(label: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String, smallParent: Boolean): DataFrame = {
    val ckeys = child.select(col(ck).as("__k"))
    val pkeys = parent.select(col(pk).as("__k"))
    val pBuild = if (smallParent) broadcast(pkeys) else pkeys
    ckeys.agg(count(lit(1)).as("n_child"))
      .crossJoin(ckeys.join(pBuild, Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans")))
      .crossJoin(pkeys.agg(count(lit(1)).as("n_parents")))
      .crossJoin(pkeys.join(ckeys.distinct(), Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_unreferenced")))
      .select(lit(label).as("relation"), col("n_child"), col("n_orphans"),
        col("n_parents"), col("n_unreferenced"))
  }

  /** DuckDB twin of [[fkAudit]]. */
  private def fkAuditSql(label: String, childTable: String, ck: String,
      parentTable: String, pk: String): String =
    // coalesce: SUM over an empty side is NULL where the Spark twin's
    // anti-join count() is 0 — an empty relation must audit as 0, not NULL
    s"SELECT '$label' AS relation, o.n_child, o.n_orphans, u.n_parents, u.n_unreferenced FROM " +
      s"(SELECT CAST(count(*) AS BIGINT) AS n_child, " +
      s"CAST(coalesce(sum(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphans " +
      s"FROM (SELECT $ck AS __k FROM $childTable) c " +
      s"LEFT JOIN (SELECT DISTINCT $pk AS __k FROM $parentTable) p USING (__k)) o " +
      s"CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_parents, " +
      s"CAST(coalesce(sum(CASE WHEN c2.__k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unreferenced " +
      s"FROM (SELECT $pk AS __k FROM $parentTable) p2 " +
      s"LEFT JOIN (SELECT DISTINCT $ck AS __k FROM $childTable) c2 USING (__k)) u"

  /** lineitem augmented with the three shipping columns the fixture
    * lacks (`l_commitdate`, `l_receiptdate`, `l_shipmode`), derived
    * deterministically from (l_orderkey, l_linenumber, l_shipdate) with
    * the IDENTICAL expression in the DuckDB twin
    * ([[lineitemShippingSqlFrag]]) — the t_redact injected-suffix
    * pattern. Commit lag ∈ [−30, 30] days and receipt lag ∈ [1, 30]
    * days, so the TPC-H Q4/Q12/Q21 late-delivery predicates
    * (commit < receipt, ship < commit, receipt > commit) are all
    * selectively satisfiable; ship mode cycles the 7 classic modes.
    * All operands are positive, so Spark's and DuckDB's truncating `%`
    * agree. */
  private def lineitemShipping(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("l_commitdate", expr("timestampadd(DAY, " +
        "cast((l_orderkey * 31 + l_linenumber * 7) % 61 - 30 as int), l_shipdate)"))
      .withColumn("l_receiptdate", expr("timestampadd(DAY, " +
        "cast((l_orderkey * 17 + l_linenumber * 11) % 30 + 1 as int), l_shipdate)"))
      .withColumn("l_shipmode", expr(
        "case cast((l_orderkey * 13 + l_linenumber) % 7 as int) " +
          "when 0 then 'AIR' when 1 then 'FOB' when 2 then 'MAIL' " +
          "when 3 then 'RAIL' when 4 then 'REG AIR' when 5 then 'SHIP' " +
          "else 'TRUCK' end"))

  /** Derived `partsupp`: the fixture lacks the table, so each part gets
    * 4 supplier rows picked deterministically from the live supplier key
    * domain (modulo the supplier COUNT via a broadcast scalar — the a3
    * pattern — so the derivation is SF-independent), with availqty and
    * supplycost from the same hash-formula family as
    * [[lineitemShipping]], IDENTICAL in the DuckDB twin. Unlocks
    * TPC-H Q2/Q11/Q20 — with Q4/Q12/Q21 ([[lineitemShipping]]) and
    * Q13 ([[ordersCommented]]) this completes all 22 shapes.
    *
    * `% __ns` lands on live keys because THIS fixture's s_suppkey is
    * 0-based and contiguous ([0, count) at every SF — checked against
    * the generated parquet). On a 1-based catalog (the classic TPC-H
    * convention) the formula would need `% __ns + 1` in BOTH engines;
    * oracle parity is unaffected either way since the twin uses the
    * identical expression. */
  private def partsupp(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey"))
      .crossJoin(broadcast(Tables.supplier(s, d).agg(count(lit(1)).as("__ns"))))
      .select(col("p_partkey"), col("__ns"),
        explode(expr("array(0L, 1L, 2L, 3L)")).as("__k"))
      .select(col("p_partkey").as("ps_partkey"),
        expr("(p_partkey * 7 + __k * 13 + 3) % __ns").as("ps_suppkey"),
        expr("(p_partkey * 31 + __k * 17) % 9999 + 1").as("ps_availqty"),
        expr("(p_partkey * 53 + __k * 29) % 99900 + 100").as("ps_supplycost_cents"))

  /** DuckDB twin of [[partsupp]] (identical formulas). */
  private val partsuppSqlFrag: String =
    "SELECT p_partkey AS ps_partkey, " +
      "(p_partkey * 7 + k * 13 + 3) % ns AS ps_suppkey, " +
      "(p_partkey * 31 + k * 17) % 9999 + 1 AS ps_availqty, " +
      "(p_partkey * 53 + k * 29) % 99900 + 100 AS ps_supplycost_cents " +
      "FROM part " +
      "CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS ns FROM supplier) " +
      "CROSS JOIN (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS k)"

  /** Deterministic `o_comment` for TPC-H Q13: the fixture's orders
    * table has no comment column, so one is derived from the order key
    * (the [[lineitemShipping]] pattern) — 8 fixed phrases, IDENTICAL
    * CASE text in both engines ([[ordersCommented]] passes this same
    * string to Spark's `expr` and the oracle twin inlines it). Two
    * phrases match Q13's `%special%requests%` pattern; one has the
    * words in the WRONG order and one has `special` without a following
    * `requests` — both adversarial non-matches, so the NOT-LIKE
    * predicate is genuinely selective in both directions. All operands
    * positive → truncating `%` agrees across engines. */
  private val ordersCommentCaseSql: String =
    "CASE CAST((o_orderkey * 19 + 5) % 8 AS INTEGER) " +
      "WHEN 0 THEN 'special requests pending approval' " +
      "WHEN 1 THEN 'packed for special deal requests' " +
      "WHEN 2 THEN 'regular delivery no notes' " +
      "WHEN 3 THEN 'expedite shipment as usual' " +
      "WHEN 4 THEN 'requests for special handling' " +
      "WHEN 5 THEN 'standing order instructions' " +
      "WHEN 6 THEN 'fragile handle with care' " +
      "ELSE 'no special instructions' END"

  /** Orders plus the derived Q13 comment column. */
  private def ordersCommented(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).withColumn("o_comment", expr(ordersCommentCaseSql))

  /** DuckDB twin of [[lineitemShipping]] (identical lag/mode formulas). */
  private val lineitemShippingSqlFrag: String =
    "SELECT l.*, " +
      "l_shipdate + to_days(CAST((l_orderkey * 31 + l_linenumber * 7) % 61 - 30 AS INTEGER)) AS l_commitdate, " +
      "l_shipdate + to_days(CAST((l_orderkey * 17 + l_linenumber * 11) % 30 + 1 AS INTEGER)) AS l_receiptdate, " +
      "CASE CAST((l_orderkey * 13 + l_linenumber) % 7 AS INTEGER) " +
      "WHEN 0 THEN 'AIR' WHEN 1 THEN 'FOB' WHEN 2 THEN 'MAIL' WHEN 3 THEN 'RAIL' " +
      "WHEN 4 THEN 'REG AIR' WHEN 5 THEN 'SHIP' ELSE 'TRUCK' END AS l_shipmode " +
      "FROM lineitem l"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 projections / filters ------------------------------------
    "p1_projection" -> ((s, d) =>
      Tables.part(s, d).select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")),

    "p2_p3_in_time_filter" -> ((s, d) =>
      Relational.inList(
        Tables.eventsInRange(s, d, Some("2024-01-05 00:00:00"), Some("2024-01-20 00:00:00")),
        "event_type", Seq("click", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),

    "p4_exact_lookup" -> ((s, d) =>
      Relational.lookupFirst(Tables.nation(s, d), col("n_name") === "NATION_7",
        Seq("n_nationkey"))
        .select("n_nationkey", "n_name", "n_regionkey")),

    "p5_ilike" -> ((s, d) =>
      Relational.ilike(Tables.part(s, d), "p_name", "%GEAR%")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // typo-tolerant catalog lookup: nearest names by case-insensitive
    // edit distance — the misremembered-tag search ILIKE can't express
    "p_fuzzy_lookup" -> ((s, d) =>
      Relational.fuzzyLookup(Tables.part(s, d), "p_name", "red widgt", 4)
        .select("p_partkey", "p_name", "dist")
        .orderBy("dist", "p_name", "p_partkey")),

    "p6_leaves_reference" -> ((s, d) =>
      Hierarchy.leavesReferenceSemantics(elementDim(s, d))
        .select("element_id", "name", "level")
        .orderBy("element_id")),

    "p6_leaves_true" -> ((s, d) =>
      Hierarchy.leavesTrue(elementDim(s, d))
        .select("element_id", "name", "level")
        .orderBy("element_id")),

    "p8_notnull_filter" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("value").isNotNull && col("value") > 99.5)
        .select("event_id", "value")
        .orderBy("event_id")),

    "p11_anti_orphans" -> ((s, d) =>
      Relational.notIn(Tables.customer(s, d), Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey")), "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- §2.3 joins ------------------------------------------------------
    "j1_dim_join" -> ((s, d) =>
      Relational.dimJoin(
        Tables.customer(s, d).withColumnRenamed("c_nationkey", "n_nationkey"),
        Tables.nation(s, d).select("n_nationkey", "n_name"), "n_nationkey")
        .select("c_custkey", "c_name", "n_name")
        .orderBy("c_custkey")),

    "j2_export_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      // fact×fact join: FORCE the shuffle merge join. Catalyst's static
      // column-pruned size estimate keeps orders under the broadcast
      // threshold well past the point where building its HashedRelation
      // on the driver dominates the query (measured 3-25 s vs 1.9 s at
      // 10× sf0.1) — and at real scale orders is never broadcastable.
      // The dimension joins below stay explicit broadcasts.
      li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          // sum in exact decimal (order-independent), then surface as double:
          // Decimal→double is correctly rounded in both engines, while a
          // decimal output's trailing zeros ("…357.30") hash differently from
          // a float's repr ("…357.3") in the driver's canonical form.
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_name")
    }),

    "j8_semi_exists" -> ((s, d) =>
      Relational.existsIn(Tables.customer(s, d),
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey")), "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // J9: ids referenced by a formula that don't exist in the archive —
    // set-difference validation (reference database.py:567-577)
    "j9_formula_refs" -> ((s, d) => {
      import s.implicits._
      Formula.refs("$1 + $7 * $9 - $2").distinct.toDF("attribute_id")
        .except(archiveDim(s, d).select("attribute_id").distinct())
        .orderBy("attribute_id")
    }),

    "j5_recursive_paths" -> ((s, d) =>
      Hierarchy.closure(elementDim(s, d))
        .select("element_id", "level", "path")
        .orderBy("element_id")),

    "j6_path_remap" -> ((s, d) => {
      val mapping = Hierarchy.pathIdMapping(elementDim(s, d))
      val newIds = mapping.select(col("path"),
        (row_number().over(org.apache.spark.sql.expressions.Window.orderBy("path")) + 200)
          .as("element_id"))
      Hierarchy.remapIds(mapping, newIds)
        .select("path", "old_id", "new_id")
        .orderBy("path")
    }),

    // ---- §2.4 aggregations ----------------------------------------------
    "a1_minmax_range" -> ((s, d) =>
      Tables.events(s, d).filter(col("event_type") === "click")
        .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))),

    "a2_watermark" -> ((s, d) =>
      Tables.events(s, d).agg(max(col("ts")).as("watermark"))),

    "a3_scalar_subquery" -> ((s, d) =>
      Relational.whereEqualsGlobalAgg(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_quantity", max(col("l_quantity")))
        .orderBy("l_orderkey", "l_linenumber")),

    "a4_group_count" -> ((s, d) =>
      Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")),

    "a5_distinct" -> ((s, d) =>
      Tables.events(s, d).select("event_type").distinct()
        .orderBy("event_type")),

    "a7_dedup_first" -> ((s, d) =>
      Relational.dedupFirst(Tables.events(s, d),
        Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")),

    // A9: ingest density gate — rows-per-window count vs an expectation
    // (reference ingest.py:232-239: expected = minutes × 5000)
    "a9_density_gate" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("expected", lit(250L))
        .withColumn("ok", col("n_rows") >= col("expected"))
        .orderBy("day")),

    // ---- §2.5 pivot -------------------------------------------------------
    "v1_pivot_export" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .orderBy("day")),

    "v2_pivot_labeled" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), (col("user_id") % 10).as("cohort"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .orderBy("day", "cohort")),

    // ---- §2.11 formula engine (flagship reference-specific op) ------------
    "formula_backfill" -> ((s, d) =>
      Formula.backfill(archiveDim(s, d), "($1 + $3) / 2", derivedId = 99)
        .orderBy("timestamp")),

    "formula_precedence" -> ((s, d) =>
      Formula.backfill(archiveDim(s, d), "$1 + $5 * 2 - ($2 - 0.5) / 4", derivedId = 98)
        .orderBy("timestamp")),

    // ---- §2.6 sorts / limits / set ops ------------------------------------
    "o_topk" -> ((s, d) =>
      Relational.topK(Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        10, col("o_totalprice").desc, col("o_orderkey"))),

    // O1/O3: catalog listing sort — by name, then by (level, id)
    "o1_order_listing" -> ((s, d) =>
      elementDim(s, d).select("element_id", "name", "level")
        .orderBy("name", "element_id")),

    "u1_union_all" -> ((s, d) =>
      Tables.region(s, d).select(lit("region").as("kind"), col("r_name").as("name"))
        .unionByName(
          Tables.nation(s, d).select(lit("nation").as("kind"), col("n_name").as("name")))
        .orderBy("kind", "name")),

    // ---- §2.7 scalar functions --------------------------------------------
    "f_string_funcs" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        upper(col("lang")).as("lang_u"),
        substring(col("text"), 1, 20).as("prefix"),
        length(col("text")).as("n"),
        concat_ws("|", col("source"), col("lang")).as("path"))
        .withColumn("src_back", element_at(split(col("path"), "\\|"), 1))
        .orderBy("doc_id")),

    // JSON-path extraction on the semi-structured props column (the
    // get_json_object fast path: no schema inference, string in → string
    // out, cast after) aggregated per event type; avg is an explicit
    // sum/count division so both engines round the same single division
    "f_json_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .select(col("event_type"), col("sum_k"),
          (col("sum_k").cast("double") / col("n")).as("avg_k"), col("n"))
        .orderBy("event_type")),

    "f7_tz_shift" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        (col("ts") + expr("INTERVAL 7 HOURS")).as("local_ts"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm").as("ts_min"))
        .orderBy("event_id")),

    "f8_coerce" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"),
        expr("try_cast(props AS double)").as("bad"))
        .orderBy("event_id")),

    // ---- §7.1.8 text analysis ---------------------------------------------
    "t_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")),

    "t_quality" -> ((s, d) =>
      TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select("doc_id", "n_chars", "n_tokens", "stop_ratio", "punct_ratio",
          "mean_tok_len", "score")
        .orderBy("doc_id")),

    // Per-source percentile normalization of the quality score: the
    // cross-source-comparable form a mixed-corpus gate needs (a raw
    // threshold means different strictness per source). One rank window
    // per source; (rank-1)/(n-1) is exact given exact ranks.
    "t_quality_pct" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score"), col("doc_id"))
      TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("score"))
        .withColumn("score_pct", percent_rank().over(w))
        .orderBy("doc_id")
    }),

    // Mixed-language (code-switching) detection: language-ID per
    // 16-token chunk, then per-doc agreement of the majority language —
    // the curation signal doc-level langid can't see (a half-EN half-DE
    // page scores confident 'en' OR 'de' whole-doc; its chunk agreement
    // is ~0.5). One chunk explode + two doc-keyed aggregations.
    "t_langid_mixed" -> ((s, d) => {
      val chunks = TextOps.chunkTokens(Tables.documents(s, d),
          "doc_id", "text", 16, 0)
        .select(col("doc_id"), TextOps.langId(col("chunk")).as("lang"))
      val counts = chunks.groupBy("doc_id", "lang").agg(count(lit(1)).as("cnt"))
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      val wRank = wDoc.orderBy(col("cnt").desc, col("lang"))
      counts
        .withColumn("__rk", row_number().over(wRank))
        .withColumn("n_chunks", sum(col("cnt")).over(wDoc))
        .withColumn("n_langs", count(lit(1)).over(wDoc))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), col("n_chunks"), col("n_langs"),
          col("lang").as("major_lang"),
          (col("cnt").cast("double") / col("n_chunks").cast("double")).as("agreement"))
        .orderBy("doc_id")
    }),

    "t_langid" -> ((s, d) =>
      TextOps.withLangId(Tables.documents(s, d), "text")
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")),

    // Language-ID confusion matrix vs the labeled lang column — the
    // classifier-evaluation face of t_langid (which languages the
    // n-gram heuristic confuses, and how often). One combinable groupBy.
    "t_lang_confusion" -> ((s, d) =>
      TextOps.withLangId(Tables.documents(s, d), "text")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    "t_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), TextOps.fingerprint("text").as("fp"))
        .orderBy("doc_id")),

    // Intra-document repetition ratio (the Gopher-style quality signal):
    // duplicate 3-gram shingle fraction per doc. Pure projection —
    // array_distinct within the row, no explode, no shuffle.
    "t_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), TextOps.shinglesFromTokens(col("__toks"), 3).as("__sh"))
        .select(col("doc_id"),
          size(col("__sh")).as("n_shingles"),
          size(array_distinct(col("__sh"))).as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_shingles") > 0,
            lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double")))
        .orderBy("doc_id")),

    // Corpus vocabulary: the canonical explode → hash-agg → top-k shape
    // (partial map-side counts, one shuffle on the token, TakeOrdered).
    "t_vocab" -> ((s, d) =>
      Relational.topK(
        Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n")),
        20, col("n").desc, col("tok"))),

    // PII scrub: per-class audit counts + redacted text. The fixture text
    // carries no PII, so the query injects a synthetic contact suffix
    // derived from doc_id IDENTICALLY in both engines — the oracle then
    // genuinely exercises match-span agreement (Java regex vs RE2), not
    // just a no-op replace.
    "t_redact" -> ((s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 at 10.0.0."),
        (col("doc_id") % 256).cast("string"))
      val cols = TextOps.redactPii(aug).map { case (n, c) => c.as(n) }
      Tables.documents(s, d).select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // PII v2 (adds IBAN + E.164): the corpus rows prove the classes over
    // real text; the crafted rows pin every boundary where the two regex
    // engines could diverge (length clamps, case, leading zero, overrun)
    // as oracle cells rather than a span-equality argument.
    "t_redact_v2" -> ((s, d) => {
      import s.implicits._
      val crafted = TextOps.CraftedPiiRows.toDF("doc_id", "text")
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionAll(crafted)
      val cols = TextOps.redactPii(col("text"), TextOps.PiiClassesV2).map { case (n, c) => c.as(n) }
      base.select(col("doc_id") +: cols: _*).orderBy("doc_id")
    }),

    // PII v3 (adds US-SSN + UK-NINO national ids): same crafted-row
    // discipline — group-width confusion with the dash phone, lowercase
    // rejection, digit over/underrun, NINO-prefix-of-IBAN span contest.
    "t_redact_v3" -> ((s, d) => {
      import s.implicits._
      val crafted = TextOps.CraftedPiiRowsV3.toDF("doc_id", "text")
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionAll(crafted)
      val cols = TextOps.redactPii(col("text"), TextOps.PiiClassesV3).map { case (n, c) => c.as(n) }
      base.select(col("doc_id") +: cols: _*).orderBy("doc_id")
    }),

    // C4-style line filter: the fixture text is single-line, so the query
    // appends a known multi-line tail identically in both engines — one
    // line too short, one keepable, one unpunctuated — and the oracle
    // checks counts AND the filtered text itself.
    "t_line_filter" -> ((s, d) => {
      val aug = concat(col("text"),
        lit("\nshort line\nThis tail line has enough words and ends well.\nno punct line here"))
      val cols = TextOps.lineQualityFilter(aug).map { case (n, c) => c.as(n) }
      Tables.documents(s, d).select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // RefinedWeb-style cross-document boilerplate removal: the fixture
    // text is single-line, so the query injects the boilerplate shapes
    // identically in both engines — a newsletter line on every 3rd doc
    // (removed: df >= 5), a copyright line on every 4th (removed), and
    // a per-doc unique closing line (kept). Exact-duplicate fixture
    // texts big enough to cross the df threshold die too — the
    // corpus-frequency semantics doc-local filters can't express.
    "t_boilerplate" -> ((s, d) =>
      TextOps.boilerplateRemove(
        Tables.documents(s, d).select(col("doc_id"), boilerAug.as("text")),
        "doc_id", "text")
        .orderBy("doc_id")),

    // Streaming boilerplate removal, batch kernel: the even docs'
    // line counts play the earlier-batches registry, the odd docs are
    // the incoming batch — a line is removed iff its CUMULATIVE
    // distinct-doc count (registry + batch) reaches the threshold, the
    // count-registry (strictly-earlier) replay discipline.
    "d_stream_boiler" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), boilerAug.as("text"))
      val reg = TextOps.lineDocCounts(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val (cleaned, _) = TextOps.boilerplateSuppress(
        docs.filter(col("doc_id") % 2 === 1), reg, "doc_id", "text")
      cleaned.orderBy("doc_id")
    }),

    // Sliding-window token chunking: long docs → overlapping training
    // windows (32 tokens, overlap 8) — the doc-splitting partner of
    // pipe_pack's doc-packing.
    "t_chunks" -> ((s, d) =>
      TextOps.chunkTokens(Tables.documents(s, d), "doc_id", "text", 32, 8)
        .orderBy("doc_id", "chunk_id")),

    // Train-a-cheap-classifier-then-apply, end to end: multinomial NB
    // over hashed tokens with quantized-integer weights, trained on the
    // hash-split train docs and evaluated on the held-out test docs —
    // output is the language-ID confusion matrix.
    "t_classify" -> ((s, d) =>
      TextOps.nbClassify(Tables.documents(s, d), "doc_id", "text", "lang")
        .orderBy("true_class", "pred_class")),

    // Gopher A1.1 document-level quality rules as integer-exact audit
    // flags; the injected tail (identical in the oracle) adds bullet /
    // ellipsis / stopword lines the single-line fixture lacks.
    "t_gopher" -> ((s, d) => {
      val aug = concat(col("text"),
        lit("\n- bullet one\n- bullet two\nand so it ends...\nplain closing line."))
      val cols = TextOps.gopherRules(aug).map { case (n, c) => c.as(n) }
      Tables.documents(s, d).select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // BM25 ranked retrieval over the corpus: one rare term + two common
    // ones — integer-exact idf (via the scaled integer log2) and
    // multiplied-through tf saturation, top-k by TakeOrdered.
    "t_bm25" -> ((s, d) =>
      TextOps.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("dup", "spark", "query"), k = 10)),

    // CCNet-shaped perplexity bucketing: hashed-bigram LM trained on the
    // hash-split train docs, integer-log2 bit cost per document,
    // head/middle/tail cuts from the histogram-quantile sketch (never an
    // exact global percentile).
    "t_perplexity" -> ((s, d) =>
      TextOps.perplexityBuckets(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- §7.1.8 dedup ----------------------------------------------------
    "d_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // Normalization-insensitive exact dedup: case/punctuation/whitespace
    // variants collapse to one canonical key. The fixture has no such
    // variants, so every doc gets a noisy twin (id+100000, upper-cased,
    // padded, "!!" suffix) that must land in its canon group — keeper /
    // n_dups audited per doc.
    "d_canon" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val noisy = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" !!")).as("text"))
      Dedup.canonicalDedup(base.unionByName(noisy), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "d_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 0.9)
        .orderBy("id_a", "id_b")),

    // Max-containment near-dup pairs: catches SUBSET duplication (a
    // short doc embedded in a long one) that doc-level Jaccard
    // structurally misses — common/min(n_a, n_b) over the same
    // inverted-index join as d_jaccard.
    "d_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 0.9)
        .orderBy("id_a", "id_b")),

    // the PPJoin prefix-filtered plan must produce the identical result
    // set — it shares d_jaccard's oracle SQL below
    "d_jaccard_prefix" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 0.9, prefixFilter = true)
        .orderBy("id_a", "id_b")),

    "d_jaccard_ngram" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), 0.8, n = 3)
        .orderBy("id_a", "id_b")),

    // Exact substring (8-token window) dedup — the Lee et al. ExactSubstr
    // pass: the first global occurrence of every 8-gram survives, every
    // token covered by a later occurrence is removed, text reassembled.
    "d_substring" -> ((s, d) =>
      Dedup.substringDedup(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")),

    // Content-defined chunking dedup: boundaries re-synchronize on
    // shared content regardless of offset (unlike fixed-size grids), so
    // a passage pasted into many documents yields the SAME chunk hash
    // everywhere — this is the shared-chunk registry (chunks seen in
    // >= 2 docs), the partial-overlap detector between doc-level
    // MinHash and token-level ExactSubstr.
    "d_cdc_shared" -> ((s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          window = 3, divisor = 16)
        .groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("chunk_hash"))),

    // The chunk-level dedup POLICY over d_cdc_shared's registry: docs
    // whose shared-passage token coverage reaches 50% are partial
    // duplicates; one representative (the earliest shared chunk's
    // owner) keeps — passage-overlap dedup with zero pairwise work.
    "pipe_dedup_cdc" -> ((s, d) =>
      Dedup.cdcDedup(Tables.documents(s, d), "doc_id", "text",
          window = 3, divisor = 16, minSharedPct = 50)
        .orderBy("doc_id")),

    "d_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id")),

    "d_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshCandidates(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")),

    // LSH configuration tuning: what fraction of the TRUE 3-gram
    // Jaccard >= 0.8 pairs does the banded MinHash index surface, and
    // at what candidate cost — the measurement that justifies (or
    // rejects) a (bands, rows) choice before a full-corpus run.
    "d_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallEval(Tables.documents(s, d), "doc_id", "text", 3, 0.8)),

    // Signature-estimate calibration: every LSH candidate pair scored
    // by its MinHash component-agreement estimate NEXT TO the exact
    // Jaccard — per-pair absolute error of the only similarity a
    // signature-store dedup ever sees.
    "d_minhash_est" -> ((s, d) =>
      Dedup.minhashEstimatePairs(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")),

    "d_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    "d_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")),

    // The 64-bit signature variant: radius-3 banding over 64 bits gives
    // 16-bit chunks (65k bucket values per band vs 256 at 32 bits) —
    // the hot-bucket lever for dense 100 TB corpora. Same banding code
    // path, exact by the same pigeonhole argument.
    "d_simhash_pairs_w64" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 3, bits = 64)
        .orderBy("id_a", "id_b")),

    // Streaming substring dedup, batch kernel: even doc_ids play the
    // prior batches (only their distinct gram hashes — the registry),
    // odd doc_ids the arriving micro-batch. A window already claimed by
    // the registry is cut everywhere; within the batch the (id, pos)
    // argmin survives — what one micro-batch of a substring-dedup
    // stream computes.
    "d_stream_substring" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reg = Dedup.substringWindows(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 8)
        .filter(col("h").isNotNull).select("h").distinct()
      val (cleaned, _) = Dedup.substringSuppress(
        docs.filter(col("doc_id") % 2 === 1), reg, "doc_id", "text", 8)
      cleaned.orderBy("doc_id")
    }),

    // Streaming chunk-level dedup, batch kernel: even doc_ids play the
    // prior batches (their distinct chunk hashes = the claim registry),
    // odd doc_ids the arriving micro-batch — each odd doc's shared
    // coverage scores against the registry plus the within-batch owner
    // rule — what one micro-batch of a chunk-dedup stream computes.
    "d_stream_cdc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reg = Dedup.cdcChunks(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 3, 16)
        .select(col("chunk_hash").as("h")).distinct()
      val (decisions, _) = Dedup.cdcSuppress(
        docs.filter(col("doc_id") % 2 === 1), reg, "doc_id", "text",
        window = 3, divisor = 16, minSharedPct = 50)
      decisions.orderBy("doc_id")
    }),

    // Streaming canonical dedup, batch kernel: even originals play the
    // claim registry, the batch is noisy twins of every doc (+100000,
    // upper/padded/suffixed) plus a SECOND twin of the odd docs
    // (+200000) — twins of evens die on the registry, first twins of
    // odds survive, second twins die on the within-batch keeper rule.
    "d_stream_canon" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val twin1 = base.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" !!")).as("text"))
      val twin2 = base.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(upper(col("text")), lit(" ??")).as("text"))
      val registry = base.filter(col("doc_id") % 2 === 0)
        .select(graft.functions.NativeExprs.polyHash(
          Dedup.canonicalKey(col("text")), TextOps.CharMul, TextOps.P).as("h"))
        .distinct()
      val (kept, _) = Dedup.canonicalSuppress(
        twin1.unionByName(twin2), registry, "doc_id", "text")
      kept.orderBy("doc_id")
    }),

    // Streaming drift, batch kernel: even ids play the count registry
    // (the corpus so far), odd ids the arriving batch — what one
    // micro-batch of a vocabulary-drift stream computes.
    "d_stream_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.vocabDriftAgainst(
        TextOps.hashTokenCounts(docs.filter(col("doc_id") % 2 === 1), "text"),
        TextOps.hashTokenCounts(docs.filter(col("doc_id") % 2 === 0), "text"))
        .orderBy("n_ref")
    }),

    // Streaming novelty, batch kernel: even ids play the already-seen
    // corpus (the gram registry), odd ids the arriving batch — what one
    // micro-batch of a novelty stream computes.
    "d_stream_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reg = Dedup.docTokens(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", Nil, 3)
        .select(col("tok").as("h")).distinct()
      val (scored, _) = Dedup.noveltySuppress(
        docs.filter(col("doc_id") % 2 === 1), reg, "doc_id", "text", 3)
      scored.orderBy("doc_id")
    }),

    // Streaming near-dup suppression, batch kernel: even doc_ids play the
    // already-ingested registry, odd doc_ids the arriving micro-batch
    // (ts = doc_id). First-writer-wins, register-all-seen semantics —
    // what one micro-batch of a near-dup stream computes.
    "d_stream_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val reg = Dedup.bandClaims(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3)
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("__ts", col("doc_id"))
      val (kept, _) =
        Dedup.nearDupSuppress(batch, reg, "doc_id", "__ts", "text", 3)
      kept.select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // Streaming face of d_cluster — the dedup families' clustering
    // story completed: the REAL MinHash-LSH candidate pairs arrive as
    // three appends through the StreamingCc registry (split by id_a mod
    // 3, so components' pairs straddle batches and the label-level
    // merge cascade is exercised on production pair data), then the
    // full doc set joins back (isolated docs = own cluster —
    // Dedup.clusters' contract). The oracle twin is d_cluster's
    // recursive reachability CTE on ALL pairs, so the driver gate
    // checks incremental ≡ batch on the LSH graph itself.
    "d_stream_cluster" -> ((s, d) => {
      val root = freshRegistryDir("dsc")
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text", 3)
        .localCheckpoint(false) // three batch slices of one LSH pass
      val step = graft.streaming.StreamingCc.batchStep(s, s"$root/e",
        s"$root/l", "id_a", "id_b") _
      step(pairs.filter(col("id_a") % 3 === 0), 0L)
      step(pairs.filter(col("id_a") % 3 === 1), 1L)
      step(pairs.filter(col("id_a") % 3 === 2), 2L)
      docs.select(col("doc_id").as("id"))
        .join(graft.streaming.StreamingCc.readLabels(s, s"$root/l")
            .withColumnRenamed("cluster", "__c"), Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
        .orderBy("id")
    }),

    // Streaming attribution, batch kernel: clicks BEFORE the split
    // collapse to the latest-per-user registry (the O(|users|) state),
    // purchases after the split attribute against registry ∪ own-batch
    // clicks. The DuckDB twin is the FULL-HISTORY as-of — their
    // equality is exactly the registry-collapse theorem the streaming
    // design rests on (earlier clicks are all <= the purchase ts, so
    // only the latest one can win the as-of).
    "d_stream_attrib" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val split = lit("2024-01-15 00:00:00").cast("timestamp")
      def clicksOf(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
      val registry = clicksOf(ev.filter(col("ts") < split))
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("k"))).as("__m"))
        .select(col("user_id"), col("__m.ts").as("ts"),
          col("__m.event_id").as("event_id"), col("__m.k").as("k"))
      val purchases = ev.filter(col("event_type") === "purchase" && col("ts") >= split)
        .select("user_id", "ts", "event_id", "value")
      graft.streaming.StreamingAttribution.attribute(purchases,
        registry.unionByName(clicksOf(ev.filter(col("ts") >= split))),
        86400000000L)
        .orderBy("event_id")
    }),

    // Train/eval decontamination: per eval doc, the fraction of its
    // distinct 3-gram shingles that occur anywhere in the train corpus
    // (train = every other source). Hash-keyed equi-join probe, no
    // pairwise doc comparison.
    "d_contam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", 3)
        .orderBy("doc_id")
    }),

    // Corpus-level leak audit: shared distinct shingles per source pair
    // (which sources must never straddle a train/test split) — the
    // matrix face of d_contam's per-document probe.
    "d_contam_matrix" -> ((s, d) =>
      Dedup.contaminationMatrix(Tables.documents(s, d), "source", "text", 3)
        .orderBy("source_a", "source_b")),

    // Marginal-new-content score: fraction of each doc's distinct
    // 3-grams first seen in THAT doc (crawl-ordering/pruning signal the
    // pairwise near-dup scores can't express). First-occurrence min per
    // gram hash + join back — linear in the inverted index.
    "t_novelty" -> ((s, d) =>
      Dedup.noveltyScores(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id")),

    // Corpus drift monitor: total-variation distance between the
    // "previous crawl" (even doc ids) and "current crawl" unigram
    // mixtures, per source — exact via cross-multiplied integer counts.
    "t_drift" -> ((s, d) =>
      TextOps.vocabDrift(Tables.documents(s, d), "source", "text",
        col("doc_id") % 2 === 0)
        .orderBy("source")),

    // Token-phrase search (multi-phrase, one corpus pass per phrase
    // length): positional shingles probed by a broadcast phrase table —
    // the inverted-index shape, where a contains/LIKE scan re-reads the
    // corpus per phrase. Overlap-correct match counts + 1-based first
    // position.
    "t_phrase_search" -> ((s, d) =>
      TextOps.phraseSearch(Tables.documents(s, d), "doc_id", "text",
        Seq("scan slow", "query value", "value table part"))
        .orderBy("phrase", "doc_id")),

    // Collocation mining: adjacent-token bigrams ranked by LIFT,
    // n_ab·N / (n_a·n_b) — exp(PMI), the same ordering with NO logs (a
    // log is a libm call whose last ulp differs across engines; the
    // lift is integer products + ONE double division, engine-exact).
    // Two explodes + combinable counts + two vocab-sized joins.
    "t_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(TextOps.tokens(col("text")).as("__toks"))
      val uni = toks.select(explode(col("__toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val bi = toks.select(
          explode(TextOps.shinglesFromTokens(col("__toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      bi.withColumn("__w1", split(col("bigram"), " ").getItem(0))
        .withColumn("__w2", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("tok").as("__w1"), col("n").as("n_a")), Seq("__w1"))
        .join(uni.select(col("tok").as("__w2"), col("n").as("n_b")), Seq("__w2"))
        .crossJoin(broadcast(uni.agg(sum(col("n")).as("__total"))))
        .withColumn("lift", (col("n_ab") * col("__total")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
        .select("bigram", "n_ab", "n_a", "n_b", "lift")
        .orderBy(col("lift").desc, col("bigram")).limit(50)
    }),

    // Tokenizer fertility per language (subword/word ratio — the
    // multilingual token-budget planning metric: languages the lexer
    // fragments cost more compute per word). Integer sums, one final
    // division.
    "t_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextOps.wsTokenCount(col("text")).cast("long").as("__ws"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("__bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__ws")).as("ws_tokens"), sum(col("__bpe")).as("bpe_tokens"))
        .withColumn("fertility",
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
        .orderBy("lang")),

    // Flesch-style readability per doc in integer milli-units (float
    // Flesch is last-ulp engine-dependent): vowel-group syllables,
    // [.!?]+ sentences, FOG poly-word count, truncated-integer score +
    // grade bucket. Pure projection — scan-shaped at any scale.
    "t_readability" -> ((s, d) =>
      TextOps.readability(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    "d_embed_near" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "label", 0.4, 64)
        .orderBy("id_a", "id_b")),

    // Semantic decontamination: max cosine from every corpus vector
    // (label<>0) to the benchmark set (label 0) — the embedding face of
    // d_contam; benchmark broadcast, corpus never shuffled with vectors.
    "s_contam_embed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.embedContamination(
        e.filter(col("label") =!= 0), e.filter(col("label") === 0),
        threshold = 0.38, dim = 64)
        .orderBy("vec_id")
    }),

    // SemDeDup: semantic dedup blocked by a LEARNED k-means bucket
    // instead of a label — cluster the embedding corpus, find
    // within-bucket cosine pairs, connect into duplicate groups, keep
    // the lowest-id representative. One audit row per vector.
    "pipe_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), 64)
        .orderBy("vec_id")),

    // The cluster-count scale lever, oracle-gated at a second k: within-
    // bucket pair volume is Σ|bucket|²/2 ≈ n²/(2k), so k must grow with
    // the corpus (the SemDeDup paper runs ~11k clusters on LAION) —
    // measured at 100× in BENCH_SCALE.md.
    "pipe_semdedup_k32" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), 64, nCentroids = 32)
        .orderBy("vec_id")),

    // The auto-k policy: k = ceil(n / targetBucket) from one cheap
    // count, so expected bucket size — and pair volume n·B/2 — stays
    // bounded as the corpus grows instead of n²/(2k). The oracle
    // computes the same k inside the statement (scalar subquery), so
    // one static SQL stays cell-exact at any corpus size.
    "pipe_semdedup_auto" -> ((s, d) =>
      Similarity.semDedupAuto(Tables.embeddings(s, d), 64, targetBucket = 40)
        .orderBy("vec_id")),

    // As-of join: each purchase picks up the user's latest click at or
    // before it (inclusive; greatest (ts, event_id) wins ties) — the
    // union-sort time-series join, one shuffle on the key.
    "o_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      Relational.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("click_ts", "click_id", "click_value"), Seq("click_id"))
        .orderBy("event_id")
    }),

    // forward as-of: each purchase picks up the user's EARLIEST click at
    // or after it (inclusive; smallest (ts, event_id) wins ties)
    "o_asof_fwd" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      Relational.asofJoinForward(purchases, clicks, "user_id", "ts",
        Seq("click_ts", "click_id", "click_value"), Seq("click_id"))
        .orderBy("event_id")
    }),

    // nearest as-of: each purchase picks the user's click with the
    // smallest |Δt| in EITHER direction (tie → the earlier click); same
    // single union-sort as the one-sided as-ofs, never a range join
    "o_asof_near" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      Relational.asofJoinNearest(purchases, clicks, "user_id", "ts",
        Seq("click_ts", "click_id", "click_value"), Seq("click_id"))
        .orderBy("event_id")
    }),

    // Range (interval) join: clicks landing inside any [error, error+6h]
    // incident window of the same user — cell-bucketed equi-join, exact
    // BETWEEN semantics, no key×range pair explosion.
    "o_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("win_end"),
          col("event_id").as("incident_id"))
      Relational.rangeJoin(clicks, incidents, "user_id", "ts",
        "win_start", "win_end", bucketSeconds = 6 * 3600L)
        .select("user_id", "event_id", "incident_id", "ts", "win_start")
        .orderBy("user_id", "event_id", "incident_id")
    }),

    // Numeric band join (the theta-join face of the grid trick):
    // supplier↔customer account-balance twins within $10 in the same
    // nation — a (key, cell) equi-join with one-sided cell fanout,
    // never a nation-join with a range residual.
    "o_band_join" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("nkey"),
        expr("cast(floor(s_acctbal * 100) as bigint)").as("s_cents"))
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("nkey"),
        expr("cast(floor(c_acctbal * 100) as bigint)").as("c_cents"))
      Relational.bandJoin(sup, cust, "nkey", "s_cents", "c_cents", eps = 1000L)
        .withColumn("diff_cents", abs(col("s_cents") - col("c_cents")))
        .select("nkey", "s_suppkey", "c_custkey", "s_cents", "c_cents",
          "diff_cents")
        .orderBy("nkey", "s_suppkey", "c_custkey")
    }),

    // Snapshot CDC: the delta between two keyed table versions
    // (insert/delete/update via one full-outer key join, null-safe
    // value compares) — v2 is derived deterministically from the
    // fixture (every 97th key deleted, every 13th segment moved,
    // every 211th key re-inserted shifted).
    "j_cdc" -> ((s, d) => {
      val v1 = Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val v2 = v1.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 13 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")))
        .unionByName(v1.filter(col("c_custkey") % 211 === 0)
          .select((col("c_custkey") + 100000L).as("c_custkey"),
            lit("NEWSEG").as("c_mktsegment"), col("c_acctbal")))
      Relational.snapshotDiff(v1, v2, Seq("c_custkey"),
          Seq("c_mktsegment", "c_acctbal"))
        .orderBy("c_custkey")
    }),

    // Interval-overlap join (the third temporal join after as-of and
    // point-in-range): per-user click sessions × error-burst windows
    // that OVERLAP — "was the user mid-session while errors fired".
    // Both interval sets come from gap sessionization; the join is the
    // grid-cell equi-join with first-shared-cell emission, never a
    // key-equi join with a range residual (a hot user would degenerate
    // to sessions × bursts pair generation).
    "o_interval_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def sessions(tpe: String, gap: String, pfx: String) = ev
        .filter(col("event_type") === tpe)
        .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("__n"))
        .select(col("user_id"), col("w.start").as(s"${pfx}_start"),
          col("w.end").as(s"${pfx}_end"))
      Relational.intervalOverlapJoin(
          sessions("click", "2 hours", "click"),
          sessions("error", "1 hour", "err"), "user_id",
          "click_start", "click_end", "err_start", "err_end",
          bucketSeconds = 6 * 3600L)
        .withColumn("overlap_us",
          expr("unix_micros(cast(least(click_end, err_end) as timestamp)) - " +
            "unix_micros(cast(greatest(click_start, err_start) as timestamp))"))
        .select("user_id", "click_start", "click_end",
          "err_start", "err_end", "overlap_us")
        .orderBy("user_id", "click_start", "err_start")
    }),

    // Systematic PPS sampling: every step-th point of the cumulative
    // token-weight axis — weight-proportional selection with zero
    // random state, cum-sums via the two-level prefix sum (only the
    // catalog-sized group table ever sorts globally).
    "pipe_pps_sample" -> ((s, d) =>
      TextOps.ppsSample(Tables.documents(s, d), "doc_id", "text", n = 150)
        .orderBy("doc_id")),

    // BPE merge training (Sennrich 2016): the first 6 byte-pair merges
    // learned from the corpus — ONE corpus scan into the word-frequency
    // vocab, then vocab-sized rounds (pair count, 1-row argmax, greedy
    // fold rewrite); the tokenizer-training loop as a distributed job.
    "pipe_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(Tables.documents(s, d), "text", rounds = 6)
        .orderBy("round")),

    // The learned vocab applied back: the one-row segmentation
    // datasheet (distinct words, occurrences, subword tokens, exact
    // subwords-per-word micro ratio) — the in-training fertility.
    "pipe_bpe_vocab" -> ((s, d) =>
      TextOps.bpeSegmentStats(Tables.documents(s, d), "text", rounds = 6)),

    // Priority sampling (Duffield–Lund–Thorup): top-k by hash-drawn
    // priority q = w·P div (h+1), τ = the (k+1)-th priority, and
    // max(w, τ) per kept doc — the unbiased subset-sum estimator; the
    // weighted sample rides TakeOrdered, never a global sort.
    "pipe_priority_sample" -> ((s, d) =>
      TextOps.prioritySample(Tables.documents(s, d), "doc_id", "text", k = 60)
        .orderBy("doc_id")),

    // Per-SOURCE dataset card (complementing pipe_corpus_card's
    // corpus-global row — this is the breakdown a mixture designer
    // reads): doc/token counts, EXACT median tokens
    // (value-at-integer-rank), mean quality in integer milli, language
    // census with a deterministic top language, and the exact-dup rate
    // from fingerprint cardinality. The feature pass is computed ONCE
    // and checkpointed for its three consumers (the pipe_quality_gate
    // lesson); everything downstream is combinable aggregates +
    // source-keyed joins over a catalog-sized frame.
    "pipe_dataset_card" -> ((s, d) => {
      val feats = TextOps.withQualityFeatures(
          Tables.documents(s, d).select("doc_id", "source", "text"), "text")
        .select(col("source"), col("doc_id"),
          col("n_tokens").cast("long").as("n_tok"),
          expr("cast(floor(score * 1000) as bigint)").as("q_milli"),
          TextOps.fingerprint("text").as("fp"),
          TextOps.langId(col("text")).as("lang"))
        .localCheckpoint(false) // three consumers, one tokenize pass
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_tok"), col("doc_id"))
      val p50 = feats
        .withColumn("__rnk", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
        .filter(col("__rnk") === expr("(50 * __cnt) div 100 + 1"))
        .select(col("source"), col("n_tok").as("p50_tokens"))
      val langs = feats.groupBy("source", "lang")
        .agg(count(lit(1)).as("__ln"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"),
          min(struct((-col("__ln")).as("nn"), col("lang"))).as("__m"))
        .select(col("source"), col("n_langs"), col("__m.lang").as("top_lang"))
      feats.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          expr("cast(sum(q_milli) div count(1) as bigint)")
            .as("mean_quality_milli"),
          countDistinct(col("fp")).as("__ufp"))
        .withColumn("dup_rate_milli",
          expr("(1000 * (n_docs - __ufp)) div n_docs"))
        .join(p50, Seq("source")).join(langs, Seq("source"))
        .select("source", "n_docs", "n_tokens", "p50_tokens",
          "mean_quality_milli", "n_langs", "top_lang", "dup_rate_milli")
        .orderBy("source")
    }),

    // Corpus-mixture control: deterministic salted-hash downsampling to
    // per-source target rates, with the realized mixture as the output.
    "pipe_mixture_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(TextOps.mixtureKeep(col("doc_id"), col("source"),
          MixtureRates))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source")),

    // Per-domain token-budget curation: greedy best-quality-first
    // intake per source until the 600-token allowance is spent — one
    // window per source partition, no global sort.
    "pipe_token_budget" -> ((s, d) =>
      TextOps.tokenBudgetSelect(Tables.documents(s, d), "doc_id", "source",
        "text", 600L)
        .orderBy("source", "doc_id")),

    // Contrastive pair mining: near-dup clusters yield (anchor,
    // positive); the negative is the next different-cluster doc in the
    // anchor's hash shard — reproducible, never a global sort.
    "pipe_contrastive" -> ((s, d) =>
      Dedup.contrastivePairs(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("anchor_id", "positive_id")),

    // Corpus card: the one-row datasheet a dataset release ships —
    // size, diversity, exact-dup rate (rolling fingerprints), and mean
    // quality via a quantized-integer sum (a mean of raw doubles is
    // summation-order-dependent; round(score·2^20) BIGINTs are not).
    "pipe_corpus_card" -> ((s, d) => {
      val q = lit(1048576.0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          TextOps.wsTokenCount(col("text")).cast("long").as("__tok"),
          TextOps.fingerprint("text").as("__fp"),
          round(TextOps.qualityScore(col("text")) * q).cast("long").as("__q"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("__fp")).as("n_unique"),
          sum(col("__q")).as("__qsum"))
        .withColumn("dup_rate",
          lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"))
        .withColumn("mean_quality",
          col("__qsum").cast("double") / (col("n_docs").cast("double") * q))
        .select("n_docs", "n_tokens", "n_langs", "n_sources", "n_unique",
          "dup_rate", "mean_quality")
    }),

    // Temperature-rebalanced language mixture (XLM-R §3.1, alpha=0.5):
    // head language downsampled, tail languages repeated — per-doc
    // n_copies from one catalog-sized count + a broadcast + a pure
    // projection (no corpus shuffle at all; see TextOps doc).
    "pipe_temperature" -> ((s, d) =>
      TextOps.temperatureSample(Tables.documents(s, d), "doc_id", "lang",
        budget = 500L, alpha = 0.5)
        .orderBy("doc_id")),

    // ---- §7.1.8 similarity search -----------------------------------------
    "s_knn_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // MMR diversity selection: greedy top-5 from query 0's 20-candidate
    // relevance pool, each step trading relevance against max similarity
    // to what's already picked (λ=0.5) — the anti-redundancy re-ranker
    // for retrieval slates. k steps unrolled over pool-bounded frames.
    "s_mmr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") === 0),
          k = 5, dim = 64, poolSize = 20)
        .orderBy("rank")
    }),

    // Reciprocal-rank fusion as a reusable OPERATOR (generalizing
    // s_hybrid_rrf's inline single-query fuse): N retriever tiers ×
    // many queries, integer micro-unit RRF scores, per-query
    // deterministic re-rank — fusing THIN rank rows, never vectors.
    "s_rrf_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 5)
      Similarity.rrfFuse(Seq(
          Similarity.bruteForceTopK(emb, q, k = 10, dim = 64),
          Similarity.lshTopK(emb, q, k = 10, dim = 64)), k = 5)
        .orderBy("query_id", "fused_rank")
    }),

    // Top principal component via integer power iteration: the
    // dominant direction of the embedding corpus without materializing
    // the covariance — each round is xᵀ(x·v) as two combinable
    // aggregates, exact integer carries end to end (no float-sum order
    // to diverge at any scale or partitioning).
    "s_pca_power" -> ((s, d) =>
      Similarity.pcaTopComponent(Tables.embeddings(s, d), dim = 64, iters = 3)
        .orderBy("dim_idx")),

    // Filtered vector search: each query's top-k among ONLY vectors
    // sharing its label — the tenant/category gate. The metadata
    // predicate is the JOIN KEY (never a post-filter that under-fills
    // k); a label-partitioned corpus layout makes the probe read one
    // stratum instead of the corpus.
    "s_knn_filtered" -> ((s, d) =>
      Similarity.filteredTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64,
        filterCol = "label")
        .orderBy("query_id", "rank")),

    // External clustering quality: Adjusted Rand Index of the
    // deterministic k-means-lite assignment against the reference
    // labels — exact pair-count BIGINTs (contingency + margins), one
    // fixed-order double at the end, so the metric itself is
    // oracle-checkable, not just sanity-bounded.
    "s_cluster_eval" -> ((s, d) =>
      Similarity.clusterEval(Tables.embeddings(s, d), dim = 64, nCentroids = 8)),

    // SQ8 compressed flat scan: int8-quantized vectors, BIGINT-exact
    // integer dot scores (no float anywhere after quantization) — the
    // 4×-smaller memory/bandwidth form of the brute scan.
    "s_knn_sq8" -> ((s, d) =>
      Similarity.sq8TopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // 1-bit binary quantization (sign bits, Charikar-LSH cosine proxy):
    // the corpus scan reads 8 BYTES per vector — a billion vectors is
    // ~8 GB of codes; scoring is bit_count(xor), all-integer and exact.
    "s_knn_bin" -> ((s, d) =>
      Similarity.binaryTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // retrieve-then-rerank: hamming shortlist (5× over-fetch) + exact
    // cosine on queries × 50 rows only — the binary scan's deployment
    // form; full-precision vectors never leave the shortlist join.
    "s_knn_bin_rerank" -> ((s, d) =>
      Similarity.binaryRerankTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // recall@10 of the 1-bit scan vs exact cosine — how much the 32×
    // compression costs, measured per query by the shared evaluator
    "s_recall_bin" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Similarity.annRecall(
        Similarity.binaryTopK(e, q, k = 10, dim = 64),
        Similarity.bruteForceTopK(e, q, k = 10, dim = 64))
        .orderBy("query_id")
    }),

    // IVF-SQ8 composition (the sub-linear deployment of the SQ8 scan):
    // coarse probe by cluster equi-join, byte-dot ADC on probed codes
    // only, exact cosine re-rank on queries × nCandidates rows.
    "s_knn_ivfsq8" -> ((s, d) =>
      Similarity.ivfSq8TopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // ANN evaluation loop: per-query recall@10 of the LSH path vs the
    // exact scan — a thin (query, neighbor) probe join, cell-exact
    // because both inputs are themselves deterministic.
    "s_recall_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Similarity.annRecall(
        Similarity.lshTopK(e, q, k = 10, dim = 64),
        Similarity.bruteForceTopK(e, q, k = 10, dim = 64))
        .orderBy("query_id")
    }),

    // Intra-list diversity of the ANN top-k (the RAG redundancy check:
    // a result list of near-clones wastes the context window): pairwise
    // cosines WITHIN each query's top-10 — k²-sized per query, constant
    // work after the search. min/max stay exact doubles; the mean is a
    // floor-quantized integer sum with a +1e6-per-pair offset so the
    // numerator is non-negative (Spark `div` truncates toward zero,
    // DuckDB `//` floors — they agree only on non-negative operands).
    "s_diversity" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val top = Similarity.lshTopK(e, e.filter(col("vec_id") < 5), k = 10, dim = 64)
        .select(col("query_id"), col("neighbor_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id"))
      val a = top.select(col("query_id"), col("neighbor_id").as("na"),
        col("embedding").as("va"))
      val b = top.select(col("query_id"), col("neighbor_id").as("nb"),
        col("embedding").as("vb"))
      a.join(b, Seq("query_id")).filter(col("na") < col("nb"))
        .withColumn("__cos", Similarity.cosine("va", "vb", 64))
        .withColumn("__cosq", floor(col("__cos") * 1000000).cast("long"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("__cos")).as("min_cos"), max(col("__cos")).as("max_cos"),
          sum(col("__cosq")).as("__sumq"))
        .withColumn("mean_cos_micro",
          expr("((__sumq + n_pairs * 1000000) div n_pairs) - 1000000"))
        .select("query_id", "n_pairs", "min_cos", "max_cos", "mean_cos_micro")
        .orderBy("query_id")
    }),

    // MRR evaluation of the LSH ANN: where the TRUE nearest neighbor
    // lands in the approximate list, reciprocal rank in integer
    // micro-units (a downstream mean sums BIGINTs, not floats).
    "s_mrr_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Similarity.annRankEval(
        Similarity.lshTopK(e, q, k = 10, dim = 64),
        Similarity.bruteForceTopK(e, q, k = 10, dim = 64))
        .orderBy("query_id")
    }),

    // Hybrid retrieval (the RAG stack's ranker): reciprocal-rank fusion
    // of the BM25 lexical top-20 and the embedding cosine top-20 for one
    // query — rrf = Σ floor(10^6 / (60 + rank)) over the legs a doc
    // appears in (integer RRF: the float 1/(60+r) sum is order-dependent,
    // the floored quantized sum is engine-exact). Both legs are
    // themselves oracle-exact statements; the fusion is one full outer
    // join of two k-row lists — constant work after the legs.
    "s_hybrid_rrf" -> ((s, d) => {
      val lex = TextOps.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("dup", "spark", "query"), k = 20)
        .select(col("doc_id").as("id"), col("score_q"))
        .withColumn("lrank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score_q").desc, col("id"))).cast("int"))
        .select("id", "lrank")
      val sem = Similarity.bruteForceTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") === 7), k = 20, dim = 64)
        .select(col("neighbor_id").as("id"), col("rank").as("srank"))
      lex.join(sem, Seq("id"), "full_outer")
        .withColumn("rrf_q",
          coalesce(expr("1000000L div (60L + lrank)"), lit(0L)) +
            coalesce(expr("1000000L div (60L + srank)"), lit(0L)))
        .orderBy(col("rrf_q").desc, col("id")).limit(10)
        .select("id", "lrank", "srank", "rrf_q")
    }),

    // ANN path: deterministic literal hyperplanes → the bucket folds are
    // bit-identical in SQL, so even the LSH path gets a cell-exact oracle
    // (recall floor vs brute force additionally asserted in SimilaritySpec).
    "s_knn_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // IVF-flat ANN scale path. Quantized-integer centroid means make the
    // whole index bit-reproducible (order-free long sums, one correctly-
    // rounded division), so even this path gets a cell-exact oracle;
    // recall floor vs brute force additionally asserted in SimilaritySpec.
    "s_knn_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // PQ ANN: codes-only ADC scan (64 floats -> 8 ints per vector, the
    // memory/shuffle compression lever), exact-cosine re-rank of the
    // top approximate candidates only.
    "s_knn_pq" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // Sample-trained PQ (FAISS practice: codebooks need a representative
    // sample, not the corpus): the Lloyd round runs on the deterministic
    // id-modulo third, encoding still covers every vector — the train
    // pass, the one linear index-build stage that is NOT amortizable
    // per-vector, drops by ~trainMod. Deployment picks trainMod so the
    // sample is a few hundred vectors per code.
    "s_knn_pq_sampled" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64,
        trainMod = 3L)
        .orderBy("query_id", "rank")),

    // IVF-PQ composed ANN (the 100 TB deployment shape): the coarse IVF
    // probe restricts the ADC scan to nProbe/nCentroids of the corpus,
    // so the scan that is linear in s_knn_pq becomes probe-limited here.
    "s_knn_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy("query_id", "rank")),

    // recall of the DEPLOYED index shapes (not just the LSH baseline):
    // how much the coarse-probe truncation (IVF-PQ) and the int8
    // quantization (SQ8) each cost against the exact scan, per query
    "s_recall_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Similarity.annRecall(
        Similarity.ivfPqTopK(e, q, k = 10, dim = 64),
        Similarity.bruteForceTopK(e, q, k = 10, dim = 64))
        .orderBy("query_id")
    }),

    "s_recall_sq8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Similarity.annRecall(
        Similarity.sq8TopK(e, q, k = 10, dim = 64),
        Similarity.bruteForceTopK(e, q, k = 10, dim = 64))
        .orderBy("query_id")
    }),

    // class geometry over the embedding corpus: per-label quantized-mean
    // centroids (bit-reproducible) and their pairwise cosine matrix
    "s_label_centroids" -> ((s, d) =>
      Similarity.labelCentroidCosines(
        Similarity.labelCentroids(Tables.embeddings(s, d), 64), 64)
        .orderBy("label_a", "label_b")),

    // ---- §7.1.8 multimodal -------------------------------------------------
    "m_media_meta" -> ((s, d) =>
      Multimodal.metaQuery(Tables.documents(s, d))
        .orderBy("media_id")),

    "m_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.fromDocuments(Tables.documents(s, d)), 64)
        .orderBy("media_id", "frame_offset")),

    // Shot/scene-boundary detection over the frame stream: per-frame
    // aHash windows, boundary when the hamming distance to the
    // previous frame exceeds the threshold — one adjacent lag per
    // media, no pair joins (the video face of m_phash_pairs).
    "m_scene_detect" -> ((s, d) =>
      Multimodal.sceneBoundaries(
        Multimodal.fromDocuments(Tables.documents(s, d)),
        stride = 48, maxHamming = 32)
        .orderBy("media_id", "frame_offset")),

    // Perceptual near-dup pairs over media payloads: aHash (mean-
    // threshold bits over the decode frame, pure Column exprs) +
    // the shared pigeonhole band kernel — image-dedup's shape with the
    // stub decode. Band equi-join candidates, never all-pairs.
    // wideProbe: aHash is a LOW-ENTROPY signature family, so the band
    // buckets are populated and the probe stage is candidate-bound —
    // the pinned fan-out pays (min 2.90 s → 0.96 s, r12 A/B).
    "m_phash_pairs" -> ((s, d) =>
      Dedup.hammingPairs(
        Multimodal.aHash(Multimodal.fromDocuments(Tables.documents(s, d))),
        "media_id", "ahash", maxHamming = 10, bits = 64, wideProbe = true)
        .orderBy("id_a", "id_b")),

    // Near-dup MEDIA clusters: connected components over the pHash
    // hamming graph (the image face of d_cluster — re-encoded copies,
    // resizes, and format shifts share a perceptual hash within the
    // radius; label-prop collapses them to one asset id). Radius 4,
    // not m_phash_pairs's 10: banding pigeonholes radius r into r+1
    // chunks, so 64-bit hashes at r=10 leave 6-bit chunks (64 bucket
    // values — quadratic once media ≫ 64·√bucket); and via
    // hammingClusters identical hashes collapse to ONE representative
    // before any banding — low-entropy perceptual hashes make that
    // collapse the whole game (100× spot: 80.2M raw pairs → 7.3k).
    "m_phash_cluster" -> ((s, d) =>
      Dedup.hammingClusters(
          Multimodal.aHash(Multimodal.fromDocuments(Tables.documents(s, d))),
          "media_id", "ahash", maxHamming = 4, bits = 64)
        .orderBy("id")),

    // The mapPartitions decode stage end-to-end: byte-level features
    // (checksum/header bytes) are SQL-expressible on the ASCII fixture,
    // so the typed-Dataset batch path itself is oracle-checked.
    "m_decode_features" -> ((s, d) =>
      Multimodal.decodeStub(Multimodal.fromDocuments(Tables.documents(s, d)))
        .toDF()
        .orderBy("media_id")),

    // Near-dup CLUSTERS: connected components over the LSH candidate
    // pairs, cluster = min reachable doc id (the canonical keep-one
    // representative). Iterative min-label propagation in Spark vs a
    // recursive-CTE reachability oracle — same fixpoint, checked exactly.
    "d_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusters(docs.select("doc_id"),
        Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
        .orderBy("id")
    }),

    // the O(log n)-round star-contraction engine must reach the same
    // fixed point — it shares d_cluster's reachability oracle below
    "d_cluster_star" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clustersStar(docs.select("doc_id"),
        Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
        .orderBy("id")
    }),

    // Entity resolution, stage 1 — blocked pairwise matching over the
    // part catalog: candidates share a (brand, type) block (the ONLY
    // pair generator — Σ block² / 2, never |parts|²), scored by
    // codegen'd levenshtein with an integer similarity percent. The
    // record-linkage face of near-dup detection, for structured
    // catalogs rather than documents.
    "er_match" -> ((s, d) =>
      graft.er.EntityResolution.matchPairs(Tables.part(s, d),
          "p_partkey", "p_name", Seq("p_brand", "p_type"), maxDist = 3)
        .orderBy("id_a", "id_b")),

    // Entity resolution, Fellegi–Sunter scoring: blocked pairs scored
    // as the exact BIGINT sum of per-field comparison-level weights
    // (agree / fuzzy / disagree in milli-units), gated and classified
    // into match vs clerical-review 'possible' — the Splink/Dedupe
    // scoring core as pure column arithmetic.
    "er_score" -> ((s, d) =>
      graft.er.EntityResolution.fsScore(Tables.part(s, d), "p_partkey",
          SparkEntry.ErScoreFields, Seq("p_brand", "p_type"),
          minScore = 0L, matchScore = 5000L)
        .orderBy("id_a", "id_b")),

    // Entity resolution, stage 2 — matched records collapse to
    // entities via connected components (d_cluster's label-prop engine
    // on the match graph); unmatched records are their own entity.
    "er_entities" -> ((s, d) => {
      val p = Tables.part(s, d)
      graft.er.EntityResolution.entities(p, "p_partkey",
          graft.er.EntityResolution.matchPairs(p, "p_partkey", "p_name",
            Seq("p_brand", "p_type"), maxDist = 3))
        .orderBy("id")
    }),

    // Entity resolution, stage 3 — survivorship: ONE golden record per
    // resolved entity (the MDM step): canonical name = the entity's
    // mode with a deterministic (count DESC, name ASC) tie-break via a
    // WindowGroupLimit rank; size/price survive as per-entity MAX.
    "er_golden" -> ((s, d) => {
      val part = Tables.part(s, d)
      val rec = part.select(col("p_partkey"), col("p_name"), col("p_size"),
        expr("cast(floor(p_retailprice * 100) as bigint)").as("retail_cents"))
      graft.er.EntityResolution.goldenRecords(rec, "p_partkey",
          graft.er.EntityResolution.entities(part, "p_partkey",
            graft.er.EntityResolution.matchPairs(part, "p_partkey", "p_name",
              Seq("p_brand", "p_type"), maxDist = 3)),
          "p_name", Seq("p_size", "retail_cents"))
        .orderBy("entity")
    }),

    // Incremental ER through the StreamingEr registry protocol, oracle
    // face: the part records arrive as three installments (split by
    // key mod 3, so match components straddle batches and the
    // merge-log cascade is exercised), then current labels resolve
    // through the transitive closure of the merge log. The twin is the
    // BATCH entities closure on the full table — the driver gate
    // checks incremental ≡ batch on the real match graph (the
    // arrival-order-free connectivity theorem EntityResolutionSpec
    // pins, now cell-checked against the oracle engine).
    "er_inc" -> ((s, d) => {
      val root = freshRegistryDir("erinc")
      val p = Tables.part(s, d).select(col("p_partkey").as("id"),
        col("p_name").as("name"), col("p_brand"), col("p_type"))
      val step = graft.streaming.StreamingEr.batchStep(s, s"$root/reg",
        s"$root/merge", "id", "name", Seq("p_brand", "p_type"), maxDist = 3) _
      step(p.filter(col("id") % 3 === 0), 0L)
      step(p.filter(col("id") % 3 === 1), 1L)
      step(p.filter(col("id") % 3 === 2), 2L)
      graft.streaming.StreamingEr.resolveEntities(s, s"$root/reg",
        s"$root/merge", "id").orderBy("id")
    }),

    // Cross-source exact-duplication matrix (provenance audit): which
    // source pairs share byte-identical content, counted by shared
    // fingerprint — the mirror-site detector. The fixture has no
    // cross-source dups, so every 7th doc gets a mirrored copy under
    // "mirror_<source>" that must pair with its original. Equi-join on
    // the 8-byte fingerprint; fanout per fingerprint bounded by the
    // source catalog, never pairwise in docs.
    "d_source_dups" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val aug = base.unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("mirror_"), col("source")).as("source"), col("text")))
      val fp = aug.select(col("source"), TextOps.fingerprint("text").as("fp")).distinct()
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    }),

    // Per-source top-5 trigram document frequencies: the corpus
    // fingerprint table a curation report leads with (which boilerplate
    // n-grams dominate each crawl source). One inverted-index count +
    // a WindowGroupLimit rank — never a global sort.
    // First-iteration BPE merge candidates: most frequent adjacent char
    // pairs weighted by word frequency. ONE combinable corpus pass
    // (word counts); the pair explode runs over the vocab table only.
    "t_bpe_pairs" -> ((s, d) =>
      TextOps.bpePairCandidates(Tables.documents(s, d), "text", k = 20)),

    // Token-distribution entropy per doc (keyword-stuffing/template
    // detector): exact BIGINT numerator via scaled-integer log2, one
    // double division — explode + two combinable aggregates.
    "t_entropy" -> ((s, d) =>
      TextOps.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    "t_ngram_topk" -> ((s, d) => {
      val dt = Dedup.docTokens(Tables.documents(s, d), "doc_id", "text",
        Seq("source"), 3)
      val counts = dt.groupBy("source", "tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("df").desc, col("tok"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("source", "rank")
    }),

    // Duplicate-cluster size distribution: how many near-dup groups of
    // each size the corpus carries (the dedup health histogram a corpus
    // report leads with — a fat tail here means boilerplate found its
    // way in). Two bounded aggregations over the CC labels.
    "d_cluster_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusters(docs.select("doc_id"),
        Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
        .groupBy("cluster").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("csize") * col("n_clusters"))
        .orderBy("csize")
    }),

    // Decontaminated eval-set construction, end to end: hash-split the
    // corpus, then drop every test doc whose train-shingle overlap
    // exceeds 50% — the split-then-decontaminate pipeline an eval set
    // actually ships through. Shingle-vocabulary probe join (d_contam
    // shape); test docs with no shingles pass as trivially clean.
    "pipe_eval_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("__split", TextOps.hashSplit(col("doc_id")))
      val c = Dedup.contamination(
        docs.filter(col("__split") === "train"),
        docs.filter(col("__split") === "test"),
        "doc_id", "text", 3)
      docs.filter(col("__split") === "test")
        .select("doc_id", "source")
        .join(c, Seq("doc_id"), "left")
        .filter(coalesce(col("contamination") <= 0.5, lit(true)))
        .select("doc_id", "source", "n_shingles", "n_hit", "contamination")
        .orderBy("doc_id")
    }),

    // Deterministic corpus split: hash-of-id bucketing → auditable
    // train/val/test assignment (stable under resharding, unlike
    // randomSplit), plus per-(source, split) mixture stats.
    "pipe_train_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("split", TextOps.hashSplit(col("doc_id")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("source", "split")),

    // Quantile binning of the quality score per source: equal-count
    // deciles under a fully tie-broken order (score, doc_id) — the
    // calibration/stratification table a mixed corpus samples from.
    // NTILE's earlier-buckets-get-the-extra-row law is identical in
    // both engines once the order is total.
    "pipe_binning" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("score").asc_nulls_first, col("doc_id"))
      TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("score"))
        .withColumn("decile", ntile(10).over(w).cast("int"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"), min(col("score")).as("min_score"),
          max(col("score")).as("max_score"), min(col("doc_id")).as("first_doc"))
        .orderBy("source", "decile")
    }),

    // Deterministic negative sampling: every (customer, purchased part)
    // draws 2 hash-picked catalog negatives, collided draws dropped by
    // the anti-join — the reproducible (user, pos, neg) triplet corpus
    // for contrastive/recsys training, no RNG state anywhere.
    "pipe_negatives" -> ((s, d) => {
      val interactions = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
          "o_orderkey")
      TextOps.negativeSample(interactions, "o_custkey", "l_partkey",
          Tables.part(s, d), "p_partkey", m = 2)
        .orderBy("user_id", "pos_item", "j")
    }),

    // Leakage-safe grouped k-fold: the fold hashes the USER, not the
    // event, so all of a user's events share a fold by construction
    // (sklearn GroupKFold as one column expression). The audit output
    // proves it: per-fold user and event counts, plus a global check
    // that no user straddles folds (n_users summed over folds equals
    // distinct users).
    "pipe_kfold" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("fold", TextOps.groupKFold(col("user_id"), k = 5))
      ev.groupBy("fold")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          min(col("user_id")).as("first_user"))
        .orderBy("fold")
    }),

    // T5 span corruption: deterministic 15% token masking, consecutive
    // runs collapse to one sentinel, (inputs, targets) seq2seq pair —
    // pure projection, reproducible from (doc_id, position).
    "pipe_span_corrupt" -> ((s, d) =>
      TextOps.spanCorrupt(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Fill-in-the-middle (PSM): deterministic (prefix, middle, suffix)
    // cut + reorder — infilling data prep as a pure projection.
    "pipe_fim" -> ((s, d) =>
      TextOps.fimTransform(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Deterministic corpus sharding: the reproducible global shuffle a
    // training dataloader consumes — shard = salted hash mod N, pos =
    // rank under a second independent salted hash. One hash shuffle +
    // per-shard rank windows; the shard is the output-file unit, so
    // nothing ever sorts globally.
    "pipe_shard" -> ((s, d) =>
      TextOps.shardAssignment(Tables.documents(s, d), "doc_id", 16)
        .orderBy("doc_id")),

    // Epoch-rotated shuffle: epoch 2's salts give an independent
    // permutation of the same corpus — multi-epoch training order is
    // reproducible from (ids, epoch) with no stored RNG state.
    "pipe_shard_epoch" -> ((s, d) =>
      TextOps.shardAssignment(Tables.documents(s, d), "doc_id", 16, epoch = 2)
        .orderBy("doc_id")),

    // Exact-N stratified sample: the first 50 docs per source under the
    // deterministic hash order (not a rate — a COUNT guarantee per
    // stratum; resharding-stable, auditable, no RNG). WindowGroupLimit
    // keeps only the per-stratum top rows on the map side at scale.
    // Weighted-fair interleave schedule (stride scheduling): source
    // weight w emits its r-th doc at vtime (r·2^20) div w — the smooth
    // training-order timeline; one rank window per source, no global
    // sort, the consumer orders by (vtime, source, id).
    "pipe_schedule" -> ((s, d) =>
      TextOps.interleaveSchedule(Tables.documents(s, d), "doc_id", "source",
        Seq("src0" -> 4, "src1" -> 2))
        .orderBy("vtime", "source", "doc_id")),

    "pipe_stratified" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          col("doc_id").cast("string").as("__id_s"))
        .withColumn("__h", TextOps.tokenHash("__id_s"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    }),

    // DSIR-shaped corpus selection: score every document by how much its
    // hashed-unigram distribution leans toward the src0 target corpus vs
    // the corpus at large — add-one-smoothed integer count ratios summed
    // per token occurrence (quantized-exact end to end; rationale and
    // scale shape in TextOps.importanceScores).
    "pipe_importance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.importanceScores(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The hashed-bigram unit (the DSIR paper's n-gram form): same plan,
    // shingle occurrences instead of token occurrences.
    "pipe_importance_ngram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.importanceScores(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // ...and the selection step composed on top: keep the top-50 docs by
    // importance (deterministic (score DESC, doc_id) order — TakeOrdered,
    // no global sort) and report the realized per-source mixture of the
    // kept set — the full select-then-audit loop of importance resampling.
    "pipe_importance_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scores = TextOps.importanceScores(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text")
      Relational.topK(scores, 50, col("score").desc, col("doc_id"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_doc"),
          max("score").as("best_score"))
        .orderBy("source")
    }),

    // Corpus reporting rollup: per-(source, lang), per-source subtotal,
    // and grand total in ONE aggregation pass (partial aggregates expand
    // to the grouping sets map-side — not three scans unioned).
    "a_rollup" -> ((s, d) =>
      Tables.documents(s, d)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)),

    // V-inverse: melt the pivoted export back to tall rows (unpivot) —
    // the round-trip partner of v1 (wide CSV back into archive form).
    // NULL cells (absent combinations) are excluded, as in the tall form.
    "v3_unpivot" -> ((s, d) => {
      val wide = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
      wide.unpivot(Array(col("day")), eventTypes.map(col).toArray, "event_type", "n")
        .filter(col("n").isNotNull)
        .orderBy("day", "event_type")
    }),

    // CUBE grouping sets: per-(source, lang), per-source, per-lang, and
    // grand total in one aggregation pass (complements a_rollup).
    "a_cube" -> ((s, d) =>
      Tables.documents(s, d)
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)),

    // Exact interpolated percentiles per group (no approx sketch: the
    // exact sort-based form, which is what an oracle can pin down).
    // Memory bound: `percentile` is an ImperativeAggregate buffering
    // every distinct (value, count) of ONE GROUP in that group's final
    // task — per-group state, fine while groups are bounded (event
    // types here), a hazard only if a single group's distinct values
    // are data-proportional. The scale-safe twin for that regime is
    // Sketches.histogramQuantiles with group columns (bin counts only, proven cell-exact
    // against the same DuckDB walk by k_quantile_daily).
    "a_percentile" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.25)").as("p25"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.75)").as("p75"))
        .orderBy("event_type")),

    // The resize stage end-to-end: byte-stride subsample then decode
    // features of the RESIZED payload — both mapPartitions stages
    // composed, still SQL-expressible on the ASCII fixture.
    "m_resize" -> ((s, d) =>
      Multimodal.decodeStub(
        Multimodal.resizeStub(
          Multimodal.fromDocuments(Tables.documents(s, d)), 4).toDF())
        .toDF()
        .orderBy("media_id")),

    // ---- §2.9 T1: engine-side grid interpolation --------------------------
    // The reference asks the PI source for a pre-interpolated grid
    // (interval=1m); owning the raw points, the engine provides the same
    // capability: align each series to a 15-minute grid, linear
    // interpolation between bracketing observations, no extrapolation.
    "ts_interp" -> ((s, d) =>
      graft.ops.TimeSeries.resampleInterpolate(archiveDim(s, d), 900L)
        .orderBy("attribute_id", "timestamp")),

    // PI stepped-attribute read semantics: previous value carried forward
    // onto the grid (LOCF) — bit-exact carries, no arithmetic
    "ts_step" -> ((s, d) =>
      graft.ops.TimeSeries.resampleStep(archiveDim(s, d), 900L)
        .orderBy("attribute_id", "timestamp")),

    // PI summaries-API time-weighted average: hold-duration weighting
    // with quantized-long accumulation (order-free, oracle-exact)
    "ts_twa" -> ((s, d) =>
      graft.ops.TimeSeries.timeWeightedAvg(archiveDim(s, d))
        .orderBy("attribute_id")),

    // Gap detection — the probe behind the reference's T2 recovery loop
    // (ingest.py:256-269 re-pulls hourly chunks after a density failure):
    // consecutive points per attribute further apart than the threshold
    // are reported as (gap_start, gap_end, gap_minutes). One lag window.
    "ts_gaps" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("attribute_id").orderBy("timestamp")
      archiveDim(s, d)
        .select(col("attribute_id"), col("timestamp"))
        .distinct()
        .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .withColumn("gap_minutes",
          floor((unix_micros(col("timestamp").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp"))) / 60000000L).cast("long"))
        .filter(col("gap_minutes") > 60)
        .select(col("attribute_id"), col("prev_ts").as("gap_start"),
          col("timestamp").as("gap_end"), col("gap_minutes"))
        .orderBy("attribute_id", "gap_start")
    }),

    // Moving-window stats per series (monitoring range compression):
    // min/max/count over the 3 preceding + current points. Exact
    // aggregates only — a moving SUM of doubles is engine-order-dependent
    // (segment-tree vs running accumulation), min/max/count are not.
    // Rows collapse to unique (attribute, timestamp) first: a ROWS frame
    // over tied sort keys would be order-ambiguous across engines.
    "ts_moving" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("attribute_id").orderBy("timestamp").rowsBetween(-3, 0)
      archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
        .withColumn("mov_min", min(col("value")).over(w))
        .withColumn("mov_max", max(col("value")).over(w))
        .withColumn("mov_n", count(lit(1)).over(w))
        .select("attribute_id", "timestamp", "value", "mov_min", "mov_max", "mov_n")
        .orderBy("attribute_id", "timestamp")
    }),

    // Rolling z-score anomaly flags per series ("this sensor just jumped
    // N sigmas"): quantized-integer window sums (a moving SUM of doubles
    // is engine-order-dependent; BIGINTs are not) + one deterministic
    // double op chain — so even the z values are cell-exact.
    "ts_zscore" -> ((s, d) =>
      graft.ops.TimeSeries.zscoreAnomalies(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // Rate of change per series (the derivative every sensor dashboard
    // plots): Δvalue / Δseconds vs the previous point — subtraction +
    // ONE double division, engine-exact; same unique-(attr, ts) dedup
    // discipline as every adjacent-row window here.
    "ts_rate" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("attribute_id").orderBy("timestamp")
      archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
        .withColumn("__pv", lag(col("value"), 1).over(w))
        .withColumn("__pt", lag(col("timestamp"), 1).over(w))
        .filter(col("__pv").isNotNull)
        .withColumn("rate_per_sec",
          (col("value") - col("__pv")) * 1000000.0 /
            (unix_micros(col("timestamp").cast("timestamp")) -
              unix_micros(col("__pt").cast("timestamp"))).cast("double"))
        .select("attribute_id", "timestamp", "value", "rate_per_sec")
        .orderBy("attribute_id", "timestamp")
    }),

    // Local-maxima peak detection per series: a point is a peak iff it
    // strictly exceeds both neighbors, gated on prominence = the
    // smaller of the two rises (pure double subtraction — exact and
    // order-free, unlike any windowed mean). Rows dedupe to unique
    // (attribute, timestamp) first — a ROWS-adjacent lag/lead over
    // tied sort keys is order-ambiguous across engines (ts_moving's
    // rationale). Two adjacent-row window functions, no frame sums.
    "ts_peaks" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("attribute_id").orderBy("timestamp")
      archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .filter(col("prev_value").isNotNull && col("next_value").isNotNull &&
          col("value") > col("prev_value") && col("value") > col("next_value"))
        .withColumn("prominence",
          least(col("value") - col("prev_value"), col("value") - col("next_value")))
        .filter(col("prominence") > 5.0)
        .select("attribute_id", "timestamp", "value", "prev_value",
          "next_value", "prominence")
        .orderBy("attribute_id", "timestamp")
    }),

    // Seasonal-naive forecast backtest (the baseline every forecasting
    // deployment must beat): forecast(t) = value(t − 24h) on the hourly
    // grid, scored as MAE over the points where both exist. Errors are
    // quantized-integer |Δ| sums (a float MAE is shuffle-order-
    // dependent), one div at the end — MAE in micro-units. The lag is
    // a self-join on the shifted hour, not a window: the grid has
    // holes, and "24 rows back" is not "24 hours back".
    "ts_backtest" -> ((s, d) => {
      val pts = archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
      val prev = pts.select(col("attribute_id"),
        (col("timestamp") + expr("INTERVAL 24 HOURS")).as("timestamp"),
        col("value").as("forecast"))
      pts.join(prev, Seq("attribute_id", "timestamp"))
        .withColumn("__err",
          abs(expr("cast(floor(value * 1000000) as bigint) - " +
            "cast(floor(forecast * 1000000) as bigint)")))
        .groupBy("attribute_id")
        .agg(count(lit(1)).as("n_scored"), sum(col("__err")).as("__sum"))
        .withColumn("mae_micro", expr("__sum div n_scored"))
        .select("attribute_id", "n_scored", "mae_micro")
        .orderBy("attribute_id")
    }),

    // Deterministic A/B split comparison (online-experiment analytics):
    // users hash-assign to arms (stable, re-runnable, no RNG state);
    // per event type, arm sizes and quantized-integer mean values —
    // the uplift readout with no float summation anywhere.
    "a_abtest" -> ((s, d) => {
      val arm = when(graft.functions.NativeExprs.polyHash(
        concat(lit("ab:"), col("user_id").cast("string")),
        TextOps.CharMul, TextOps.P) % 2 === 0, lit("A")).otherwise(lit("B"))
      Tables.events(s, d)
        .select(col("event_type"), arm.as("arm"),
          expr("cast(floor(value * 1000000) as bigint)").as("__v"))
        .groupBy("event_type", "arm")
        .agg(count(lit(1)).as("n"), sum(col("__v")).as("__sum"))
        .withColumn("mean_value_micro", expr("__sum div n"))
        .select("event_type", "arm", "n", "mean_value_micro")
        .orderBy("event_type", "arm")
    }),

    // Rank-based winsorization per series (robust-stats clamping before
    // any mean-sensitive downstream): the p5/p95 bounds are the VALUES
    // at exact integer ranks — (5n div 100 + 1)-th smallest/largest
    // under a (value, timestamp) total order — so no percentile
    // interpolation arithmetic exists to diverge between engines.
    // Bounds are catalog-sized (one row per attribute) and broadcast
    // back; the clamp is a pure projection.
    // Robust anomaly counts per series via MAD (median absolute
    // deviation — the robust twin of ts_zscore's mean/stddev, immune
    // to the outliers it hunts): micro-quantized values, median and
    // MAD both at EXACT integer ranks (two thin rank windows per
    // series), anomaly gate dev > 3·MAD in pure integers.
    "ts_mad_anomaly" -> ((s, d) => {
      val pts = archiveDim(s, d).filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
        .withColumn("vq", expr("cast(floor(value * 1000000) as bigint)"))
      val wp = org.apache.spark.sql.expressions.Window.partitionBy("attribute_id")
      val w1 = wp.orderBy(col("vq"), col("timestamp"))
      val med = pts.withColumn("__r", row_number().over(w1))
        .withColumn("__n", count(lit(1)).over(wp))
        .groupBy("attribute_id")
        .agg(min(when(col("__r") === expr("(50 * __n) div 100 + 1"),
          col("vq"))).as("med_micro"))
      val dev = pts.join(broadcast(med), Seq("attribute_id"))
        .withColumn("__dev", abs(col("vq") - col("med_micro")))
      val w2 = wp.orderBy(col("__dev"), col("timestamp"))
      val mad = dev.withColumn("__r", row_number().over(w2))
        .withColumn("__n", count(lit(1)).over(wp))
        .groupBy("attribute_id")
        .agg(min(when(col("__r") === expr("(50 * __n) div 100 + 1"),
          col("__dev"))).as("mad_micro"))
      dev.join(broadcast(mad), Seq("attribute_id"))
        .groupBy("attribute_id")
        .agg(count(lit(1)).as("n_points"),
          min(col("med_micro")).as("median_micro"),
          min(col("mad_micro")).as("mad_micro"),
          sum(when(col("__dev") > lit(3L) * col("mad_micro"), lit(1L))
            .otherwise(lit(0L))).as("n_anomalies"))
        .orderBy("attribute_id")
    }),

    "ts_winsorize" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("attribute_id").orderBy(col("value"), col("timestamp"))
      val pts = archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
      val ranked = pts.withColumn("__r", row_number().over(w))
      val bounds = ranked.groupBy("attribute_id")
        .agg(count(lit(1)).as("__n"))
        .select(col("attribute_id"),
          expr("(5 * __n) div 100 + 1").as("__lor"),
          expr("__n - (5 * __n) div 100").as("__hir"))
      val lohi = ranked.join(bounds, Seq("attribute_id"))
        .groupBy("attribute_id")
        .agg(min(when(col("__r") === col("__lor"), col("value"))).as("lo_bound"),
          min(when(col("__r") === col("__hir"), col("value"))).as("hi_bound"))
      pts.join(broadcast(lohi), Seq("attribute_id"))
        .withColumn("winsorized",
          least(greatest(col("value"), col("lo_bound")), col("hi_bound")))
        .select("attribute_id", "timestamp", "value", "lo_bound", "hi_bound",
          "winsorized")
        .orderBy("attribute_id", "timestamp")
    }),

    // Truncated EWMA (alpha = 1/2) per series: the order-dependent
    // smoothing recursion made engine-exact by folding the frame's
    // quantized values as ONE BIGINT (newest-first, a*2+x) — weights
    // 2^(n-1)..2^0 over the last 16 points, one double division at
    // the end.
    "ts_ewma" -> ((s, d) =>
      graft.ops.TimeSeries.ewma(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // Classical additive decomposition: centered-moving-average trend,
    // per-(series, hour) seasonal profile of the DETRENDED values
    // (exact BIGINT q·n − Σq — no double subtraction), residual —
    // ts_seasonal with the drift separated out first.
    "ts_decompose" -> ((s, d) =>
      graft.ops.TimeSeries.decompose(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // Brown's double exponential smoothing (α = 1/2): level + trend +
    // one-step forecast from two truncated-EWMA BIGINT folds — the
    // trend-aware forecaster; warm-up rows emit visible NULLs.
    "ts_holt" -> ((s, d) =>
      graft.ops.TimeSeries.doubleEwma(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // Two-window mean-shift score (changepoint candidates): after-mean
    // minus before-mean over 7-point frames, cross-multiplied BIGINTs,
    // one double division — the level-shift detector window frames can
    // express exactly (true CUSUM is a nonlinear recursion).
    "ts_changepoint" -> ((s, d) =>
      graft.ops.TimeSeries.meanShift(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // Per-series autocorrelation at lags 1..3: exact Pearson over
    // quantized-integer sums (DECIMAL(38) / HUGEINT twins), one lag
    // window + a catalog-sized aggregate — trend/mean-reversion/
    // periodicity diagnostics per sensor.
    "ts_acf" -> ((s, d) =>
      graft.ops.TimeSeries.acf(archiveDim(s, d))
        .orderBy("attribute_id", "lag")),

    // Cross-attribute correlation matrix: which sensors move together,
    // as exact-integer Pearson over timestamp-aligned pairs (join
    // output hours × attrs², aggregate catalog-sized).
    "ts_xcorr" -> ((s, d) =>
      graft.ops.TimeSeries.crossCorrelation(archiveDim(s, d))
        .orderBy("attr_a", "attr_b")),

    // Hour-of-day seasonal baseline + residuals: the diurnal profile
    // (catalog-sized, broadcast back) and each point's deviation from
    // its slot mean — the seasonality-adjusted anomaly signal that a
    // plain rolling z-score confounds with the daily cycle.
    "ts_seasonal" -> ((s, d) =>
      graft.ops.TimeSeries.seasonalResiduals(archiveDim(s, d))
        .orderBy("attribute_id", "timestamp")),

    // M4 downsampling (Jugel VLDB'14): per (series, day bucket) the four
    // value extremes a pixel bucket renders error-free — first/min/max/
    // last + count. ONE map-side-combinable groupBy, shuffle sized by
    // buckets not points — the preview path for a 100 TB archive.
    "ts_m4" -> ((s, d) =>
      graft.ops.TimeSeries.m4Downsample(archiveDim(s, d))
        .orderBy("attribute_id", "bucket_start")),

    // Staleness report: each attribute's newest point + its age relative
    // to the reporting instant — the "is this sensor still alive" probe.
    // Points dedupe to unique (attribute, timestamp) first so the
    // max_by/arg_max tiebreak never fires (same rationale as ts_moving).
    "ts_staleness" -> ((s, d) =>
      archiveDim(s, d)
        .filter(col("value").isNotNull)
        .groupBy("attribute_id", "timestamp")
        .agg(min(col("value")).as("value"))
        .groupBy("attribute_id")
        .agg(max(col("timestamp")).as("last_ts"),
          max_by(col("value"), col("timestamp")).as("last_value"),
          count(lit(1)).as("n_points"))
        .withColumn("age_minutes",
          floor((unix_micros(lit("2024-02-01 00:00:00").cast("timestamp")) -
            unix_micros(col("last_ts").cast("timestamp"))) / 60000000L).cast("long"))
        .orderBy("attribute_id")),

    // ---- §2.9 windowed rollups ---------------------------------------------
    // Tumbling, sliding and session windows in batch mode, so the window
    // semantics themselves sit under the DuckDB oracle gate (a streaming
    // rollup adds only a watermark on top of the identical plan; the
    // streaming session face is StreamingSessions, below).
    "w1_tumbling" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("min_value"), col("max_value"))
        .orderBy("window_start", "event_type")),

    "w2_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("min_value"), col("max_value"))
        .orderBy("window_start", "event_type")),

    "w3_session" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "2 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
          col("user_id"), col("n"))
        .orderBy("user_id", "session_start")),

    // Incremental sessionization, oracle face: w3's session aggregate
    // maintained by the REAL Structured Streaming operator (file
    // source, one installment file per micro-batch in mtime order,
    // AvailableNow) — cross-batch sessions stitch in the state store
    // and APPEND mode emits each session exactly once when the
    // watermark passes its close. A far-future flush sentinel per user
    // advances the final watermark past every real session (the
    // sentinel's own open sessions are filtered by timestamp); the
    // twin is w3_session's full-history gaps-and-islands SQL, so the
    // driver gate checks stream ≡ batch on the session operator itself.
    "w3_session_inc" -> ((s, d) => {
      val root = freshRegistryDir("w3inc")
      // the streaming watermark requires TIMESTAMP_LTZ; the fixture is
      // NTZ — cast in here and back out below (identity under the
      // engine-wide UTC session timezone)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      val c0 = lit("2024-01-10").cast("timestamp")
      val c1 = lit("2024-01-20").cast("timestamp")
      val flush = lit("2024-06-01 00:00:00").cast("timestamp")
      val installments = Seq(
        ev.filter(col("ts") < c0),
        ev.filter(col("ts") >= c0 && col("ts") < c1),
        ev.filter(col("ts") >= c1),
        ev.select("user_id").distinct().select(col("user_id"), flush.as("ts")))
      val inDir = new org.apache.hadoop.fs.Path(s"$root/in")
      val fs = inDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(inDir)
      installments.zipWithIndex.foreach { case (b, i) =>
        val tmp = new org.apache.hadoop.fs.Path(s"$root/tmp$i")
        b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new org.apache.hadoop.fs.Path(inDir, s"b$i.parquet")
        require(fs.rename(part, dst), s"rename $part -> $dst failed")
        // the file source replays installments oldest-mtime-first
        fs.setTimes(dst, 1000L * (i + 1), -1L)
      }
      val stream = s.readStream.schema(installments.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      // state partitions sized to the DATA, not the core count (§2.1):
      // a stateful query instantiates one state-store (plus its
      // per-batch delta file and commit) per shuffle partition per
      // micro-batch, so at core-count width the fixed cost GROWS with
      // parallelism while each batch's rows shrink — measured
      // anti-scaling in r11 (4.31 s @32 cores vs 3.04 s @8, ratio
      // 0.69). One partition per ~32 MB of input, capped at the
      // session default so a cluster-sized deployment keeps its full
      // width — the knob scales with volume, not with the box. The
      // partition count is pinned into the checkpoint at first batch;
      // the conf is restored right after the (blocking) run.
      val inBytes = fs.listStatus(inDir).map(_.getLen).sum
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val stateParts = math.max(1L,
        math.min(prevParts.toLong, inBytes / (32L << 20) + 1))
      s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      try
        graft.streaming.StreamingSessions.start(stream, "2 hours", "0 seconds",
          s"$root/out", s"$root/chk").awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.parquet(s"$root/out")
        .filter(col("session_start") < lit("2024-05-01").cast("timestamp"))
        .select(col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("user_id"), col("n"))
        .orderBy("user_id", "session_start")
    }),

    // Conversion funnel: for every click, the NEXT purchase by the same
    // user (forward as-of — union-sort carry, never a range explosion),
    // converted iff it lands within 6h; per-user rate + mean lag.
    // Lags stay integer MICROS until one final double division.
    // Top event-type trigram paths: the most common 3-step behavioral
    // sequences across user timelines (path mining the funnel queries'
    // fixed shapes can't discover). One lead window per user partition
    // + a bounded top-10 — the output is the limit size, so the final
    // global sort is constant work.
    "w7_path" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("__e2", lead(col("event_type"), 1).over(w))
        .withColumn("__e3", lead(col("event_type"), 2).over(w))
        .filter(col("__e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("__e2"), col("__e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),

    // Event-type Markov transition matrix: consecutive-event bigram
    // counts per user timeline + row-normalized transition
    // probabilities (one double division of exact BIGINTs). The output
    // is |event_types|² rows — catalog-sized — so the normalizing
    // window runs over a handful of rows after the map-side-combinable
    // count shuffle.
    "w8_markov" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tot = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("__to", lead(col("event_type"), 1).over(w))
        .filter(col("__to").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("__to").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          col("n").cast("double") / sum(col("n")).over(tot).cast("double"))
        .orderBy("from_type", "to_type")
    }),

    // PageRank over the part co-purchase graph (parts sharing an
    // order are linked): 3 unrolled integer supersteps — each one
    // edge⋈state join + a combinable sum on dst — ranking the catalog
    // by network centrality, not raw counts. Scores are exact BIGINT
    // micro-units, so the ranking is engine-reproducible.
    "g_pagerank" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      graft.graph.GraphOps.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("score").desc, col("id")).limit(50)
    }),

    // Incremental-maintenance face of PageRank: three edge appends
    // through the StreamingGraph registry (supplier→nation ∪
    // nation→region, suppliers split by key mod 3), then the maintained
    // state. The oracle twin is the BATCH operator on the union, so the
    // driver gate itself verifies incremental ≡ batch — the registry
    // recomputes only each append's affected out-closure, never the
    // whole graph.
    "g_pagerank_inc" -> ((s, d) => {
      // fresh registry per invocation (a reused dir would leak earlier
      // invocations' later batches into batch 0's registry read), under
      // the shared single-hook temp root
      val root = freshRegistryDir("gprinc")
      val step = graft.streaming.StreamingGraph.batchStep(s, s"$root/e",
        s"$root/s", "src", "dst", 2) _
      val sup = Tables.supplier(s, d).select(
        (col("s_suppkey") + 1000L).as("src"), col("s_nationkey").as("dst"))
      val nat = Tables.nation(s, d).select(col("n_nationkey").as("src"),
        (col("n_regionkey") + 100L).as("dst"))
      step(sup.filter(col("src") % 3 === 0).union(nat), 0L)
      step(sup.filter(col("src") % 3 === 1), 1L)
      step(sup.filter(col("src") % 3 === 2), 2L)
      graft.streaming.StreamingGraph.readScores(s, s"$root/s", 2)
        .select("id", "outdeg", "score").orderBy("id")
    }),

    // Incremental-maintenance face of connected components: the same
    // three appends through the StreamingCc registry, then the
    // maintained (id, cluster) state. The oracle twin is the recursive
    // reachability CTE on the union (d_cluster's twin shape), so the
    // driver gate itself verifies incremental ≡ batch — each append
    // merges touched components on the label-level graph and relabels
    // only the losing components' members.
    "g_cc_inc" -> ((s, d) => {
      val root = freshRegistryDir("gccinc")
      val step = graft.streaming.StreamingCc.batchStep(s, s"$root/e",
        s"$root/l", "src", "dst") _
      val sup = Tables.supplier(s, d).select(
        (col("s_suppkey") + 1000L).as("src"), col("s_nationkey").as("dst"))
      val nat = Tables.nation(s, d).select(col("n_nationkey").as("src"),
        (col("n_regionkey") + 100L).as("dst"))
      step(sup.filter(col("src") % 3 === 0).union(nat), 0L)
      step(sup.filter(col("src") % 3 === 1), 1L)
      step(sup.filter(col("src") % 3 === 2), 2L)
      graft.streaming.StreamingCc.readLabels(s, s"$root/l").orderBy("id")
    }),

    // Market-basket association rules over order baskets: directed part
    // pairs co-bought in >= 2 orders with support/confidence/lift from
    // exact counts; strongest 50 associations. Pair volume is bounded
    // by the basket-size distribution, never cross-basket.
    "a_assoc" -> ((s, d) =>
      Relational.associationRules(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minPairCount = 2L)
        .orderBy(col("lift").desc, col("item_a"), col("item_b")).limit(50)),

    // Synchronous label propagation (2 rounds) on the co-purchase
    // graph: deterministic communities via the (max count, min label)
    // tie-break — each round is one thin equi-join + two combinable
    // aggregates, no window sort, the PageRank superstep shape.
    "g_lpa" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      graft.graph.GraphOps.labelPropagation(edges, "src", "dst", iters = 2)
        .orderBy("id")
    }),

    // WEIGHTED PageRank on the same co-purchase graph: each raw pair
    // row carries w=1 and parallel edges fold to their multiplicity,
    // so score flows proportionally to co-purchase COUNT — ranking by
    // strength, not presence. Same superstep shape as g_pagerank.
    "g_pagerank_w" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .withColumn("w", lit(1L))
      graft.graph.GraphOps.pageRankWeighted(edges, "src", "dst", "w", iters = 3)
        .orderBy(col("score").desc, col("id")).limit(50)
    }),

    // Weighted label propagation (2 rounds): communities by
    // co-purchase strength — a node adopts the label with the largest
    // incident multiplicity sum, (max weight, min label) tie-break.
    "g_lpa_w" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .withColumn("w", lit(1L))
      graft.graph.GraphOps.labelPropagationWeighted(edges, "src", "dst", "w",
        iters = 2).orderBy("id")
    }),

    // Personalized PageRank on the co-purchase graph: teleport mass
    // lands only on Brand#11's parts, so scores rank every part by
    // proximity to that brand's co-purchase neighborhood — the
    // related-items primitive. Top-50 by score (seeds excluded to
    // surface the EXPANSION, not the seeds themselves).
    "g_ppr" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      val seeds = Tables.part(s, d).filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("id"))
      graft.graph.GraphOps.personalizedPageRank(edges, "src", "dst",
          seeds, "id", iters = 3)
        .filter(col("is_seed") === 0 && col("score") > 0)
        .orderBy(col("score").desc, col("id")).limit(50)
    }),

    // Weighted personalized PageRank: proximity to the brand seeds
    // where co-purchase MULTIPLICITY carries the mass (w=1 per raw
    // pair row folds to the pair count) — the related-items ranker by
    // strength, completing the {global, personalized} × {unweighted,
    // weighted} matrix.
    "g_ppr_w" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .withColumn("w", lit(1L))
      val seeds = Tables.part(s, d).filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("id"))
      graft.graph.GraphOps.personalizedPageRankWeighted(edges, "src", "dst",
          "w", seeds, "id", iters = 3)
        .filter(col("is_seed") === 0 && col("score") > 0)
        .orderBy(col("score").desc, col("id")).limit(50)
    }),

    // k-truss of the urgent-order co-purchase subgraph: 2 synchronous
    // peel rounds deleting edges in < k-2 triangles — the
    // triangle-cohesion community core that k-core's hub-tolerance
    // washes out. Surviving edges with their in-subgraph support.
    "g_ktruss" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("ok"))
      // filter-below-the-repartition was tried (r12) and measured SLOWER
      // (min 3.1 s → 4.0 s): the smaller exchange narrows AQE's sizing
      // of the shared fan-out stage more than the 5× byte saving pays
      // locally; at cluster scale revisit with real data volumes.
      val li = basketItems(s, d).join(urgent, "ok")
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      graft.graph.GraphOps.kTruss(edges, "src", "dst", k = 4, rounds = 2)
        .orderBy("a", "b")
    }),

    // Modularity score of the LPA communities on the urgent-order
    // subgraph — exact integer numerator/denominator over 4m², the
    // partition-quality number that tells you whether the communities
    // mean anything; one float division at the very end.
    "g_modularity" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("ok"))
      val li = basketItems(s, d).join(urgent, "ok")
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
        .localCheckpoint(false) // LPA + census read the same edge set
      val labels = graft.graph.GraphOps.labelPropagation(edges, "src", "dst",
        iters = 2)
      graft.graph.GraphOps.modularity(edges, "src", "dst", labels)
    }),

    // Deterministic random walks (DeepWalk positive-sample corpus) on
    // the co-purchase graph: one 4-hop walk per seed part, each hop a
    // salted-hash pick over the neighbor-id-ordered adjacency — a pure
    // function of (seed, step), reproducible with no RNG state.
    "g_walks" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      val seeds = Tables.part(s, d).filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey").as("id"))
      graft.graph.GraphOps.randomWalks(edges, "src", "dst", seeds, "id",
          steps = 4)
        .orderBy("walk_id", "step")
    }),

    // Exact triangle census of the same graph: degree-oriented wedge
    // join (out-degree capped at O(√m) — hub-proof) + a closure
    // semi-join; (edges, wedges, triangles) as exact BIGINTs.
    "g_triangles" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      graft.graph.GraphOps.triangleCount(edges, "src", "dst")
    }),

    // k-core of the co-purchase graph: synchronous peeling (4 unrolled
    // rounds — a fixed point on this graph, spec-asserted) removes every
    // part whose surviving-neighborhood degree stays below k, leaving
    // the dense trading core; (id, core_deg) with degrees recomputed on
    // the final core so min(core_deg) >= k certifies convergence.
    "g_kcore" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      graft.graph.GraphOps.kCore(edges, "src", "dst", k = 8, rounds = 4)
        .orderBy("id")
    }),

    // HITS hubs/authorities over the bipartite customer→part purchase
    // graph (customers offset +10^9 so the id spaces never collide):
    // integer micro-unit scores, max-normalized per half-step — the
    // "who are the power buyers / staple products" ranking. Full node
    // listing (catalog-sized vs the fact table that built the edges).
    "g_hits" -> ((s, d) => {
      val edges = Tables.orders(s, d).select(col("o_orderkey"),
          (col("o_custkey") + 1000000000L).as("src"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("dst")), Seq("o_orderkey"))
      graft.graph.GraphOps.hits(edges, "src", "dst", iters = 2)
        .orderBy("id")
    }),

    // Connected components over the THRESHOLDED co-purchase graph
    // (product families: parts co-bought in >= 3 distinct orders):
    // the generic min-label CC kernel the dedup clusters use, applied
    // to an arbitrary edge table; unpaired parts stay singletons.
    "g_cc" -> ((s, d) => {
      val li = basketItems(s, d)
      val pairs = li.select(col("ok"), col("l_partkey").as("id_a"))
        .join(li.select(col("ok"), col("l_partkey").as("id_b")), Seq("ok"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(countDistinct(col("ok")).as("__n"))
        .filter(col("__n") >= 3)
        .select("id_a", "id_b")
      Dedup.clusters(Tables.part(s, d).select(col("p_partkey")), pairs,
        "p_partkey")
        .orderBy("id")
    }),

    // Multi-source BFS over the co-purchase graph: hop distance from
    // the seed parts (partkey < 3) within 3 supersteps, NULL =
    // unreached — the reachability/radius probe. Pure integer min
    // relaxation, trivially engine-exact.
    "g_bfs" -> ((s, d) => {
      val li = basketItems(s, d)
      val edges = li.select(col("ok"), col("l_partkey").as("src"))
        .join(li.select(col("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") =!= col("dst"))
      val seeds = Tables.part(s, d).filter(col("p_partkey") < 3)
        .select(col("p_partkey").as("id"))
      graft.graph.GraphOps.bfsHops(edges, "src", "dst", seeds, hops = 3)
        .orderBy("id")
    }),

    // Common-neighbor link prediction over the co-purchase graph:
    // top-50 NON-edges ranked by neighbor-set jaccard (exact integer
    // counts, one double division). Candidate volume is capped by the
    // maxDeg center lever (d_jaccard's maxDf applied to wedge centers).
    "g_linkpred" -> ((s, d) => {
      // NOT basketItems: measured r12 — feeding the groupBy from the
      // keyed repartition (exchange reuse, complete-mode aggregation)
      // inflated the downstream jobs 3-4× in task time (JobProf:
      // wedge-join job 89 s → 336 s taskSum warm) for the same rows;
      // the single-task scan feeding a partial aggregate + wide final
      // is the faster shape here because the basket collect_set
      // REDUCES 600 K rows to 150 K groups before the exchange.
      val li = Tables.lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_partkey"))
      // per-order sorted item set + in-row pair lambda instead of the
      // lineitem self-join: one groupBy(order) shuffle replaces the SMJ
      // (~1 s of the sf0.1 cell), and the canonical src<dst pairs come
      // out directly — linkPrediction's least/greatest + DISTINCT then
      // collapse cross-order duplicates to the IDENTICAL canonical edge
      // set the oracle twin (which keeps the <> self-join) produces.
      // Basket sizes are small, so the per-order pair lambda is
      // catalog-bounded work per row.
      val edges = li.groupBy("ok")
        .agg(sort_array(collect_set("l_partkey")).as("ps"))
        .select(explode(expr("flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
        .select(col("p.a").as("src"), col("p.b").as("dst"))
      // maxDeg is THE cost lever: wedge volume is Σ min(deg, cap)², and
      // on this co-purchase graph cap 128 (vs 256) cuts the wedge join
      // ~4× while still admitting every meaningfully-connectable center
      // minCommon=2 drops the 81%-of-candidates common=1 tail before
      // the anti/degree joins; top-50's weakest pair shares 4 (sf0.1),
      // 10 (sf0.01), 57 (sf0.001) neighbors — parity spec in GraphOpsSpec
      // the packed edge set here is ~1M 8-byte keys — catalog-sized
      // next to the wedge stream, so the anti/degree joins broadcast it
      graft.graph.GraphOps.linkPrediction(edges, "src", "dst",
        maxDeg = 128, k = 50, minCommon = 2)
    }),

    "w4_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val j = Relational.asofJoinForward(clicks, purchases, "user_id", "ts",
        Seq("p_ts", "p_id"), Seq("p_id"))
      val lagUs = unix_micros(col("p_ts").cast("timestamp")) -
        unix_micros(col("ts").cast("timestamp"))
      j.withColumn("__conv",
          when(col("p_ts").isNotNull && lagUs <= 21600000000L, 1L).otherwise(0L))
        .withColumn("__lag", when(col("__conv") === 1L, lagUs).otherwise(lit(0L)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"), sum(col("__conv")).as("n_conv"),
          sum(col("__lag")).as("__lagsum"))
        .withColumn("conv_rate",
          col("n_conv").cast("double") / col("n_clicks").cast("double"))
        .withColumn("avg_lag_sec",
          when(col("n_conv") > 0,
            col("__lagsum").cast("double") /
              (col("n_conv").cast("double") * lit(1000000.0))))
        .select("user_id", "n_clicks", "n_conv", "conv_rate", "avg_lag_sec")
        .orderBy("user_id")
    }),

    // Three-step funnel (signup → first later click → first later
    // purchase): two CHAINED forward as-ofs — the second step re-anchors
    // at the click's timestamp, so each stage is the same union-sort
    // carry and nothing ever pair-joins. Unreached signups survive via
    // the left join-back on the unique signup event id.
    "w6_funnel3" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select("user_id", "ts", "event_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val j1 = Relational.asofJoinForward(signups, clicks, "user_id", "ts",
        Seq("c_ts", "c_id"), Seq("c_id"))
      val j2 = Relational.asofJoinForward(
        j1.filter(col("c_ts").isNotNull)
          .select(col("user_id"), col("c_ts").as("ts"), col("event_id")),
        purchases, "user_id", "ts", Seq("p_ts", "p_id"), Seq("p_id"))
      j1.join(j2.select(col("event_id"), col("p_ts")), Seq("event_id"), "left")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_signups"),
          sum(when(col("c_ts").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
          sum(when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("n_purchased"))
        .withColumn("full_rate",
          col("n_purchased").cast("double") / col("n_signups").cast("double"))
        .orderBy("user_id")
    }),

    // Last-touch attribution: each purchase credits the channel of the
    // user's most recent click within 24h before it (marketing as-of).
    // Channel = click's props.k mod 4, labeled; purchases with no
    // in-window click roll up under 'none'. Revenue sums as DECIMAL
    // (a float sum is shuffle-order-dependent). The backward as-of is
    // the union-sort carry — nothing ever pair-joins, so the only
    // corpus shuffle is the user-keyed sort both event streams share.
    "w9_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("c_ts"),
          col("event_id").as("c_id"),
          get_json_object(col("props"), "$.k").cast("int").as("c_k"))
      val j = Relational.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("c_ts", "c_id", "c_k"), Seq("c_id"))
      val inWin = col("c_ts").isNotNull &&
        (unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("c_ts").cast("timestamp"))) <= 86400000000L
      j.withColumn("channel",
          when(!inWin, lit("none"))
            .when(col("c_k") % 4 === 0, lit("search"))
            .when(col("c_k") % 4 === 1, lit("social"))
            .when(col("c_k") % 4 === 2, lit("email"))
            .otherwise(lit("direct")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 2))).as("revenue"))
        .orderBy("channel")
    }),

    // Linear multi-touch attribution (w9's fairness-variant): every
    // click within 24h before a purchase gets an equal share of
    // floor(value·1e6) — credits are BIGINT micro-units so the
    // per-channel totals sum exactly (a float credit sum is
    // shuffle-order-dependent). In-window click sets come from the
    // cell-bucketed range join (day cells on the user key — the
    // o_range_join machinery), clickless purchases fall to 'none'.
    "w10_multitouch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value"))
        .withColumn("w_start",
          expr("cast(p_ts as timestamp) - INTERVAL 24 HOURS"))
      val j = Relational.rangeJoin(clicks, purchases, "user_id",
        "ts", "w_start", "p_ts", bucketSeconds = 86400)
      val per = j.withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("p_id")))
        .withColumn("credit",
          expr("cast(floor(value * 1000000) as bigint) div __n"))
        .withColumn("channel",
          when(col("k") % 4 === 0, lit("search"))
            .when(col("k") % 4 === 1, lit("social"))
            .when(col("k") % 4 === 2, lit("email"))
            .otherwise(lit("direct")))
        .select("channel", "credit")
      val none = purchases
        .join(j.select("p_id").distinct(), Seq("p_id"), "left_anti")
        .select(lit("none").as("channel"),
          expr("cast(floor(value * 1000000) as bigint)").as("credit"))
      per.unionByName(none)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_credits"), sum(col("credit")).as("credit_micro"))
        .orderBy("channel")
    }),

    // Set operators beyond UNION (u1): INTERSECT = users who both
    // clicked and purchased, EXCEPT = clicked but never purchased —
    // audience segmentation as set algebra; both are distinct-keyed
    // shuffles Catalyst plans as aggregates, no joins written by hand.
    "u2_set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def users(t: String) = ev.filter(col("event_type") === t)
        .select("user_id").distinct()
      users("click").intersect(users("purchase"))
        .withColumn("op", lit("intersect"))
        .unionByName(users("click").except(users("purchase"))
          .withColumn("op", lit("except")))
        .orderBy("op", "user_id")
    }),

    // Longest activity streak per user (gaps-and-islands): consecutive
    // active DAYS group into islands via the day − row_number trick —
    // pure integer arithmetic, two combinable aggregates around one
    // user-keyed window; no self-joins, no recursion.
    "w11_streaks" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
      val days = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .distinct()
      days.withColumn("__grp", col("day") - row_number().over(w))
        .groupBy("user_id", "__grp").agg(count(lit(1)).as("__len"))
        .groupBy("user_id")
        .agg(max(col("__len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    // Rolling 7-day active users (trailing-window distinct count — the
    // DAU/WAU dashboard primitive). Neither engine supports COUNT
    // DISTINCT in a window frame, so the exact form is a BOUNDED
    // expansion: each distinct (user, day) pair registers in the ≤ 7
    // window-end days it can serve (explode of a 7-long sequence —
    // 7× the distinct-pair volume, independent of raw event count),
    // then one distinct + combinable count per window day. Window days
    // are clamped to days that actually occur (left-semi with the
    // catalog-sized day set), so no phantom trailing windows appear.
    "w12_rolling_active" -> ((s, d) => {
      val du = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .distinct()
      val days = du.select("day").distinct()
      du.withColumn("wday", explode(expr("sequence(day, day + 6)")))
        .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
        .select("wday", "user_id").distinct()
        .groupBy("wday").agg(count(lit(1)).as("active_users"))
        .orderBy("wday")
    }),

    // Cohort retention matrix: users bucketed by first-activity week,
    // distinct actives per (cohort, weeks-since) cell — the classic
    // retention triangle. Per-user min is map-side combinable; the
    // only corpus shuffle is the user-keyed cohort join-back. Week =
    // integer DIV of epoch micros (a floor of the double quotient can
    // round UP across a boundary when the remainder is ≲ 1 ulp).
    "w5_cohort" -> ((s, d) => {
      val wk = expr("unix_micros(cast(ts as timestamp)) div 604800000000")
      val e = Tables.events(s, d).select(col("user_id"), wk.as("__week"))
      val cohort = e.groupBy("user_id").agg(min(col("__week")).as("cohort_week"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("__week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Retention RATES over the w5 triangle: each (cohort, offset) cell
    // normalized by its cohort's size — the curve a growth dashboard
    // actually plots (counts alone aren't comparable across cohorts of
    // different sizes). Cohort size = the offset-0 distinct count by
    // construction (every user is active in their first week); rate is
    // ONE double division of exact BIGINTs.
    "w14_retention" -> ((s, d) => {
      val wk = expr("unix_micros(cast(ts as timestamp)) div 604800000000")
      val e = Tables.events(s, d).select(col("user_id"), wk.as("__week"))
      val cohort = e.groupBy("user_id").agg(min(col("__week")).as("cohort_week"))
      val sizes = cohort.groupBy("cohort_week")
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("__week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("retention",
          col("n_active").cast("double") / col("cohort_size").cast("double"))
        .select("cohort_week", "week_offset", "n_active", "cohort_size",
          "retention")
        .orderBy("cohort_week", "week_offset")
    }),

    // SCD type-2 history assembly from three dimension snapshots (the
    // warehouse versioning mechanism d_diff feeds): keep only versions
    // where the value changed vs the key's own lag, stitch validity
    // intervals with a lead — two keyed windows, zero joins, N
    // snapshots cost one sort per key group instead of N−1 self-joins.
    // Snapshots v2/v3 are deterministic segment transforms mirrored in
    // the oracle (churn at custkey%7, winback at %21).
    "j_scd2" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val v1 = c.select(col("c_custkey"),
        col("c_mktsegment").as("segment"), lit(1).as("version"))
      val v2 = c.select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit("CHURNED"))
          .otherwise(col("c_mktsegment")).as("segment"), lit(2).as("version"))
      val v3 = c.select(col("c_custkey"),
        when(col("c_custkey") % 21 === 0, lit("WINBACK"))
          .when(col("c_custkey") % 7 === 0, lit("CHURNED"))
          .otherwise(col("c_mktsegment")).as("segment"), lit(3).as("version"))
      Relational.scd2(v1.unionByName(v2).unionByName(v3),
        "c_custkey", "segment", "version")
        .orderBy("c_custkey", "valid_from")
    }),

    // Point-in-time (temporal) join — the feature-store lookup rule
    // "read the dimension AS OF the fact's timestamp, never later":
    // each order picks the segment valid at its order date from the
    // SCD2 history (same snapshots as j_scd2, versions mapped to
    // effective dates). The lookup is a backward as-of on
    // (custkey, date) — the union-sort carry, so history length never
    // multiplies the fact scan and nothing interval-joins.
    "j_pit" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      def snap(eff: String, seg: Column) =
        c.select(col("c_custkey"), seg.as("segment"),
          lit(eff).cast("timestamp").as("eff_ts"))
      val hist = snap("1994-01-01 00:00:00", col("c_mktsegment"))
        .unionByName(snap("1997-01-01 00:00:00",
          when(col("c_custkey") % 7 === 0, lit("CHURNED"))
            .otherwise(col("c_mktsegment"))))
        .unionByName(snap("2000-01-01 00:00:00",
          when(col("c_custkey") % 21 === 0, lit("WINBACK"))
            .when(col("c_custkey") % 7 === 0, lit("CHURNED"))
            .otherwise(col("c_mktsegment"))))
      val scd = Relational.scd2(hist, "c_custkey", "segment", "eff_ts")
        .select(col("c_custkey"), col("valid_from").as("ts"),
          col("segment"), col("valid_from"))
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"), col("o_orderdate").as("ts"))
      Relational.asofJoin(orders, scd, "c_custkey", "ts",
        Seq("segment", "valid_from"), Seq("valid_from"))
        .orderBy("o_orderkey")
    }),

    // Poisson bootstrap over the corpus (Chamandy et al., 2012): replica
    // b weighs each doc by a salted hash mod 3 ∈ {0,1,2} (mean 1) —
    // with-replacement resampling WITHOUT materializing resamples, B
    // replica means from conditional sums in one pass. Integer
    // micro-unit means; the replica spread is the corpus-stat CI.
    "pipe_bootstrap" -> ((s, d) => {
      val B = 8
      val toks = Tables.documents(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tok"))
      toks.select(col("doc_id"), col("n_tok"),
          explode(array((0 until B).map(lit(_)): _*)).as("replica"))
        .withColumn("__w", graft.functions.NativeExprs.polyHash(
          concat(lit("boot:"), col("replica").cast("string"), lit(":"),
            col("doc_id").cast("string")), TextOps.CharMul, TextOps.P) % 3)
        .groupBy("replica")
        .agg(sum(col("__w")).as("n_eff"),
          sum(col("__w") * col("n_tok")).as("__wt"))
        .withColumn("mean_tok_micro", expr("(1000000 * __wt) div n_eff"))
        .select("replica", "n_eff", "mean_tok_micro")
        .orderBy("replica")
    }),

    // Revenue concentration (the 80/20 readout): the smallest
    // top-customer set covering >= 80% of revenue. DECIMAL cumsum is
    // exact and the threshold is cross-multiplied (cum·5 >= total·4),
    // so no float ever decides the crossing; the window sorts only the
    // customer dim.
    // ---- classic multi-join OLAP (TPC-H Q3/Q5/Q10 shapes, adapted to
    // the fixture's columns; revenue in integer cents so no float-sum
    // order exists) — the join-planning stress tests: semi joins where
    // no dim column is needed, broadcasts only for genuinely tiny dims
    // (nation/region/supplier), shuffle joins for fact×fact, AQE free
    // to re-plan at scale. ------------------------------------------

    // Q3 shipping priority: top unshipped-revenue orders for one
    // segment. The customer gate is a LEFT SEMI (no customer column in
    // the output — never a wide join), date filters reach both scans.
    "q3_shipping" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select(col("l_orderkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("__rev")).as("revenue_cents"))
        .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue_cents")
        .orderBy(col("revenue_cents").desc, col("l_orderkey")).limit(10)
    }),

    // Q5 local-supplier volume: revenue per nation where customer and
    // supplier share the nation, one region, one order-date year.
    // nation⋈region and the region's suppliers broadcast; the
    // fact-side joins shuffle on their keys.
    "q5_local_volume" -> ((s, d) => {
      val nat = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name").agg(sum(col("__rev")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    }),

    // Q10 returned-item losers: customers ranked by revenue lost to
    // returns in one quarter. The per-customer fold happens BEFORE the
    // customer-dim join — the join input is |customers|, not |lines|.
    "q10_returns" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val lost = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum(col("__rev")).as("revenue_cents"))
      lost.join(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey"), Seq("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(col("revenue_cents").desc, col("c_custkey")).limit(20)
    }),

    // ---- TPC-H completion wave (round 8): every remaining classic
    // shape expressible on the fixture's columns (no partsupp /
    // commitdate / shipmode in the harness schema, so Q2/Q4/Q11/Q12/
    // Q20/Q21 have no faithful twin). Each query is the canonical
    // PLAN-SHAPE stress for one optimizer behavior; money stays in
    // integer cents, ratios in integer basis points / micro-units so
    // no float accumulation order exists cross-engine. --------------

    // Q1 pricing summary: ONE pass over the fact, multi-aggregate with
    // map-side partial combine — the widest single-scan aggregate in
    // the book. avg as exact micro-units from the sums (no second
    // pass, no float).
    "q1_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("cast(floor(l_quantity) as bigint)").as("__qty"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("__base"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__disc"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) as bigint)")
            .as("__chg"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("__qty").as("sum_qty"),
          sum("__base").as("sum_base_cents"),
          sum("__disc").as("sum_disc_cents"),
          sum("__chg").as("sum_charge_cents"),
          count(lit(1)).as("n_lines"))
        .withColumn("avg_qty_micro", expr("(1000000 * sum_qty) div n_lines"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Q6 forecast revenue: pure scan+filter+fold — the pushdown
    // litmus. Every predicate is a plain column comparison so all
    // three reach the parquet row-group stats.
    "q6_forecast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.045 && col("l_discount") <= 0.075 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("cast(floor(l_extendedprice * l_discount * 100) as bigint)"))
            .as("forecast_cents"))),

    // Q7 volume shipping between a nation pair: the supplier side
    // rides a broadcast (tiny dim), the customer side arrives through
    // the orders shuffle — at 100 TB the nation-filtered customer
    // slice is still fact-sized, so it must NOT broadcast.
    "q7_volume" -> ((s, d) => {
      val nat = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_3", "NATION_19"))
        .select("n_nationkey", "n_name")
      val sup = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "cust_nation")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("bigint").as("ship_year"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(sum("__rev").as("revenue_cents"), count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    }),

    // Q8 national market share: one conditional aggregate computes
    // both the numerator (one supplier nation) and the denominator
    // (the region's whole market) in a single pass; share emitted as
    // exact basis points. Customer region gate is a LEFT SEMI.
    "q8_share" -> ((s, d) => {
      val promo = Tables.part(s, d)
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val asiaNat = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")
      val cust = Tables.customer(s, d)
        .join(broadcast(asiaNat), col("c_nationkey") === col("n_nationkey"),
          "left_semi")
        .select("c_custkey")
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val ord = Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("order_year"))
      Tables.lineitem(s, d)
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("order_year")
        .agg(sum("__rev").as("total_cents"),
          sum(when(col("supp_nation") === "NATION_3", col("__rev"))
            .otherwise(0L)).as("nation_cents"))
        // nullif: a zero-revenue group would throw under ANSI while the
        // oracle errors differently — the a_ols_slope guard convention
        .withColumn("share_bp",
          expr("(10000 * nation_cents) div nullif(total_cents, 0)"))
        .orderBy("order_year")
    }),

    // Q9 product profit by supplier nation and year: profit = revenue
    // minus retail-cost stand-in (the fixture has no ps_supplycost),
    // exact signed cents. The part filter prunes the fact FIRST via a
    // semi-shaped broadcast join carrying only the cost column.
    "q9_profit" -> ((s, d) => {
      val bolts = Tables.part(s, d)
        .filter(col("p_name").contains("bolt"))
        .select(col("p_partkey"),
          expr("cast(floor(p_retailprice * 100) as bigint)").as("__retail"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            - col("__retail") * expr("cast(floor(l_quantity) as bigint)"))
            .as("__profit"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
            year(col("o_orderdate")).cast("bigint").as("order_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("supp_nation", "order_year")
        .agg(sum("__profit").as("profit_cents"), count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "order_year")
    }),

    // Q14 promo revenue share for one month: numerator and denominator
    // from ONE conditional aggregate after a broadcast part join;
    // share in exact basis points.
    "q14_promo" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(sum("__rev").as("total_cents"),
          sum(when(col("p_type") === "PROMO", col("__rev")).otherwise(0L))
            .as("promo_cents"))
        .withColumn("promo_bp",
          expr("(10000 * promo_cents) div nullif(total_cents, 0)"))),

    // Q15 top supplier(s): agg → scalar MAX → equality filter — the
    // argmax-by-scalar-subquery shape. The max broadcasts back onto
    // the per-supplier revenue frame (never a window over the fact).
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-10-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"))
      val top = rev.agg(max("revenue_cents").as("__max"))
      rev.join(broadcast(top), col("revenue_cents") === col("__max"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue_cents")
        .orderBy("s_suppkey")
    }),

    // Q16 supplier count per part profile: COUNT DISTINCT after a
    // broadcast dim join, with an anti-join exclusion list (negative
    // balance stands in for the spec's complaints filter).
    "q16_parts_suppliers" -> ((s, d) => {
      val badSup = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 19, 29, 39, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Q17 small-quantity revenue: the correlated AVG subquery,
    // decorrelated into one per-part aggregate joined back; the 20%
    // threshold is cross-multiplied (5·qty·n < Σqty) so integers
    // decide it exactly.
    "q17_small_qty" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") === "Brand#11").select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"),
          expr("cast(floor(l_quantity) as bigint)").as("__qty"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("__price"))
      val stats = li.groupBy("l_partkey")
        .agg(sum("__qty").as("__sum_qty"), count(lit(1)).as("__n"))
      li.join(stats, Seq("l_partkey"))
        .filter(col("__qty") * col("__n") * 5 < col("__sum_qty"))
        .agg(count(lit(1)).as("n_lines"), sum("__price").as("lost_cents"))
    }),

    // Q18 large-volume orders: HAVING on the fact-side aggregate
    // BEFORE any dim join — the join inputs are |big orders|, not
    // |lines|.
    "q18_big_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(expr("cast(floor(l_quantity) as bigint)")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      big.join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            expr("cast(floor(o_totalprice * 100) as bigint)").as("total_cents")),
        col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "total_cents", "sum_qty")
        .orderBy(col("total_cents").desc, col("o_orderkey")).limit(100)
    }),

    // Q19 bracketed revenue: the OR-of-ANDs predicate — the join key
    // is common to all three branches so the part join stays a single
    // broadcast hash join and the disjunction evaluates post-join as
    // one codegen'd filter.
    "q19_brackets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"),
          expr("cast(floor(l_quantity) as bigint)").as("__qty"),
          expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            .as("__rev"))
        .join(broadcast(Tables.part(s, d)
            .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("__qty").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("__qty").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("__qty").between(20, 30)))
        .agg(count(lit(1)).as("n_lines"), sum("__rev").as("revenue_cents"))),

    // Q22 idle balances: global-average scalar subquery (exact via
    // cross-multiplication — bal·n > Σbal, no float mean), then an
    // anti join against recent orders for the gone-quiet gate (the
    // fixture's order stream touches every customer, so "never
    // ordered" is empty — recency-idle is the live variant).
    "q22_idle_balance" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          expr("cast(floor(c_acctbal * 100) as bigint)").as("bal_cents"))
      val avgPos = cust.filter(col("bal_cents") > 0)
        .agg(sum("bal_cents").as("__sum_pos"), count(lit(1)).as("__n_pos"))
      cust.crossJoin(broadcast(avgPos))
        .filter(col("bal_cents") * col("__n_pos") > col("__sum_pos"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum("bal_cents").as("total_bal_cents"))
        .orderBy("c_mktsegment")
    }),

    // Q4 order-priority checking: EXISTS over late lines — a LEFT SEMI
    // join probed by the date-windowed orders, with the fact projected
    // to its ONE key column before the join (late-line set is
    // fact-sized; nothing crosses the semi at width).
    "q4_priority" -> ((s, d) => {
      val late = lineitemShipping(s, d)
        .filter(col("l_commitdate") < col("l_receiptdate"))
        .select("l_orderkey")
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-03-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q12 shipmode priority split: the lineitem side takes every
    // selective predicate (mode IN-list + the three date comparisons +
    // the receipt-year window) BEFORE the orders join, so the join input
    // is the small filtered fact, and the CASE aggregate runs post-join.
    "q12_shipmode" -> ((s, d) => {
      val li = lineitemShipping(s, d)
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_receiptdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipmode")
      li.join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_shipmode")
        // low = NOT IN, not otherwise(1): a NULL priority must count in
        // NEITHER bucket, exactly like the twin's CASE over NOT IN
        // (NULL → ELSE 0) — latent on the NULL-free fixture, but the
        // schema is nullable and the pair is written for NULL parity
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_shipmode")
    }),

    // Q13 customer order-count distribution: LEFT OUTER with the
    // NOT-LIKE predicate IN THE JOIN CONDITION (not a pre-filter in
    // source — Catalyst pushes the right-side-only conjunct down to the
    // orders scan itself, which PlanAuditSpec can pin), feeding the
    // two-level aggregate: count per customer INCLUDING zero-order
    // customers (count(o_orderkey) skips the unmatched rows' NULLs),
    // then the histogram of counts. Both aggregates shuffle on their
    // own key; the join shuffles on custkey — three exchanges total,
    // the minimum for this shape at scale.
    "q13_custdist" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey")
      val o = ordersCommented(s, d)
        .select("o_custkey", "o_orderkey", "o_comment")
      c.join(o, col("c_custkey") === col("o_custkey") &&
          !col("o_comment").like("%special%requests%"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q21 suppliers who kept orders waiting — the classic correlated
    // EXISTS / NOT-EXISTS self-join stress, decorrelated to ONE
    // per-(order, supplier) collapse: EXISTS(other supplier) ⇔ the
    // order has ≥2 distinct suppliers; NOT EXISTS(other LATE supplier)
    // ⇔ the order has exactly 1 late supplier (necessarily l1's, since
    // l1 is late). numwait then sums l1's late LINES per qualifying
    // (order, supplier) — the fact never self-joins at line grain, and
    // the oracle twin keeps the textbook double-EXISTS form, so the
    // gate independently checks the decorrelation.
    "q21_waiting" -> ((s, d) => {
      // ONE repartition(l_orderkey) feeds both stacked aggregates AND
      // the perSupp ⋈ perOrder join: hash(ok) satisfies the (ok, sk)
      // clustering, so neither groupBy nor the join needs a further
      // exchange — A/B'd 1.3-1.4× over the exchange-per-grain form at
      // sf0.1 and 100× (BENCH_SCALE round 10)
      val perSupp = lineitemShipping(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_receiptdate") > col("l_commitdate")).as("__late"))
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum(when(col("__late"), 1L).otherwise(0L)).as("n_late_lines"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("n_late_lines") > 0, 1L).otherwise(0L)).as("n_late_supp"))
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      perSupp.filter(col("n_late_lines") > 0)
        .join(perOrder.filter(col("n_supp") >= 2 && col("n_late_supp") === 1),
          Seq("l_orderkey"))
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum("n_late_lines").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    }),

    // Q2 minimum-cost supplier: the correlated min-subquery decorrelates
    // to ONE per-part min over the region-filtered candidates, joined
    // back on (part, cost) — the region-filtered supplier dim broadcasts
    // into both sides, and the p_type gate broadcasts onto the ps rows.
    "q2_min_cost" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
                .filter(col("r_name") === "EUROPE").select("r_regionkey")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
          expr("cast(floor(s_acctbal * 100) as bigint)").as("bal_cents"),
          col("n_name"))
      val cand = partsupp(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "LARGE")
            .select("p_partkey", "p_type")),
          col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
      val minCost = cand.groupBy("ps_partkey")
        .agg(min("ps_supplycost_cents").as("__min_cost"))
      cand.join(minCost, Seq("ps_partkey"))
        .filter(col("ps_supplycost_cents") === col("__min_cost"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("ps_partkey") === col("p_partkey"))
        .select(col("bal_cents"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"))
        .orderBy(col("bal_cents").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // Q11 important stock: integer value = availqty · cost_cents; the
    // HAVING-fraction threshold cross-multiplies against a broadcast
    // scalar total (exact, no float fraction).
    "q11_stock_value" -> ((s, d) => {
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_7").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val rows = partsupp(s, d)
        .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("ps_partkey"),
          (col("ps_availqty") * col("ps_supplycost_cents")).as("__v"))
      val grouped = rows.groupBy("ps_partkey").agg(sum("__v").as("value_cents"))
      val total = grouped.agg(sum("value_cents").as("__total"))
      grouped.crossJoin(broadcast(total))
        .filter(col("value_cents") * 1000 > col("__total"))
        .select("ps_partkey", "value_cents")
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    }),

    // Q20 excess stock: availqty > half the year's shipped quantity for
    // that (part, supplier) — the correlated scalar decorrelates to one
    // (partkey, suppkey) aggregate of the shipped lines; a missing
    // shipment row means the classic NULL-comparison excludes the ps
    // row, hence the INNER join. Suppliers distinct AFTER the gate.
    "q20_excess_stock" -> ((s, d) => {
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(expr("cast(floor(l_quantity) as bigint)")).as("__sq"))
      val excess = partsupp(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")
            .select("p_partkey")),
          col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("__sq"))
        .select("ps_suppkey").distinct()
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"),
          expr("cast(floor(s_acctbal * 100) as bigint)").as("bal_cents"))
        .orderBy("s_name")
    }),

    // Per-supplier OLS price-vs-quantity slope as ONE combinable
    // aggregate: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over integer
    // units (quantity, price cents), exact decimal/hugeint sums, one
    // truncating micro-scale division at the end — regression at scale
    // with no second pass and no float accumulation order.
    "a_ols_slope" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          expr("cast(floor(l_quantity) as bigint)").as("__x"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("__y"))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("__x").cast(DecimalType(38, 0))).as("__sx"),
          sum(col("__y").cast(DecimalType(38, 0))).as("__sy"),
          sum((col("__x") * col("__y")).cast(DecimalType(38, 0))).as("__sxy"),
          sum((col("__x") * col("__x")).cast(DecimalType(38, 0))).as("__sxx"))
        .select(col("l_suppkey"), col("n"),
          expr("cast((1000000 * (n * __sxy - __sx * __sy)) div " +
            "nullif(n * __sxx - __sx * __sx, 0) as bigint)").as("slope_micro"))
        .orderBy("l_suppkey")),

    // Theil–Sen robust slope (bounded-pairs variant): the median of
    // pairwise slopes, the outlier-proof twin of a_ols_slope (one bad
    // point drags OLS arbitrarily; the slope MEDIAN moves only past
    // 29% contamination). Pairs are each point with its next K=8
    // neighbors in the per-supplier total order — generated by an
    // EXPLODE + (key, rank) equi-join, never a range self-join — so
    // cost is n·K per key at any scale. Slopes floor-divide via the
    // pmod identity ((a − pmod(a,b)) div b = ⌊a/b⌋): Spark's `div`
    // truncates toward zero but DuckDB's `//` floors, and pairwise
    // slopes GO NEGATIVE, where the two disagree — the bandJoin
    // lesson applied before it could become a red cell. Median = the
    // exact lower-median rank, no interpolation.
    "a_theilsen" -> ((s, d) => {
      val k = 8
      // The window partition key is the SUPPLIER — a fixed-cardinality
      // catalog key while the fact grows, so per-supplier window
      // volume scales linearly with SF and the default 32-partition
      // window shuffle concentrates ~n/32 rows per task: at 100×
      // (480M slope rows over 1000 suppliers) the per-task sort spills
      // and the cell went super-linear (9.9 s sf1 → 126 s sf10,
      // 12.7×/decade). Pre-repartitioning BOTH window inputs to the
      // session's initialPartitionNum (the linkpred lever — scales
      // with the cluster, and the explicit count keeps AQE from
      // coalescing the exchange) spreads the fixed key set over 8×
      // more tasks, so per-task sorts stay in memory. Hash clustering
      // on the key alone still satisfies the window's required
      // distribution — no extra exchange is added.
      val wideParts = s.conf
        .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .map(_.toInt).getOrElse(s.sessionState.conf.numShufflePartitions)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey")
        .orderBy("__x", "__y", "l_orderkey", "l_linenumber")
      val pts = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          expr("cast(floor(l_quantity) as bigint)").as("__x"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("__y"))
        .repartition(wideParts, col("l_suppkey"))
        .withColumn("__rn", row_number().over(w))
        .select("l_suppkey", "__rn", "__x", "__y")
      val probes = pts
        .select(col("l_suppkey"), col("__rn").as("__rn1"),
          col("__x").as("__x1"), col("__y").as("__y1"),
          explode(expr(s"sequence(__rn + 1, __rn + $k)")).as("__rn"))
      val slopes = probes
        .join(pts, Seq("l_suppkey", "__rn"))
        .filter(col("__x") =!= col("__x1"))
        .select(col("l_suppkey"), col("__rn1"), col("__rn").as("__rn2"),
          expr("(1000000 * (__y - __y1) - pmod(1000000 * (__y - __y1), (__x - __x1))) div (__x - __x1)")
            .as("__slope"))
      slopes
        .repartition(wideParts, col("l_suppkey"))
        .withColumn("__sr", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")
            .orderBy("__slope", "__rn1", "__rn2")))
        .withColumn("n_pairs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")))
        .filter(col("__sr") === expr("(n_pairs + 1) div 2"))
        .select(col("l_suppkey"), col("n_pairs"),
          col("__slope").as("slope_micro_med"))
        .orderBy("l_suppkey")
    }),

    // Click→purchase lag percentiles, EXACT: value-at-integer-rank
    // (the ts_winsorize convention — (q·n div 100 + 1)-th smallest) over
    // the backward-as-of lags, so no percentile interpolation
    // arithmetic exists to diverge. One union-sort as-of + one thin
    // rank window.
    "w13_lag_quantiles" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      val lags = Relational.asofJoin(p, c, "user_id", "ts",
          Seq("c_ts", "c_id"), Seq("c_id"))
        .filter(col("c_ts").isNotNull)
        .select((unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("c_ts").cast("timestamp"))).as("lag_us"))
      val tot = lags.agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("lag_us")
      lags.withColumn("__rnk", row_number().over(w))
        .crossJoin(broadcast(tot))
        .agg(max(col("__n")).as("n_pairs"),
          max(when(col("__rnk") === expr("(50 * __n) div 100 + 1"),
            col("lag_us"))).as("p50_us"),
          max(when(col("__rnk") === expr("(90 * __n) div 100 + 1"),
            col("lag_us"))).as("p90_us"),
          max(when(col("__rnk") === expr("(99 * __n) div 100 + 1"),
            col("lag_us"))).as("p99_us"))
    }),

    // Gini coefficient of customer revenue, EXACT: the rank formula
    // G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over integer cents with a
    // deterministic tie order (Σ i·x is tie-order invariant anyway),
    // scaled to integer micro — no float Lorenz integration. The rank
    // window sorts only the customer dim; the fact scan collapses
    // map-side.
    "a_gini" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents"), col("o_custkey"))
      rev.withColumn("__i", row_number().over(w))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents").cast(DecimalType(38, 0))).as("__sx"),
          sum((col("__i").cast("long") * col("cents")).cast(DecimalType(38, 0)))
            .as("__six"))
        .select(col("n_customers"),
          expr("cast(__sx as bigint)").as("total_cents"),
          expr("cast((1000000 * (2 * __six - (n_customers + 1) * __sx)) div " +
            "(n_customers * __sx) as bigint)").as("gini_micro"))
    }),

    // Benford first-digit audit (the fabricated-numbers smoke test):
    // first significant digit via STRING head of the integer part —
    // no log10 (a libm call whose rounding differs across engines) —
    // against the Benford expectation as integer-milli literals baked
    // into BOTH statements. One combinable count over the scan; the
    // digit spine keeps all 9 rows even for absent digits.
    "a_benford" -> ((s, d) => {
      val counts = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1)
        .select(expr("cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("__N"))
      val expMilli = Map(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L,
        5 -> 79L, 6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
      val expCol = expMilli.foldLeft(lit(0L)) { case (acc, (dg, e)) =>
        when(col("digit") === dg, lit(e)).otherwise(acc)
      }
      s.range(1, 10).select(col("id").cast("int").as("digit"))
        .join(counts, Seq("digit"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(tot))
        .withColumn("observed_milli", expr("(1000 * n) div __N"))
        .withColumn("expected_milli", expCol)
        .withColumn("deviation_milli",
          abs(col("observed_milli") - col("expected_milli")))
        .select("digit", "n", "observed_milli", "expected_milli",
          "deviation_milli")
        .orderBy("digit")
    }),

    "a_pareto" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev").desc, col("o_custkey"))
      val cum = rev.withColumn("__rank", row_number().over(w))
        .withColumn("__cum", sum(col("rev")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      cum.crossJoin(broadcast(rev.agg(sum(col("rev")).as("total"),
          count(lit(1)).as("n_customers"))))
        .filter(col("__cum") * 5 >= col("total") * 4)
        .groupBy("n_customers", "total")
        .agg(min(col("__rank")).as("n_top"),
          min_by(col("__cum"), col("__rank")).as("top_revenue"))
        .withColumn("top_share",
          col("top_revenue").cast("double") / col("total").cast("double"))
        .select("n_customers", "n_top", "top_revenue", "total", "top_share")
    }),

    // Measured Bloom false-positive rate: 1000 deterministic probes
    // guaranteed absent (the 'absent:' prefix cannot tokenize out of
    // the corpus), FPR = reported-present fraction — the empirical
    // companion to k_bloom_probe's no-false-negative guarantee, with
    // the slot occupancy alongside so the theoretical rate is
    // computable downstream.
    "k_bloom_fpr" -> ((s, d) => {
      val bloom = graft.sketch.Sketches.bloomSlots(Tables.documents(s, d), "text", 256)
      val probes = s.range(0, 1000)
        .select(concat(lit("absent:"), col("id").cast("string")).as("tok"))
      graft.sketch.Sketches.bloomContains(bloom, probes, 256)
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("in_bloom"), 1L).otherwise(0L)).as("n_false_pos"))
        .crossJoin(broadcast(bloom.agg(count(lit(1)).as("n_set"))))
        .withColumn("m_bits", lit(256))
        .withColumn("fpr",
          col("n_false_pos").cast("double") / col("n_probes").cast("double"))
        .select("m_bits", "n_set", "n_probes", "n_false_pos", "fpr")
    }),

    // Data-quality audit (the Deequ/dbt-test family): completeness,
    // key uniqueness, value range, domain membership, referential
    // integrity, non-emptiness — ONE aggregate pass over the fact table
    // (conditional sums share the scan) plus one broadcast anti-join
    // for the foreign key; the report explodes from a single row, so
    // adding checks never adds scans.
    "a_dq_audit" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val base = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("bad_status"))
      val orphans = o.join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"))), Seq("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      base.crossJoin(orphans)
        .select(explode(array(
          struct(lit("completeness:o_custkey").as("check_name"),
            col("null_cust").as("observed"), (col("null_cust") === 0).as("passed")),
          struct(lit("uniqueness:o_orderkey").as("check_name"),
            (col("n_rows") - col("n_keys")).as("observed"),
            (col("n_rows") === col("n_keys")).as("passed")),
          struct(lit("range:o_totalprice_positive").as("check_name"),
            col("bad_price").as("observed"), (col("bad_price") === 0).as("passed")),
          struct(lit("domain:o_orderstatus").as("check_name"),
            col("bad_status").as("observed"), (col("bad_status") === 0).as("passed")),
          struct(lit("referential:o_custkey_in_customer").as("check_name"),
            col("n_orphans").as("observed"), (col("n_orphans") === 0).as("passed")),
          struct(lit("nonempty:orders").as("check_name"),
            col("n_rows").as("observed"), (col("n_rows") > 0).as("passed"))
        )).as("c"))
        .select(col("c.check_name").as("check_name"),
          col("c.observed").as("observed"), col("c.passed").as("passed"))
        .orderBy("check_name")
    }),

    // Referential-integrity matrix: EVERY foreign-key relation of the
    // star schema audited in both directions — orphan children (FK with
    // no parent) and unreferenced parents (dim rows no fact touches).
    // Child keys aggregate/distinct before any anti join, so the facts
    // never cross a join at full width; a clean warehouse proves 0
    // orphans here, and the unreferenced column is the dim-pruning map.
    "a_ref_integrity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      Seq(
        fkAudit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey", smallParent = true),
        fkAudit("events.user_id->customer", Tables.events(s, d), "user_id", c, "c_custkey", smallParent = false),
        fkAudit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey", smallParent = false),
        fkAudit("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, d), "p_partkey", smallParent = true),
        fkAudit("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey", smallParent = true),
        fkAudit("nation.n_regionkey->region", n, "n_regionkey", Tables.region(s, d), "r_regionkey", smallParent = true),
        fkAudit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey", smallParent = false),
        fkAudit("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey", smallParent = true))
        .reduce(_ unionByName _)
        .orderBy("relation")
    }),

    // RFM segmentation (recency / frequency / monetary): per-customer
    // metrics from ONE map-side-combinable groupBy over the fact table,
    // then quintile scores via row_number + integer div (ntile's exact
    // twin, unique tie-breaks) and a rule-based segment label. The
    // score windows sort only the CUSTOMER DIM — at 100 TB the fact
    // scan collapses to |customers| rows before anything global sorts;
    // the reference date is a broadcast scalar, never a driver collect.
    // Monetary is integer CENTS (floor(price*100) — identical IEEE
    // double arithmetic in both engines, the a_abtest micro-unit
    // pattern): a double→DECIMAL cast here rounds the shortest decimal
    // repr HALF_UP in Spark but the exact binary value in DuckDB, and
    // comparator decimal canonicalization differs across harnesses.
    "a_rfm" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val per = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("__last"),
          count(lit(1)).as("frequency"),
          sum(expr("cast(floor(o_totalprice * 100) as bigint)"))
            .as("monetary_cents"))
      val ref = o.agg(max(col("o_orderdate")).as("__ref"),
        countDistinct(col("o_custkey")).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
      val base = per.crossJoin(broadcast(ref))
        .withColumn("recency_days",
          expr("(unix_micros(cast(__ref as timestamp)) - " +
            "unix_micros(cast(__last as timestamp))) div 86400000000"))
        .withColumn("__rr", row_number().over(
          w.orderBy(col("recency_days").desc, col("custkey").desc)))
        .withColumn("__fr", row_number().over(
          w.orderBy(col("frequency").asc, col("custkey").asc)))
        .withColumn("__mr", row_number().over(
          w.orderBy(col("monetary_cents").asc, col("custkey").asc)))
        .withColumn("r_score", expr("1 + (5 * (cast(__rr as bigint) - 1)) div __n"))
        .withColumn("f_score", expr("1 + (5 * (cast(__fr as bigint) - 1)) div __n"))
        .withColumn("m_score", expr("1 + (5 * (cast(__mr as bigint) - 1)) div __n"))
      base.withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, lit("champion"))
            .when(col("r_score") >= 4, lit("recent"))
            .when(col("f_score") >= 4, lit("loyal"))
            .when(col("r_score") <= 2 && col("f_score") <= 2, lit("at_risk"))
            .otherwise(lit("regular")))
        .select("custkey", "recency_days", "frequency", "monetary_cents",
          "r_score", "f_score", "m_score", "segment")
        .orderBy("custkey")
    }),

    // Shard manifest (the dataset-publishing artifact next to the
    // shards): per shard, doc/token counts, id range, and an
    // order-independent content checksum (sum of doc fingerprints
    // mod P — commutative, so shard-internal ordering never matters).
    // One combinable groupBy over the shard assignment projection.
    "pipe_manifest" -> ((s, d) => {
      val sh = TextOps.shardAssignment(Tables.documents(s, d), "doc_id", 8)
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).cast("long").as("__tok"),
          TextOps.fingerprint("text").as("__fp"))
        .join(sh.select("doc_id", "shard"), Seq("doc_id"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          (sum(col("__fp")) % TextOps.P).as("checksum"))
        .orderBy("shard")
    }),

    // Curriculum assembly (easy→hard pretraining order): phase = global
    // quality quartile via row_number + integer div (a_rfm's exact-ntile
    // trick; NULLS FIRST matches both engines), position within a phase
    // = rank under a salted doc-id hash so each phase is internally
    // shuffled, reproducibly, with no RNG state. Windows sort only the
    // thin (doc_id, score) projection of the corpus.
    "pipe_curriculum" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score"), col("doc_id"))
      val base = TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("score"))
      val h = graft.functions.NativeExprs.polyHash(
        concat(lit("curr:"), col("doc_id").cast("string")),
        TextOps.CharMul, TextOps.P)
      base.crossJoin(broadcast(base.agg(count(lit(1)).as("__n"))))
        .withColumn("__r", row_number().over(w))
        .withColumn("phase", expr("(4 * (cast(__r as bigint) - 1)) div __n"))
        .withColumn("__h", h)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("phase").orderBy(col("__h"), col("doc_id"))))
        .select("doc_id", "source", "score", "phase", "pos")
        .orderBy("doc_id")
    }),

    // Sequence packing (pretraining batch assembly): documents are
    // packed greedily in a deterministic order (per source, by doc_id);
    // a doc joins the pack its first token falls into — pack_id =
    // floor(tokens_before / budget). One window cumsum, no driver state.
    "pipe_pack" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.wsTokenCount(col("text")).as("n_tokens"))
        .withColumn("pack_id",
          floor(((sum(col("n_tokens")).over(w) - col("n_tokens")) / 2048)).cast("int"))
        .orderBy("source", "doc_id")
    }),

    // TF-IDF-style distinctive terms: top-3 per doc ranked by
    // (tf DESC, df ASC, term) — the float-free keyword-extraction form
    // (exact integer ranking; no cross-engine log/division ambiguity).
    "t_tfidf_topterms" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // df via a window over tok, NOT a tf-join-tf self-join: the join
      // form computes the explode+tf aggregate TWICE (the two sides key
      // differently, so no exchange reuse) and adds a join shuffle; the
      // window reuses the single tf result with one tok exchange
      val wDf = org.apache.spark.sql.expressions.Window.partitionBy("tok")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.withColumn("df", count(lit(1)).over(wDf))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "tok", "tf", "df")
        .orderBy("doc_id", "rank")
    }),

    // Quantile-driven quality gate: keep documents scoring above the
    // global median quality — the data-curation cut expressed as a
    // scalar-aggregate gate, never a driver-side collect of the corpus.
    // The median is the bounded-error histogram-sketch estimate, NOT
    // exact `percentile`: the exact form is an ImperativeAggregate that
    // buffers every distinct score in the one final-aggregation task
    // (memory scales with data — the last such aggregate in the
    // pipeline suite); the sketch shuffles only bin counts and its
    // error is one bin width (score ∈ [0,1] → ≤ 1/256 here). Oracle
    // parity of the sketch itself is proven by k_quantile_hist.
    "pipe_quality_gate" -> ((s, d) => {
      // two consumers (the median sketch + the gate itself) would re-run
      // the tokenize/regex feature pipeline per consumer — at 100× that
      // doubled the dominant cost; one lazy materialization of the thin
      // 3-column stream pays for both (the perplexityBuckets reuse
      // pattern)
      val staged = TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select("doc_id", "source", "score")
        .localCheckpoint(false)
      val med = graft.sketch.Sketches
        .histogramQuantiles(staged, "score", 256, Seq(0.5))
        .select(col("estimate").as("__med"))
      staged.crossJoin(broadcast(med))
        .filter(col("score") > col("__med"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source")
    }),

    // Corpus length histogram: fixed-width buckets over n_chars with a
    // capped tail — the standard dataset-report shape, pure int math.
    "a_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select(least(floor(col("n_chars") / 100), lit(19)).cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .withColumn("bucket_lo", (col("bucket") * 100).cast("int"))
        .select("bucket", "bucket_lo", "n_docs")
        .orderBy("bucket")),

    // The fuzzy-dedup pipeline end-to-end: MinHash-LSH candidates →
    // connected components → keep each cluster's minimum doc → kept-
    // corpus mixture stats. Every stage is the scale-shaped operator
    // (band equi-join, min-label propagation); the oracle recomputes the
    // same fixpoint with a recursive CTE.
    "pipe_dedup_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = Dedup.clusters(docs.select("doc_id"),
        Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
        .filter(col("id") === col("cluster"))
        .select(col("id").as("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
        .orderBy("source")
    }),

    // Quality-aware representative selection: real curation recipes keep
    // the BEST document of each near-dup cluster, not the min-id one —
    // compose the MinHash-LSH cluster fixpoint with the quality score and
    // take the per-cluster argmax (score desc, doc_id asc tie-break; the
    // score is a fixed tree of IEEE +,*,/ over integer features, so the
    // doubles — and hence the chosen representative — are bit-identical
    // cross-engine). One audit row per cluster.
    "pipe_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.clusters(docs.select("doc_id"),
        Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
      val scored = TextOps.withQualityFeatures(docs, "text")
        .select(col("doc_id"), col("score"))
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(col("score").desc, col("doc_id").asc)
      val wSize = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      clusters.join(scored, col("id") === col("doc_id"))
        .select(col("cluster"), col("doc_id"), col("score"))
        .withColumn("rn", row_number().over(wBest))
        .withColumn("n_members", count(lit(1)).over(wSize))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("kept_doc"), col("score"),
          col("n_members"))
        .orderBy("cluster")
    }),

    // Per-source document capping (the RefinedWeb/C4 "domain cap"): no
    // single source may contribute more than N documents, and the ones
    // kept are its HIGHEST-quality ones — rank per source by (score
    // desc, doc_id) and keep rank <= cap. One window whose rank filter
    // becomes a per-partition top-k (WindowGroupLimit — plan-audited):
    // each source's partition keeps a cap-sized heap, nothing sorts a
    // whole source, and the shuffle key (source) is the natural
    // partitioning a crawl layout already has.
    "pipe_source_cap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score").desc, col("doc_id").asc)
      TextOps.withQualityFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 40)
        .orderBy("source", "rk")
    }),

    // Z-order layout audit: the Morton key (Relational.zOrderKey) a
    // range-partitioned write clusters files by, summarized per key range — each bucket (a
    // contiguous z-range = one file's worth under repartitionByRange)
    // covers a small HYPER-RECTANGLE of (user, minute) space, which is
    // what makes min-max stats prune range scans on EITHER column at
    // 100 TB. The span columns make that property itself the oracle:
    // x/y spans stay bucket-sized, never global. Pure integer bit
    // interleave — cross-engine exact by construction.
    "pipe_zorder" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(col("event_id"),
          pmod(col("user_id"), lit(4096L)).as("__x"),
          pmod(expr("unix_micros(cast(ts as timestamp)) div 60000000"),
            lit(4096L)).as("__y"))
        .withColumn("z", Relational.zOrderKey(Seq(col("__x"), col("__y")), 12))
        .withColumn("bucket", expr("z div 262144"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"),
          min("__x").as("x_min"), max("__x").as("x_max"),
          min("__y").as("y_min"), max("__y").as("y_max"))
        .orderBy("bucket")
    }),

    // Corpus snapshot diff — the data-versioning audit between two crawl
    // snapshots (what a 100 TB refresh actually changed): previous =
    // docs outside the 11-residue, current = docs outside the 13-residue
    // with every 7-residue doc revised; one co-partitioned full-outer
    // equi-join on doc_id classifies added / removed / changed (string
    // equality on content — unchanged rows drop out). At scale both
    // snapshots are bucketed by doc_id, so the diff is exchange-free.
    "d_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), col("text").as("__old"))
      val cur = docs.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("__new"))
      prev.join(cur, Seq("doc_id"), "full_outer")
        .withColumn("change",
          when(col("__old").isNull, lit("added"))
            .when(col("__new").isNull, lit("removed"))
            .when(col("__old") =!= col("__new"), lit("changed")))
        .filter(col("change").isNotNull)
        .select("doc_id", "change")
        .orderBy("doc_id")
    }),

    // ---- sketches (constant-size mergeable summaries) ---------------------
    // Deterministic integer counters/registers → unlike typical sketch
    // libraries, the SKETCH ITSELF is oracle-checked, not just sanity
    // properties.
    "k_cms" -> ((s, d) =>
      graft.sketch.Sketches.countMinTokens(Tables.documents(s, d), "text", 64)
        .orderBy("row", "slot")),

    // CMS point estimates for the top-10 vocabulary tokens, with the
    // true counts alongside (est >= truth — the one-sided CMS bound).
    "k_cms_est" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val truth = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("true_n"))
      val probes = Relational.topK(truth, 10, col("true_n").desc, col("tok"))
      val est = graft.sketch.Sketches.countMinEstimate(
        graft.sketch.Sketches.countMinTokens(docs, "text", 64),
        probes.select("tok"), 64)
      probes.join(est, Seq("tok"))
        .withColumn("overcount_ok", col("est") >= col("true_n"))
        .select("tok", "true_n", "est", "overcount_ok")
        .orderBy("tok")
    }),

    // HLL registers over hashed user ids (m = 64 buckets; quotient fits
    // 25 bits under the 2^31-1 hash modulus).
    // Bloom filter of the corpus vocabulary — the membership sketch
    // (set-bit rows are a deterministic set → the filter itself is
    // oracle-checked; merge = set union).
    "k_bloom" -> ((s, d) =>
      graft.sketch.Sketches.bloomSlots(Tables.documents(s, d), "text", 256)
        .orderBy("slot")),

    // Membership probes: the top-10 vocabulary tokens plus known-absent
    // ones; `no_false_negative` is the Bloom guarantee (true for every
    // row), false positives are allowed and visible.
    "k_bloom_probe" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val toks = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      val truth = toks.distinct()
      val top10 = Relational.topK(
        toks.groupBy("tok").agg(count(lit(1)).as("n")), 10, col("n").desc, col("tok"))
        .select("tok")
      val probes = top10.unionByName(
        Seq("zzq_absent_a", "zzq_absent_b", "zzq_absent_c").toDF("tok"))
      graft.sketch.Sketches.bloomContains(
        graft.sketch.Sketches.bloomSlots(docs, "text", 256), probes, 256)
        .join(truth.withColumn("__p", lit(true)), Seq("tok"), "left")
        .select(col("tok"), col("in_bloom"),
          coalesce(col("__p"), lit(false)).as("truly_present"),
          (col("in_bloom") || coalesce(col("__p"), lit(false)) === false)
            .as("no_false_negative"))
        .orderBy("tok")
    }),

    // HLL registers over hashed user ids (m = 64 buckets); the
    // multiplicative mix inside hllRegisters supplies the avalanche the
    // polynomial hash lacks
    "k_hll" -> ((s, d) =>
      graft.sketch.Sketches.hllRegisters(
        Tables.events(s, d).select(col("user_id").cast("string").as("uid"))
          .select(TextOps.tokenHash("uid").as("h")),
        64)
        .orderBy("bucket")),

    // HLL estimate vs the exact distinct count — even the double-valued
    // estimate is bit-exact (the harmonic sum adds exact powers of two).
    "k_hll_est" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.sketch.Sketches.hllEstimate(
        graft.sketch.Sketches.hllRegisters(
          ev.select(col("user_id").cast("string").as("uid"))
            .select(TextOps.tokenHash("uid").as("h")), 64), 64)
        .crossJoin(broadcast(ev.agg(count_distinct(col("user_id")).as("exact"))))
    }),

    // KMV distinct sketch per source (k smallest 3-gram hashes):
    // deterministic integer minima → the sketch AND its (k-1)·P/h_k
    // estimate are cell-exact; exact_distinct rides along as the
    // evaluation column. #sources × k rows out regardless of corpus.
    "k_kmv" -> ((s, d) =>
      graft.sketch.Sketches.kmvDistinctEval(
        Tables.documents(s, d), "source", "text", 3, 64)
        .orderBy("source")),

    // Cross-source overlap straight from the KMV sketches: union-sketch
    // jaccard + integer-rescaled intersection estimate per source pair,
    // with the TRUE jaccard (hash equi-join on the full distinct sets)
    // beside it — "how much do crawl A and B overlap" without ever
    // joining the corpora; the estimate side touches #sources² × k rows.
    "k_kmv_jaccard" -> ((s, d) =>
      graft.sketch.Sketches.kmvOverlapEval(
        Tables.documents(s, d), "source", "text", 3, 64)
        .orderBy("ga", "gb")),

    // Distributed KMV: two shards sketch independently, the merge
    // (union, keep k smallest) reproduces the direct sketch EXACTLY —
    // the oracle statement is k_kmv's direct form, so the equality gate
    // IS the merge law, verified cell-exact.
    "k_kmv_merge" -> ((s, d) =>
      graft.sketch.Sketches.kmvDistinctEvalSharded(
        Tables.documents(s, d), col("doc_id") % 2, "source", "text", 3, 64)
        .orderBy("source")),

    // mergeable equi-width-histogram quantile sketch: bounded-error
    // quantiles with a bins-integer shuffle instead of a full sort
    "k_quantile_hist" -> ((s, d) =>
      graft.sketch.Sketches.histogramQuantiles(
        Tables.orders(s, d), "o_totalprice", 64, Seq(0.5, 0.9, 0.99))
        .orderBy("q")),

    // the grouped form: per-day value percentiles over the event stream —
    // per-group boundaries, same bounded-error walk
    "k_quantile_daily" -> ((s, d) =>
      graft.sketch.Sketches.histogramQuantiles(
        Tables.events(s, d).select(to_date(col("ts")).as("day"), col("value")),
        "value", 32, Seq(0.5, 0.95), Seq("day"))
        .orderBy("day", "q")),

    // grouped HLL — the streaming-dashboard shape (distinct users per
    // (hour, event_type)) as its deterministic batch twin: registers are
    // per-group integer maxima, so even grouped estimates are cell-exact
    "k_hll_window" -> ((s, d) =>
      graft.sketch.Sketches.hllEstimate(
        graft.sketch.Sketches.hllRegisters(
          Tables.events(s, d)
            .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"),
              col("user_id").cast("string").as("uid"))
            .select(col("hour"), col("event_type"), TextOps.tokenHash("uid").as("h")),
          64, Seq("hour", "event_type")),
        64, Seq("hour", "event_type"))
        .orderBy("hour", "event_type")),

    // Join-key skew diagnostic: the numbers you read BEFORE choosing a
    // salting/broadcast strategy — per candidate key: rows, distinct
    // keys, hottest key and its frequency, and skew = max_freq·n_keys/
    // n_rows (1.0 = uniform). One map-combinable count per key column,
    // then a catalog-sized stats fold; never touches row payloads.
    "k_skew" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def keyStats(c: String) = {
        val counts = li.groupBy(col(c).cast("long").as("k"))
          .agg(count(lit(1)).as("f"))
        // sort+limit(1) = TakeOrderedAndProject: map-side partial top-1,
        // never a single-partition global rank window over the key table
        counts.orderBy(col("f").desc, col("k")).limit(1)
          .crossJoin(broadcast(counts.agg(
            sum(col("f")).as("n_rows"), count(lit(1)).as("n_keys"))))
          .select(lit(c).as("key_col"), col("n_rows"), col("n_keys"),
            col("k").as("top_key"), col("f").as("max_freq"),
            (col("f").cast("double") * col("n_keys").cast("double") /
              col("n_rows").cast("double")).as("skew"))
      }
      keyStats("l_orderkey").unionByName(keyStats("l_partkey"))
        .unionByName(keyStats("l_suppkey"))
        .orderBy("key_col")
    }),

    // ---- §7.1.8 composed corpus pipeline ---------------------------------
    // The end-to-end training-data cleaning shape: language-ID → quality
    // gate → exact dedup → per-(source, lang) corpus stats. ONE declarative
    // plan (scan → staged projections → filter → keyed window dedup →
    // partial agg), no driver-side loops; each stage is an oracle-paired
    // operator from TextOps/Dedup, so the composition is cell-exact too.
    "pipe_corpus_clean" -> ((s, d) => {
      val staged = TextOps.withQualityFeatures(
        TextOps.withLangId(Tables.documents(s, d), "text"), "text")
      val kept = staged.filter(
        col("lang_pred") =!= "und" && col("score") > 0.5 && col("n_tokens") >= 5)
      Dedup.exact(kept, col("text"), col("doc_id"))
        .groupBy("source", "lang_pred")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("source", "lang_pred")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "p1_projection" ->
      "SELECT p_partkey, p_name, p_brand FROM part ORDER BY p_partkey",

    "p2_p3_in_time_filter" ->
      ("SELECT event_id, user_id, event_type, value FROM events " +
        "WHERE event_type IN ('click','purchase') " +
        "AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00' " +
        "ORDER BY event_id"),

    "p4_exact_lookup" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_name = 'NATION_7' ORDER BY n_nationkey LIMIT 1",

    "p5_ilike" ->
      "SELECT p_partkey, p_name FROM part WHERE lower(p_name) LIKE lower('%GEAR%') ORDER BY p_partkey",

    "p_fuzzy_lookup" ->
      ("SELECT p_partkey, p_name, CAST(levenshtein(lower(p_name), 'red widgt') AS INTEGER) AS dist " +
        "FROM part WHERE levenshtein(lower(p_name), 'red widgt') <= 4 " +
        "ORDER BY dist, p_name, p_partkey"),

    "p6_leaves_reference" ->
      (s"WITH $elementSqlCte " +
        "SELECT element_id, name, level FROM element " +
        "WHERE parent_id IS NULL OR level = (SELECT max(level) FROM element) ORDER BY element_id"),

    "p6_leaves_true" ->
      (s"WITH $elementSqlCte " +
        "SELECT element_id, name, level FROM element e " +
        "WHERE NOT EXISTS (SELECT 1 FROM element c WHERE c.parent_id = e.element_id) ORDER BY element_id"),

    "p8_notnull_filter" ->
      "SELECT event_id, value FROM events WHERE value IS NOT NULL AND value > 99.5 ORDER BY event_id",

    "p11_anti_orphans" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),

    "j1_dim_join" ->
      ("SELECT c_custkey, c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY c_custkey"),

    "j2_export_join" ->
      ("SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n_rows " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),

    "j8_semi_exists" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),

    "j9_formula_refs" ->
      (s"WITH $archiveSqlCte " +
        "SELECT attribute_id FROM (VALUES (1), (7), (9), (2)) t(attribute_id) " +
        "EXCEPT SELECT DISTINCT attribute_id FROM archive ORDER BY attribute_id"),

    "j5_recursive_paths" ->
      (s"WITH RECURSIVE $elementSqlCte, paths AS (" +
        "SELECT element_id, level, name AS path FROM element WHERE parent_id IS NULL " +
        "UNION ALL " +
        "SELECT e.element_id, e.level, p.path || '|' || e.name FROM element e " +
        "JOIN paths p ON e.parent_id = p.element_id) " +
        "SELECT element_id, level, path FROM paths ORDER BY element_id"),

    "j6_path_remap" ->
      (s"WITH RECURSIVE $elementSqlCte, paths AS (" +
        "SELECT element_id, level, name AS path FROM element WHERE parent_id IS NULL " +
        "UNION ALL " +
        "SELECT e.element_id, e.level, p.path || '|' || e.name FROM element e " +
        "JOIN paths p ON e.parent_id = p.element_id), " +
        "mapping AS (SELECT path, element_id FROM paths), " +
        "new_ids AS (SELECT path, CAST(row_number() OVER (ORDER BY path) + 200 AS INTEGER) AS element_id FROM mapping) " +
        "SELECT m.path AS path, m.element_id AS old_id, n.element_id AS new_id " +
        "FROM mapping m JOIN new_ids n ON m.path = n.path WHERE m.element_id <> n.element_id " +
        "ORDER BY m.path"),

    "a1_minmax_range" ->
      "SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events WHERE event_type = 'click'",

    "a2_watermark" ->
      "SELECT max(ts) AS watermark FROM events",

    "a3_scalar_subquery" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_quantity = (SELECT max(l_quantity) FROM lineitem) ORDER BY l_orderkey, l_linenumber"),

    "a4_group_count" ->
      "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey ORDER BY o_custkey",

    "a5_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",

    "a7_dedup_first" ->
      ("SELECT user_id, event_type, event_id, value FROM (" +
        "SELECT user_id, event_type, event_id, value, " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id, event_type"),

    "a9_density_gate" ->
      ("SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows, CAST(250 AS BIGINT) AS expected, " +
        "count(*) >= 250 AS ok FROM events GROUP BY 1 ORDER BY day"),

    "v1_pivot_export" ->
      ("SELECT CAST(ts AS DATE) AS day, " +
        "CAST(sum(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS click, " +
        "CAST(sum(CASE WHEN event_type='error' THEN 1 END) AS BIGINT) AS error, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS purchase, " +
        "CAST(sum(CASE WHEN event_type='signup' THEN 1 END) AS BIGINT) AS signup, " +
        "CAST(sum(CASE WHEN event_type='view' THEN 1 END) AS BIGINT) AS view " +
        "FROM events GROUP BY 1 ORDER BY day"),

    "v2_pivot_labeled" ->
      ("SELECT CAST(ts AS DATE) AS day, user_id % 10 AS cohort, " +
        "CAST(sum(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS click, " +
        "CAST(sum(CASE WHEN event_type='error' THEN 1 END) AS BIGINT) AS error, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS purchase, " +
        "CAST(sum(CASE WHEN event_type='signup' THEN 1 END) AS BIGINT) AS signup, " +
        "CAST(sum(CASE WHEN event_type='view' THEN 1 END) AS BIGINT) AS view " +
        "FROM events GROUP BY 1, 2 ORDER BY day, cohort"),

    "formula_backfill" ->
      (s"WITH $archiveSqlCte, wide AS (" +
        "SELECT timestamp, max(CASE WHEN attribute_id=1 THEN value END) AS attr_1, " +
        "max(CASE WHEN attribute_id=3 THEN value END) AS attr_3 " +
        "FROM archive GROUP BY timestamp) " +
        "SELECT 99 AS attribute_id, timestamp, (attr_1 + attr_3) / 2 AS value FROM wide " +
        "WHERE (attr_1 + attr_3) / 2 IS NOT NULL ORDER BY timestamp"),

    "formula_precedence" ->
      (s"WITH $archiveSqlCte, wide AS (" +
        "SELECT timestamp, max(CASE WHEN attribute_id=1 THEN value END) AS attr_1, " +
        "max(CASE WHEN attribute_id=2 THEN value END) AS attr_2, " +
        "max(CASE WHEN attribute_id=5 THEN value END) AS attr_5 " +
        "FROM archive GROUP BY timestamp) " +
        "SELECT 98 AS attribute_id, timestamp, attr_1 + attr_5 * 2 - (attr_2 - 0.5) / 4 AS value FROM wide " +
        "WHERE attr_1 + attr_5 * 2 - (attr_2 - 0.5) / 4 IS NOT NULL ORDER BY timestamp"),

    "o_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "o1_order_listing" ->
      (s"WITH $elementSqlCte " +
        "SELECT element_id, name, level FROM element ORDER BY name, element_id"),

    "u1_union_all" ->
      ("SELECT kind, name FROM (" +
        "SELECT 'region' AS kind, r_name AS name FROM region " +
        "UNION ALL SELECT 'nation', n_name FROM nation) ORDER BY kind, name"),

    "f_string_funcs" ->
      ("SELECT doc_id, upper(lang) AS lang_u, substr(text, 1, 20) AS prefix, " +
        "CAST(length(text) AS INTEGER) AS n, source || '|' || lang AS path, " +
        "string_split(source || '|' || lang, '|')[1] AS src_back " +
        "FROM documents ORDER BY doc_id"),

    "f_json_agg" ->
      ("SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k, " +
        "CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / count(*) AS avg_k, count(*) AS n " +
        "FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),

    "f7_tz_shift" ->
      ("SELECT event_id, ts + INTERVAL 7 HOUR AS local_ts, " +
        "strftime(ts, '%Y-%m-%d %H:%M') AS ts_min FROM events ORDER BY event_id"),

    "f8_coerce" ->
      ("SELECT event_id, CAST(regexp_extract(props, '\"k\":\\s*(\\d+)', 1) AS BIGINT) AS k, " +
        "TRY_CAST(props AS DOUBLE) AS bad FROM events ORDER BY event_id"),

    "t_token_count" ->
      (s"SELECT doc_id, CAST(len(${TextOps.tokensSql("text")}) AS INTEGER) AS ws_tokens, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.BpeRe}')) AS INTEGER) AS bpe_tokens " +
        "FROM documents ORDER BY doc_id"),

    "t_quality" -> {
      val f = TextOps.qualityFeaturesSql("text")
      val cols = Seq("n_chars", "n_tokens", "stop_ratio", "punct_ratio", "mean_tok_len")
        .map(n => s"${f(n)} AS $n").mkString(", ")
      s"SELECT doc_id, $cols, ${TextOps.qualityScoreSql("text")} AS score " +
        "FROM documents ORDER BY doc_id"
    },

    // NULLS FIRST pinned: Spark ASC defaults to nulls-first, DuckDB to
    // nulls-last; the doc_id tie-break makes every rank unique so tied
    // scores cannot produce engine-dependent percent_rank values.
    "pipe_curriculum" -> {
      val h = TextOps.tokenHashSql("'curr:' || CAST(doc_id AS VARCHAR)")
      s"WITH __b AS (SELECT doc_id, source, ${TextOps.qualityScoreSql("text")} AS score FROM documents), " +
        "__n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM __b), " +
        "__r AS (SELECT __b.*, __n.n, row_number() OVER (ORDER BY score ASC NULLS FIRST, doc_id) AS rn " +
        "FROM __b CROSS JOIN __n), " +
        s"__p AS (SELECT doc_id, source, score, (4 * (rn - 1)) // n AS phase, $h AS h FROM __r) " +
        "SELECT doc_id, source, score, phase, " +
        "CAST(row_number() OVER (PARTITION BY phase ORDER BY h, doc_id) AS INTEGER) AS pos " +
        "FROM __p ORDER BY doc_id"
    },

    "t_quality_pct" ->
      (s"SELECT doc_id, source, score, percent_rank() OVER (PARTITION BY source " +
        s"ORDER BY score ASC NULLS FIRST, doc_id) AS score_pct FROM " +
        s"(SELECT doc_id, source, ${TextOps.qualityScoreSql("text")} AS score " +
        "FROM documents) ORDER BY doc_id"),

    "t_langid" ->
      (s"SELECT doc_id, lang, ${TextOps.langIdSql("text")} AS lang_pred " +
        "FROM documents ORDER BY doc_id"),

    "t_lang_confusion" ->
      (s"SELECT lang, ${TextOps.langIdSql("text")} AS lang_pred, count(*) AS n " +
        "FROM documents GROUP BY 1, 2 ORDER BY lang, lang_pred"),

    "t_fingerprint" ->
      (s"SELECT doc_id, ${TextOps.fingerprintSql("text")} AS fp FROM documents ORDER BY doc_id"),

    "t_vocab" ->
      (s"SELECT tok, count(*) AS n FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS tok " +
        "FROM documents) GROUP BY tok ORDER BY n DESC, tok LIMIT 20"),

    "t_repetition" -> {
      val sh = TextOps.shinglesSql("text", 3)
      s"SELECT doc_id, CAST(len($sh) AS INTEGER) AS n_shingles, " +
        s"CAST(len(list_distinct($sh)) AS INTEGER) AS n_distinct, " +
        s"CASE WHEN len($sh) > 0 THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct($sh)) AS DOUBLE) / CAST(len($sh) AS DOUBLE) END AS rep_ratio " +
        "FROM documents ORDER BY doc_id"
    },

    "t_redact" -> {
      val aug = "(text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or 555-123-4567 at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR))"
      val f = TextOps.redactPiiSql(aug)
      s"SELECT doc_id, ${f("n_emails")} AS n_emails, ${f("n_phones")} AS n_phones, " +
        s"${f("n_ips")} AS n_ips, ${f("clean")} AS clean FROM documents ORDER BY doc_id"
    },

    "t_redact_v2" -> {
      val f = TextOps.redactPiiSql("text", TextOps.PiiClassesV2)
      val values = TextOps.CraftedPiiRows
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"SELECT doc_id, ${f("n_emails")} AS n_emails, ${f("n_ibans")} AS n_ibans, " +
        s"${f("n_e164")} AS n_e164, ${f("n_phones")} AS n_phones, " +
        s"${f("n_ips")} AS n_ips, ${f("clean")} AS clean FROM " +
        s"(SELECT doc_id, text FROM documents " +
        s"UNION ALL SELECT * FROM (VALUES $values) AS __c(doc_id, text)) " +
        "ORDER BY doc_id"
    },

    "t_redact_v3" -> {
      val f = TextOps.redactPiiSql("text", TextOps.PiiClassesV3)
      val values = TextOps.CraftedPiiRowsV3
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"SELECT doc_id, ${f("n_emails")} AS n_emails, ${f("n_ibans")} AS n_ibans, " +
        s"${f("n_ninos")} AS n_ninos, ${f("n_e164")} AS n_e164, " +
        s"${f("n_ssns")} AS n_ssns, ${f("n_phones")} AS n_phones, " +
        s"${f("n_ips")} AS n_ips, ${f("clean")} AS clean FROM " +
        s"(SELECT doc_id, text FROM documents " +
        s"UNION ALL SELECT * FROM (VALUES $values) AS __c(doc_id, text)) " +
        "ORDER BY doc_id"
    },

    "t_chunks" ->
      (s"SELECT * FROM (${TextOps.chunkTokensSql("documents", "doc_id", "text", 32, 8)}) " +
        "ORDER BY doc_id, chunk_id"),

    "t_classify" ->
      (s"SELECT * FROM (${TextOps.nbClassifySql("documents", "doc_id", "text", "lang")}) " +
        "ORDER BY true_class, pred_class"),

    "t_line_filter" -> {
      val aug = "(text || chr(10) || 'short line' || chr(10) || " +
        "'This tail line has enough words and ends well.' || chr(10) || " +
        "'no punct line here')"
      val f = TextOps.lineQualityFilterSql(aug)
      s"SELECT doc_id, ${f("n_lines")} AS n_lines, ${f("n_kept")} AS n_kept, " +
        s"${f("clean_text")} AS clean_text FROM documents ORDER BY doc_id"
    },

    "t_boilerplate" ->
      (s"SELECT * FROM (${TextOps.boilerplateRemoveSql("documents", "doc_id", boilerAugSql)}) " +
        "ORDER BY doc_id"),

    "d_stream_boiler" ->
      (s"SELECT * FROM (${TextOps.boilerplateSuppressSql("documents",
        "doc_id % 2 = 0", "doc_id % 2 = 1", "doc_id", boilerAugSql)}) " +
        "ORDER BY doc_id"),

    "t_gopher" -> {
      val aug = "(text || chr(10) || '- bullet one' || chr(10) || '- bullet two' || " +
        "chr(10) || 'and so it ends...' || chr(10) || 'plain closing line.')"
      val f = TextOps.gopherRulesSql(aug)
      val cols = Seq("n_words", "r_wordcount", "r_wordlen", "r_symbol",
        "r_bullet", "r_ellipsis", "r_alpha", "r_stop")
        .map(c => s"${f(c)} AS $c").mkString(", ")
      s"SELECT doc_id, $cols FROM documents ORDER BY doc_id"
    },

    "t_bm25" ->
      TextOps.bm25TopKSql("documents", "doc_id", "text",
        Seq("dup", "spark", "query"), k = 10),

    "t_perplexity" ->
      (s"SELECT * FROM (${TextOps.perplexityBucketsSql("documents", "doc_id", "text")}) " +
        "ORDER BY doc_id"),

    "d_exact" ->
      ("SELECT doc_id, n_chars FROM (" +
        "SELECT doc_id, n_chars, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id"),

    "d_jaccard" -> {
      val toks = TextOps.tokensSql("text")
      s"WITH __u AS (SELECT doc_id, lang, source, unnest($toks) AS tok FROM documents), " +
        s"uniq AS (SELECT DISTINCT doc_id, lang, source, ${TextOps.tokenHashSql("tok")} AS tok FROM __u), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM uniq GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM uniq a JOIN uniq b ON a.tok = b.tok AND a.lang = b.lang AND a.source = b.source " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.9 " +
        "ORDER BY id_a, id_b"
    },

    "d_containment" ->
      (s"SELECT * FROM (${Dedup.containmentPairsSql("documents", "doc_id", "text",
        Seq("lang", "source"), 0.9)}) ORDER BY id_a, id_b"),

    "d_canon" -> {
      val aug = "(SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000, '  ' || upper(text) || ' !!' FROM documents)"
      s"SELECT * FROM (${Dedup.canonicalDedupSql(aug, "doc_id", "text")}) ORDER BY doc_id"
    },

    "d_lsh_recall" ->
      Dedup.lshRecallEvalSql("documents", "doc_id", "text", 3, 0.8),

    "d_minhash_est" ->
      (s"SELECT * FROM (${Dedup.minhashEstimatePairsSql("documents", "doc_id", "text", 3)}) " +
        "ORDER BY id_a, id_b"),

    // identical statement: the prefix-filtered Spark plan is exact, so it
    // sits under the same oracle as the full inverted-index plan
    "d_jaccard_prefix" -> {
      val toks = TextOps.tokensSql("text")
      s"WITH __u AS (SELECT doc_id, lang, source, unnest($toks) AS tok FROM documents), " +
        s"uniq AS (SELECT DISTINCT doc_id, lang, source, ${TextOps.tokenHashSql("tok")} AS tok FROM __u), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM uniq GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM uniq a JOIN uniq b ON a.tok = b.tok AND a.lang = b.lang AND a.source = b.source " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.9 " +
        "ORDER BY id_a, id_b"
    },

    "d_jaccard_ngram" -> {
      val sh = TextOps.shinglesSql("text", 3)
      s"WITH __u AS (SELECT doc_id, lang, source, unnest($sh) AS tok FROM documents), " +
        s"uniq AS (SELECT DISTINCT doc_id, lang, source, ${TextOps.tokenHashSql("tok")} AS tok FROM __u), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM uniq GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common " +
        "FROM uniq a JOIN uniq b ON a.tok = b.tok AND a.lang = b.lang AND a.source = b.source " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, common, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) >= 0.8 " +
        "ORDER BY id_a, id_b"
    },

    "d_substring" ->
      (s"SELECT * FROM (${Dedup.substringDedupSql("documents", "doc_id", "text", 8)}) " +
        "ORDER BY doc_id"),

    "d_cdc_shared" ->
      (s"SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "count(*) AS n_occ, min(doc_id) AS first_doc " +
        s"FROM (${Dedup.cdcChunksSql("documents", "doc_id", "text", 3, 16)}) " +
        "GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2 " +
        "ORDER BY n_docs DESC, chunk_hash"),

    "pipe_dedup_cdc" ->
      (s"SELECT * FROM (${Dedup.cdcDedupSql("documents", "doc_id", "text",
        3, 16, 50)}) ORDER BY doc_id"),

    "d_minhash_sig" ->
      (s"SELECT * FROM (${Dedup.minhashSignaturesSql("documents", "doc_id", "text", 3)}) ORDER BY doc_id"),

    "d_minhash_lsh" ->
      (s"SELECT * FROM (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}) ORDER BY id_a, id_b"),

    "d_simhash" ->
      (s"SELECT * FROM (${Dedup.simhashSql("documents", "doc_id", "text")}) ORDER BY doc_id"),

    "d_simhash_pairs" ->
      (s"SELECT * FROM (${Dedup.simhashPairsSql("documents", "doc_id", "text", 3)}) ORDER BY id_a, id_b"),

    "d_simhash_pairs_w64" ->
      (s"SELECT * FROM (${Dedup.simhashPairsSql("documents", "doc_id", "text", 3, bits = 64)}) ORDER BY id_a, id_b"),

    "d_stream_substring" ->
      (s"SELECT * FROM (${Dedup.substringSuppressSql("documents",
        "doc_id % 2 = 0", "doc_id % 2 = 1", "doc_id", "text", 8)}) " +
        "ORDER BY doc_id"),

    "d_stream_cdc" ->
      (s"SELECT * FROM (${Dedup.cdcSuppressSql("documents",
        "doc_id % 2 = 0", "doc_id % 2 = 1", "doc_id", "text",
        3, 16, 50)}) ORDER BY doc_id"),

    "d_stream_novelty" ->
      (s"SELECT * FROM (${Dedup.noveltySuppressSql("documents",
        "doc_id % 2 = 0", "doc_id % 2 = 1", "doc_id", "text", 3)}) " +
        "ORDER BY doc_id"),

    "d_stream_canon" -> {
      val aug = "(SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000, '  ' || upper(text) || ' !!' FROM documents " +
        "UNION ALL SELECT doc_id + 200000, upper(text) || ' ??' FROM documents WHERE doc_id % 2 = 1)"
      s"SELECT * FROM (${Dedup.canonicalSuppressSql(aug,
        "doc_id < 100000 AND doc_id % 2 = 0", "doc_id >= 100000",
        "doc_id", "text")}) ORDER BY doc_id"
    },

    // the one-group form of vocabDriftSql: ref = even ids, cur = odd
    "d_stream_drift" ->
      (s"SELECT n_ref, n_cur, vocab, tvd FROM (${TextOps.vocabDriftSql(
        "(SELECT *, 'all' AS __g FROM documents)", "__g", "text",
        "doc_id % 2 = 0")}) ORDER BY n_ref"),

    "d_stream_neardup" ->
      (s"SELECT * FROM (${Dedup.nearDupSuppressSql("documents", "doc_id", "text", 3,
        "doc_id % 2 = 0", "d.doc_id, d.n_chars")}) ORDER BY doc_id"),

    // d_cluster's reachability statement verbatim — the incremental
    // registry must land on the batch fixed point
    "d_stream_cluster" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "d_contam" ->
      (s"SELECT * FROM (${Dedup.contaminationSql("documents",
        "source <> 'src0'", "source = 'src0'", "doc_id", "text", 3)}) " +
        "ORDER BY doc_id"),

    "d_contam_matrix" ->
      (s"SELECT * FROM (${Dedup.contaminationMatrixSql("documents", "source", "text", 3)}) " +
        "ORDER BY source_a, source_b"),

    "t_langid_mixed" -> {
      val chunkSql = TextOps.chunkTokensSql("documents", "doc_id", "text", 16, 0)
      s"""WITH __ch AS (SELECT * FROM ($chunkSql)),
         |__lid AS (SELECT doc_id, ${TextOps.langIdSql("chunk")} AS lang FROM __ch),
         |__cnt AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS cnt
         |          FROM __lid GROUP BY doc_id, lang),
         |__agg AS (SELECT doc_id, lang, cnt,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang) AS rk,
         |  CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
         |  CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs
         |  FROM __cnt)
         |SELECT doc_id, n_chunks, n_langs, lang AS major_lang,
         |       CAST(cnt AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS agreement
         |FROM __agg WHERE rk = 1 ORDER BY doc_id""".stripMargin
    },

    "d_source_dups" -> {
      val aug = "(SELECT doc_id, source, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000, 'mirror_' || source, text FROM documents WHERE doc_id % 7 = 0)"
      s"WITH __fp AS (SELECT DISTINCT source, ${TextOps.fingerprintSql("text")} AS fp FROM $aug d) " +
        "SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM __fp a JOIN __fp b ON a.fp = b.fp AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY source_a, source_b"
    },

    "t_bpe_pairs" ->
      TextOps.bpePairCandidatesSql("documents", "text", k = 20),

    "t_entropy" ->
      (s"SELECT * FROM (${TextOps.tokenEntropySql("documents", "doc_id", "text")}) " +
        "ORDER BY doc_id"),

    "t_ngram_topk" -> {
      val sh = TextOps.shinglesSql("text", 3)
      s"WITH __u AS (SELECT doc_id, source, unnest($sh) AS tok FROM documents), " +
        s"uniq AS (SELECT DISTINCT doc_id, source, ${TextOps.tokenHashSql("tok")} AS tok FROM __u), " +
        "cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS df FROM uniq GROUP BY 1, 2), " +
        "rk AS (SELECT source, tok, df, CAST(row_number() OVER " +
        "(PARTITION BY source ORDER BY df DESC, tok) AS INTEGER) AS rank FROM cnt) " +
        "SELECT * FROM rk WHERE rank <= 5 ORDER BY source, rank"
    },

    "pipe_eval_clean" -> {
      val split = TextOps.hashSplitSql("doc_id")
      s"""WITH __c AS (SELECT * FROM (${Dedup.contaminationSql("documents",
           s"($split) = 'train'", s"($split) = 'test'", "doc_id", "text", 3)})),
         |__te AS (SELECT doc_id, source FROM documents WHERE ($split) = 'test')
         |SELECT t.doc_id, t.source, c.n_shingles, c.n_hit, c.contamination
         |FROM __te t LEFT JOIN __c c ON t.doc_id = c.doc_id
         |WHERE coalesce(c.contamination <= 0.5, TRUE)
         |ORDER BY t.doc_id""".stripMargin
    },

    "t_novelty" ->
      (s"SELECT * FROM (${Dedup.noveltyScoresSql("documents", "doc_id", "text", 3)}) " +
        "ORDER BY doc_id"),

    "t_drift" ->
      (s"SELECT * FROM (${TextOps.vocabDriftSql("documents", "source", "text",
        "doc_id % 2 = 0")}) ORDER BY source"),

    "t_fertility" ->
      (s"SELECT lang, count(*) AS n_docs, " +
        s"CAST(sum(len(${TextOps.tokensSql("text")})) AS BIGINT) AS ws_tokens, " +
        s"CAST(sum(len(regexp_extract_all(text, '${TextOps.BpeRe}'))) AS BIGINT) AS bpe_tokens, " +
        s"CAST(sum(len(regexp_extract_all(text, '${TextOps.BpeRe}'))) AS DOUBLE) / " +
        s"CAST(sum(len(${TextOps.tokensSql("text")})) AS DOUBLE) AS fertility " +
        "FROM documents GROUP BY lang ORDER BY lang"),

    "t_readability" ->
      (s"SELECT * FROM (${TextOps.readabilitySql("documents", "doc_id", "text")}) " +
        "ORDER BY doc_id"),

    "t_phrase_search" ->
      (TextOps.phraseSearchSql("documents", "doc_id", "text",
        Seq("scan slow", "query value", "value table part")) +
        " ORDER BY phrase, doc_id"),

    "t_collocations" ->
      (s"WITH __t AS (SELECT ${TextOps.tokensSql("text")} AS toks FROM documents), " +
        "__uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(toks) AS tok FROM __t) GROUP BY tok), " +
        "__tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM __uni), " +
        s"__bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_ab FROM " +
        s"(SELECT unnest(${TextOps.shinglesSql("text", 2)}) AS bg FROM documents) " +
        "GROUP BY bg HAVING count(*) >= 5) " +
        "SELECT bg AS bigram, n_ab, a.n AS n_a, b.n AS n_b, " +
        "CAST(n_ab * total AS DOUBLE) / CAST(a.n * b.n AS DOUBLE) AS lift " +
        "FROM __bi JOIN __uni a ON a.tok = string_split(bg, ' ')[1] " +
        "JOIN __uni b ON b.tok = string_split(bg, ' ')[2] CROSS JOIN __tot " +
        "ORDER BY lift DESC, bigram LIMIT 50"),

    "o_asof" ->
      ("WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') " +
        "SELECT p.user_id, p.ts, p.event_id, p.value, cc.click_ts, cc.click_id, cc.click_value " +
        "FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS click_ts, c.event_id AS click_id, c.value AS click_value " +
        "FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS cc ON true " +
        "ORDER BY p.event_id"),

    "o_asof_fwd" ->
      ("WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') " +
        "SELECT p.user_id, p.ts, p.event_id, p.value, cc.click_ts, cc.click_id, cc.click_value " +
        "FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS click_ts, c.event_id AS click_id, c.value AS click_value " +
        "FROM c WHERE c.user_id = p.user_id AND c.ts >= p.ts " +
        "ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS cc ON true " +
        "ORDER BY p.event_id"),

    "o_asof_near" ->
      ("WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') " +
        "SELECT p.user_id, p.ts, p.event_id, p.value, cc.click_ts, cc.click_id, " +
        "cc.click_value, cc.matched_ts, cc.dir " +
        "FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS click_ts, c.event_id AS click_id, c.value AS click_value, " +
        "c.ts AS matched_ts, CASE WHEN c.ts <= p.ts THEN 'before' ELSE 'after' END AS dir " +
        "FROM c WHERE c.user_id = p.user_id " +
        "ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC, c.ts ASC, " +
        "CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END ASC " +
        "LIMIT 1) AS cc ON true " +
        "ORDER BY p.event_id"),

    "o_range_join" ->
      ("WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "i AS (SELECT user_id, ts AS win_start, ts + INTERVAL 6 HOUR AS win_end, " +
        "event_id AS incident_id FROM events WHERE event_type = 'error') " +
        "SELECT c.user_id, c.event_id, i.incident_id, c.ts, i.win_start " +
        "FROM c JOIN i ON c.user_id = i.user_id " +
        "AND c.ts >= i.win_start AND c.ts <= i.win_end " +
        "ORDER BY c.user_id, c.event_id, i.incident_id"),

    "o_band_join" ->
      ("SELECT s.s_nationkey AS nkey, s.s_suppkey, c.c_custkey, " +
        "CAST(floor(s.s_acctbal * 100) AS BIGINT) AS s_cents, " +
        "CAST(floor(c.c_acctbal * 100) AS BIGINT) AS c_cents, " +
        "abs(CAST(floor(s.s_acctbal * 100) AS BIGINT) - CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS diff_cents " +
        "FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey " +
        "AND abs(CAST(floor(s.s_acctbal * 100) AS BIGINT) - CAST(floor(c.c_acctbal * 100) AS BIGINT)) <= 1000 " +
        "ORDER BY nkey, s.s_suppkey, c.c_custkey"),

    "j_cdc" ->
      ("WITH v1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer), " +
        "v2 AS (SELECT c_custkey, CASE WHEN c_custkey % 13 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment, c_acctbal " +
        "FROM customer WHERE c_custkey % 97 <> 0 " +
        "UNION ALL SELECT c_custkey + 100000, 'NEWSEG', c_acctbal FROM customer WHERE c_custkey % 211 = 0), " +
        "j AS (SELECT coalesce(v1.c_custkey, v2.c_custkey) AS c_custkey, " +
        "v1.c_mktsegment AS bseg, v1.c_acctbal AS bbal, " +
        "v2.c_mktsegment AS aseg, v2.c_acctbal AS abal, " +
        "v1.c_custkey IS NULL AS ins, v2.c_custkey IS NULL AS del " +
        "FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey) " +
        "SELECT * FROM (SELECT c_custkey, " +
        "CASE WHEN ins THEN 'insert' WHEN del THEN 'delete' " +
        "WHEN bseg IS DISTINCT FROM aseg OR bbal IS DISTINCT FROM abal THEN 'update' " +
        "ELSE 'unchanged' END AS op, " +
        "bseg AS before_c_mktsegment, aseg AS after_c_mktsegment, " +
        "bbal AS before_c_acctbal, abal AS after_c_acctbal FROM j) " +
        "WHERE op <> 'unchanged' ORDER BY c_custkey"),

    "o_interval_overlap" ->
      ("WITH co AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts " +
        "FROM events WHERE event_type = 'click'), " +
        "cs AS (SELECT user_id, ts, sum(CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 2 HOUR THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM co), " +
        "c AS (SELECT user_id, min(ts) AS click_start, max(ts) + INTERVAL 2 HOUR AS click_end " +
        "FROM cs GROUP BY user_id, sid), " +
        "eo AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts " +
        "FROM events WHERE event_type = 'error'), " +
        "es AS (SELECT user_id, ts, sum(CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 1 HOUR THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM eo), " +
        "e AS (SELECT user_id, min(ts) AS err_start, max(ts) + INTERVAL 1 HOUR AS err_end " +
        "FROM es GROUP BY user_id, sid) " +
        "SELECT c.user_id, click_start, click_end, err_start, err_end, " +
        "epoch_us(least(click_end, err_end)) - epoch_us(greatest(click_start, err_start)) AS overlap_us " +
        "FROM c JOIN e ON c.user_id = e.user_id " +
        "AND click_start <= err_end AND err_start <= click_end " +
        "ORDER BY c.user_id, click_start, err_start"),

    "pipe_pps_sample" ->
      (TextOps.ppsSampleSql("documents", "doc_id", "text", 150) +
        " ORDER BY doc_id"),

    "pipe_priority_sample" ->
      (TextOps.prioritySampleSql("documents", "doc_id", "text", 60) +
        " ORDER BY doc_id"),

    "pipe_bpe_train" ->
      TextOps.bpeTrainSql("documents", "text", 6),

    "pipe_bpe_vocab" ->
      TextOps.bpeSegmentStatsSql("documents", "text", 6),

    "pipe_dataset_card" ->
      (s"WITH __f AS (SELECT source, doc_id, CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tok, " +
        s"CAST(floor((${TextOps.qualityScoreSql("text")}) * 1000) AS BIGINT) AS q_milli, " +
        s"${TextOps.fingerprintSql("text")} AS fp, ${TextOps.langIdSql("text")} AS lang FROM documents), " +
        "__r AS (SELECT source, doc_id, n_tok, " +
        "row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rnk, " +
        "count(*) OVER (PARTITION BY source) AS cnt FROM __f), " +
        "__p AS (SELECT source, n_tok AS p50_tokens FROM __r WHERE rnk = (50 * cnt) // 100 + 1), " +
        "__lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS __ln FROM __f GROUP BY 1, 2), " +
        "__lt AS (SELECT source, n_langs, lang AS top_lang FROM (" +
        "SELECT source, lang, count(*) OVER (PARTITION BY source) AS n_langs, " +
        "row_number() OVER (PARTITION BY source ORDER BY __ln DESC, lang) AS __rk FROM __lc) WHERE __rk = 1), " +
        "__m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "CAST(sum(q_milli) // count(*) AS BIGINT) AS mean_quality_milli, " +
        "CAST(count(DISTINCT fp) AS BIGINT) AS __ufp FROM __f GROUP BY source) " +
        "SELECT __m.source, n_docs, n_tokens, p50_tokens, mean_quality_milli, n_langs, top_lang, " +
        "CAST((1000 * (n_docs - __ufp)) // n_docs AS BIGINT) AS dup_rate_milli " +
        "FROM __m JOIN __p ON __m.source = __p.source JOIN __lt ON __m.source = __lt.source " +
        "ORDER BY __m.source"),

    "pipe_mixture_sample" ->
      (s"SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        s"FROM documents WHERE ${TextOps.mixtureKeepSql("doc_id", "source", MixtureRates)} " +
        "GROUP BY source ORDER BY source"),

    "pipe_temperature" ->
      (s"SELECT * FROM (${TextOps.temperatureSampleSql("documents", "doc_id", "lang",
        budget = 500L, alpha = 0.5)}) ORDER BY doc_id"),

    "pipe_token_budget" ->
      (s"SELECT * FROM (${TextOps.tokenBudgetSelectSql("documents", "doc_id",
        "source", "text", 600L)}) ORDER BY source, doc_id"),

    "pipe_contrastive" ->
      (s"SELECT * FROM (${Dedup.contrastivePairsSql("documents", "doc_id", "text", 3)}) " +
        "ORDER BY anchor_id, positive_id"),

    "pipe_corpus_card" ->
      (s"SELECT count(*) AS n_docs, " +
        s"CAST(sum(len(${TextOps.tokensSql("text")})) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        s"CAST(count(DISTINCT ${TextOps.fingerprintSql("text")}) AS BIGINT) AS n_unique, " +
        s"1.0 - CAST(count(DISTINCT ${TextOps.fingerprintSql("text")}) AS DOUBLE) " +
        "/ CAST(count(*) AS DOUBLE) AS dup_rate, " +
        s"CAST(sum(CAST(round((${TextOps.qualityScoreSql("text")}) * 1048576.0) AS BIGINT)) AS DOUBLE) " +
        "/ (CAST(count(*) AS DOUBLE) * 1048576.0) AS mean_quality " +
        "FROM documents"),

    "d_embed_near" ->
      (s"SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${Similarity.cosineSql("a.embedding", "b.embedding", 64)} AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
        s"WHERE ${Similarity.cosineSql("a.embedding", "b.embedding", 64)} >= 0.4 " +
        "ORDER BY id_a, id_b"),

    "s_contam_embed" ->
      (s"SELECT * FROM (${Similarity.embedContaminationSql("embeddings",
        "label = 0", "label <> 0", threshold = 0.38, dim = 64)}) ORDER BY vec_id"),

    "pipe_semdedup" ->
      Similarity.semDedupSql("embeddings", 64),

    "pipe_semdedup_k32" ->
      Similarity.semDedupSql("embeddings", 64, nCentroids = 32),

    "pipe_semdedup_auto" ->
      Similarity.semDedupAutoSql("embeddings", 64, targetBucket = 40),

    "s_knn_brute" -> BruteKnnSql,

    "s_pca_power" ->
      (graft.sim.Similarity.pcaTopComponentSql("embeddings", dim = 64, iters = 3) +
        " ORDER BY dim_idx"),

    "s_mmr" ->
      (s"SELECT * FROM (${Similarity.mmrSelectSql(
        "SELECT e.vec_id AS id, " +
          s"${Similarity.cosineSql("q.q_vec", "e.embedding", 64)} AS rel, " +
          "e.embedding AS vec FROM embeddings e, " +
          "(SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0) q " +
          "WHERE e.vec_id <> 0 ORDER BY rel DESC, id LIMIT 20",
        k = 5, dim = 64)}) ORDER BY rank"),

    "s_rrf_fusion" ->
      (s"WITH __b AS ($BruteKnnSql), " +
        s"__l AS (${Similarity.lshTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64)}), " +
        "__u AS (SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS s FROM __b " +
        "UNION ALL SELECT query_id, neighbor_id, 1000000 // (60 + rank) FROM __l), " +
        "__f AS (SELECT query_id, neighbor_id, CAST(sum(s) AS BIGINT) AS rrf_micro, " +
        "CAST(count(*) AS BIGINT) AS n_lists FROM __u GROUP BY query_id, neighbor_id) " +
        "SELECT * FROM (SELECT query_id, neighbor_id, rrf_micro, n_lists, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id) AS INTEGER) AS fused_rank " +
        "FROM __f) WHERE fused_rank <= 5 ORDER BY query_id, fused_rank"),

    "s_knn_filtered" ->
      Similarity.filteredTopKSql("embeddings", "vec_id < 5", k = 10, dim = 64,
        filterCol = "label"),

    "s_cluster_eval" ->
      Similarity.clusterEvalSql("embeddings", dim = 64, nCentroids = 8),

    "s_hybrid_rrf" ->
      (s"WITH __lex AS (${TextOps.bm25TopKSql("documents", "doc_id", "text",
        Seq("dup", "spark", "query"), k = 20)}), " +
        "__lr AS (SELECT doc_id AS id, CAST(row_number() OVER " +
        "(ORDER BY score_q DESC, doc_id) AS INTEGER) AS lrank FROM __lex), " +
        "__q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 7), " +
        "__s AS (SELECT e.vec_id AS id, " +
        s"${graft.sim.Similarity.cosineSql("q_vec", "e.embedding", 64)} AS cos " +
        "FROM embeddings e CROSS JOIN __q WHERE e.vec_id <> 7), " +
        "__sr AS (SELECT id, srank FROM (SELECT id, CAST(row_number() OVER " +
        "(ORDER BY cos DESC, id) AS INTEGER) AS srank FROM __s) WHERE srank <= 20), " +
        "__f AS (SELECT coalesce(l.id, s.id) AS id, l.lrank, s.srank " +
        "FROM __lr l FULL JOIN __sr s ON l.id = s.id) " +
        "SELECT id, lrank, srank, " +
        "CAST(coalesce(1000000 // (60 + lrank), 0) + coalesce(1000000 // (60 + srank), 0) AS BIGINT) AS rrf_q " +
        "FROM __f ORDER BY rrf_q DESC, id LIMIT 10"),

    // recall@10 of the LSH ANN path against the brute-force exact scan —
    // both sides are themselves oracle-exact statements, so the recall
    // numbers are cell-exact too (the ANN evaluation loop, closed)
    "s_recall_lsh" ->
      (s"SELECT * FROM (${Similarity.annRecallSql(
        Similarity.lshTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),
        BruteKnnSql)}) ORDER BY query_id"),

    "s_mrr_lsh" ->
      (s"SELECT * FROM (${Similarity.annRankEvalSql(
        Similarity.lshTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),
        BruteKnnSql)}) ORDER BY query_id"),

    "s_diversity" ->
      (s"WITH __t AS (${Similarity.lshTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64)}), " +
        "__v AS (SELECT t.query_id, t.neighbor_id, e.embedding FROM __t t " +
        "JOIN embeddings e ON e.vec_id = t.neighbor_id), " +
        "__p AS (SELECT a.query_id, " +
        s"${Similarity.cosineSql("a.embedding", "b.embedding", 64)} AS cos " +
        "FROM __v a JOIN __v b ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id), " +
        "__g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "min(cos) AS min_cos, max(cos) AS max_cos, " +
        "CAST(sum(CAST(floor(cos * 1000000) AS BIGINT)) AS BIGINT) AS sumq FROM __p GROUP BY query_id) " +
        "SELECT query_id, n_pairs, min_cos, max_cos, " +
        "((sumq + n_pairs * 1000000) // n_pairs) - 1000000 AS mean_cos_micro " +
        "FROM __g ORDER BY query_id"),

    "s_knn_sq8" ->
      (s"SELECT * FROM (${Similarity.sq8TopKSql("embeddings", "vec_id < 5",
        k = 10, dim = 64)}) ORDER BY query_id, rank"),

    "s_knn_bin" ->
      (s"SELECT * FROM (${Similarity.binaryTopKSql("embeddings", "vec_id < 5",
        k = 10, dim = 64)}) ORDER BY query_id, rank"),

    "s_recall_bin" ->
      (s"SELECT * FROM (${Similarity.annRecallSql(
        Similarity.binaryTopKSql("embeddings", "vec_id < 5", k = 10, dim = 64),
        BruteKnnSql)}) ORDER BY query_id"),

    "s_knn_bin_rerank" ->
      (s"SELECT * FROM (${Similarity.binaryRerankTopKSql("embeddings",
        "vec_id < 5", k = 10, dim = 64)}) ORDER BY query_id, rank"),

    "s_recall_ivfpq" ->
      (s"SELECT * FROM (${Similarity.annRecallSql(
        Similarity.ivfPqTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),
        BruteKnnSql)}) ORDER BY query_id"),

    "s_recall_sq8" ->
      (s"SELECT * FROM (${Similarity.annRecallSql(
        Similarity.sq8TopKSql("embeddings", "vec_id < 5", k = 10, dim = 64),
        BruteKnnSql)}) ORDER BY query_id"),

    "s_knn_ivfsq8" ->
      (s"SELECT * FROM (${Similarity.ivfSq8TopKSql("embeddings", "q.vec_id < 5",
        k = 10, dim = 64)}) ORDER BY query_id, rank"),

    "s_knn_lsh" ->
      Similarity.lshTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),

    "s_knn_ivf" ->
      Similarity.ivfTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),

    "s_knn_pq" ->
      Similarity.pqTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),

    "s_knn_pq_sampled" ->
      Similarity.pqTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64,
        trainMod = 3L),

    "s_knn_ivfpq" ->
      Similarity.ivfPqTopKSql("embeddings", "q.vec_id < 5", k = 10, dim = 64),

    "s_label_centroids" ->
      (s"SELECT * FROM (${Similarity.labelCentroidCosinesSql("embeddings", 64)}) " +
        "ORDER BY label_a, label_b"),

    "m_media_meta" ->
      ("SELECT doc_id AS media_id, 'text' AS kind, " +
        "CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, source AS tag, " +
        "CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte " +
        "FROM documents ORDER BY media_id"),

    "m_frame_sample" ->
      ("SELECT doc_id AS media_id, CAST(unnest(range(0, CAST(octet_length(encode(text)) AS BIGINT), 64)) AS INTEGER) AS frame_offset " +
        "FROM documents ORDER BY media_id, frame_offset"),

    "m_scene_detect" ->
      (s"SELECT * FROM (${Multimodal.sceneBoundariesSql(stride = 48, maxHamming = 32)}) " +
        "ORDER BY media_id, frame_offset"),

    // oracle verifies brute-force (banding is Spark's candidate
    // strategy, not a semantics change — same contract as d_simhash_pairs)
    "m_phash_pairs" ->
      (s"WITH __ah AS (${Multimodal.aHashSql()}) " +
        "SELECT a.media_id AS id_a, b.media_id AS id_b, " +
        "CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming " +
        "FROM __ah a JOIN __ah b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.ahash, b.ahash)) <= 10 ORDER BY id_a, id_b"),

    "m_phash_cluster" ->
      (s"WITH RECURSIVE __ah AS (${Multimodal.aHashSql()}), " +
        "__pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b " +
        "FROM __ah a JOIN __ah b ON a.media_id < b.media_id " +
        "WHERE bit_count(xor(a.ahash, b.ahash)) <= 4), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs " +
        "UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT media_id, media_id FROM __ah " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "m_decode_features" ->
      ("SELECT doc_id AS media_id, 'text' AS kind, " +
        "CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        "(a, b) -> a + b) AS checksum, " +
        "CAST(CASE WHEN length(text) >= 1 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS INTEGER) AS width, " +
        "CAST(CASE WHEN length(text) >= 2 THEN ascii(substr(text, 2, 1)) ELSE 0 END AS INTEGER) AS height " +
        "FROM documents ORDER BY media_id"),

    "d_cluster" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "d_cluster_stats" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src), " +
        "__lab AS (SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src), " +
        "__cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize FROM __lab GROUP BY cluster) " +
        "SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters, " +
        "CAST(csize * count(*) AS BIGINT) AS n_docs " +
        "FROM __cs GROUP BY csize ORDER BY csize"),

    // identical statement: star contraction computes the same components
    "d_cluster_star" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "er_match" ->
      (s"SELECT * FROM (${graft.er.EntityResolution.matchPairsSql(
        "part", "p_partkey", "p_name", Seq("p_brand", "p_type"), 3)}) " +
        "ORDER BY id_a, id_b"),

    "er_score" ->
      (s"SELECT * FROM (${graft.er.EntityResolution.fsScoreSql(
        "part", "p_partkey", SparkEntry.ErScoreFields,
        Seq("p_brand", "p_type"), minScore = 0L, matchScore = 5000L)}) " +
        "ORDER BY id_a, id_b"),

    "er_entities" ->
      (graft.er.EntityResolution.entitiesSql("part", "p_partkey",
        graft.er.EntityResolution.matchPairsSql(
          "part", "p_partkey", "p_name", Seq("p_brand", "p_type"), 3)) +
        " ORDER BY id"),

    "er_golden" ->
      (graft.er.EntityResolution.goldenRecordsSql(
        "SELECT p_partkey, p_name, p_size, " +
          "CAST(floor(p_retailprice * 100) AS BIGINT) AS retail_cents FROM part",
        "p_partkey",
        graft.er.EntityResolution.entitiesSql("part", "p_partkey",
          graft.er.EntityResolution.matchPairsSql(
            "part", "p_partkey", "p_name", Seq("p_brand", "p_type"), 3)),
        "p_name", Seq("p_size", "retail_cents")) + " ORDER BY entity"),

    "er_inc" ->
      (graft.er.EntityResolution.entitiesSql("part", "p_partkey",
        graft.er.EntityResolution.matchPairsSql(
          "part", "p_partkey", "p_name", Seq("p_brand", "p_type"), 3)) +
        " ORDER BY id"),

    "a_rollup" ->
      ("SELECT source, lang, count(*) AS n_docs, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY ROLLUP(source, lang) " +
        "ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST"),

    "pipe_train_split" ->
      (s"SELECT source, ${TextOps.hashSplitSql("doc_id")} AS split, " +
        "count(*) AS n_docs, min(doc_id) AS first_doc " +
        "FROM documents GROUP BY source, split ORDER BY source, split"),

    "pipe_binning" ->
      ("SELECT source, decile, count(*) AS n_docs, min(score) AS min_score, " +
        "max(score) AS max_score, min(doc_id) AS first_doc FROM (" +
        "SELECT doc_id, source, score, CAST(ntile(10) OVER (PARTITION BY source " +
        "ORDER BY score ASC NULLS FIRST, doc_id) AS INTEGER) AS decile FROM (" +
        s"SELECT doc_id, source, ${TextOps.qualityScoreSql("text")} AS score " +
        "FROM documents)) GROUP BY source, decile ORDER BY source, decile"),

    "pipe_negatives" ->
      (s"SELECT * FROM (${TextOps.negativeSampleSql(
        "SELECT o.o_custkey AS user_id, l.l_partkey AS pos_item " +
          "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
        "part", "p_partkey", m = 2)}) ORDER BY user_id, pos_item, j"),

    "pipe_kfold" ->
      (s"SELECT ${TextOps.groupKFoldSql("user_id", 5)} AS fold, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "count(*) AS n_events, min(user_id) AS first_user " +
        "FROM events GROUP BY fold ORDER BY fold"),

    "pipe_span_corrupt" ->
      (s"SELECT * FROM (${TextOps.spanCorruptSql("documents", "doc_id", "text")}) " +
        "ORDER BY doc_id"),

    "pipe_fim" ->
      (s"SELECT * FROM (${TextOps.fimTransformSql("documents", "doc_id", "text")}) " +
        "ORDER BY doc_id"),

    "pipe_shard" ->
      (s"SELECT * FROM (${TextOps.shardAssignmentSql("documents", "doc_id", 16)}) " +
        "ORDER BY doc_id"),

    "pipe_manifest" ->
      (s"WITH __sh AS (${TextOps.shardAssignmentSql("documents", "doc_id", 8)}), " +
        s"__d AS (SELECT doc_id, CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS tok, " +
        s"${TextOps.fingerprintSql("text")} AS fp FROM documents) " +
        "SELECT s.shard, count(*) AS n_docs, CAST(sum(d.tok) AS BIGINT) AS n_tokens, " +
        "min(d.doc_id) AS min_doc_id, max(d.doc_id) AS max_doc_id, " +
        s"CAST(sum(d.fp) % ${TextOps.P} AS BIGINT) AS checksum " +
        "FROM __d d JOIN __sh s USING (doc_id) GROUP BY s.shard ORDER BY shard"),

    "pipe_shard_epoch" ->
      (s"SELECT * FROM (${TextOps.shardAssignmentSql("documents", "doc_id", 16, epoch = 2)}) " +
        "ORDER BY doc_id"),

    "pipe_schedule" ->
      (s"SELECT * FROM (${TextOps.interleaveScheduleSql("documents", "doc_id",
        "source", Seq("src0" -> 4, "src1" -> 2))}) " +
        "ORDER BY vtime, source, doc_id"),

    "pipe_stratified" ->
      (s"SELECT doc_id, source, rk FROM (" +
        s"SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
        s"ORDER BY ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS INTEGER) AS rk " +
        "FROM documents) WHERE rk <= 50 ORDER BY source, rk"),

    "pipe_importance" ->
      (s"SELECT * FROM (${TextOps.importanceScoresSql("documents",
        "source = 'src0'", "doc_id", "text")}) ORDER BY doc_id"),

    "pipe_importance_ngram" ->
      (s"SELECT * FROM (${TextOps.importanceScoresSql("documents",
        "source = 'src0'", "doc_id", "text", n = 2)}) ORDER BY doc_id"),

    "pipe_importance_select" ->
      (s"WITH __sc AS (SELECT * FROM (${TextOps.importanceScoresSql("documents",
        "source = 'src0'", "doc_id", "text")})), " +
        "__kept AS (SELECT doc_id, score FROM __sc ORDER BY score DESC, doc_id LIMIT 50) " +
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept, " +
        "min(d.doc_id) AS first_doc, max(k.score) AS best_score " +
        "FROM __kept k JOIN documents d ON d.doc_id = k.doc_id " +
        "GROUP BY d.source ORDER BY source"),

    "v3_unpivot" -> {
      val wideCte =
        "SELECT CAST(ts AS DATE) AS day, " +
          "CAST(sum(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS click, " +
          "CAST(sum(CASE WHEN event_type='error' THEN 1 END) AS BIGINT) AS error, " +
          "CAST(sum(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS purchase, " +
          "CAST(sum(CASE WHEN event_type='signup' THEN 1 END) AS BIGINT) AS signup, " +
          "CAST(sum(CASE WHEN event_type='view' THEN 1 END) AS BIGINT) AS view " +
          "FROM events GROUP BY 1"
      val stack = eventTypes.map(t =>
        s"SELECT day, '$t' AS event_type, $t AS n FROM wide").mkString(" UNION ALL ")
      s"WITH wide AS ($wideCte) SELECT day, event_type, n FROM ($stack) " +
        "WHERE n IS NOT NULL ORDER BY day, event_type"
    },

    "a_cube" ->
      ("SELECT source, lang, count(*) AS n_docs, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY CUBE(source, lang) " +
        "ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST"),

    "a_percentile" ->
      ("SELECT event_type, quantile_cont(value, 0.25) AS p25, " +
        "quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.75) AS p75 " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // resized payload = every 4th byte: out[i] = orig[4i]; n_bytes =
    // ceil(len/4); checksum/width/height over the SAMPLED bytes
    "m_resize" ->
      ("SELECT doc_id AS media_id, 'text' AS kind, " +
        "CAST((octet_length(encode(text)) + 3) // 4 AS INTEGER) AS n_bytes, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(text) + 1, 4), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), " +
        "(a, b) -> a + b) AS checksum, " +
        "CAST(CASE WHEN length(text) >= 1 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS INTEGER) AS width, " +
        "CAST(CASE WHEN length(text) >= 5 THEN ascii(substr(text, 5, 1)) ELSE 0 END AS INTEGER) AS height " +
        "FROM documents ORDER BY media_id"),

    "ts_interp" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        graft.ops.TimeSeries.interpolateSql(
          "SELECT attribute_id, timestamp, value FROM archive", 900L) +
        ") ORDER BY attribute_id, timestamp"),

    "ts_step" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        graft.ops.TimeSeries.stepSql(
          "SELECT attribute_id, timestamp, value FROM archive", 900L) +
        ") ORDER BY attribute_id, timestamp"),

    "ts_twa" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        graft.ops.TimeSeries.timeWeightedAvgSql(
          "SELECT attribute_id, timestamp, value FROM archive") +
        ") ORDER BY attribute_id"),

    "ts_gaps" ->
      (s"WITH $archiveSqlCte, __pts AS (SELECT DISTINCT attribute_id, timestamp FROM archive), " +
        "__l AS (SELECT attribute_id, timestamp, " +
        "lag(timestamp) OVER (PARTITION BY attribute_id ORDER BY timestamp) AS prev_ts FROM __pts) " +
        "SELECT attribute_id, prev_ts AS gap_start, timestamp AS gap_end, " +
        "CAST(floor((epoch_us(timestamp) - epoch_us(prev_ts)) / 60000000) AS BIGINT) AS gap_minutes " +
        "FROM __l WHERE prev_ts IS NOT NULL " +
        "AND floor((epoch_us(timestamp) - epoch_us(prev_ts)) / 60000000) > 60 " +
        "ORDER BY attribute_id, gap_start"),

    "ts_moving" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp) " +
        "SELECT attribute_id, timestamp, value, " +
        "min(value) OVER w AS mov_min, max(value) OVER w AS mov_max, " +
        "count(*) OVER w AS mov_n " +
        "FROM __pts " +
        "WINDOW w AS (PARTITION BY attribute_id ORDER BY timestamp ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_backtest" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp), " +
        "__prev AS (SELECT attribute_id, timestamp + INTERVAL 24 HOUR AS timestamp, " +
        "value AS forecast FROM __pts) " +
        "SELECT p.attribute_id, CAST(count(*) AS BIGINT) AS n_scored, " +
        "CAST(sum(abs(CAST(floor(p.value * 1000000) AS BIGINT) - " +
        "CAST(floor(f.forecast * 1000000) AS BIGINT))) AS BIGINT) // CAST(count(*) AS BIGINT) AS mae_micro " +
        "FROM __pts p JOIN __prev f ON p.attribute_id = f.attribute_id AND p.timestamp = f.timestamp " +
        "GROUP BY p.attribute_id ORDER BY p.attribute_id"),

    "a_abtest" -> {
      val h = TextOps.tokenHashSql("'ab:' || CAST(user_id AS VARCHAR)")
      s"SELECT event_type, CASE WHEN $h % 2 = 0 THEN 'A' ELSE 'B' END AS arm, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_value_micro " +
        "FROM events GROUP BY 1, 2 ORDER BY event_type, arm"
    },

    "ts_rate" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp), " +
        "__l AS (SELECT attribute_id, timestamp, value, " +
        "lag(value) OVER w AS pv, lag(timestamp) OVER w AS pt " +
        "FROM __pts WINDOW w AS (PARTITION BY attribute_id ORDER BY timestamp)) " +
        "SELECT attribute_id, timestamp, value, " +
        "(value - pv) * 1000000.0 / CAST(epoch_us(timestamp) - epoch_us(pt) AS DOUBLE) AS rate_per_sec " +
        "FROM __l WHERE pv IS NOT NULL ORDER BY attribute_id, timestamp"),

    "ts_mad_anomaly" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, CAST(floor(min(value) * 1000000) AS BIGINT) AS vq " +
        "FROM archive WHERE value IS NOT NULL GROUP BY attribute_id, timestamp), " +
        "__rk AS (SELECT attribute_id, timestamp, vq, " +
        "row_number() OVER (PARTITION BY attribute_id ORDER BY vq, timestamp) AS r, " +
        "CAST(count(*) OVER (PARTITION BY attribute_id) AS BIGINT) AS n FROM __pts), " +
        "__med AS (SELECT attribute_id, min(CASE WHEN r = (50 * n) // 100 + 1 THEN vq END) AS med " +
        "FROM __rk GROUP BY attribute_id), " +
        "__dev AS (SELECT p.attribute_id, p.timestamp, m.med, abs(p.vq - m.med) AS dev " +
        "FROM __pts p JOIN __med m ON p.attribute_id = m.attribute_id), " +
        "__dr AS (SELECT attribute_id, med, dev, " +
        "row_number() OVER (PARTITION BY attribute_id ORDER BY dev, timestamp) AS r, " +
        "CAST(count(*) OVER (PARTITION BY attribute_id) AS BIGINT) AS n FROM __dev), " +
        "__mad AS (SELECT attribute_id, min(CASE WHEN r = (50 * n) // 100 + 1 THEN dev END) AS mad " +
        "FROM __dr GROUP BY attribute_id) " +
        "SELECT d.attribute_id, CAST(count(*) AS BIGINT) AS n_points, " +
        "min(d.med) AS median_micro, min(a.mad) AS mad_micro, " +
        "CAST(sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies " +
        "FROM __dev d JOIN __mad a ON d.attribute_id = a.attribute_id " +
        "GROUP BY d.attribute_id ORDER BY d.attribute_id"),

    "ts_winsorize" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp), " +
        "__rk AS (SELECT attribute_id, timestamp, value, " +
        "row_number() OVER (PARTITION BY attribute_id ORDER BY value, timestamp) AS r, " +
        "CAST(count(*) OVER (PARTITION BY attribute_id) AS BIGINT) AS n FROM __pts), " +
        "__b AS (SELECT attribute_id, " +
        "min(CASE WHEN r = (5 * n) // 100 + 1 THEN value END) AS lo_bound, " +
        "min(CASE WHEN r = n - (5 * n) // 100 THEN value END) AS hi_bound " +
        "FROM __rk GROUP BY attribute_id) " +
        "SELECT p.attribute_id, p.timestamp, p.value, b.lo_bound, b.hi_bound, " +
        "least(greatest(p.value, b.lo_bound), b.hi_bound) AS winsorized " +
        "FROM __pts p JOIN __b b ON p.attribute_id = b.attribute_id " +
        "ORDER BY p.attribute_id, p.timestamp"),

    "ts_peaks" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp), " +
        "__w AS (SELECT attribute_id, timestamp, value, " +
        "lag(value) OVER w AS prev_value, lead(value) OVER w AS next_value " +
        "FROM __pts WINDOW w AS (PARTITION BY attribute_id ORDER BY timestamp)) " +
        "SELECT attribute_id, timestamp, value, prev_value, next_value, " +
        "least(value - prev_value, value - next_value) AS prominence " +
        "FROM __w WHERE prev_value IS NOT NULL AND next_value IS NOT NULL " +
        "AND value > prev_value AND value > next_value " +
        "AND least(value - prev_value, value - next_value) > 5.0 " +
        "ORDER BY attribute_id, timestamp"),

    "ts_zscore" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.zscoreAnomaliesSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_ewma" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.ewmaSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_holt" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.doubleEwmaSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_decompose" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.decomposeSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_seasonal" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.seasonalResidualsSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_changepoint" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.meanShiftSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, timestamp"),

    "ts_acf" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.acfSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, lag"),

    "ts_xcorr" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.crossCorrelationSql("SELECT * FROM archive")}) " +
        "ORDER BY attr_a, attr_b"),

    // day time_buckets align with Spark's window origin (both midnight)
    "ts_m4" ->
      (s"WITH $archiveSqlCte SELECT * FROM (" +
        s"${graft.ops.TimeSeries.m4DownsampleSql("SELECT * FROM archive")}) " +
        "ORDER BY attribute_id, bucket_start"),

    "ts_staleness" ->
      (s"WITH $archiveSqlCte, __pts AS (" +
        "SELECT attribute_id, timestamp, min(value) AS value FROM archive " +
        "WHERE value IS NOT NULL GROUP BY attribute_id, timestamp) " +
        "SELECT attribute_id, max(timestamp) AS last_ts, " +
        "arg_max(value, timestamp) AS last_value, count(*) AS n_points, " +
        "CAST(floor((epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(max(timestamp))) / 60000000) AS BIGINT) AS age_minutes " +
        "FROM __pts GROUP BY attribute_id ORDER BY attribute_id"),

    // time_bucket's epoch-derived origin (2000-01-03) is 6h/3h-aligned
    // with Spark's 1970-01-01 window origin, so the buckets coincide.
    "w1_tumbling" ->
      ("SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type, " +
        "count(*) AS n, min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),

    "w2_sliding" ->
      ("SELECT time_bucket(INTERVAL 3 HOUR, ts) - o AS window_start, event_type, " +
        "count(*) AS n, min(value) AS min_value, max(value) AS max_value " +
        "FROM events CROSS JOIN (VALUES (INTERVAL 0 HOUR), (INTERVAL 3 HOUR)) t(o) " +
        "GROUP BY 1, 2 ORDER BY window_start, event_type"),

    // islands formulation: a row starts a new session when it is AT LEAST the
    // gap after its predecessor (>=, not >): session_window assigns [ts,
    // ts+gap) and merges only on strict overlap, so an exact-gap event opens
    // a new session; session end = last event + gap (Spark's session_window
    // end semantics)
    "w3_session" ->
      ("WITH o AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM events), " +
        "f AS (SELECT user_id, ts, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk FROM o), " +
        "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
        "SELECT min(ts) AS session_start, max(ts) + INTERVAL 2 HOUR AS session_end, user_id, count(*) AS n " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),

    "w3_session_inc" ->
      ("WITH o AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM events), " +
        "f AS (SELECT user_id, ts, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk FROM o), " +
        "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
        "SELECT min(ts) AS session_start, max(ts) + INTERVAL 2 HOUR AS session_end, user_id, count(*) AS n " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),

    "w6_funnel3" ->
      ("WITH s AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'), " +
        "c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "j1 AS (SELECT s.user_id, s.event_id, s.ts, cc.c_ts FROM s LEFT JOIN LATERAL (" +
        "SELECT c.ts AS c_ts, c.event_id AS c_id FROM c " +
        "WHERE c.user_id = s.user_id AND c.ts >= s.ts " +
        "ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS cc ON true), " +
        "j2 AS (SELECT j1.user_id, j1.event_id, j1.c_ts, pp.p_ts FROM j1 LEFT JOIN LATERAL (" +
        "SELECT p.ts AS p_ts FROM p " +
        "WHERE j1.c_ts IS NOT NULL AND p.user_id = j1.user_id AND p.ts >= j1.c_ts " +
        "ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS pp ON true) " +
        "SELECT user_id, count(*) AS n_signups, " +
        "CAST(sum(CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked, " +
        "CAST(sum(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased, " +
        "CAST(sum(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS full_rate " +
        "FROM j2 GROUP BY user_id ORDER BY user_id"),

    "w5_cohort" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events), " +
        "c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id) " +
        "SELECT c.cohort_week, e.week - c.cohort_week AS week_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN c USING (user_id) " +
        "GROUP BY c.cohort_week, week_offset ORDER BY cohort_week, week_offset"),

    "w14_retention" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events), " +
        "c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id), " +
        "s AS (SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size " +
        "FROM c GROUP BY cohort_week), " +
        "t AS (SELECT c.cohort_week, e.week - c.cohort_week AS week_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active " +
        "FROM e JOIN c USING (user_id) GROUP BY c.cohort_week, week_offset) " +
        "SELECT t.cohort_week, t.week_offset, t.n_active, s.cohort_size, " +
        "CAST(t.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention " +
        "FROM t JOIN s USING (cohort_week) ORDER BY cohort_week, week_offset"),

    "w7_path" ->
      ("SELECT path, CAST(count(*) AS BIGINT) AS n FROM (" +
        "SELECT event_type || '>' || lead(event_type, 1) OVER w || '>' || " +
        "lead(event_type, 2) OVER w AS path, lead(event_type, 2) OVER w AS e3 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "WHERE e3 IS NOT NULL GROUP BY path ORDER BY n DESC, path LIMIT 10"),

    "w8_markov" ->
      ("WITH __t AS (SELECT event_type AS from_type, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events), " +
        "__c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n " +
        "FROM __t WHERE to_type IS NOT NULL GROUP BY from_type, to_type) " +
        "SELECT from_type, to_type, n, CAST(n AS DOUBLE) / " +
        "CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p " +
        "FROM __c ORDER BY from_type, to_type"),

    "g_pagerank" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.pageRankSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        iters = 3)}) ORDER BY score DESC, id LIMIT 50"),

    // the batch operator on the appended union — the incremental ≡ batch
    // contract checked by the gate itself
    "g_pagerank_inc" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.pageRankSql(
        "SELECT s_suppkey + 1000 AS src, s_nationkey AS dst FROM supplier " +
          "UNION ALL SELECT n_nationkey, n_regionkey + 100 FROM nation",
        iters = 2)}) ORDER BY id"),

    // recursive reachability on the appended union (the d_cluster twin
    // shape) — the incremental ≡ batch contract checked by the gate
    "g_cc_inc" ->
      ("WITH RECURSIVE __e AS (" +
        "SELECT s_suppkey + 1000 AS src, s_nationkey AS dst FROM supplier " +
        "UNION ALL SELECT n_nationkey, n_regionkey + 100 FROM nation), " +
        "__sym AS (SELECT src, dst FROM __e UNION ALL SELECT dst, src FROM __e), " +
        "__nodes AS (SELECT DISTINCT src AS id FROM __sym), " +
        "__reach(src, dst) AS (" +
        "SELECT id, id FROM __nodes " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "a_assoc" ->
      (s"SELECT * FROM (${Relational.associationRulesSql(
        "SELECT l_orderkey, l_partkey FROM lineitem", "l_orderkey", "l_partkey",
        minPairCount = 2L)}) ORDER BY lift DESC, item_a, item_b LIMIT 50"),

    "g_lpa" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.labelPropagationSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        iters = 2)}) ORDER BY id"),

    "g_pagerank_w" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.pageRankWeightedSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst, 1 AS w FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        iters = 3)}) ORDER BY score DESC, id LIMIT 50"),

    "g_lpa_w" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.labelPropagationWeightedSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst, 1 AS w FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        iters = 2)}) ORDER BY id"),

    "g_ppr" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.personalizedPageRankSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        "SELECT p_partkey AS id FROM part WHERE p_brand = 'Brand#11'",
        iters = 3)}) WHERE is_seed = 0 AND score > 0 " +
        "ORDER BY score DESC, id LIMIT 50"),

    "g_ppr_w" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.personalizedPageRankWeightedSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst, 1 AS w FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        "SELECT p_partkey AS id FROM part WHERE p_brand = 'Brand#11'",
        iters = 3)}) WHERE is_seed = 0 AND score > 0 " +
        "ORDER BY score DESC, id LIMIT 50"),

    "g_modularity" -> {
      val urgentEdges = "SELECT a.l_partkey AS src, b.l_partkey AS dst " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey <> b.l_partkey " +
        "JOIN orders o ON o.o_orderkey = a.l_orderkey " +
        "AND o.o_orderpriority = '1-URGENT'"
      graft.graph.GraphOps.modularitySql(urgentEdges,
        graft.graph.GraphOps.labelPropagationSql(urgentEdges, iters = 2))
    },

    "g_ktruss" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.kTrussSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst " +
          "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
          "AND a.l_partkey <> b.l_partkey " +
          "JOIN orders o ON o.o_orderkey = a.l_orderkey " +
          "AND o.o_orderpriority = '1-URGENT'",
        k = 4, rounds = 2)}) ORDER BY a, b"),

    "g_walks" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.randomWalksSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        "SELECT p_partkey AS id FROM part WHERE p_partkey % 50 = 0",
        steps = 4)}) ORDER BY walk_id, step"),

    "g_triangles" ->
      graft.graph.GraphOps.triangleCountSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"),

    "g_kcore" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.kCoreSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        k = 8, rounds = 4)}) ORDER BY id"),

    "g_cc" ->
      ("WITH RECURSIVE __pairs AS (" +
        "SELECT id_a, id_b FROM (" +
        "SELECT a.l_partkey AS id_a, b.l_partkey AS id_b, a.l_orderkey AS ok " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) " +
        "GROUP BY id_a, id_b HAVING count(DISTINCT ok) >= 3), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT p_partkey, p_partkey FROM part " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src) " +
        "SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src ORDER BY id"),

    "g_bfs" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.bfsHopsSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        "SELECT p_partkey AS id FROM part WHERE p_partkey < 3",
        hops = 3)}) ORDER BY id"),

    "g_hits" ->
      (s"SELECT * FROM (${graft.graph.GraphOps.hitsSql(
        "SELECT o.o_custkey + 1000000000 AS src, l.l_partkey AS dst " +
          "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
        iters = 2)}) ORDER BY id"),

    "g_linkpred" ->
      graft.graph.GraphOps.linkPredictionSql(
        "SELECT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
          "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey",
        maxDeg = 128, k = 50, minCommon = 2),

    "w4_funnel" ->
      ("WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT c.user_id, c.ts, pp.p_ts FROM c LEFT JOIN LATERAL (" +
        "SELECT p.ts AS p_ts, p.event_id AS p_id FROM p " +
        "WHERE p.user_id = c.user_id AND p.ts >= c.ts " +
        "ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS pp ON true), " +
        "g AS (SELECT user_id, " +
        "CASE WHEN p_ts IS NOT NULL AND epoch_us(p_ts) - epoch_us(ts) <= 21600000000 THEN 1 ELSE 0 END AS conv, " +
        "CASE WHEN p_ts IS NOT NULL AND epoch_us(p_ts) - epoch_us(ts) <= 21600000000 " +
        "THEN epoch_us(p_ts) - epoch_us(ts) ELSE 0 END AS lag_us FROM j) " +
        "SELECT user_id, count(*) AS n_clicks, CAST(sum(conv) AS BIGINT) AS n_conv, " +
        "CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conv_rate, " +
        "CASE WHEN sum(conv) > 0 THEN CAST(sum(lag_us) AS DOUBLE) / (CAST(sum(conv) AS DOUBLE) * 1000000.0) END AS avg_lag_sec " +
        "FROM g GROUP BY user_id ORDER BY user_id"),

    "d_stream_attrib" ->
      ("WITH c AS (SELECT user_id, ts, event_id, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id, value FROM events " +
        "WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 00:00:00'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts, p.value, cc.c_ts, cc.c_k FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS c_ts, c.k AS c_k FROM c " +
        "WHERE c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS cc ON true) " +
        "SELECT event_id, user_id, ts, value, " +
        "CASE WHEN c_ts IS NULL OR epoch_us(ts) - epoch_us(c_ts) > 86400000000 THEN 'none' " +
        "WHEN c_k % 4 = 0 THEN 'search' WHEN c_k % 4 = 1 THEN 'social' " +
        "WHEN c_k % 4 = 2 THEN 'email' ELSE 'direct' END AS channel " +
        "FROM j ORDER BY event_id"),

    "j_scd2" -> {
      val snaps =
        "SELECT c_custkey, c_mktsegment AS segment, 1 AS version FROM customer " +
          "UNION ALL SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN 'CHURNED' " +
          "ELSE c_mktsegment END, 2 FROM customer " +
          "UNION ALL SELECT c_custkey, CASE WHEN c_custkey % 21 = 0 THEN 'WINBACK' " +
          "WHEN c_custkey % 7 = 0 THEN 'CHURNED' ELSE c_mktsegment END, 3 FROM customer"
      s"SELECT * FROM (${Relational.scd2Sql(snaps, "c_custkey", "segment", "version")}) " +
        "ORDER BY c_custkey, valid_from"
    },

    "j_pit" -> {
      val hist =
        "SELECT c_custkey, c_mktsegment AS segment, TIMESTAMP '1994-01-01 00:00:00' AS eff_ts FROM customer " +
          "UNION ALL SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN 'CHURNED' " +
          "ELSE c_mktsegment END, TIMESTAMP '1997-01-01 00:00:00' FROM customer " +
          "UNION ALL SELECT c_custkey, CASE WHEN c_custkey % 21 = 0 THEN 'WINBACK' " +
          "WHEN c_custkey % 7 = 0 THEN 'CHURNED' ELSE c_mktsegment END, " +
          "TIMESTAMP '2000-01-01 00:00:00' FROM customer"
      s"WITH __scd AS (${Relational.scd2Sql(hist, "c_custkey", "segment", "eff_ts")}) " +
        "SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate AS ts, " +
        "pp.segment, pp.valid_from " +
        "FROM orders o LEFT JOIN LATERAL (" +
        "SELECT s.segment, s.valid_from FROM __scd s " +
        "WHERE s.c_custkey = o.o_custkey AND s.valid_from <= o.o_orderdate " +
        "ORDER BY s.valid_from DESC LIMIT 1) AS pp ON true " +
        "ORDER BY o_orderkey"
    },

    "pipe_bootstrap" -> {
      val h = TextOps.tokenHashSql(
        "'boot:' || CAST(replica AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
      s"WITH __r AS (SELECT doc_id, CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tok, " +
        "unnest(range(0, 8)) AS replica FROM documents), " +
        s"__w AS (SELECT replica, n_tok, $h % 3 AS w FROM __r) " +
        "SELECT replica, CAST(sum(w) AS BIGINT) AS n_eff, " +
        "(1000000 * CAST(sum(w * n_tok) AS BIGINT)) // CAST(sum(w) AS BIGINT) AS mean_tok_micro " +
        "FROM __w GROUP BY replica ORDER BY replica"
    },

    "w10_multitouch" ->
      ("WITH c AS (SELECT user_id, ts, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts AS p_ts, event_id AS p_id, value FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT p.p_id, p.value, c.k FROM p JOIN c ON c.user_id = p.user_id " +
        "AND c.ts <= p.p_ts AND c.ts >= p.p_ts - INTERVAL 24 HOUR), " +
        "per AS (SELECT p_id, value, k, CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n FROM j), " +
        "cr AS (SELECT CASE WHEN k % 4 = 0 THEN 'search' WHEN k % 4 = 1 THEN 'social' " +
        "WHEN k % 4 = 2 THEN 'email' ELSE 'direct' END AS channel, " +
        "CAST(floor(value * 1000000) AS BIGINT) // n AS credit FROM per), " +
        "un AS (SELECT 'none' AS channel, CAST(floor(value * 1000000) AS BIGINT) AS credit " +
        "FROM p WHERE p_id NOT IN (SELECT p_id FROM j)) " +
        "SELECT channel, count(*) AS n_credits, CAST(sum(credit) AS BIGINT) AS credit_micro " +
        "FROM (SELECT * FROM cr UNION ALL SELECT * FROM un) GROUP BY channel ORDER BY channel"),

    "a_dq_audit" ->
      ("WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust, " +
        "CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys, " +
        "CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price, " +
        "CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status " +
        "FROM orders), " +
        "orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans FROM orders o " +
        "LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) " +
        "SELECT * FROM (" +
        "SELECT 'completeness:o_custkey' AS check_name, null_cust AS observed, null_cust = 0 AS passed FROM m CROSS JOIN orph " +
        "UNION ALL SELECT 'uniqueness:o_orderkey', n_rows - n_keys, n_rows = n_keys FROM m CROSS JOIN orph " +
        "UNION ALL SELECT 'range:o_totalprice_positive', bad_price, bad_price = 0 FROM m CROSS JOIN orph " +
        "UNION ALL SELECT 'domain:o_orderstatus', bad_status, bad_status = 0 FROM m CROSS JOIN orph " +
        "UNION ALL SELECT 'referential:o_custkey_in_customer', n_orphans, n_orphans = 0 FROM m CROSS JOIN orph " +
        "UNION ALL SELECT 'nonempty:orders', n_rows, n_rows > 0 FROM m CROSS JOIN orph" +
        ") ORDER BY check_name"),

    "a_ref_integrity" ->
      (Seq(
        fkAuditSql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        fkAuditSql("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
        fkAuditSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        fkAuditSql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        fkAuditSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        fkAuditSql("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        fkAuditSql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        fkAuditSql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("SELECT * FROM (", " UNION ALL ", ") __fk ORDER BY relation")),

    "a_rfm" ->
      ("WITH per AS (SELECT o_custkey AS custkey, max(o_orderdate) AS last_o, " +
        "count(*) AS frequency, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents " +
        "FROM orders GROUP BY 1), " +
        "ref AS (SELECT max(o_orderdate) AS ref_d, " +
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders), " +
        "b AS (SELECT custkey, (epoch_us(ref_d) - epoch_us(last_o)) // 86400000000 AS recency_days, " +
        "frequency, monetary_cents, n FROM per CROSS JOIN ref), " +
        "r AS (SELECT *, " +
        "1 + (5 * (row_number() OVER (ORDER BY recency_days DESC, custkey DESC) - 1)) // n AS r_score, " +
        "1 + (5 * (row_number() OVER (ORDER BY frequency ASC, custkey ASC) - 1)) // n AS f_score, " +
        "1 + (5 * (row_number() OVER (ORDER BY monetary_cents ASC, custkey ASC) - 1)) // n AS m_score FROM b) " +
        "SELECT custkey, recency_days, frequency, monetary_cents, r_score, f_score, m_score, " +
        "CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion' " +
        "WHEN r_score >= 4 THEN 'recent' WHEN f_score >= 4 THEN 'loyal' " +
        "WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk' ELSE 'regular' END AS segment " +
        "FROM r ORDER BY custkey"),

    "u2_set_ops" ->
      ("WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') " +
        "SELECT user_id, 'intersect' AS op FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p) " +
        "UNION ALL " +
        "SELECT user_id, 'except' FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p) " +
        "ORDER BY op, user_id"),

    "w11_streaks" ->
      ("WITH __d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events), " +
        "__g AS (SELECT user_id, day, " +
        "day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM __d), " +
        "__s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len FROM __g GROUP BY user_id, grp) " +
        "SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks " +
        "FROM __s GROUP BY user_id ORDER BY user_id"),

    "w12_rolling_active" ->
      ("WITH du AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events), " +
        "days AS (SELECT DISTINCT day FROM du), " +
        "cov AS (SELECT DISTINCT d.day AS wday, u.user_id FROM days d " +
        "JOIN du u ON u.day BETWEEN d.day - 6 AND d.day) " +
        "SELECT wday, CAST(count(*) AS BIGINT) AS active_users " +
        "FROM cov GROUP BY wday ORDER BY wday"),

    "w9_attribution" ->
      ("WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, event_id, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events WHERE event_type = 'click'), " +
        "j AS (SELECT p.user_id, p.ts, p.value, cc.c_ts, cc.c_k FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS c_ts, c.k AS c_k FROM c " +
        "WHERE c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS cc ON true), " +
        "g AS (SELECT CASE WHEN c_ts IS NULL OR epoch_us(ts) - epoch_us(c_ts) > 86400000000 THEN 'none' " +
        "WHEN c_k % 4 = 0 THEN 'search' WHEN c_k % 4 = 1 THEN 'social' " +
        "WHEN c_k % 4 = 2 THEN 'email' ELSE 'direct' END AS channel, value FROM j) " +
        "SELECT channel, count(*) AS n_purchases, " +
        "sum(CAST(value AS DECIMAL(18,2))) AS revenue " +
        "FROM g GROUP BY channel ORDER BY channel"),

    "k_skew" -> {
      def keyStatsSql(c: String) =
        s"""SELECT '$c' AS key_col, t.n_rows, t.n_keys, m.k AS top_key,
           |       m.f AS max_freq,
           |       CAST(m.f AS DOUBLE) * CAST(t.n_keys AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS skew
           |FROM (SELECT k, f FROM (
           |        SELECT CAST($c AS BIGINT) AS k, count(*) AS f FROM lineitem GROUP BY 1)
           |      ORDER BY f DESC, k LIMIT 1) m
           |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |                   CAST(count(DISTINCT $c) AS BIGINT) AS n_keys
           |            FROM lineitem) t""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey")
        .map(keyStatsSql).mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY key_col")
    },

    "k_cms" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.countMinTokensSql("documents", "text", 64)}) " +
        "ORDER BY row, slot"),

    "k_kmv" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.kmvEstimateSql("documents", "source", "text", 3, 64)}) " +
        "ORDER BY source"),

    "k_kmv_jaccard" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.kmvJaccardPairsSql("documents", "source", "text", 3, 64)}) " +
        "ORDER BY ga, gb"),

    // deliberately the DIRECT whole-corpus statement: equality with the
    // shard-merged Spark result is the KMV merge law under oracle gate
    "k_kmv_merge" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.kmvEstimateSql("documents", "source", "text", 3, 64)}) " +
        "ORDER BY source"),

    "k_cms_est" -> {
      val h = TextOps.tokenHashSql("tok")
      val slotRows = graft.sketch.Sketches.CmsRowParams.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT tok, true_n, $i AS row, ((h * $a + $b) % ${TextOps.P}) % 64 AS slot FROM __ph"
      }.mkString(" UNION ALL ")
      s"WITH __cms AS (${graft.sketch.Sketches.countMinTokensSql("documents", "text", 64)}), " +
        s"__t AS (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM documents), " +
        "__truth AS (SELECT tok, count(*) AS true_n FROM __t GROUP BY tok), " +
        "__probes AS (SELECT tok, true_n FROM __truth ORDER BY true_n DESC, tok LIMIT 10), " +
        s"__ph AS (SELECT tok, true_n, $h AS h FROM __probes), " +
        s"__slots AS ($slotRows) " +
        "SELECT tok, true_n, min(coalesce(n, 0)) AS est, min(coalesce(n, 0)) >= true_n AS overcount_ok " +
        "FROM __slots LEFT JOIN __cms USING (row, slot) GROUP BY tok, true_n ORDER BY tok"
    },

    "k_bloom" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.bloomSlotsSql("documents", "text", 256)}) " +
        "ORDER BY slot"),

    "k_bloom_probe" -> {
      val h = TextOps.tokenHashSql("tok")
      val k = graft.sketch.Sketches.CmsRowParams.size
      val slotRows = graft.sketch.Sketches.CmsRowParams.map { case (a, b) =>
        s"SELECT tok, ((h * $a + $b) % ${TextOps.P}) % 256 AS slot FROM __ph"
      }.mkString(" UNION ALL ")
      s"WITH __bloom AS (${graft.sketch.Sketches.bloomSlotsSql("documents", "text", 256)}), " +
        s"__t AS (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM documents), " +
        "__truth AS (SELECT DISTINCT tok FROM __t), " +
        "__probes AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM __t GROUP BY tok ORDER BY n DESC, tok LIMIT 10) " +
        "UNION ALL SELECT * FROM (VALUES ('zzq_absent_a'), ('zzq_absent_b'), ('zzq_absent_c')) v(tok)), " +
        s"__ph AS (SELECT tok, $h AS h FROM __probes), " +
        s"__slots AS ($slotRows), " +
        "__in AS (SELECT tok, sum(CASE WHEN b.slot IS NOT NULL THEN 1 ELSE 0 END) = " +
        s"$k AS in_bloom FROM __slots s LEFT JOIN __bloom b USING (slot) GROUP BY tok) " +
        "SELECT i.tok, i.in_bloom, t.tok IS NOT NULL AS truly_present, " +
        "(i.in_bloom OR t.tok IS NULL) AS no_false_negative " +
        "FROM __in i LEFT JOIN __truth t ON i.tok = t.tok ORDER BY i.tok"
    },

    "k_bloom_fpr" -> {
      val h = TextOps.tokenHashSql("tok")
      val k = graft.sketch.Sketches.CmsRowParams.size
      val slotRows = graft.sketch.Sketches.CmsRowParams.map { case (a, b) =>
        s"SELECT tok, ((h * $a + $b) % ${TextOps.P}) % 256 AS slot FROM __ph"
      }.mkString(" UNION ALL ")
      s"WITH __bloom AS (${graft.sketch.Sketches.bloomSlotsSql("documents", "text", 256)}), " +
        "__probes AS (SELECT 'absent:' || CAST(unnest(range(0, 1000)) AS VARCHAR) AS tok), " +
        s"__ph AS (SELECT tok, $h AS h FROM __probes), " +
        s"__slots AS ($slotRows), " +
        "__in AS (SELECT tok, sum(CASE WHEN b.slot IS NOT NULL THEN 1 ELSE 0 END) = " +
        s"$k AS in_bloom FROM __slots s LEFT JOIN __bloom b USING (slot) GROUP BY tok), " +
        "__n AS (SELECT CAST(count(*) AS BIGINT) AS n_set FROM __bloom) " +
        "SELECT 256 AS m_bits, n.n_set, CAST(count(*) AS BIGINT) AS n_probes, " +
        "CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos, " +
        "CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fpr " +
        "FROM __in CROSS JOIN __n n GROUP BY n.n_set"
    },

    "q3_shipping" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(sum(rev) AS BIGINT) AS revenue_cents FROM (" +
        "SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority, " +
        "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
        "AND o.o_orderdate < TIMESTAMP '1998-06-01' AND l.l_shipdate > TIMESTAMP '1998-06-01') " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_cents DESC, l_orderkey LIMIT 10"),

    "q5_local_volume" ->
      ("SELECT n.n_name, CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM lineitem l " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA' " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01' " +
        "JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey " +
        "GROUP BY n.n_name ORDER BY revenue_cents DESC, n.n_name"),

    "q10_returns" ->
      ("WITH lost AS (SELECT o.o_custkey AS c_custkey, " +
        "CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE l.l_returnflag = 'R' " +
        "AND o.o_orderdate >= TIMESTAMP '1997-10-01' AND o.o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY o.o_custkey) " +
        "SELECT lost.c_custkey, c.c_name, n.n_name, lost.revenue_cents " +
        "FROM lost JOIN customer c ON lost.c_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "ORDER BY lost.revenue_cents DESC, lost.c_custkey LIMIT 20"),

    "q1_pricing" ->
      ("WITH b AS (SELECT l_returnflag, l_linestatus, " +
        "CAST(floor(l_quantity) AS BIGINT) AS qty, " +
        "CAST(floor(l_extendedprice * 100) AS BIGINT) AS base, " +
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc, " +
        "CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT) AS chg " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01') " +
        "SELECT l_returnflag, l_linestatus, CAST(sum(qty) AS BIGINT) AS sum_qty, " +
        "CAST(sum(base) AS BIGINT) AS sum_base_cents, " +
        "CAST(sum(disc) AS BIGINT) AS sum_disc_cents, " +
        "CAST(sum(chg) AS BIGINT) AS sum_charge_cents, " +
        "CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST((1000000 * CAST(sum(qty) AS BIGINT)) // count(*) AS BIGINT) AS avg_qty_micro " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    "q6_forecast" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS forecast_cents " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_discount >= 0.045 AND l_discount <= 0.075 AND l_quantity < 24"),

    "q7_volume" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l.l_shipdate) AS BIGINT) AS ship_year, " +
        "CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
        "CAST(count(*) AS BIGINT) AS n_lines " +
        "FROM lineitem l " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey " +
        "WHERE n1.n_name IN ('NATION_3', 'NATION_19') " +
        "AND n2.n_name IN ('NATION_3', 'NATION_19') " +
        "AND n1.n_name <> n2.n_name " +
        "AND l.l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l.l_shipdate < TIMESTAMP '1999-01-01' " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    "q8_share" ->
      ("WITH b AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year, " +
        "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev, " +
        "n1.n_name AS supp_nation " +
        "FROM lineitem l " +
        "JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO' " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_custkey IN (SELECT c_custkey FROM customer c " +
        "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey " +
        "JOIN region r ON n2.n_regionkey = r.r_regionkey WHERE r.r_name = 'ASIA')) " +
        "SELECT order_year, CAST(sum(rev) AS BIGINT) AS total_cents, " +
        "CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS BIGINT) AS nation_cents, " +
        "CAST((10000 * CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS BIGINT)) " +
        "// CAST(nullif(sum(rev), 0) AS BIGINT) AS BIGINT) AS share_bp " +
        "FROM b GROUP BY 1 ORDER BY 1"),

    "q9_profit" ->
      ("WITH b AS (SELECT n.n_name AS supp_nation, " +
        "CAST(year(o.o_orderdate) AS BIGINT) AS order_year, " +
        "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) " +
        "- CAST(floor(p.p_retailprice * 100) AS BIGINT) * CAST(floor(l.l_quantity) AS BIGINT) AS profit " +
        "FROM lineitem l " +
        "JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%bolt%' " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey) " +
        "SELECT supp_nation, order_year, CAST(sum(profit) AS BIGINT) AS profit_cents, " +
        "CAST(count(*) AS BIGINT) AS n_lines " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),

    "q14_promo" ->
      ("WITH b AS (SELECT p.p_type, " +
        "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' " +
        "AND l.l_shipdate < TIMESTAMP '1997-10-01') " +
        "SELECT CAST(sum(rev) AS BIGINT) AS total_cents, " +
        "CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) AS promo_cents, " +
        "CAST((10000 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)) " +
        "// CAST(nullif(sum(rev), 0) AS BIGINT) AS BIGINT) AS promo_bp FROM b"),

    "q15_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
        "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-10-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' GROUP BY l_suppkey) " +
        "SELECT s.s_suppkey, s.s_name, rev.revenue_cents " +
        "FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey " +
        "WHERE rev.revenue_cents = (SELECT max(revenue_cents) FROM rev) " +
        "ORDER BY s.s_suppkey"),

    "q16_parts_suppliers" ->
      ("SELECT p.p_brand, p.p_type, p.p_size, " +
        "CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO' " +
        "AND p.p_size IN (1, 9, 19, 29, 39, 49) " +
        "AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),

    "q17_small_qty" ->
      ("WITH li AS (SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty, " +
        "CAST(floor(l_extendedprice * 100) AS BIGINT) AS price FROM lineitem " +
        "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11')), " +
        "st AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty, " +
        "CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(li.price) AS BIGINT) AS lost_cents " +
        "FROM li JOIN st ON li.l_partkey = st.l_partkey " +
        "WHERE li.qty * st.n * 5 < st.sum_qty"),

    "q18_big_orders" ->
      ("WITH big AS (SELECT l_orderkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(CAST(floor(l_quantity) AS BIGINT)) > 300) " +
        "SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, " +
        "CAST(floor(o.o_totalprice * 100) AS BIGINT) AS total_cents, big.sum_qty " +
        "FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "ORDER BY total_cents DESC, o.o_orderkey LIMIT 100"),

    "q19_brackets" ->
      ("WITH b AS (SELECT p.p_brand, p.p_size, CAST(floor(l.l_quantity) AS BIGINT) AS qty, " +
        "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(rev) AS BIGINT) AS revenue_cents FROM b " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND qty BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND qty BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND qty BETWEEN 20 AND 30)"),

    "q22_idle_balance" ->
      ("WITH cust AS (SELECT c_custkey, c_mktsegment, " +
        "CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer), " +
        "avgpos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos, " +
        "CAST(count(*) AS BIGINT) AS n_pos FROM cust WHERE bal_cents > 0) " +
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust, " +
        "CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents " +
        "FROM cust CROSS JOIN avgpos " +
        "WHERE bal_cents * n_pos > sum_pos " +
        "AND c_custkey NOT IN (SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1999-01-01') " +
        "GROUP BY 1 ORDER BY 1"),

    "q4_priority" ->
      (s"WITH ls AS ($lineitemShippingSqlFrag) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count " +
        "FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-06-01' " +
        "AND EXISTS (SELECT 1 FROM ls WHERE ls.l_orderkey = orders.o_orderkey " +
        "AND l_commitdate < l_receiptdate) " +
        "GROUP BY 1 ORDER BY 1"),

    "q12_shipmode" ->
      (s"WITH ls AS ($lineitemShippingSqlFrag) " +
        "SELECT l_shipmode, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM orders JOIN ls ON o_orderkey = l_orderkey " +
        "WHERE l_shipmode IN ('MAIL','SHIP') AND l_commitdate < l_receiptdate " +
        "AND l_shipdate < l_commitdate " +
        "AND l_receiptdate >= TIMESTAMP '1997-01-01' AND l_receiptdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY 1 ORDER BY 1"),

    "q13_custdist" ->
      (s"WITH oc AS (SELECT o_custkey, o_orderkey, $ordersCommentCaseSql AS o_comment FROM orders) " +
        "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist " +
        "FROM (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT OUTER JOIN oc " +
        "ON c_custkey = o_custkey AND o_comment NOT LIKE '%special%requests%' " +
        "GROUP BY c_custkey) t " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),

    // textbook double-EXISTS form on purpose: independently checks the
    // Spark side's per-(order, supplier) decorrelation
    "q21_waiting" ->
      (s"WITH ls AS ($lineitemShippingSqlFrag) " +
        "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
        "FROM supplier, ls l1, orders, nation " +
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey " +
        "AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate " +
        "AND EXISTS (SELECT 1 FROM ls l2 WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM ls l3 WHERE l3.l_orderkey = l1.l_orderkey " +
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_receiptdate > l3.l_commitdate) " +
        "AND s_nationkey = n_nationkey AND n_name = 'NATION_3' " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"),

    // textbook correlated-min form on purpose: checks the Spark side's
    // per-part decorrelation independently
    "q2_min_cost" ->
      (s"WITH ps AS ($partsuppSqlFrag), " +
        "sup AS (SELECT s_suppkey, s_name, CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents, n_name " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE') " +
        "SELECT bal_cents, s_name, n_name, p_partkey, p_type " +
        "FROM part, ps, sup " +
        "WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey AND p_type = 'LARGE' " +
        "AND ps_supplycost_cents = (SELECT min(ps2.ps_supplycost_cents) " +
        "FROM ps ps2, sup s2 WHERE ps2.ps_partkey = p_partkey AND ps2.ps_suppkey = s2.s_suppkey) " +
        "ORDER BY bal_cents DESC, n_name, s_name, p_partkey LIMIT 100"),

    "q11_stock_value" ->
      (s"WITH ps AS ($partsuppSqlFrag), " +
        "rows_ AS (SELECT ps_partkey, ps_availqty * ps_supplycost_cents AS v FROM ps " +
        "JOIN supplier ON ps_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'), " +
        "grouped AS (SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents FROM rows_ GROUP BY 1) " +
        "SELECT ps_partkey, value_cents FROM grouped " +
        "WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM grouped) " +
        "ORDER BY value_cents DESC, ps_partkey"),

    // textbook correlated scalar (NULL comparison excludes unshipped
    // (part, supplier) pairs) — the Spark side's INNER-join
    // decorrelation must agree
    "q20_excess_stock" ->
      (s"WITH ps AS ($partsuppSqlFrag) " +
        "SELECT s_name, CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3' " +
        "WHERE s_suppkey IN (SELECT ps_suppkey FROM ps " +
        "WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO') " +
        "AND ps_availqty * 2 > (SELECT CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) " +
        "FROM lineitem WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01')) " +
        "ORDER BY s_name"),

    "a_ols_slope" ->
      ("WITH __b AS (SELECT l_suppkey, CAST(floor(l_quantity) AS BIGINT) AS x, " +
        "CAST(floor(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem), " +
        "__a AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, " +
        "sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx " +
        "FROM __b GROUP BY l_suppkey) " +
        "SELECT l_suppkey, n, " +
        "CAST((1000000 * (n * sxy - sx * sy)) // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS slope_micro " +
        "FROM __a ORDER BY l_suppkey"),

    "a_theilsen" ->
      ("WITH __pts AS (SELECT l_suppkey, " +
        "CAST(floor(l_quantity) AS BIGINT) AS x, " +
        "CAST(floor(l_extendedprice * 100) AS BIGINT) AS y, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY " +
        "CAST(floor(l_quantity) AS BIGINT), CAST(floor(l_extendedprice * 100) AS BIGINT), " +
        "l_orderkey, l_linenumber) AS rn FROM lineitem), " +
        "__pr AS (SELECT p.l_suppkey, p.rn AS rn1, p.x AS x1, p.y AS y1, p.rn + t.k AS rn " +
        "FROM __pts p, unnest(range(1, 9)) AS t(k)), " +
        "__sl AS (SELECT pr.l_suppkey, pr.rn1, p2.rn AS rn2, " +
        "(1000000 * (p2.y - pr.y1)) // (p2.x - pr.x1) AS slope " +
        "FROM __pr pr JOIN __pts p2 ON pr.l_suppkey = p2.l_suppkey AND pr.rn = p2.rn " +
        "WHERE p2.x <> pr.x1), " +
        "__rk AS (SELECT l_suppkey, slope, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY slope, rn1, rn2) AS sr, " +
        "CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT) AS np FROM __sl) " +
        "SELECT l_suppkey, np AS n_pairs, CAST(slope AS BIGINT) AS slope_micro_med " +
        "FROM __rk WHERE sr = (np + 1) // 2 ORDER BY l_suppkey"),

    "w13_lag_quantiles" ->
      ("WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "j AS (SELECT p.ts, cc.c_ts FROM p LEFT JOIN LATERAL (" +
        "SELECT c.ts AS c_ts FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts " +
        "ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS cc ON true), " +
        "l AS (SELECT epoch_us(ts) - epoch_us(c_ts) AS lag_us FROM j WHERE c_ts IS NOT NULL), " +
        "r AS (SELECT lag_us, row_number() OVER (ORDER BY lag_us) AS rnk FROM l), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l) " +
        "SELECT (SELECT n FROM t) AS n_pairs, " +
        "(SELECT lag_us FROM r WHERE rnk = (50 * (SELECT n FROM t)) // 100 + 1) AS p50_us, " +
        "(SELECT lag_us FROM r WHERE rnk = (90 * (SELECT n FROM t)) // 100 + 1) AS p90_us, " +
        "(SELECT lag_us FROM r WHERE rnk = (99 * (SELECT n FROM t)) // 100 + 1) AS p99_us"),

    "a_gini" ->
      ("WITH __rev AS (SELECT o_custkey, sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents " +
        "FROM orders GROUP BY 1), " +
        "__r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM __rev) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(cents) AS BIGINT) AS total_cents, " +
        "CAST((1000000 * (2 * sum(i * cents) - (count(*) + 1) * sum(cents))) // " +
        "(count(*) * sum(cents)) AS BIGINT) AS gini_micro FROM __r"),

    "a_benford" ->
      ("WITH __d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit " +
        "FROM orders WHERE o_totalprice >= 1), " +
        "__c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM __d GROUP BY digit), " +
        "__t AS (SELECT CAST(sum(n) AS BIGINT) AS __nt FROM __c), " +
        "__s AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit), " +
        "__e(digit, expected_milli) AS (VALUES (1, CAST(301 AS BIGINT)), (2, CAST(176 AS BIGINT)), " +
        "(3, CAST(125 AS BIGINT)), (4, CAST(97 AS BIGINT)), (5, CAST(79 AS BIGINT)), (6, CAST(67 AS BIGINT)), " +
        "(7, CAST(58 AS BIGINT)), (8, CAST(51 AS BIGINT)), (9, CAST(46 AS BIGINT))) " +
        "SELECT __s.digit, CAST(coalesce(__c.n, 0) AS BIGINT) AS n, " +
        "(1000 * CAST(coalesce(__c.n, 0) AS BIGINT)) // __nt AS observed_milli, expected_milli, " +
        "abs((1000 * CAST(coalesce(__c.n, 0) AS BIGINT)) // __nt - expected_milli) AS deviation_milli " +
        "FROM __s LEFT JOIN __c ON __s.digit = __c.digit " +
        "JOIN __e ON __s.digit = __e.digit CROSS JOIN __t ORDER BY __s.digit"),

    "a_pareto" ->
      ("WITH rev AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev " +
        "FROM orders GROUP BY 1), " +
        "t AS (SELECT sum(rev) AS total, CAST(count(*) AS BIGINT) AS n_customers FROM rev), " +
        "c AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk, " +
        "sum(rev) OVER (ORDER BY rev DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum FROM rev) " +
        "SELECT t.n_customers, CAST(min(c.rnk) AS BIGINT) AS n_top, " +
        "min_by(c.cum, c.rnk) AS top_revenue, t.total, " +
        "CAST(min_by(c.cum, c.rnk) AS DOUBLE) / CAST(t.total AS DOUBLE) AS top_share " +
        "FROM c CROSS JOIN t WHERE c.cum * 5 >= t.total * 4 " +
        "GROUP BY t.n_customers, t.total"),

    "k_hll" -> {
      val hashed = s"SELECT ${TextOps.tokenHashSql("CAST(user_id AS VARCHAR)")} AS h FROM events"
      s"SELECT * FROM (${graft.sketch.Sketches.hllRegistersSql(hashed, 64)}) ORDER BY bucket"
    },

    "k_hll_est" -> {
      val hashed = s"SELECT ${TextOps.tokenHashSql("CAST(user_id AS VARCHAR)")} AS h FROM events"
      val regs = graft.sketch.Sketches.hllRegistersSql(hashed, 64)
      s"SELECT e.estimate, x.exact FROM (${graft.sketch.Sketches.hllEstimateSql(regs, 64)}) e " +
        "CROSS JOIN (SELECT count(DISTINCT user_id) AS exact FROM events) x"
    },

    "k_quantile_hist" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.histogramQuantilesSql(
        "orders", "o_totalprice", 64, Seq(0.5, 0.9, 0.99))}) ORDER BY q"),

    "k_quantile_daily" ->
      (s"SELECT * FROM (${graft.sketch.Sketches.histogramQuantilesSql(
        "(SELECT CAST(ts AS DATE) AS day, value FROM events)",
        "value", 32, Seq(0.5, 0.95), Seq("day"))}) ORDER BY day, q"),

    "k_hll_window" -> {
      val hashed = "SELECT date_trunc('hour', ts) AS hour, event_type, " +
        s"${TextOps.tokenHashSql("CAST(user_id AS VARCHAR)")} AS h FROM events"
      val regs = graft.sketch.Sketches.hllRegistersSql(hashed, 64, Seq("hour", "event_type"))
      s"SELECT * FROM (${graft.sketch.Sketches.hllEstimateSql(regs, 64, Seq("hour", "event_type"))}) " +
        "ORDER BY hour, event_type"
    },

    "pipe_pack" ->
      (s"SELECT doc_id, source, CAST(len(${TextOps.tokensSql("text")}) AS INTEGER) AS n_tokens, " +
        s"CAST(floor((sum(CAST(len(${TextOps.tokensSql("text")}) AS INTEGER)) " +
        "OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        s"- CAST(len(${TextOps.tokensSql("text")}) AS INTEGER)) / 2048) AS INTEGER) AS pack_id " +
        "FROM documents ORDER BY source, doc_id"),

    "t_tfidf_topterms" ->
      ("WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents) GROUP BY 1, 2), " +
        "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
        "r AS (SELECT doc_id, tok, tf, df, CAST(row_number() OVER (" +
        "PARTITION BY doc_id ORDER BY tf DESC, df ASC, tok ASC) AS INTEGER) AS rank " +
        "FROM tf JOIN df USING (tok)) " +
        "SELECT doc_id, rank, tok, tf, df FROM r WHERE rank <= 3 ORDER BY doc_id, rank"),

    "pipe_quality_gate" -> {
      val score = TextOps.qualityScoreSql("text")
      // identical histogram walk as the Spark side (k_quantile_hist parity recipe)
      val medSql = graft.sketch.Sketches
        .histogramQuantilesSql("staged", "score", 256, Seq(0.5))
      s"WITH staged AS (SELECT doc_id, source, $score AS score FROM documents) " +
        "SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        s"FROM staged WHERE score > (SELECT estimate FROM ($medSql) __med) " +
        "GROUP BY source ORDER BY source"
    },

    "a_histogram" ->
      ("SELECT bucket, CAST(bucket * 100 AS INTEGER) AS bucket_lo, count(*) AS n_docs " +
        "FROM (SELECT CAST(least(floor(n_chars / 100), 19) AS INTEGER) AS bucket FROM documents) " +
        "GROUP BY bucket ORDER BY bucket"),

    "pipe_dedup_minhash" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src), " +
        "__clusters AS (SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src) " +
        "SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc " +
        "FROM documents JOIN __clusters ON doc_id = id AND id = cluster " +
        "GROUP BY source ORDER BY source"),

    "pipe_dedup_keep_best" ->
      (s"WITH RECURSIVE __pairs AS (${Dedup.minhashLshCandidatesSql("documents", "doc_id", "text", 3)}), " +
        "__sym AS (SELECT id_a AS src, id_b AS dst FROM __pairs UNION ALL SELECT id_b, id_a FROM __pairs), " +
        "__reach(src, dst) AS (" +
        "SELECT doc_id, doc_id FROM documents " +
        "UNION " +
        "SELECT r.src, s.dst FROM __reach r JOIN __sym s ON r.dst = s.src), " +
        "__clusters AS (SELECT src AS id, min(dst) AS cluster FROM __reach GROUP BY src), " +
        s"__scored AS (SELECT doc_id, ${TextOps.qualityScoreSql("text")} AS score FROM documents), " +
        "__m AS (SELECT c.cluster, s.doc_id, s.score, " +
        "row_number() OVER (PARTITION BY c.cluster ORDER BY s.score DESC, s.doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY c.cluster) AS n_members " +
        "FROM __clusters c JOIN __scored s ON s.doc_id = c.id) " +
        "SELECT cluster, doc_id AS kept_doc, score, n_members FROM __m WHERE rn = 1 ORDER BY cluster"),

    "pipe_source_cap" ->
      (s"SELECT doc_id, source, score, rk FROM (" +
        s"SELECT doc_id, source, ${TextOps.qualityScoreSql("text")} AS score, " +
        "CAST(row_number() OVER (PARTITION BY source " +
        s"ORDER BY ${TextOps.qualityScoreSql("text")} DESC, doc_id) AS INTEGER) AS rk " +
        "FROM documents) WHERE rk <= 40 ORDER BY source, rk"),

    "pipe_zorder" -> {
      val z = Relational.zOrderKeySql(Seq("xx", "yy"), 12)
      "WITH __s AS (SELECT event_id, user_id % 4096 AS xx, " +
        "(epoch_us(ts) // 60000000) % 4096 AS yy FROM events), " +
        s"__z AS (SELECT event_id, xx, yy, $z AS z FROM __s) " +
        "SELECT z // 262144 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
        "min(z) AS z_min, max(z) AS z_max, min(xx) AS x_min, max(xx) AS x_max, " +
        "min(yy) AS y_min, max(yy) AS y_max " +
        "FROM __z GROUP BY 1 ORDER BY bucket"
    },

    "d_diff" ->
      ("WITH __prev AS (SELECT doc_id, text AS o FROM documents WHERE doc_id % 11 <> 3), " +
        "__cur AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS n " +
        "FROM documents WHERE doc_id % 13 <> 5), " +
        "__j AS (SELECT coalesce(p.doc_id, c.doc_id) AS doc_id, " +
        "CASE WHEN p.o IS NULL THEN 'added' WHEN c.n IS NULL THEN 'removed' " +
        "WHEN p.o <> c.n THEN 'changed' END AS change " +
        "FROM __prev p FULL JOIN __cur c ON p.doc_id = c.doc_id) " +
        "SELECT doc_id, change FROM __j WHERE change IS NOT NULL ORDER BY doc_id"),

    "pipe_corpus_clean" -> {
      val nTok = TextOps.qualityFeaturesSql("text")("n_tokens")
      s"""WITH staged AS (
         |  SELECT doc_id, source, text,
         |    ${TextOps.langIdSql("text")} AS lang_pred,
         |    $nTok AS n_tokens,
         |    ${TextOps.qualityScoreSql("text")} AS score
         |  FROM documents
         |), kept AS (
         |  SELECT * FROM staged
         |  WHERE lang_pred <> 'und' AND score > 0.5 AND n_tokens >= 5
         |), dedup AS (
         |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM kept
         |)
         |SELECT source, lang_pred, count(*) AS n_docs, min(doc_id) AS first_doc,
         |       max(n_tokens) AS max_tokens
         |FROM dedup WHERE rn = 1
         |GROUP BY source, lang_pred ORDER BY source, lang_pred""".stripMargin
    }
  )
}
