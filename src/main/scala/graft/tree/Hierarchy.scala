package graft.tree

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy (equipment-tree) operators (SURVEY.md §2.3 J5/J6, §2.2 P6).
  *
  * The reference expresses the tree closure as a PostgreSQL
  * `WITH RECURSIVE element_paths` CTE, copied five times
  * (reference `src/database/populate.py:200-224, 250-280, 470-493, 541-565,
  * 613-643`). Spark-first shape: an iterative loop of self-joins until
  * fixpoint. The tree's `level` column bounds the iteration count, so the
  * loop is driver-side control flow only — each step is a distributed join,
  * and the frontier is checked with a cheap `isEmpty`. Dimension-sized
  * inputs (thousands of nodes) → the parent side broadcasts.
  */
object Hierarchy {

  /** J5 — transitive closure with accumulated paths.
    * Input: element(level, element_id, name, parent_id).
    * Output: (element_id, name, level, parent_id, path) where path =
    * root|child|...|node joined with `sep` (reference uses
    * `array_to_string(path_array,'|')`, `populate.py:221-222`).
    *
    * Dispatches to the native `WITH RECURSIVE` plan ([[closureSql]]) on
    * Spark builds that support it (4.0+): ONE Catalyst plan instead of
    * level-many self-joins with a driver round-trip per level. The
    * iterative loop ([[closureLoop]]) stays as the fallback for older
    * runtimes; the spec asserts both engines produce identical rows. */
  def closure(element: DataFrame, sep: String = "|"): DataFrame =
    if (nativeRecursiveSupported(element)) closureSql(element, sep)
    else closureLoop(element, sep)

  private def nativeRecursiveSupported(df: DataFrame): Boolean =
    df.sparkSession.version.takeWhile(_ != '.').toIntOption.exists(_ >= 4)

  /** J5 fallback engine — iterative level-bounded self-join loop. */
  def closureLoop(element: DataFrame, sep: String = "|"): DataFrame = {
    // null aggregate = empty element table (fresh namespace): no roots,
    // zero iterations, empty closure — don't getInt an SQL NULL
    val maxRow = element.agg(max(col("level"))).head()
    val maxLevel = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    var done = element.filter(col("parent_id").isNull)
      .select(col("element_id"), col("name"), col("level"), col("parent_id"),
        col("name").as("path"))
    var frontier = done
    var iter = 0
    // bounded by the stored max level — no unbounded fixpoint risk
    while (iter < maxLevel && !frontier.isEmpty) {
      val step = element.as("e")
        .join(broadcast(frontier.select(col("element_id").as("pid"), col("path").as("ppath"))),
          col("e.parent_id") === col("pid"))
        .select(col("e.element_id"), col("e.name"), col("e.level"), col("e.parent_id"),
          concat_ws(sep, col("ppath"), col("e.name")).as("path"))
      done = done.unionByName(step)
      frontier = step
      iter += 1
    }
    done
  }

  /** J5 via Spark 4's native `WITH RECURSIVE` (SURVEY.md §7.3 noted this
    * as the alternative to the driver loop; supported in this build).
    * Same output as [[closure]] — the spec asserts equivalence. The CTE
    * keeps the whole fixpoint inside one Catalyst plan (no driver
    * round-trip per level), which matters when levels are deep. */
  def closureSql(element: DataFrame, sep: String = "|"): DataFrame = {
    val spark = element.sparkSession
    val view = s"__graft_closure_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    element.createOrReplaceTempView(view)
    try spark.sql(
      s"""WITH RECURSIVE paths AS (
         |  SELECT element_id, name, level, parent_id, name AS path
         |  FROM $view WHERE parent_id IS NULL
         |  UNION ALL
         |  SELECT e.element_id, e.name, e.level, e.parent_id,
         |         concat(p.path, '$sep', e.name) AS path
         |  FROM $view e JOIN paths p ON e.parent_id = p.element_id
         |) SELECT element_id, name, level, parent_id, path FROM paths""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** P6 — the reference's (buggy) leaf filter, kept for API fidelity
    * (reference `database/database.py:92-97`): a node is a "leaf" if it has
    * no parent OR sits at the global max level. */
  def leavesReferenceSemantics(element: DataFrame): DataFrame = {
    val maxLevel = element.agg(max(col("level")).as("max_level"))
    element.crossJoin(broadcast(maxLevel))
      .filter(col("parent_id").isNull || col("level") === col("max_level"))
      .drop("max_level")
  }

  /** True-leaf semantics (reference `src/database/extract_leaf_nodes.py:17-19`:
    * empty children list): an element nobody points at as parent. */
  def leavesTrue(element: DataFrame): DataFrame = {
    val parents = element.filter(col("parent_id").isNotNull)
      .select(col("parent_id").as("element_id")).distinct()
    element.join(broadcast(parents), Seq("element_id"), "left_anti")
  }

  /** M7 — path → element_id mapping (reference `database.py:774-855`,
    * `populate.py:600-659`): the closure projected to its mapping columns. */
  def pathIdMapping(element: DataFrame, sep: String = "|"): DataFrame =
    closure(element, sep).select(col("path"), col("element_id"))

  /** J6 — id remap across repopulation (reference `populate.py:470-497,
    * 567-597`): join old and new path→id mappings on the full path, keep
    * pairs whose id changed. Both mappings are catalog-sized → broadcast. */
  def remapIds(oldMapping: DataFrame, newMapping: DataFrame): DataFrame =
    oldMapping.select(col("path"), col("element_id").as("old_id"))
      .join(newMapping.select(col("path"), col("element_id").as("new_id")), Seq("path"))
      .filter(col("old_id") =!= col("new_id"))

  /** M6 (final step) — rewrite archive attribute ids through an
    * old_id→new_id map; ids not in the map pass through unchanged. The map
    * is catalog-sized → broadcast; the archive never shuffles. */
  def remapArchive(archive: DataFrame, idMap: DataFrame): DataFrame =
    archive.join(broadcast(idMap.select(col("old_id"), col("new_id"))),
        archive("attribute_id") === col("old_id"), "left")
      .withColumn("attribute_id",
        coalesce(col("new_id"), col("attribute_id")))
      .drop("old_id", "new_id")
}
