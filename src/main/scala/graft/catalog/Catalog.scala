package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.Formula
import graft.model.Schemas
import graft.tree.Hierarchy

/** Storage-owning catalog: one namespace ("database", reference
  * `database/config.ini` sections) = one directory of parquet tables
  * `element/`, `attribute/`, `archive/`. Replaces the reference's
  * PostgreSQL DDL + SERIAL ids + pg_proc-encoded derivedness
  * (`src/database/populate.py:69-118`, `database/database.py:991-1005`)
  * with explicit small dimension tables and a first-class `formula`
  * column.
  *
  * Scale notes: dimension tables are catalog-sized (≤ millions of rows)
  * — single-writer rewrite-on-mutation is correct and cheap. Every probe,
  * read and move goes through the Hadoop FileSystem ([[ArchiveStore]]),
  * so `root` may be a local path or a URI (`file:`, `hdfs://`, ...).
  */
final class Catalog(val spark: SparkSession, root: String, val database: String) {

  private def path(table: String) = s"$root/$database/$table"
  private def exists(table: String) = ArchiveStore.exists(path(table))

  def elements: DataFrame =
    if (exists("element")) spark.read.parquet(path("element"))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.element)

  def attributes: DataFrame =
    if (exists("attribute")) spark.read.parquet(path("attribute"))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.attribute)

  /** Archive columns in contract order (readers drop the physical
    * partition column). */
  private val archiveCols = ArchiveStore.cols

  def archive: DataFrame = ArchiveStore.readOr(spark, path("archive"),
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.archive))

  /** Time-bounded archive scan with PARTITION pruning: the store is
    * partitioned by `p_date = date(timestamp)` (SURVEY.md §1.3), and the
    * bounds are applied to BOTH the partition column (prunes whole
    * date directories at planning time — the 100 TB lever) and the
    * timestamp (row-level precision within the boundary dates). */
  def archiveRange(start: Option[String], end: Option[String]): DataFrame = {
    if (!exists("archive"))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.archive)
    val raw = spark.read.parquet(path("archive"))
    val t = raw.schema("timestamp").dataType
    val bounded = Seq(
      start.map(s => col("p_date") >= to_date(lit(s)) && col("timestamp") >= lit(s).cast(t)),
      end.map(e => col("p_date") <= to_date(lit(e)) && col("timestamp") <= lit(e).cast(t))
    ).flatten.foldLeft(raw)(_ filter _)
    bounded.select(archiveCols.map(col): _*)
  }

  /** Dimension rewrite: collect-free overwrite via temp dir + move is
    * unnecessary at catalog size — a driver-side materialize breaks the
    * read-overwrite cycle safely. Single-writer by contract. */
  private def writeDim(table: String, df: DataFrame): Unit = {
    val rows = df.collect().toSeq
    val fresh = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), df.schema)
    fresh.write.mode(SaveMode.Overwrite).parquet(path(table))
  }

  /** Writes are date-partitioned (`p_date`, [[ArchiveStore]]): appends
    * land in their date directories, time-ranged reads prune to them, and
    * upserts are partition-scoped overwrites. */
  def appendArchive(rows: DataFrame): Unit =
    ArchiveStore.append(rows, path("archive"))

  /** T5 production upsert: last-write-wins on (attribute_id, timestamp),
    * rewriting ONLY the date partitions the new rows touch — see
    * [[ArchiveStore.upsert]]. */
  def upsertArchive(recomputed: DataFrame): Unit =
    ArchiveStore.upsert(spark, path("archive"), recomputed)

  private def rewriteArchive(df: DataFrame): Unit = {
    val tmp = path("archive__rewrite")
    ArchiveStore.write(df, SaveMode.Overwrite, tmp)
    ArchiveStore.replace(tmp, path("archive"))
  }

  private def nextId(df: DataFrame, idCol: String): Int = {
    val row = df.agg(max(col(idCol))).head()
    (if (row.isNullAt(0)) 0 else row.getInt(0)) + 1
  }

  // ---- M1: insert element (reference database.py:465-491) ---------------
  def insertElement(name: String, level: Int = 0, parentId: Option[Int] = None): Int = {
    val id = nextId(elements, "element_id")
    val sess = spark
    import sess.implicits._
    val row = Seq((level, id, name, parentId)).toDF("level", "element_id", "name", "parent_id")
    writeDim("element", elements.unionByName(row))
    id
  }

  // ---- M2: insert attribute + optional derived backfill ------------------
  // (reference database.py:494-536: formula -> validate refs, backfill,
  // register trigger; our "trigger" is the formula column consumed by
  // graft.streaming.DerivedStream)
  def insertAttribute(elementId: Int, name: String, kks: Option[String] = None,
      formula: Option[String] = None, backfill: Boolean = true): Int = {
    require(!elements.filter(col("element_id") === elementId).isEmpty,
      s"element $elementId does not exist")
    formula.foreach(f => Formula.validateRefs(f, attributes))
    val id = nextId(attributes, "attribute_id")
    val sess = spark
    import sess.implicits._
    val row = Seq((elementId, id, name, kks, formula))
      .toDF("element_id", "attribute_id", "name", "kks", "formula")
    writeDim("attribute", attributes.unionByName(row))
    formula.filter(_ => backfill).foreach { f =>
      appendArchive(Formula.backfill(archive, f, id))
    }
    id
  }

  // ---- M3: update attribute (derived only, reference database.py:961-1072)
  def updateAttribute(attributeId: Int, name: Option[String] = None,
      kks: Option[String] = None, formula: Option[String] = None,
      recomputeArchive: Boolean = true): Unit = {
    val attr = attributes.filter(col("attribute_id") === attributeId)
    require(!attr.isEmpty, s"attribute $attributeId does not exist")
    require(attr.head().getAs[String]("formula") != null,
      s"attribute $attributeId is not derived (reference guards on pg_proc)")
    formula.foreach(f => Formula.validateRefs(f, attributes))
    val updated = attributes.withColumn("name",
        when(col("attribute_id") === attributeId && lit(name.isDefined), lit(name.orNull))
          .otherwise(col("name")))
      .withColumn("kks",
        when(col("attribute_id") === attributeId && lit(kks.isDefined), lit(kks.orNull))
          .otherwise(col("kks")))
      .withColumn("formula",
        when(col("attribute_id") === attributeId && lit(formula.isDefined), lit(formula.orNull))
          .otherwise(col("formula")))
    writeDim("attribute", updated)
    formula.filter(_ => recomputeArchive).foreach { f =>
      rewriteArchive(archive.filter(col("attribute_id") =!= attributeId))
      appendArchive(Formula.backfill(archive, f, attributeId))
    }
  }

  // ---- M4: delete element, manual cascade (reference database.py:915-958)
  def deleteElement(elementId: Int): (Long, Long) = {
    val attrIds = attributes.filter(col("element_id") === elementId)
      .select("attribute_id")
    val nArchive = archive.join(attrIds, Seq("attribute_id"), "left_semi").count()
    val nAttrs = attrIds.count()
    rewriteArchive(archive.join(attrIds, Seq("attribute_id"), "left_anti"))
    writeDim("attribute", attributes.filter(col("element_id") =!= elementId))
    writeDim("element", elements.filter(col("element_id") =!= elementId))
    (nAttrs, nArchive)
  }

  // ---- M5: delete attribute (reference database.py:1075-1111) ------------
  def deleteAttribute(attributeId: Int): Long = {
    val n = archive.filter(col("attribute_id") === attributeId).count()
    rewriteArchive(archive.filter(col("attribute_id") =!= attributeId))
    writeDim("attribute", attributes.filter(col("attribute_id") =!= attributeId))
    n
  }

  // ---- M7: path -> id mappings (reference database.py:774-855) -----------
  def elementPathMapping: DataFrame = Hierarchy.pathIdMapping(elements)

  /** Attribute mapping in the reference's raw-path format
    * `\\SERVER\Root\Sub|Attr` (reference `populate.py:661-703`). */
  def attributePathMapping(serverPrefix: String = "\\\\AFSERVER\\"): DataFrame =
    attributes.join(broadcast(elementPathMapping
        .withColumnRenamed("element_id", "eid")), col("eid") === col("element_id"))
      .select(concat(lit(serverPrefix),
        regexp_replace(col("path"), "\\|", "\\\\"), lit("|"), col("name")).as("raw_path"),
        col("attribute_id"))

  // ---- M6: repopulate preserving archive (reference populate.py:704-735) --
  /** Reload the element/attribute dimensions from a new tree while
    * preserving archive history: ids are re-assigned, then archive
    * attribute ids are remapped via full-path equality (old path = new
    * path), and orphans (paths that vanished) are cleaned with an
    * anti-join. Derived attribute definitions survive via the same path
    * join. */
  def repopulate(newElements: DataFrame, newAttributes: DataFrame): Unit = {
    // materialize the OLD path mapping before the dims are overwritten —
    // a lazy plan would re-read the rewritten parquet
    val oldLazy = attributePathMapping().withColumnRenamed("attribute_id", "old_id")
    val oldAttrPaths = spark.createDataFrame(
      spark.sparkContext.parallelize(oldLazy.collect().toSeq, 1), oldLazy.schema)
    writeDim("element", newElements)
    writeDim("attribute", newAttributes)
    val newAttrPaths = attributePathMapping().withColumnRenamed("attribute_id", "new_id")
    val idMap = oldAttrPaths.join(newAttrPaths, Seq("raw_path"))
      .filter(col("old_id") =!= col("new_id"))
      .select("old_id", "new_id")
    val valid = newAttrPaths.select(col("new_id").as("attribute_id"))
    val remapped = Hierarchy.remapArchive(archive, idMap)
      .join(valid, Seq("attribute_id"), "left_semi") // P11 orphan cleanup
    rewriteArchive(remapped)
  }
}
