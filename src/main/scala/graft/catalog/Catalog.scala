package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *
  * Snapshots: [[elements]] and [[attributes]] are served from one
  * immutable in-memory snapshot per table: the table directory's
  * [[ArchiveStore.listing]] and the table's rows as a `LocalRelation`.
  * Filters, projections and sorts over a snapshot plan to a
  * `LocalTableScan` and run no Spark job. Each read lists the directory
  * and reloads the rows only when the listing changed, so a write made
  * outside this catalog is seen on the next read. This catalog's own
  * dimension writes install the rows they wrote as the new snapshot and
  * never re-read their table. A snapshot is replaced whole, so a
  * concurrent reader sees the old table or the new one, never a mix.
  *
  * Single writer: one `Catalog` per namespace writes its dimension
  * tables. If another writer commits between this catalog's write and
  * its listing of the result, this catalog serves its own rows until
  * the listing next changes.
  */
final class Catalog(val spark: SparkSession, root: String, val database: String) {

  private def path(table: String) = s"$root/$database/$table"
  private def exists(table: String) = ArchiveStore.exists(path(table))

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** One dimension table's snapshot; `empty` is the schema served while
    * no table is committed. */
  private final class Dim(val table: String, empty: StructType) {
    @volatile private var snapshot: Option[Catalog.Snapshot] = None

    def frame: DataFrame = {
      val seen = ArchiveStore.listing(path(table))
      snapshot.filter(_.listing == seen).fold {
        val rows = seen.fold(local(Nil, empty)) { _ =>
          val stored = spark.read.parquet(path(table))
          local(stored.collect().toSeq, stored.schema)
        }
        snapshot = Some(Catalog.Snapshot(seen, rows))
        rows
      }(_.frame)
    }

    /** Installs the rows this catalog just wrote. A parquet read returns
      * every column as nullable, so the snapshot's schema does too. */
    def install(rows: Seq[Row], schema: StructType): Unit = {
      val read = StructType(schema.fields.map(_.copy(nullable = true)))
      snapshot = Some(Catalog.Snapshot(ArchiveStore.listing(path(table)), local(rows, read)))
    }
  }

  private val elementDim = new Dim("element", Schemas.element)
  private val attributeDim = new Dim("attribute", Schemas.attribute)

  def elements: DataFrame = elementDim.frame

  def attributes: DataFrame = attributeDim.frame

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
    * read-overwrite cycle safely, and the collected rows become the
    * table's new snapshot. Single-writer by contract. */
  private def writeDim(dim: Dim, df: DataFrame): Unit = {
    val rows = df.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
      .write.mode(SaveMode.Overwrite).parquet(path(dim.table))
    dim.install(rows, df.schema)
  }

  /** Writes are date-partitioned (`p_date`, [[ArchiveStore]]): appends
    * land in their date directories, time-ranged reads prune to them, and
    * upserts are partition-scoped overwrites. */
  def appendArchive(rows: DataFrame): Unit =
    ArchiveStore.append(rows, path("archive"))

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
    writeDim(elementDim, elements.unionByName(row))
    id
  }

  // ---- M2: insert attribute + derived backfill ---------------------------
  // (reference database.py:494-536: formula -> validate refs, backfill,
  // register trigger; our "trigger" is the formula column consumed by
  // graft.streaming.DerivedStream)
  def insertAttribute(elementId: Int, name: String, kks: Option[String] = None,
      formula: Option[String] = None): Int = {
    require(!elements.filter(col("element_id") === elementId).isEmpty,
      s"element $elementId does not exist")
    formula.foreach(f => Formula.validateRefs(f, attributes))
    val id = nextId(attributes, "attribute_id")
    val sess = spark
    import sess.implicits._
    val row = Seq((elementId, id, name, kks, formula))
      .toDF("element_id", "attribute_id", "name", "kks", "formula")
    writeDim(attributeDim, attributes.unionByName(row))
    formula.foreach { f =>
      appendArchive(Formula.backfill(archive, f, id))
    }
    id
  }

  // ---- M3: update attribute (derived only, reference database.py:961-1072)
  def updateAttribute(attributeId: Int, name: Option[String] = None,
      kks: Option[String] = None, formula: Option[String] = None): Unit = {
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
    writeDim(attributeDim, updated)
    formula.foreach { f =>
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
    writeDim(attributeDim, attributes.filter(col("element_id") =!= elementId))
    writeDim(elementDim, elements.filter(col("element_id") =!= elementId))
    (nAttrs, nArchive)
  }

  // ---- M5: delete attribute (reference database.py:1075-1111) ------------
  def deleteAttribute(attributeId: Int): Long = {
    val n = archive.filter(col("attribute_id") === attributeId).count()
    rewriteArchive(archive.filter(col("attribute_id") =!= attributeId))
    writeDim(attributeDim, attributes.filter(col("attribute_id") =!= attributeId))
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
    // the OLD path mapping is planned over the old snapshots' rows, so
    // it still reads the old dimensions after the writes below
    val oldAttrPaths = attributePathMapping().withColumnRenamed("attribute_id", "old_id")
    writeDim(elementDim, newElements)
    writeDim(attributeDim, newAttributes)
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

private object Catalog {
  /** A dimension table's rows as of one [[ArchiveStore.listing]]. */
  final case class Snapshot(listing: Option[Seq[(String, Long, Long)]], frame: DataFrame)
}
