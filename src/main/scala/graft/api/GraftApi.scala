package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.ops.Relational
import graft.tree.Hierarchy

/** Engine facade mirroring the reference's HTTP API surface — the 16
  * routes of `database/web_app.py:47-488` plus the vestigial generic
  * table export of `database/routes.py:32-96` (whose backing functions
  * never existed in the reference; the intended semantics come from
  * `database/templates/export.html:24-76`). The HTTP layer itself is a
  * serving concern; each method here returns the DataFrame/result the
  * route would serialize.
  */
final class GraftApi(spark: SparkSession, root: String) {

  private val catalogs = new java.util.concurrent.ConcurrentHashMap[String, Catalog]()

  /** One [[Catalog]] per namespace for this API's lifetime, so its
    * dimension snapshots serve every call instead of one. */
  def catalog(database: String): Catalog =
    catalogs.computeIfAbsent(database, new Catalog(spark, root, _))

  // GET /api/databases (web_app.py:57-67): config sections -> namespaces.
  // Hadoop FS, not java.io.File: the namespace root may live on HDFS/S3,
  // where a local-File walk would silently return an empty catalog (the
  // same defect class ArchiveStore was cured of — its hadoopFs pattern).
  def databases(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  // GET /api/elements/<db> (web_app.py:70-84): leaf elements, name-sorted
  // (reference-P6 semantics, database.py:92-97)
  def leafElements(db: String): DataFrame =
    Hierarchy.leavesReferenceSemantics(catalog(db).elements).orderBy("name")

  // GET /api/elements/all/<db> (web_app.py:225-239): full hierarchy listing
  def allElements(db: String): DataFrame =
    catalog(db).elements.orderBy("level", "element_id")

  // GET /api/attributes/<db>/<element_id> (web_app.py:87-112): one
  // element's attributes + archive time range (database.py:335-354,435-450)
  def elementAttributes(db: String, elementId: Int): DataFrame =
    catalog(db).attributes.filter(col("element_id") === elementId).orderBy("name")

  def attributeTimeRange(db: String, attributeIds: Seq[Int]): DataFrame =
    catalog(db).archive.filter(col("attribute_id").isin(attributeIds: _*))
      .agg(min("timestamp").as("min_ts"), max("timestamp").as("max_ts"))

  // GET /api/attributes/all/<db> (web_app.py:242-257): attributes joined
  // with their element (J1, database.py:288-306)
  def allAttributes(db: String): DataFrame = {
    val c = catalog(db)
    c.attributes.join(broadcast(c.elements.select(col("element_id"),
        col("name").as("element_name"))), Seq("element_id"))
      .orderBy("element_name", "name")
  }

  // POST /api/download (web_app.py:115-186): THE export query (§3.1).
  // Multi-element export groups by (element_name, timestamp) — the
  // intended semantics, not the reference's arbitrary-label bug (§2.8 V2).
  def export(db: String, elementIds: Seq[Int],
      start: Option[String], end: Option[String]): DataFrame = {
    val c = catalog(db)
    val elements = c.elements
    val attributes = c.attributes.filter(col("element_id").isin(elementIds: _*))
    val attrs = attributes
      .join(broadcast(elements.select(col("element_id"), col("name").as("element_name"))),
        Seq("element_id"))
      .select(col("attribute_id"), col("name").as("attribute_name"), col("element_name"))
    // the pivot schema: names of the selected attributes whose element
    // exists, read through filters and projections only, which fold
    // into the snapshots' local rows, so these collects run no job
    val present = elements.filter(col("element_id").isin(elementIds: _*))
      .select("element_id").collect().map(_.get(0))
    val attrNames = attributes.filter(col("element_id").isin(present: _*))
      .select("name").collect().map(_.getString(0))
      .distinct.sorted // deterministic pivot schema (§7.4-1)
    val scan = c.archiveRange(start, end) // partition-pruned time range
      .join(broadcast(attrs), Seq("attribute_id"))
    val keys = if (elementIds.sizeIs > 1) Seq("element_name", "timestamp") else Seq("timestamp")
    Relational.pivotWide(scan, keys, "attribute_name", attrNames, "value",
        cellAgg = c => first(c, ignoreNulls = true))
      .orderBy(keys.map(col): _*)
  }

  /** Export sinks (S5/S6): CSV/parquet with the reference's timestamped
    * naming (`web_app.py:167-175`).
    *
    * CSV and JSONL mirror the reference's one-file download contract
    * — the write funnels through one task (`coalesce(1)`). A bulk
    * export at scale streams through [[streamExportCsv]] instead. */
  def writeExport(df: DataFrame, outDir: String, baseName: String,
      format: String): String = {
    val fname = s"$outDir/$baseName.$format"
    format match {
      case "csv" =>
        df.coalesce(1).write.option("header", "true").mode("overwrite").csv(fname)
      case "parquet" => df.write.mode("overwrite").parquet(fname)
      // JSONL — the training-pipeline interchange format: one JSON
      // object per line, rendered by `to_json` (the same executor-side
      // rendering contract as streamExportCsv)
      case "jsonl" =>
        df.coalesce(1)
          .select(to_json(struct(df.columns.map(col): _*)).as("value"))
          .write.mode("overwrite").text(fname)
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }
    fname
  }

  // POST /api/lookup (web_app.py:423-488): exact when no wildcard,
  // ILIKE pattern otherwise (database.py:218-306)
  def lookup(db: String, kind: String, name: String): DataFrame = {
    val c = catalog(db)
    val (df, nameCol) = kind match {
      case "element" => (c.elements, "name")
      case "attribute" => (allAttributes(db), "name")
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }
    if (name.contains("%")) Relational.ilike(df, nameCol, name).orderBy(nameCol)
    else df.filter(col(nameCol) === name)
  }

  /** Typo-tolerant variant of [[lookup]]: catalog entries within
    * `maxDist` case-insensitive edit distance of the query, nearest
    * first — the search behavior a misremembered tag needs, which the
    * exact/ILIKE grammar can't express. */
  def fuzzyLookup(db: String, kind: String, name: String, maxDist: Int = 2): DataFrame = {
    val (df, nameCol) = kind match {
      case "element" => (catalog(db).elements, "name")
      case "attribute" => (allAttributes(db), "name")
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }
    Relational.fuzzyLookup(df, nameCol, name, maxDist)
  }

  // POST /api/element/insert, /api/attribute/insert, deletes, update
  // (web_app.py:260-313, 335-420) — thin passthroughs to the catalog DML
  def insertElement(db: String, name: String, level: Int, parentId: Option[Int]): Int =
    catalog(db).insertElement(name, level, parentId)
  def insertAttribute(db: String, elementId: Int, name: String,
      kks: Option[String], formula: Option[String]): Int =
    catalog(db).insertAttribute(elementId, name, kks, formula)
  def deleteElement(db: String, id: Int): (Long, Long) = catalog(db).deleteElement(id)
  def deleteAttribute(db: String, id: Int): Long = catalog(db).deleteAttribute(id)
  def updateAttribute(db: String, id: Int, name: Option[String],
      kks: Option[String], formula: Option[String]): Unit =
    catalog(db).updateAttribute(id, name, kks, formula)

  // POST /api/update-cache/<db> (web_app.py:316-332): rebuild path->id
  // mapping artifacts (M7)
  def updateCacheMappings(db: String): (DataFrame, DataFrame) =
    (catalog(db).elementPathMapping, catalog(db).attributePathMapping())

  // routes.py /export (routes.py:32-96 + export.html:24-76): generic
  // table export with none | BETWEEN time-range | exact-match filters
  def exportTable(db: String, table: String,
      filterCol: Option[String] = None,
      between: Option[(String, String)] = None,
      exact: Option[String] = None): DataFrame = {
    val c = catalog(db)
    val df = table match {
      case "element" => c.elements
      case "attribute" => c.attributes
      case "archive" => c.archive
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
    (filterCol, between, exact) match {
      case (Some(fc), Some((lo, hi)), _) =>
        val t = df.schema(fc).dataType
        df.filter(col(fc).between(lit(lo).cast(t), lit(hi).cast(t)))
      case (Some(fc), _, Some(v)) =>
        df.filter(col(fc) === lit(v).cast(df.schema(fc).dataType))
      case _ => df
    }
  }

  /** GET /export chunked CSV serving (S8, `routes.py:74-96`): the
    * reference yields the header line, then one CSV line per row from a
    * generator, never materializing the result. Spark equivalent:
    * rows are rendered to CSV text ON THE EXECUTORS by `to_csv` (the
    * same univocity formatter the file sink uses, so the bytes match
    * [[writeExport]]), and `toLocalIterator` pulls ONE partition at a
    * time — driver memory stays bounded by a single partition however
    * large the export. The HTTP layer wraps this iterator in a chunked
    * response. */
  def streamExportCsv(df: DataFrame): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // Header rendered through the SAME univocity formatter as the rows:
    // to_csv over a one-row driver-local relation (LocalTableScan — no
    // job, never touches df's data), so a column name containing a
    // delimiter/quote/newline is escaped byte-identically to the
    // writeExport file sink's header line.
    val hdrSchema = StructType(
      df.columns.indices.map(i => StructField(s"c$i", StringType)).toArray)
    val header = spark.createDataFrame(
        java.util.Collections.singletonList(Row.fromSeq(df.columns.toIndexedSeq)),
        hdrSchema)
      .select(to_csv(struct(col("*"))).as("__h")).head().getString(0)
    // struct(col("*")) packs every column positionally WITHOUT re-parsing
    // names — a pivoted attribute named "a.b" would otherwise be read as
    // a nested-field path and fail resolution
    val rendered = df.select(to_csv(struct(col("*"))).as("__line"))
    // Iterator.++ takes its operand by name: no Spark job runs until the
    // consumer advances past the header line
    Iterator.single(header) ++ rendered.toLocalIterator().asScala.map(_.getString(0))
  }

  /** POST /api/cleanup (S10 retention + F12 cutoff, `web_app.py:207-222`):
    * delete export artifacts older than `maxAgeHours` matching the
    * reference's `pi_data_*` naming; returns the deleted count. Runs
    * through the Hadoop FileSystem so the same sweep works on local
    * disk, HDFS, or an object store. `nowMillis` is injectable for
    * deterministic tests. */
  def cleanupExports(outDir: String, maxAgeHours: Int = 24,
      glob: String = "pi_data_*",
      nowMillis: Long = System.currentTimeMillis()): Int = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else {
      val cutoff = nowMillis - maxAgeHours.toLong * 3600L * 1000L
      val matches = fs.globStatus(new Path(dir, glob))
      if (matches == null) 0
      else matches.count(st => st.getModificationTime < cutoff &&
        fs.delete(st.getPath, true)) // exports are directories (writeExport)
    }
  }
}
