package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.streaming.DerivedStream
import graft.streaming.DerivedStream.DerivedDef

/** Date-partitioned parquet layout for the tall archive, shared by the
  * batch [[Catalog]] and the streaming sink
  * ([[graft.streaming.DerivedStream.start]]).
  *
  * Physical layout: `p_date = date(timestamp)` directories. Appends land
  * in their date partitions; upserts are last-write-wins on
  * (attribute_id, timestamp) and rewrite ONLY the date partitions the new
  * rows touch (dynamic partition overwrite) — the reference's
  * `ON CONFLICT DO UPDATE` (reference `database/database.py:626-631`)
  * re-expressed so that on a 100 TB archive a late batch rewrites a day,
  * not the table.
  */
object ArchiveStore {

  /** Archive columns in contract order (readers drop the physical
    * partition column). */
  val cols: Seq[String] = Seq("attribute_id", "timestamp", "value")

  /** Hadoop FileSystem for `path`, so every probe and directory sweep in
    * this store works identically on local disk, HDFS, or an object
    * store (same discipline as [[graft.api.GraftApi.cleanupExports]]). */
  private def hadoopFs(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = hadoopFs(path)
    fs.exists(new HPath(p, "_SUCCESS"))
  }

  /** Logical-schema read (partition column dropped); empty frame with the
    * batch's own types when nothing has been written yet. */
  def readOr(spark: SparkSession, path: String, empty: => DataFrame): DataFrame =
    if (exists(path)) spark.read.parquet(path).select(cols.map(col): _*)
    else empty

  /** Moves the directory `from` onto `to`, deleting whatever `to` held:
    * the swap step of a whole-archive rewrite. */
  private[catalog] def replace(from: String, to: String): Unit = {
    val (fs, dst) = hadoopFs(to)
    if (fs.exists(dst) && !fs.delete(dst, true))
      throw new java.io.IOException(s"cannot delete $to")
    if (!fs.rename(new HPath(from), dst))
      throw new java.io.IOException(s"cannot move $from to $to")
  }

  private def normalized(df: DataFrame): DataFrame =
    df.select(col("attribute_id").cast("int"), col("timestamp"),
      col("value").cast("double"))

  private def writer(df: DataFrame) =
    normalized(df)
      .withColumn("p_date", to_date(col("timestamp")))
      .write.partitionBy("p_date")

  def write(df: DataFrame, mode: SaveMode, target: String): Unit =
    writer(df).mode(mode).parquet(target)

  def append(df: DataFrame, path: String): Unit = write(df, SaveMode.Append, path)

  /** Dynamic partition overwrite, set on this write only: the date
    * partitions `df` holds are replaced and every other date is kept.
    * A session-wide setting would race with concurrent per-site streams
    * sharing the session, and a static overwrite deletes every date. */
  private def overwriteDates(df: DataFrame, path: String): Unit =
    writer(df).mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic").parquet(path)

  /** Drops a `localCheckpoint`ed frame's blocks now. `Dataset.unpersist`
    * only touches the cache manager, so without this the blocks stay in
    * executor storage until a GC lets the ContextCleaner find them. */
  private[graft] def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Small-file compaction for appended data: every append leaves its own
    * file(s) in each date it touches, and over days that degrades scans
    * (task per tiny file, footer overhead). Upserts already write each
    * rewritten date as one file. Rewrites each listed date
    * partition — or every partition with more than `maxFilesPerDate`
    * files when none are listed — into `targetFiles` file(s) via a
    * dynamic partition overwrite. Pure layout maintenance: rows are
    * unchanged, and untouched partitions keep their files byte-for-byte
    * (same guarantee the upsert relies on). Run it as the maintenance
    * job between ingest windows. */
  def compact(spark: SparkSession, path: String, dates: Seq[String] = Nil,
      maxFilesPerDate: Int = 4, targetFiles: Int = 1): Unit = {
    if (!exists(path)) return
    val toCompact: Seq[String] =
      if (dates.nonEmpty) dates
      else {
        val (fs, root) = hadoopFs(path)
        fs.listStatus(root).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_date="))
          .filter(st => fs.listStatus(st.getPath)
            .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerDate)
          .map(_.getPath.getName.stripPrefix("p_date="))
      }
    if (toCompact.isEmpty) return
    val rows = spark.read.parquet(path)
      .filter(col("p_date").isin(toCompact: _*))
      .select(cols.map(col): _*)
      .repartition(targetFiles, col("timestamp")) // timestamp-clustered files
      .localCheckpoint() // break lineage: overwrite targets the read path
    try overwriteDates(rows, path) finally release(rows)
  }

  /** Last-write-wins upsert on (attribute_id, timestamp) that also
    * recomputes `derived` where `rows` touched their refs, as ONE
    * date-clustered plan. `rows` is read twice, so pass a materialized
    * frame:
    *  1. its dates are collected, and the archive is read with a static
    *     `p_date IN (...)` filter, so only the touched days are scanned;
    *  2. those rows and `rows` merge under [[DerivedStream.merge]]:
    *     hash-partitioned by date — the plan's one shuffle — last write
    *     wins, then every formula in one aggregate, whose rows win too;
    *  3. a `localCheckpoint` breaks the read lineage, and a dynamic
    *     partition overwrite replaces the touched days, one file each.
    * Untouched days keep their files byte for byte. Into a fresh archive
    * with no formulas, `rows` is appended as given (the bulk load); an
    * empty load leaves the archive fresh. */
  def upsert(spark: SparkSession, path: String, rows: DataFrame,
      derived: Seq[DerivedDef] = Nil): Unit = {
    val rec = normalized(rows)
    val fresh = !exists(path)
    if (fresh && derived.isEmpty) {
      append(rec, path)
      // no rows, no date partition: drop the marker, or `exists` holds
      // for a directory no reader can infer a schema from
      val (fs, root) = hadoopFs(path)
      if (!fs.listStatus(root).exists(_.getPath.getName.startsWith("p_date=")))
        fs.delete(new HPath(root, "_SUCCESS"), false)
      return
    }
    val dates = rec.select(to_date(col("timestamp"))).distinct().collect().toSeq.map(_.get(0))
    if (dates.isEmpty) return // nothing to upsert; avoid a no-partition overwrite job
    val archived =
      if (fresh) None else Some(spark.read.parquet(path).filter(col("p_date").isin(dates: _*)))
    val out = DerivedStream.merge(archived, rec, derived)
      .select(cols.map(col): _*)
      .localCheckpoint()
    try if (fresh) append(out, path) else overwriteDates(out, path)
    finally release(out)
  }
}
