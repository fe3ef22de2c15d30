package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

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

  /** Last-write-wins upsert on (attribute_id, timestamp), touching only
    * the date partitions present in `recomputed`. `localCheckpoint` breaks
    * the read lineage so the overwrite may target the same path it read.
    * The rewritten rows are hash-partitioned by date first, so each
    * rewritten date is one file whatever the inputs' partitioning. */
  def upsert(spark: SparkSession, path: String, recomputed: DataFrame): Unit = {
    val rec = normalized(recomputed)
    if (!exists(path)) { append(rec, path); return }
    val recMat = rec.localCheckpoint()
    try {
      if (recMat.isEmpty) return // nothing to upsert; avoid a no-partition overwrite job
      val touchedDates = recMat.select(to_date(col("timestamp")).as("p_date")).distinct()
      val keep = spark.read.parquet(path)
        .join(broadcast(touchedDates), Seq("p_date"), "left_semi")
        .join(recMat.select("attribute_id", "timestamp"),
          Seq("attribute_id", "timestamp"), "left_anti")
        .select(cols.map(col): _*)
      val out = keep.unionByName(recMat)
        .repartition(to_date(col("timestamp")))
        .localCheckpoint()
      try overwriteDates(out, path) finally release(out)
    } finally release(recMat)
  }
}
