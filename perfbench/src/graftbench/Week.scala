package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A week of archive for every tag, written in one call of
  * [[graft.catalog.ArchiveStore.upsert]], the call ingest uses. */
final class Week(spark: SparkSession, val plant: Plant, val root: String,
    val archive: String, val firstDay: LocalDateTime) {
  val db = "plant"
  val lastMinute: LocalDateTime = firstDay.plusDays(Week.days).minusMinutes(1)

  /** (count, sum) of non-null values per (attribute_id, hour), read
    * straight from the archive's files: the reference every export
    * check compares against. */
  lazy val hourly: Map[(Int, Long), (Long, Double)] =
    spark.read.parquet(archive)
      .groupBy(col("attribute_id"),
        (unix_timestamp(col("timestamp").cast("timestamp")) / 3600).cast("long").as("h"))
      .agg(count(col("value")), coalesce(sum(col("value")), lit(0.0)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap

  /** Whether a rendered CSV export of `attrIds` over the whole hours
    * `[from, to]` holds exactly the archive's non-null values: the same
    * cell count and value sum. The first `keyCols` columns are keys. */
  def csvMatches(lines: Seq[String], keyCols: Int, attrIds: Seq[Int],
      from: LocalDateTime, to: LocalDateTime): Boolean = {
    val values = lines.drop(1).flatMap(_.split(",", -1).drop(keyCols).filter(_.nonEmpty).map(_.toDouble))
    val h0 = from.toEpochSecond(ZoneOffset.UTC) / 3600
    val h1 = to.toEpochSecond(ZoneOffset.UTC) / 3600
    val want = for (a <- attrIds; h <- h0 to h1; c <- hourly.get((a, h))) yield c
    val (cells, total) = (want.map(_._1).sum, want.map(_._2).sum)
    val ok = values.size == cells && math.abs(values.sum - total) <= 1e-9 * math.max(1.0, math.abs(total))
    if (!ok) System.err.println(
      s"export check failed: want ($cells, $total), got (${values.size}, ${values.sum})")
    ok
  }
}

object Week {
  val days = 7
  val size: Plant.Size = IngestStream.size

  def build(ctx: Ctx, name: String): Week = {
    val spark = ctx.spark
    val root = ctx.dir(name)
    val plant = Plant.generate(ctx.opts.seed, size)
    Plant.writeCatalog(spark, plant, root, "plant")
    val first = Plant.lastDay(ctx.opts.seed).atStartOfDay.minusDays(days - 1L)
    val archive = s"$root/plant/archive"
    Plant.upsertArchive(spark, plant, archive, first, days * 1440)
    new Week(spark, plant, root, archive, first)
  }
}
