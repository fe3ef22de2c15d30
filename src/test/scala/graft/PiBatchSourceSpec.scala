package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.Ingest
import graft.sources.{PiBatchPartition, PiBatchPartitionReader}

class PiBatchSourceSpec extends SparkSpec {

  private val tagTemp = "\\\\AF\\Plant\\U1|temp"
  private val tagPress = "\\\\AF\\Plant\\U1|press"

  private def readPi(endTicks: Long, maxPerBatch: Long, tags: Seq[String] = Seq(tagTemp, tagPress)) =
    spark.readStream.format("graft.sources.PiBatchSource")
      .option("tags", tags.mkString(","))
      .option("baseTime", "2024-01-01T00:00:00")
      .option("intervalSeconds", "60")
      .option("endTicks", endTicks.toString)
      .option("maxTicksPerBatch", maxPerBatch.toString)
      .load()

  test("emits the interpolation grid per tag with the reference's dirty shapes") {
    val dir = Files.createTempDirectory("graft_pi1").toString
    val q = readPi(endTicks = 20, maxPerBatch = 100)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 40) // 2 tags x 20 ticks
    // 1-minute grid from baseTime
    val times = out.filter(col("lookup_key") === tagTemp)
      .select("timestamp").collect().map(_.getString(0)).sorted
    assert(times.head === "2024-01-01T00:00:00" && times.last === "2024-01-01T00:19:00")
    // dirty schedule: tick 13 -> boolean, tick 17 -> PI error-dict garbage
    val byTick = out.filter(col("lookup_key") === tagTemp).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(byTick("2024-01-01T00:13:00") === "false")
    assert(byTick("2024-01-01T00:17:00").startsWith("{\"Errors\""))
  }

  test("T1 restart resume: checkpointed offsets continue, no re-emission") {
    val dir = Files.createTempDirectory("graft_pi2").toString
    def run(endTicks: Long): Unit = {
      val q = readPi(endTicks, maxPerBatch = 2)
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run(endTicks = 4)
    assert(spark.read.parquet(s"$dir/out").count() === 8) // 2 tags x 4 ticks
    run(endTicks = 8) // stream "grew": only ticks 4..7 are new
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 16)
    assert(out.select("lookup_key", "timestamp").distinct().count() === 16) // no dups
  }

  test("ProcessingTime trigger: admission control paces maxTicksPerBatch per batch") {
    val dir = Files.createTempDirectory("graft_pi4").toString
    val q = readPi(endTicks = 12, maxPerBatch = 3)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0L)) // continuous polling path
      .start()
    try {
      // the live-stream path: the engine repeatedly calls
      // latestOffset(start, limit) (SupportsAdmissionControl) instead of
      // AvailableNow's prepared end; processAllAvailable drains to endTicks
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() === 24) // 2 tags x 12 ticks
      assert(out.select("lookup_key", "timestamp").distinct().count() === 24)
      // paced: 12 ticks at 3/batch needs >= 4 committed micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }

  test("feeds the coercion pipeline end-to-end (booleans, garbage, mapping)") {
    val dir = Files.createTempDirectory("graft_pi3").toString
    val q = readPi(endTicks = 20, maxPerBatch = 100)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sess = spark
    import sess.implicits._
    val mapping = Seq((tagTemp, 1)).toDF("lookup_key", "attribute_id") // press unmapped
    val coerced = Ingest.coerceBatch(spark.read.parquet(s"$dir/out"), mapping)
    assert(coerced.select("attribute_id").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(1)) // unmapped tag dropped (P8)
    val byTs = coerced.collect().map(r => r.get(1).toString -> r).toMap
    // +7h shift applied; boolean tick 13 -> 0.0 ("false"); garbage tick 17 -> null
    assert(byTs.keys.forall(_.startsWith("2024-01-01T07")))
    assert(byTs("2024-01-01T07:13").getDouble(2) === 0.0)
    assert(byTs("2024-01-01T07:17").isNullAt(2))
  }

  /** Runs `f` on every micro-batch of a drained stream over `tags`. */
  private def eachBatch(tags: Seq[String], endTicks: Long, maxPerBatch: Long)(
      f: DataFrame => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_pi_groups").toString
    val q = readPi(endTicks, maxPerBatch, tags)
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => f(b) }
      .start()
    q.awaitTermination(120000)
    q.exception.foreach(e => throw e)
  }

  /** What one partition per tag emitted: the tag's own reader. */
  private def perTagRows(tag: String, start: Long, end: Long): Seq[(String, String, String)] = {
    val r = new PiBatchPartitionReader(PiBatchPartition(tag, start, end, "2024-01-01T00:00:00", 60L))
    Iterator.continually(r).takeWhile(_.next()).map { it =>
      val row = it.get()
      (row.getUTF8String(0).toString, row.getUTF8String(1).toString, row.getUTF8String(2).toString)
    }.toList
  }

  test("plans at most defaultParallelism tag groups and emits the per-tag rows in tag order") {
    val tags = (0 until 80).map(i => s"\\\\AF\\Plant\\U${i / 20}|a$i")
    val seen = mutable.ArrayBuffer.empty[(Int, Seq[(String, String, String)])]
    eachBatch(tags, endTicks = 6, maxPerBatch = 3) { b =>
      seen += ((b.rdd.getNumPartitions,
        b.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq))
    }
    val parallelism = spark.sparkContext.defaultParallelism
    assert(seen.map(_._1).toSeq === Seq.fill(2)(math.min(80, parallelism)))
    // collect() concatenates partitions in order: tag-major, tick-minor,
    // exactly what one partition per tag gave
    assert(seen(0)._2 === tags.flatMap(perTagRows(_, 0, 3)))
    assert(seen(1)._2 === tags.flatMap(perTagRows(_, 3, 6)))
  }

  test("keep-first dedup keeps the earlier tag within one tag group and across two") {
    val parallelism = spark.sparkContext.defaultParallelism
    assume(parallelism >= 3, "needs three tag groups")
    // 2 tags per group: groups are (0,1), (2,3), (4,5), ...
    val tags = (0 until 2 * parallelism).map(i => s"\\\\AF\\Plant\\U1|k${2 * parallelism - i}")
    def h(tag: String) = (tag.hashCode.toLong & 0xffffL) % 100
    // the earlier tag carries the larger value, so keep-min would fail
    assert(h(tags(0)) > h(tags(1)) && h(tags(3)) > h(tags(4)))
    val sess = spark
    import sess.implicits._
    // tags 0 and 1 share a group; tags 3 and 4 straddle two groups
    val mapping = Seq(tags(0) -> 1, tags(1) -> 1, tags(3) -> 2, tags(4) -> 2)
      .toDF("lookup_key", "attribute_id")
    var groupOf = Map.empty[String, Int]
    var kept = Map.empty[(Int, String), Double]
    eachBatch(tags, endTicks = 4, maxPerBatch = 4) { b =>
      groupOf = b.select(col("lookup_key"), spark_partition_id()).distinct().collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      kept = Ingest.coerceBatch(b, mapping).collect()
        .map(r => (r.getInt(0), r.get(1).toString) -> r.getDouble(2)).toMap
    }
    assert(groupOf(tags(0)) === groupOf(tags(1)))
    assert(groupOf(tags(3)) !== groupOf(tags(4)))
    assert(kept.size === 8) // 2 attributes x 4 ticks
    // ticks 0..3 are clean points: value = h(tag) + tick * 0.5
    for (t <- 0 until 4) {
      val at = s"2024-01-01T07:0$t" // LocalDateTime.toString drops ":00"
      assert(kept((1, at)) === h(tags(0)) + t * 0.5)
      assert(kept((2, at)) === h(tags(3)) + t * 0.5)
    }
  }
}
