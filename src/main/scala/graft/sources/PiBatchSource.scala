package graft.sources

import java.time.{Duration, LocalDateTime}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S2 as a first-class DataSourceV2 streaming source: the reference
  * polls the PI Web API `/batch` endpoint for interpolated values on a
  * fixed 1-minute grid, one sub-request per tag webid (reference
  * `src/pi/extraction/ingest.py:91-133`). This source models that
  * contract as a `MicroBatchStream`:
  *
  *  - offset = number of grid ticks emitted (monotone long);
  *  - each micro-batch covers `[start, end)` ticks, capped by
  *    `maxTicksPerBatch` (the incremental watermark pull, T1);
  *  - each batch is planned as at most `defaultParallelism` contiguous
  *    TAG GROUPS in tag order. One group is one `/batch` POST carrying a
  *    sub-request per tag, which is what the reference sends; a
  *    partition per tag would cost a task per tag per micro-batch for a
  *    few rows each. Contiguous groups keep `monotonically_increasing_id`
  *    tag-major, tick-minor, so the arrival order behind the keep-first
  *    dedup is the same as with one partition per tag;
  *  - rows are `(lookup_key, timestamp, value)` STRINGS, exactly the
  *    raw shape [[graft.ingest.Ingest.coerceBatch]] expects.
  *
  * The PI server is unreachable in this environment, so
  * [[PiBatchPartitionReader.valueAt]] is a deterministic STUB standing
  * in for the HTTP fetch + JSON flatten; a production deployment
  * replaces that one method with the `/batch` POST. It also emits the
  * reference's dirty shapes (booleans, error dicts → garbage strings)
  * on a fixed schedule so the coercion pipeline (F8/F9) is exercised.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.PiBatchSource")
  *   .option("tags", "\\\\AF\\Plant\\U1|temp,\\\\AF\\Plant\\U1|press")
  *   .option("baseTime", "2024-01-01T00:00:00")
  *   .option("intervalSeconds", "60")
  *   .option("endTicks", "10")            // bounded stream (tests)
  *   .option("maxTicksPerBatch", "4")
  *   .load()
  * }}}
  */
class PiBatchSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PiBatchSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PiBatchTable(new CaseInsensitiveStringMap(properties))
}

object PiBatchSource {
  val schema: StructType = StructType(Seq(
    StructField("lookup_key", StringType, nullable = false),
    StructField("timestamp", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))
}

final class PiBatchTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "pi_batch_interpolated"
  override def schema(): StructType = PiBatchSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ o.asScala).asJava)
    () => new PiBatchScan(merged)
  }
}

final class PiBatchScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = PiBatchSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PiBatchMicroBatchStream(
      tags = options.get("tags").split(",").toSeq,
      baseTime = options.getOrDefault("baseTime", "2024-01-01T00:00:00"),
      intervalSeconds = options.getLong("intervalSeconds", 60L),
      endTicks = options.getLong("endTicks", Long.MaxValue),
      maxTicksPerBatch = options.getLong("maxTicksPerBatch", 60L),
      maxPartitions = SparkSession.active.sparkContext.defaultParallelism)
}

/** Offset = count of grid ticks fully emitted. */
final case class TickOffset(ticks: Long) extends Offset {
  override def json(): String = ticks.toString
}

final class PiBatchMicroBatchStream(
    tags: Seq[String], baseTime: String, intervalSeconds: Long,
    endTicks: Long, maxTicksPerBatch: Long, maxPartitions: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow drains everything up to the prepare-time end
    * in maxTicksPerBatch-sized micro-batches. The end is already fixed
    * (endTicks), so there is nothing to snapshot here. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def initialOffset(): Offset = TickOffset(0L)
  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The incremental pull (T1): advance up to maxTicksPerBatch past the
    * committed start, never beyond the configured end of stream.
    * Admission-control variant — the engine passes the checkpointed
    * start offset, so restarts resume correctly. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    TickOffset(math.min(start.asInstanceOf[TickOffset].ticks + maxTicksPerBatch, endTicks))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control source: latestOffset(start, limit) is used")
  override def reportLatestOffset(): Offset = TickOffset(endTicks)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].ticks
    val e = end.asInstanceOf[TickOffset].ticks
    val perTag = tags.map(PiBatchPartition(_, s, e, baseTime, intervalSeconds))
    // contiguous groups whose sizes differ by at most one, in tag order
    val n = math.max(1, math.min(perTag.size, maxPartitions))
    (0 until n).map { i =>
      PiBatchGroupPartition(perTag.slice(i * perTag.size / n, (i + 1) * perTag.size / n)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) =>
      new PiBatchGroupReader(partition.asInstanceOf[PiBatchGroupPartition])
}

/** One tag's sub-request of a `/batch` POST. */
final case class PiBatchPartition(tag: String, startTick: Long, endTick: Long,
    baseTime: String, intervalSeconds: Long) extends InputPartition

/** One `/batch` POST: a contiguous run of tags, read tag after tag. */
final case class PiBatchGroupPartition(tags: Seq[PiBatchPartition]) extends InputPartition

final class PiBatchGroupReader(g: PiBatchGroupPartition) extends PartitionReader[InternalRow] {
  private val pending = g.tags.iterator
  private var cur: PiBatchPartitionReader = null

  @scala.annotation.tailrec
  override def next(): Boolean =
    if (cur != null && cur.next()) true
    else if (pending.hasNext) { close(); cur = new PiBatchPartitionReader(pending.next()); next() }
    else false
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

final class PiBatchPartitionReader(p: PiBatchPartition)
    extends PartitionReader[InternalRow] {
  private var tick = p.startTick - 1
  private val base = LocalDateTime.parse(p.baseTime)
  // explicit format: LocalDateTime.toString drops ":00" seconds
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** STUB for the PI `/batch` fetch: deterministic value per (tag, tick),
    * with the reference's dirty shapes on a fixed schedule — every 13th
    * point a boolean, every 17th an error-dict-ish garbage string
    * (PI returns dicts for bad points, reference `ingest.py:118-119`). */
  private def valueAt(tick: Long): String = {
    val h = (p.tag.hashCode.toLong & 0xffffL) % 100
    if (tick % 17 == 0 && tick > 0) "{\"Errors\": [\"point failed\"]}"
    else if (tick % 13 == 0 && tick > 0) (if (tick % 2 == 0) "true" else "false")
    else s"${h + (tick % 60) * 0.5}"
  }

  override def next(): Boolean = { tick += 1; tick < p.endTick }
  override def get(): InternalRow = {
    val ts = base.plus(Duration.ofSeconds(tick * p.intervalSeconds))
    InternalRow(
      UTF8String.fromString(p.tag),
      UTF8String.fromString(fmt.format(ts)),
      UTF8String.fromString(valueAt(tick)))
  }
  override def close(): Unit = ()
}
