package graftbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.catalog.ArchiveStore
import graft.formula.Formula
import graft.ingest.Ingest
import graft.sources.{PiBatchPartition, PiBatchPartitionReader, PiBatchSource}
import graft.streaming.DerivedStream

/** `ingest_stream`: the write path. A fixed backlog of ticks drains
  * through [[DerivedStream.start]] over [[PiBatchSource]] with
  * `Trigger.AvailableNow` in 10-tick micro-batches, then a recovery
  * re-pull of a window inside the one just archived runs the
  * last-write-wins replace path. Rounds repeat until the run's time is
  * up. The current day already holds six hours of archive, so each
  * upsert rewrites a realistic day partition. One operation is one
  * micro-batch. */
object IngestStream {
  val size: Plant.Size = Plant.Size(units = 2, systemsPerUnit = 2, equipmentPerSystem = 5,
    attrsPerEquipment = 4, formulas = 2)
  val ticksPerBatch = 10
  val drainTicks = 20
  val repullTicks = 10
  /** The re-pull starts this many ticks into the drain. The stub source's
    * values follow the tick index from the pull's start, so every key
    * comes back with another value and a wrong winner shows. */
  val repullOffsetTicks = 5
  val preseedMinutes = 360
  val setupReps = 3
  /** Micro-batches pulled before timing starts. A JVM's first micro-batch
    * takes about twice as long as a warm one (class loading, C1
    * compiles, code generation), and by how much varied with host load
    * more than any warm batch did. */
  val warmupBatches = 1

  /** `ticks` grid points starting at archive time `start`. */
  final case class Pull(start: LocalDateTime, ticks: Int)

  final class Fixture(val plant: Plant, val mapping: DataFrame, val archive: String,
      val day: LocalDateTime) {
    val tags: Seq[String] = {
      val byId = mapping.collect().map(r => r.getInt(1) -> r.getString(0)).toMap
      plant.sources.map(a => byId(a.id))
    }
    val pulls: mutable.ArrayBuffer[Pull] = mutable.ArrayBuffer.empty
  }

  // the source's raw timestamps are UTC; ingest shifts them +7h to plant time
  private val rawFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private def rawBase(p: Pull): String = rawFmt.format(p.start.minusHours(7))

  def setup(ctx: Ctx, rep: Int): Fixture = {
    val spark = ctx.spark
    val root = ctx.dir(s"ingest$rep")
    val plant = Plant.generate(ctx.opts.seed, size)
    val catalog = Plant.writeCatalog(spark, plant, root, "plant")
    val f = new Fixture(plant, Plant.tagMapping(spark, catalog), s"$root/plant/archive",
      Plant.lastDay(ctx.opts.seed).atStartOfDay)
    Plant.upsertArchive(spark, plant, f.archive, f.day, preseedMinutes)
    f
  }

  private def source(ctx: Ctx, f: Fixture, p: Pull): DataFrame =
    ctx.spark.readStream.format("graft.sources.PiBatchSource")
      .option("tags", f.tags.mkString(","))
      .option("baseTime", rawBase(p))
      .option("intervalSeconds", "60")
      .option("endTicks", p.ticks.toString)
      .option("maxTicksPerBatch", ticksPerBatch.toString)
      .load()

  /** Runs one pull to completion; returns the progress of every
    * micro-batch that carried data. A failed query counts as one failed
    * operation. */
  private def pull(ctx: Ctx, f: Fixture, p: Pull, traced: Option[Traced],
      failed: () => Unit): Seq[StreamingQueryProgress] = {
    val ckpt = ctx.dir(s"ckpt/${f.pulls.size}")
    val raw = source(ctx, f, p)
    val q = traced match {
      case None => DerivedStream.start(raw, f.mapping, f.plant.derived, f.archive, ckpt)
      case Some(t) => t.start(raw, ckpt)
    }
    f.pulls += p
    try q.awaitTermination()
    catch { case e: Exception => System.err.println(s"pull failed: $e"); failed() }
    val bs = q.recentProgress.filter(_.numInputRows > 0).toSeq
    System.err.println("perfbench: micro-batch ms " + bs.map(ms(_, "triggerExecution").toInt).mkString(" "))
    bs
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def triggerS(bs: Seq[StreamingQueryProgress]): Seq[Double] =
    bs.map(ms(_, "triggerExecution") / 1e3)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    var failed = 0L
    val fail = () => failed += 1
    val (f, buildS) = Setup.repeated(setupReps)(setup(ctx, _))

    /** One drain of `drainTicks` plus a re-pull of `repullTicks` inside
      * it; returns the micro-batches and source rows archived. */
    def round(start: LocalDateTime, traced: Option[Traced]): (Seq[StreamingQueryProgress], Long) = {
      val drained = pull(ctx, f, Pull(start, drainTicks), traced, fail)
      val repulled = pull(ctx, f, Pull(start.plusMinutes(repullOffsetTicks), repullTicks), traced, fail)
      (drained ++ repulled, f.plant.nTags.toLong * (drainTicks + repullTicks))
    }
    var next = f.day.plusMinutes(preseedMinutes)
    def measure(seconds: Double, traced: Option[Traced]): (Seq[StreamingQueryProgress], Seq[Round]) = {
      val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      val rounds = mutable.ArrayBuffer.empty[Round]
      Stats.loopFor(seconds) {
        val t0 = System.nanoTime()
        val (b, r) = round(next, traced)
        rounds += Round(b.size, r, Stats.secondsSince(t0))
        batches ++= b
        next = next.plusMinutes(drainTicks)
      }
      (batches.toSeq, rounds.toSeq)
    }

    val w0 = System.nanoTime()
    val warm = pull(ctx, f, Pull(next, warmupBatches * ticksPerBatch), None, fail)
    next = next.plusMinutes(warmupBatches * ticksPerBatch.toLong)
    val setupS = ctx.sessionS + buildS + Stats.secondsSince(w0)

    val secs = ctx.opts.seconds
    val (batches, metrics) = if (!ctx.opts.trace) {
      val (bs, rounds) = measure(secs, None)
      (bs.size, Report.endToEnd(setupS, Stats.median(triggerS(bs)), rounds))
    } else {
      val (plain, _) = measure(secs / 2, None)
      val tracer = new Tracer(spark)
      val counters = new JobCounters(spark)
      val t = new Traced(ctx, f, tracer)
      counters.start()
      val (traced, rounds) = measure(secs / 2, Some(t))
      counters.stop()
      (plain.size + traced.size,
        t.metrics(counters, plain, traced, rounds.map(_.rows).sum) ++ ArchiveFiles.layout(spark, f.archive))
    }
    val attempted = warm.size + batches + failed
    if (!check(ctx, f)) failed = attempted
    Outcome(attempted, failed, metrics)
  }

  /** The archive must equal a batch [[Ingest.coerceBatch]] of the same
    * pulls with last-write-wins applied, over the pre-seeded rows, and
    * each derived attribute must equal [[Formula.backfill]] over the
    * final archive. One keyed comparison also catches duplicate keys. */
  def check(ctx: Ctx, f: Fixture): Boolean = {
    val spark = ctx.spark
    val archive = spark.read.parquet(f.archive).select(ArchiveStore.cols.map(col): _*)
    val pulled = f.pulls.zipWithIndex.map { case (p, i) =>
      Ingest.coerceBatch(rawPull(ctx, f, p), f.mapping).withColumn("seq", lit(i))
    }.reduce(_ unionByName _)
    val lastWins = pulled
      .withColumn("rn", row_number().over(
        Window.partitionBy("attribute_id", "timestamp").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).select(ArchiveStore.cols.map(col): _*)
    val expected = f.plant.derived
      .map(d => Formula.backfill(archive, d.formula, d.attributeId))
      .foldLeft(Plant.sourceRows(spark, f.plant, f.day, preseedMinutes).unionByName(lastWins))(
        _ unionByName _)
    val bad = expected.withColumn("want", lit(true))
      .unionByName(archive.withColumn("want", lit(false)))
      .groupBy("attribute_id", "timestamp")
      .agg(count_if(col("want")).as("nw"), count_if(!col("want")).as("ng"),
        max(when(col("want"), col("value"))).as("vw"), max(when(!col("want"), col("value"))).as("vg"))
      .filter(col("nw") =!= 1 || col("ng") =!= 1 || !(col("vw") <=> col("vg")))
      .count()
    if (bad > 0) System.err.println(s"ingest check failed: $bad archive keys differ or repeat")
    bad == 0
  }

  /** The raw rows of one pull, read in batch through the source's own
    * partition reader. */
  private def rawPull(ctx: Ctx, f: Fixture, p: Pull): DataFrame = {
    val rows = f.tags.flatMap { tag =>
      val r = new PiBatchPartitionReader(PiBatchPartition(tag, 0L, p.ticks.toLong, rawBase(p), 60L))
      Iterator.continually(r).takeWhile(_.next()).map { it =>
        val row = it.get()
        Row(row.getUTF8String(0).toString, row.getUTF8String(1).toString,
          row.getUTF8String(2).toString)
      }.toList
    }
    ctx.spark.createDataFrame(rows.asJava, PiBatchSource.schema)
  }

  /** The traced twin of [[DerivedStream.start]]: the same public calls
    * in the same order, each materialized at its layer boundary inside
    * a span. */
  final class Traced(ctx: Ctx, f: Fixture, tracer: Tracer) {
    private val spark = ctx.spark
    private var op = 0L
    private val partitions = mutable.ArrayBuffer.empty[Int]
    private var rawRows = 0L
    private var coercedRows = 0L
    private var derivedRows = 0L
    private var bytesWritten = 0L
    private var growth = 0L

    def start(raw: DataFrame, ckpt: String): StreamingQuery =
      raw.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batchRaw: DataFrame, _: Long) => onBatch(batchRaw) }
        .start()

    private def onBatch(batchRaw: DataFrame): Unit = {
      op += 1
      tracer.span("ingest.batch", op) {
        val raw = tracer.span("source.read", op) {
          val r = batchRaw.persist()
          rawRows += r.count()
          partitions += r.rdd.getNumPartitions
          r
        }
        val batch = tracer.span("ingest.coerce", op) {
          val b = Ingest.coerceBatch(raw, f.mapping).persist()
          coercedRows += b.count()
          b
        }
        try if (!batch.isEmpty) {
          val recomputed = tracer.span("derived.recompute", op) {
            val merged = DerivedStream.upsert(
              ArchiveStore.readOr(spark, f.archive, batch.limit(0)), batch)
            f.plant.derived.map { d =>
              tracer.span("derived.formula", op) {
                val r = DerivedStream.derivedForBatch(merged, batch, d).persist()
                derivedRows += r.count()
                r
              }
            }
          }
          val (w, g) = ArchiveFiles.written(f.archive) {
            tracer.span("archive.upsert", op) {
              ArchiveStore.upsert(spark, f.archive,
                batch.unionByName(recomputed.reduce(_ unionByName _)))
            }
          }
          bytesWritten += w
          growth += g
          recomputed.foreach(_.unpersist())
        } finally {
          batch.unpersist()
          raw.unpersist()
        }
      }
    }

    def metrics(counters: JobCounters, plain: Seq[StreamingQueryProgress],
        traced: Seq[StreamingQueryProgress], rowsOut: Long): Seq[Metric] = {
      val batches = math.max(op, 1L).toDouble
      val spans = tracer.spans
      val derivedSpans = spans.filter(s => s.name.startsWith("derived.")).map(_.id).toSet
      // the layers plus the stream engine's own share of each trigger
      val layerS = Seq("source.read", "ingest.coerce", "archive.upsert").map(tracer.selfMedian).sum +
        tracer.totalMedian("derived.recompute") +
        Stats.median(traced.map(p => (ms(p, "triggerExecution") - ms(p, "addBatch")) / 1e3))
      def streamMs(k: String) = Stats.median(plain.map(ms(_, k)))
      Seq(
        Metric("source.partitions_per_batch", Stats.median(partitions.map(_.toDouble).toSeq), "count"),
        Metric("source.read_s", tracer.selfMedian("source.read"), "s"),
        Metric("ingest.coerce_s", tracer.selfMedian("ingest.coerce"), "s"),
        Metric("ingest.rows_dropped_frac", (rawRows - coercedRows).toDouble / math.max(rawRows, 1L), "ratio"),
        Metric("derived.recompute_s", tracer.totalMedian("derived.recompute"), "s"),
        Metric("derived.jobs_per_batch", counters.jobsOf(derivedSpans).size / batches, "count"),
        Metric("derived.rows_per_batch", derivedRows / batches, "count"),
        Metric("archive.upsert_s", tracer.selfMedian("archive.upsert"), "s"),
        Metric("archive.bytes_written_per_byte", bytesWritten.toDouble / math.max(growth, 1L), "ratio"),
        Metric("stream.add_batch_ms", streamMs("addBatch"), "ms"),
        Metric("stream.wal_commit_ms", streamMs("walCommit"), "ms"),
        Metric("stream.commit_offsets_ms", streamMs("commitOffsets"), "ms"),
        Metric("stream.query_planning_ms", streamMs("queryPlanning"), "ms")) ++
        counters.common(op, rowsOut) ++
        Report.overhead(Stats.median(triggerS(plain)), Stats.median(triggerS(traced)), layerS)
    }
  }
}
