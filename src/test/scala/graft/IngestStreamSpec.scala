package graft

import java.nio.file.Files
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.ArchiveStore
import graft.ingest.Ingest
import graft.streaming.DerivedStream
import graft.streaming.DerivedStream.DerivedDef

class IngestStreamSpec extends SparkSpec {

  private def mapping = {
    val sess = spark
    import sess.implicits._
    Seq(("\\\\AF\\Plant\\U1|temp", 1), ("\\\\AF\\Plant\\U1|press", 2))
      .toDF("lookup_key", "attribute_id")
  }

  test("coerceBatch: +7h shift, bool/numeric coercion, unmapped drop, dedup") {
    val sess = spark
    import sess.implicits._
    val raw = Seq(
      // dup key: ARRIVAL order wins (pandas keep='first'), so the larger
      // 99.9 survives despite 12.5 being the minimum — this is what
      // separates keep-first from keep-min
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "99.9"),
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "12.5"),
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:00:00", "true"), // bool -> 1.0
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:01:00", "Bad Input"), // coerce -> null
      ("\\\\AF\\Plant\\Unknown|x", "2024-01-01T00:00:00", "5.0") // unmapped -> dropped
    ).toDF("lookup_key", "timestamp", "value")
    val out = Ingest.coerceBatch(raw, mapping)
      .orderBy("attribute_id", "timestamp").collect()
    assert(out.length === 3)
    assert(out(0).getDouble(2) === 99.9)
    assert(out(0).getAs[java.time.LocalDateTime](1).getHour === 7) // +7h
    assert(out(1).getDouble(2) === 1.0)
    assert(out(2).isNullAt(2))
  }

  test("incrementalStart is max+interval; None on empty archive") {
    val sess = spark
    import sess.implicits._
    val archive = Seq((1, Timestamp.valueOf("2024-01-01 10:30:00"), 1.0))
      .toDF("attribute_id", "timestamp", "value")
    assert(Ingest.incrementalStart(archive, 1) ===
      Some(Timestamp.valueOf("2024-01-01 10:31:00")))
    assert(Ingest.incrementalStart(archive.filter(lit(false))) === None)
  }

  test("densityOk and hourlyChunks match reference constants") {
    assert(Ingest.densityOk(5000, 1))
    assert(!Ingest.densityOk(4999, 1))
    val chunks = Ingest.hourlyChunks(
      Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-01 02:30:00"))
    assert(chunks.length === 3)
    assert(chunks(0) === (Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 00:59:00")))
    assert(chunks(2)._2 === Timestamp.valueOf("2024-01-01 02:30:00"))
  }

  test("derivedForBatch recomputes only batch-touched timestamps with NULL gate") {
    val sess = spark
    import sess.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val archive = Seq(
      (1, ts("2024-01-01 00:00:00"), 10.0), (2, ts("2024-01-01 00:00:00"), 1.0),
      (1, ts("2024-01-01 00:01:00"), 20.0), (2, ts("2024-01-01 00:01:00"), 2.0),
      (1, ts("2024-01-01 00:02:00"), 30.0) // attr 2 missing at 00:02
    ).toDF("attribute_id", "timestamp", "value")
    val batch = Seq(
      (1, ts("2024-01-01 00:01:00"), 20.0),
      (1, ts("2024-01-01 00:02:00"), 30.0)).toDF("attribute_id", "timestamp", "value")
    val out = DerivedStream.derivedForBatch(archive, batch, DerivedDef(9, "$1 + $2"))
      .collect()
    // 00:00 untouched by batch; 00:02 gated (missing source); only 00:01 emitted
    assert(out.length === 1)
    assert(out(0).getInt(0) === 9 && out(0).getDouble(2) === 22.0)
  }

  test("upsert is last-write-wins on (attribute_id, timestamp)") {
    val sess = spark
    import sess.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val existing = Seq((9, ts("2024-01-01 00:00:00"), 5.0), (9, ts("2024-01-01 00:01:00"), 6.0))
      .toDF("attribute_id", "timestamp", "value")
    val recomputed = Seq((9, ts("2024-01-01 00:01:00"), 66.0))
      .toDF("attribute_id", "timestamp", "value")
    val out = DerivedStream.upsert(existing, recomputed)
      .orderBy("timestamp").collect().map(_.getDouble(2)).toSeq
    assert(out === Seq(5.0, 66.0))
  }

  test("T6: independent per-namespace streams run concurrently") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dirs = Seq("siteA", "siteB").map(s =>
      s -> Files.createTempDirectory(s"graft_$s").toString).toMap
    val mems = dirs.map { case (site, _) => site -> MemoryStream[(String, String, String)] }
    mems("siteA").addData(("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "10.0"))
    mems("siteB").addData(("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "77.0"))
    // one streaming query per namespace (reference: one thread per site DB)
    val queries = dirs.map { case (site, dir) =>
      DerivedStream.start(
        mems(site).toDF.toDF("lookup_key", "timestamp", "value"),
        mapping, Nil, s"$dir/archive", s"$dir/ckpt")
    }
    queries.foreach(_.awaitTermination(120000))
    assert(spark.read.parquet(s"${dirs("siteA")}/archive").head().getDouble(2) === 10.0)
    assert(spark.read.parquet(s"${dirs("siteB")}/archive").head().getDouble(2) === 77.0)
  }

  test("an empty first micro-batch leaves the archive fresh for the next one") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_empty_first").toString
    val mem = MemoryStream[(String, String, String)]
    val raw = mem.toDF.toDF("lookup_key", "timestamp", "value")
    def run(): Unit = {
      val q = DerivedStream.start(raw, mapping, Nil, s"$dir/archive", s"$dir/ckpt")
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    mem.addData(("\\\\AF\\Plant\\Unknown|x", "2024-01-01T00:00:00", "5.0")) // unmapped
    run()
    assert(!ArchiveStore.exists(s"$dir/archive"))
    mem.addData(("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "10.0"))
    run()
    assert(spark.read.parquet(s"$dir/archive").count() === 1)
  }

  test("end-to-end stream: micro-batches maintain archive + derived rows") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[(String, String, String)]
    val raw = mem.toDF.toDF("lookup_key", "timestamp", "value")

    mem.addData(
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "10.0"),
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:00:00", "2.0"))
    val q = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 * $2")),
      s"$dir/archive", s"$dir/ckpt")
    q.awaitTermination(120000)

    val afterBatch1 = spark.read.parquet(s"$dir/archive")
    assert(afterBatch1.filter(col("attribute_id") === 9).head().getDouble(2) === 20.0)

    // second micro-batch: completes a new timestamp
    mem.addData(
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:01:00", "3.0"),
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:01:00", "4.0"))
    val q2 = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 * $2")),
      s"$dir/archive", s"$dir/ckpt")
    q2.awaitTermination(120000)

    val derived = spark.read.parquet(s"$dir/archive")
      .filter(col("attribute_id") === 9).orderBy("timestamp").collect()
    assert(derived.map(_.getDouble(2)).toSeq === Seq(20.0, 12.0))
    assert(spark.read.parquet(s"$dir/archive").count() === 6) // 4 source + 2 derived
  }

  test("T5 re-delivery: upsert replaces source AND derived rows, no duplicate keys") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_redeliver").toString
    val mem = MemoryStream[(String, String, String)]
    val raw = mem.toDF.toDF("lookup_key", "timestamp", "value")
    def run(): Unit = {
      val q = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 * $2")),
        s"$dir/archive", s"$dir/ckpt")
      q.awaitTermination(120000)
    }
    mem.addData(
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "10.0"),
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:00:00", "2.0"))
    run()
    // re-deliver temp at the ALREADY-DERIVED timestamp with a new value
    mem.addData(("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "30.0"))
    run()
    val rows = spark.read.parquet(s"$dir/archive")
      .select("attribute_id", "timestamp", "value")
    // last-write-wins: still exactly one row per (attribute_id, timestamp)
    assert(rows.count() === 3)
    val byAttr = rows.collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(byAttr(1) === 30.0) // re-delivered source replaced
    assert(byAttr(2) === 2.0)
    assert(byAttr(9) === 60.0) // derived recomputed from the NEW value
  }

  /** An archive whose first day holds two appended files and whose
    * second day holds one. */
  private def seededArchive(dir: String): String = {
    val sess = spark
    import sess.implicits._
    val archive = s"$dir/archive"
    for (at <- Seq("2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-02 00:00:00"))
      ArchiveStore.append(Seq((1, Timestamp.valueOf(at), 1.0))
        .toDF("attribute_id", "timestamp", "value"), archive)
    archive
  }

  /** Streams `ticks` one-minute ticks of the two mapped tags from raw
    * (UTC) time `base`, `perBatch` ticks a micro-batch, through `derived`
    * into `archive`; returns the micro-batches that carried data. */
  private def streamTicks(archive: String, ckpt: String, base: String, ticks: Int,
      perBatch: Int, derived: Seq[DerivedDef]): Int = {
    val raw = spark.readStream.format("graft.sources.PiBatchSource")
      .option("tags", "\\\\AF\\Plant\\U1|temp,\\\\AF\\Plant\\U1|press")
      .option("baseTime", base)
      .option("endTicks", ticks.toString)
      .option("maxTicksPerBatch", perBatch.toString)
      .load()
    val q = DerivedStream.start(raw, mapping, derived, archive, ckpt)
    q.awaitTermination(120000)
    q.exception.foreach(e => throw e)
    q.recentProgress.count(_.numInputRows > 0)
  }

  /** Streams four two-tick micro-batches of two tags and a derived
    * formula into `archive`; they all land on 2024-01-01. */
  private def streamFourBatches(archive: String, ckpt: String): Unit =
    assert(streamTicks(archive, ckpt, "2024-01-01T00:00:00", 8, 2,
      Seq(DerivedDef(9, "$1 + $2"))) === 4)

  test("streamed upserts write each touched date as one file and keep the others") {
    val dir = Files.createTempDirectory("graft_layout").toString
    val archive = seededArchive(dir)
    def parquetFiles(date: String): Set[String] =
      new java.io.File(s"$archive/p_date=$date").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val untouched = parquetFiles("2024-01-02")
    streamFourBatches(archive, s"$dir/ckpt")
    assert(parquetFiles("2024-01-01").size === 1)
    assert(parquetFiles("2024-01-02") === untouched)
    val rows = spark.read.parquet(archive)
    assert(rows.count() === 3 + 16 + 8) // seeded + 2 tags x 8 ticks + 8 derived
    assert(rows.select("attribute_id", "timestamp").distinct().count() === 27)
  }

  test("a stream run leaves no checkpoint blocks behind") {
    val dir = Files.createTempDirectory("graft_release").toString
    val archive = seededArchive(dir)
    val preIds = spark.sparkContext.getPersistentRDDs.keySet
    streamFourBatches(archive, s"$dir/ckpt")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(preIds).isEmpty)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def appendRows(archive: String, rows: Seq[(Int, Timestamp, Double)]): Unit = {
    val sess = spark
    import sess.implicits._
    ArchiveStore.append(rows.toDF("attribute_id", "timestamp", "value"), archive)
  }

  /** The archive as (attribute_id, timestamp) -> value; fails on a
    * repeated key. */
  private def archiveByKey(archive: String): Map[(Int, String), Option[Double]] = {
    val rows = spark.read.parquet(archive).select("attribute_id", "timestamp", "value")
      .collect().map(r => (r.getInt(0), r.get(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val byKey = rows.toMap
    assert(byKey.size === rows.length, s"duplicate archive keys in ${rows.toSeq}")
    byKey
  }

  /** Content digest of each parquet file in one date partition. */
  private def fileDigests(archive: String, date: String): Map[String, String] =
    new java.io.File(s"$archive/p_date=$date").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString)
      .toMap

  /** Blocks until every listener event posted so far is delivered. The
    * query-execution listeners share the SparkContext listeners' queue,
    * so once a marker job's start arrives, every earlier event has. */
  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "listener events were not delivered")
    } finally sc.removeSparkListener(l)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("a batch carrying a derived attribute's own id keeps one row per key, the recomputed one") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_derived_id").toString
    val withDerivedTag = mapping.unionByName(
      Seq(("\\\\AF\\Plant\\U1|sum", 9)).toDF("lookup_key", "attribute_id"))
    val mem = MemoryStream[(String, String, String)]
    val raw = mem.toDF.toDF("lookup_key", "timestamp", "value")
    def run(): Unit = {
      val q = DerivedStream.start(raw, withDerivedTag, Seq(DerivedDef(9, "$1 + $2")),
        s"$dir/archive", s"$dir/ckpt")
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    // the first batch builds the archive, the second rewrites its day
    for (value <- Seq("10.0", "30.0")) {
      mem.addData(
        ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", value),
        ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:00:00", "2.0"),
        ("\\\\AF\\Plant\\U1|sum", "2024-01-01T00:00:00", "-1.0"))
      run()
      val rows = archiveByKey(s"$dir/archive")
      assert(rows.size === 3)
      assert(rows((9, "2024-01-01T07:00")) === Some(value.toDouble + 2.0))
    }
  }

  test("a re-delivered NULL source replaces the archived value; the NULL gate keeps the prior derived row") {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = Files.createTempDirectory("graft_null_redeliver").toString
    val mem = MemoryStream[(String, String, String)]
    val raw = mem.toDF.toDF("lookup_key", "timestamp", "value")
    def run(): Unit = {
      val q = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 * $2")),
        s"$dir/archive", s"$dir/ckpt")
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    mem.addData(
      ("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "10.0"),
      ("\\\\AF\\Plant\\U1|press", "2024-01-01T00:00:00", "2.0"))
    run()
    // a PI error value: coerced to NULL
    mem.addData(("\\\\AF\\Plant\\U1|temp", "2024-01-01T00:00:00", "Bad Input"))
    run()
    val rows = archiveByKey(s"$dir/archive")
    assert(rows === Map(
      (1, "2024-01-01T07:00") -> None,
      (2, "2024-01-01T07:00") -> Some(2.0),
      (9, "2024-01-01T07:00") -> Some(20.0)))
  }

  test("a formula is evaluated only where the batch touched its own refs") {
    val dir = Files.createTempDirectory("graft_touched").toString
    val archive = s"$dir/archive"
    // sources for both formulas, no derived rows yet
    appendRows(archive, Seq((1, ts("2024-01-01 00:00:00"), 1.0),
      (2, ts("2024-01-01 00:00:00"), 2.0), (3, ts("2024-01-01 00:00:00"), 5.0)))
    val sess = spark
    import sess.implicits._
    ArchiveStore.upsert(spark, archive,
      Seq((3, ts("2024-01-01 00:00:00"), 7.0)).toDF("attribute_id", "timestamp", "value"),
      Seq(DerivedDef(9, "$1 + $2"), DerivedDef(10, "$3 * 2")))
    val rows = archiveByKey(archive)
    assert(rows((10, "2024-01-01 00:00:00.0")) === Some(14.0))
    assert(!rows.contains((9, "2024-01-01 00:00:00.0"))) // absent before, absent after
    assert(rows.size === 4)
  }

  test("a division by zero raises only at timestamps the batch touched") {
    val dir = Files.createTempDirectory("graft_div0").toString
    val archive = s"$dir/archive"
    appendRows(archive, Seq((1, ts("2024-01-01 00:00:00"), 1.0),
      (2, ts("2024-01-01 00:00:00"), 0.0), (3, ts("2024-01-01 00:00:00"), 5.0)))
    val sess = spark
    import sess.implicits._
    val formulas = Seq(DerivedDef(9, "$1 / $2"), DerivedDef(10, "$3 * 2"))
    // $2 = 0 at 00:00, but this batch only touches $3
    ArchiveStore.upsert(spark, archive,
      Seq((3, ts("2024-01-01 00:00:00"), 7.0)).toDF("attribute_id", "timestamp", "value"),
      formulas)
    val before = archiveByKey(archive)
    assert(before((10, "2024-01-01 00:00:00.0")) === Some(14.0))
    assert(!before.contains((9, "2024-01-01 00:00:00.0")))
    // touching $2 evaluates $1 / $2 there: ANSI division by zero, as in
    // the reference's PostgreSQL trigger, and the archive is untouched
    val e = intercept[Exception](ArchiveStore.upsert(spark, archive,
      Seq((2, ts("2024-01-01 00:00:00"), 0.0)).toDF("attribute_id", "timestamp", "value"),
      formulas))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), e.toString)
    assert(archiveByKey(archive) === before)
  }

  test("a batch spanning midnight rewrites both dates as one file each") {
    val dir = Files.createTempDirectory("graft_midnight").toString
    val archive = s"$dir/archive"
    for (day <- Seq("2024-01-01", "2024-01-02"); hour <- Seq("12", "13"))
      appendRows(archive, Seq((1, ts(s"$day $hour:00:00"), 1.0)))
    appendRows(archive, Seq((1, ts("2024-01-03 12:00:00"), 1.0)))
    val untouched = fileDigests(archive, "2024-01-03")
    Seq("2024-01-01", "2024-01-02").foreach(d => assert(fileDigests(archive, d).size === 2))
    // raw 16:58 UTC is 23:58 plant time: ticks 23:58, 23:59, 00:00, 00:01
    assert(streamTicks(archive, s"$dir/ckpt", "2024-01-01T16:58:00", 4, 4,
      Seq(DerivedDef(9, "$1 + $2"))) === 1)
    Seq("2024-01-01", "2024-01-02").foreach(d => assert(fileDigests(archive, d).size === 1))
    assert(fileDigests(archive, "2024-01-03") === untouched)
    val rows = archiveByKey(archive)
    assert(rows.size === 5 + 2 * 4 + 4) // seeded + 2 tags x 4 ticks + 4 derived
    assert(rows.keySet.count(_._1 == 9) === 4)
  }

  test("each micro-batch scans only the date partitions it touches; the others keep their bytes") {
    val dir = Files.createTempDirectory("graft_prune").toString
    val archive = s"$dir/archive"
    val days = Seq("2023-12-30", "2023-12-31", "2024-01-01", "2024-01-02")
    for (day <- days)
      appendRows(archive, Seq((1, ts(s"$day 12:00:00"), 1.0), (2, ts(s"$day 12:00:00"), 2.0)))
    val untouched = days.filterNot(_ == "2024-01-01")
    val before = untouched.map(d => d -> fileDigests(archive, d)).toMap
    val scanned = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Plans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .filter(_.relation.location.rootPaths.exists(_.toString.contains(archive)))
          .foreach(_.inputRDD.asInstanceOf[FileScanRDD].filePartitions
            .foreach(_.files.foreach(f => scanned.add(f.filePath.toString))))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      streamFourBatches(archive, s"$dir/ckpt")
      drainListeners()
    } finally spark.listenerManager.unregister(listener)
    val dates = scanned.asScala.toSeq.map(p => "p_date=([^/]+)".r.findFirstMatchIn(p).get.group(1))
    assert(dates.nonEmpty, "no archive scan observed")
    assert(dates.toSet === Set("2024-01-01"))
    untouched.foreach(d => assert(fileDigests(archive, d) === before(d), d))
  }

  test("a two-formula micro-batch over a pre-seeded day runs at most 12 Spark jobs") {
    val dir = Files.createTempDirectory("graft_jobs").toString
    val archive = s"$dir/archive"
    // six hours of both tags on the streamed day (plant time 07:00 on)
    ArchiveStore.append(spark.range(0, 720)
      .select((col("id") % 2 + 1).cast("int").as("attribute_id"),
        (lit(Timestamp.valueOf("2024-01-01 00:00:00")) + make_interval(
          lit(0), lit(0), lit(0), lit(0), lit(0), (col("id") / 2).cast("int"))).as("timestamp"),
        (col("id") % 7).cast("double").as("value")), archive)
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.computeIfAbsent(b, _ => new AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(streamTicks(archive, s"$dir/ckpt", "2024-01-01T00:00:00", 4, 2,
        Seq(DerivedDef(9, "$1 + $2"), DerivedDef(10, "$1 * $2"))) === 2)
      drainListeners()
    } finally spark.sparkContext.removeSparkListener(listener)
    val perBatch = jobs.asScala.map { case (b, n) => b -> n.get }.toMap
    assert(perBatch.size === 2, perBatch)
    assert(perBatch.values.forall(_ <= 12), s"jobs per micro-batch: $perBatch")
    assert(spark.read.parquet(archive).filter(col("attribute_id") >= 9).count() === 8)
  }

  test("T5 live trigger: PI source under ProcessingTime pacing, full re-delivery upserts cleanly") {
    val dir = Files.createTempDirectory("graft_live").toString
    val tagTemp = "\\\\AF\\Plant\\U1|temp"
    val tagPress = "\\\\AF\\Plant\\U1|press"
    val raw = spark.readStream.format("graft.sources.PiBatchSource")
      .option("tags", s"$tagTemp,$tagPress")
      .option("baseTime", "2024-01-01T00:00:00")
      .option("intervalSeconds", "60")
      .option("endTicks", "6")
      .option("maxTicksPerBatch", "2") // pacing: 6 ticks need >= 3 batches
      .load()
    // the live path: latestOffset(start, limit) admission control, not
    // AvailableNow's prepared end — processAllAvailable drains to endTicks
    def runLive(ckpt: String): Int = {
      val q = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 + $2")),
        s"$dir/archive", s"$dir/$ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    }
    def snapshot() = spark.read.parquet(s"$dir/archive")
      .select("attribute_id", "timestamp", "value").collect()
      .map(r => (r.getInt(0), r.getAs[Any](1).toString, r.getDouble(2))).toSet
    assert(runLive("ckpt1") >= 3, "admission control did not pace the live stream")
    val first = snapshot()
    assert(first.size === 18) // 2 tags x 6 ticks + 6 derived
    // a FRESH checkpoint re-delivers every batch: the per-batch upsert
    // must replace, not duplicate — same rows, still unique keys
    runLive("ckpt2")
    val replayed = snapshot()
    assert(replayed === first)
    assert(spark.read.parquet(s"$dir/archive")
      .select("attribute_id", "timestamp").distinct().count() === 18)
  }

  test("capstone: PI source → coerce → derive → store → interpolate, end to end") {
    val dir = Files.createTempDirectory("graft_capstone").toString
    val tagTemp = "\\\\AF\\Plant\\U1|temp"
    val tagPress = "\\\\AF\\Plant\\U1|press"
    // ticks 0..9 are all clean points in the stub (dirty shapes start at
    // 13/17), so values are h(tag) + tick*0.5 on an exact 1-minute grid
    val raw = spark.readStream.format("graft.sources.PiBatchSource")
      .option("tags", s"$tagTemp,$tagPress")
      .option("baseTime", "2024-01-01T00:00:00")
      .option("intervalSeconds", "60")
      .option("endTicks", "10")
      .option("maxTicksPerBatch", "4")
      .load()
    val q = DerivedStream.start(raw, mapping, Seq(DerivedDef(9, "$1 + $2")),
      s"$dir/archive", s"$dir/ckpt")
    q.awaitTermination(120000)
    val archive = graft.catalog.ArchiveStore.readOr(spark, s"$dir/archive",
      sys.error("archive missing"))
    assert(archive.count() === 30) // 2 tags x 10 ticks + 10 derived
    // the derived series interpolated onto a 2-minute grid: the sources
    // are linear in the tick, so the interpolated midpoints are exact
    def h(tag: String) = (tag.hashCode.toLong & 0xffffL) % 100
    val base = h(tagTemp) + h(tagPress) // derived at tick t = base + t*1.0
    val interp = graft.ops.TimeSeries.resampleInterpolate(
      archive.filter(col("attribute_id") === 9), 120L)
      .orderBy("timestamp").collect()
    assert(interp.length === 5) // minutes 0,2,4,6,8 within [07:00, 07:09]
    assert(interp.map(_.getDouble(2)).toSeq ===
      Seq(base + 0.0, base + 2.0, base + 4.0, base + 6.0, base + 8.0))
    assert(interp.head.getAs[java.time.LocalDateTime](1).getHour === 7) // +7h shift held
  }

  test("stateful paths hold under the RocksDB state store (state off-heap, not in executor memory)") {
    // the default in-memory provider caps streaming state at the heap;
    // RocksDB is the 100 TB configuration (state spills to local disk).
    // Same sessionization scenario as StreamingSessionsSpec, assertions
    // unchanged — only the provider differs.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try StreamingSessionsSpec.checkStitchAndParity(spark)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
