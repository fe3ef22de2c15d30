package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.api.GraftApi
import graft.catalog.Catalog

class CatalogApiSpec extends SparkSpec {

  private def freshApi(): (GraftApi, Catalog) = {
    val root = Files.createTempDirectory("graft_cat").toString
    val api = new GraftApi(spark, root)
    (api, api.catalog("site1"))
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("full DML lifecycle: insert elements/attributes, archive, derived, update, delete") {
    val (_, cat) = freshApi()

    // M1: ids are assigned monotonically
    val plant = cat.insertElement("Plant", level = 0)
    val unit = cat.insertElement("Unit1", level = 1, parentId = Some(plant))
    assert(plant === 1 && unit === 2)

    // M2: source attributes
    val temp = cat.insertAttribute(unit, "temp", kks = Some("10ABC"))
    val press = cat.insertAttribute(unit, "press")
    assert(Seq(temp, press) === Seq(1, 2))

    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (temp, ts("2024-01-01 00:00:00"), 10.0),
      (temp, ts("2024-01-01 00:01:00"), 20.0),
      (press, ts("2024-01-01 00:00:00"), 2.0)
    ).toDF("attribute_id", "timestamp", "value"))

    // M2 derived: backfill on insert, NULL gate at 00:01
    val mean = cat.insertAttribute(unit, "mean", formula = Some(s"($$$temp + $$$press) / 2"))
    val derived = cat.archive.filter(col("attribute_id") === mean).collect()
    assert(derived.length === 1 && derived(0).getDouble(2) === 6.0)

    // M3: guarded update + recompute
    intercept[IllegalArgumentException](cat.updateAttribute(temp, formula = Some("$1")))
    cat.updateAttribute(mean, formula = Some(s"$$$temp * 2"))
    val recomputed = cat.archive.filter(col("attribute_id") === mean)
      .orderBy("timestamp").collect().map(_.getDouble(2)).toSeq
    assert(recomputed === Seq(20.0, 40.0))

    // M5: delete attribute cascades archive rows
    val removed = cat.deleteAttribute(mean)
    assert(removed === 2)
    assert(cat.archive.filter(col("attribute_id") === mean).isEmpty)

    // M4: delete element cascades attributes + archive
    val (nAttrs, nArch) = cat.deleteElement(unit)
    assert(nAttrs === 2 && nArch === 3)
    assert(cat.attributes.isEmpty)
  }

  test("M6 repopulate preserves archive across id changes and cleans orphans") {
    val (_, cat) = freshApi()
    val root = cat.insertElement("Root")
    val a = cat.insertElement("A", 1, Some(root))
    val attrA = cat.insertAttribute(a, "t1")
    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq((attrA, ts("2024-01-01 00:00:00"), 1.5))
      .toDF("attribute_id", "timestamp", "value"))

    // new tree: same paths but different ids, plus A's attr id shifts 1->7
    val newElems = Seq((0, 5, "Root", None: Option[Int]), (1, 6, "A", Some(5)))
      .toDF("level", "element_id", "name", "parent_id")
    val newAttrs = Seq((6, 7, "t1", None: Option[String], None: Option[String]))
      .toDF("element_id", "attribute_id", "name", "kks", "formula")
    cat.repopulate(newElems, newAttrs)

    val arch = cat.archive.collect()
    assert(arch.length === 1)
    assert(arch(0).getInt(0) === 7) // remapped via path equality
    assert(arch(0).getDouble(2) === 1.5)
  }

  test("api: export pivots selected elements with deterministic columns") {
    val (api, cat) = freshApi()
    val e1 = cat.insertElement("E1")
    val t1 = cat.insertAttribute(e1, "b_attr")
    val t2 = cat.insertAttribute(e1, "a_attr")
    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (t1, ts("2024-01-01 00:00:00"), 1.0),
      (t2, ts("2024-01-01 00:00:00"), 2.0),
      (t1, ts("2024-01-01 00:01:00"), 3.0)
    ).toDF("attribute_id", "timestamp", "value"))

    val out = api.export("site1", Seq(e1), None, None)
    assert(out.columns.toSeq === Seq("timestamp", "a_attr", "b_attr")) // sorted pivot
    val rows = out.collect()
    assert(rows.length === 2)
    assert(rows(0).getDouble(2) === 1.0 && rows(0).getDouble(1) === 2.0)
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) === 3.0)

    // time-ranged export prunes
    assert(api.export("site1", Seq(e1), Some("2024-01-01 00:01:00"), None).count() === 1)
  }

  test("archive store is date-partitioned and time ranges prune partitions") {
    val (_, cat) = freshApi()
    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (1, ts("2024-01-01 10:00:00"), 1.0),
      (1, ts("2024-01-02 10:00:00"), 2.0),
      (1, ts("2024-01-03 10:00:00"), 3.0)).toDF("attribute_id", "timestamp", "value"))
    // physical layout: one directory per date
    val dirs = new java.io.File(new java.net.URI(cat.archive.inputFiles.head))
      .getParentFile.getParentFile
      .listFiles().map(_.getName).filter(_.startsWith("p_date=")).sorted
    assert(dirs.toSeq === Seq("p_date=2024-01-01", "p_date=2024-01-02", "p_date=2024-01-03"))
    // bounded scan reads only the matching partitions
    val ranged = cat.archiveRange(Some("2024-01-02 00:00:00"), Some("2024-01-02 23:59:59"))
    assert(ranged.collect().map(_.getDouble(2)).toSeq === Seq(2.0))
    // partition pruning is visible as PartitionFilters on the file scan
    // (inputFiles is pre-pruning, so inspect the physical plan instead)
    val plan = ranged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"no partition filters in scan:\n$plan")
    // contract schema is unchanged (no partition column leaks)
    assert(cat.archive.columns.toSeq === Seq("attribute_id", "timestamp", "value"))
  }

  test("T5 upsertArchive rewrites only touched date partitions, last-write-wins") {
    val (_, cat) = freshApi()
    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (1, ts("2024-01-01 10:00:00"), 1.0),
      (1, ts("2024-01-02 10:00:00"), 2.0),
      (2, ts("2024-01-02 11:00:00"), 9.0),
      (1, ts("2024-01-03 10:00:00"), 3.0)).toDF("attribute_id", "timestamp", "value"))
    def partFiles(date: String): Set[String] = {
      val root = new java.io.File(new java.net.URI(cat.archive.inputFiles.head))
        .getParentFile.getParentFile
      new java.io.File(root, s"p_date=$date").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val day1Before = partFiles("2024-01-01")
    val day3Before = partFiles("2024-01-03")
    // upsert into day 2 only: change one key, add one key
    cat.upsertArchive(Seq(
      (1, ts("2024-01-02 10:00:00"), 22.0),
      (3, ts("2024-01-02 12:00:00"), 33.0)).toDF("attribute_id", "timestamp", "value"))
    val rows = cat.archive.orderBy("timestamp", "attribute_id").collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toSeq
    assert(rows === Seq((1, 1.0), (1, 22.0), (2, 9.0), (3, 33.0), (1, 3.0)))
    // untouched date partitions keep their physical files
    assert(partFiles("2024-01-01") === day1Before)
    assert(partFiles("2024-01-03") === day3Before)
  }

  test("compact merges fragmented date partitions without changing rows") {
    val (_, cat) = freshApi()
    val sess = spark
    import sess.implicits._
    // three separate appends into the same date = three files (the
    // streaming-upsert fragmentation shape); one append elsewhere
    for (v <- 1 to 3)
      cat.appendArchive(Seq((v, ts(s"2024-01-01 0$v:00:00"), v.toDouble))
        .toDF("attribute_id", "timestamp", "value"))
    cat.appendArchive(Seq((9, ts("2024-01-05 00:00:00"), 9.0))
      .toDF("attribute_id", "timestamp", "value"))
    val root = new java.io.File(new java.net.URI(cat.archive.inputFiles.head))
      .getParentFile.getParentFile
    def partFiles(date: String): Set[String] =
      new java.io.File(root, s"p_date=$date").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(partFiles("2024-01-01").size === 3)
    val otherBefore = partFiles("2024-01-05")
    val before = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    graft.catalog.ArchiveStore.compact(spark, root.toString, maxFilesPerDate = 2)
    assert(partFiles("2024-01-01").size === 1) // merged
    assert(partFiles("2024-01-05") === otherBefore) // below threshold: untouched
    val after = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    assert(after === before) // pure layout maintenance
  }

  test("compact with an explicit date list sweeps exactly the named partitions") {
    val (_, cat) = freshApi()
    val sess = spark
    import sess.implicits._
    // fragment two dates; name only one in the sweep
    for (v <- 1 to 2; d <- Seq("01", "02"))
      cat.appendArchive(Seq((v, ts(s"2024-02-$d 0$v:00:00"), v.toDouble))
        .toDF("attribute_id", "timestamp", "value"))
    val root = new java.io.File(new java.net.URI(cat.archive.inputFiles.head))
      .getParentFile.getParentFile
    def partFiles(date: String): Set[String] =
      new java.io.File(root, s"p_date=$date").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(partFiles("2024-02-01").size === 2)
    val otherBefore = partFiles("2024-02-02")
    val before = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    // an explicitly named date compacts even below the file-count
    // threshold; everything unnamed keeps its files byte-for-byte
    graft.catalog.ArchiveStore.compact(spark, root.toString,
      dates = Seq("2024-02-01"))
    assert(partFiles("2024-02-01").size === 1)
    assert(partFiles("2024-02-02") === otherBefore)
    val after = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    assert(after === before)
  }

  test("compact discovery runs through the Hadoop FileSystem: URI paths work") {
    val (_, cat) = freshApi()
    val sess = spark
    import sess.implicits._
    for (v <- 1 to 3)
      cat.appendArchive(Seq((v, ts(s"2024-03-01 0$v:00:00"), v.toDouble))
        .toDF("attribute_id", "timestamp", "value"))
    val root = new java.io.File(new java.net.URI(cat.archive.inputFiles.head))
      .getParentFile.getParentFile
    def partFiles(date: String): Set[String] =
      new java.io.File(root, s"p_date=$date").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(partFiles("2024-03-01").size === 3)
    val before = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    // a scheme-qualified URI is what HDFS/S3 deployments pass; the old
    // java.io.File discovery silently found zero partitions for these
    graft.catalog.ArchiveStore.compact(spark,
      "file:" + root.getAbsolutePath, maxFilesPerDate = 2)
    assert(partFiles("2024-03-01").size === 1)
    val after = cat.archive.orderBy("timestamp", "attribute_id").collect().toSeq
    assert(after === before)
  }

  test("catalog DML runs through the Hadoop FileSystem: a file: URI root works") {
    val dir = Files.createTempDirectory("graft_cat_uri").toFile
    val cat = new Catalog(spark, "file:" + dir.getAbsolutePath, "site1")
    val sess = spark
    import sess.implicits._
    // ids come from the stored table: a probe that cannot see it under a
    // URI root hands out id 1 twice and overwrites the first element
    val plant = cat.insertElement("Plant")
    val unit = cat.insertElement("Unit1", level = 1, parentId = Some(plant))
    assert((plant, unit) === ((1, 2)))
    assert(cat.elements.count() === 2)
    val temp = cat.insertAttribute(unit, "temp")
    val press = cat.insertAttribute(unit, "press")
    cat.appendArchive(Seq(
      (temp, ts("2024-01-01 00:00:00"), 10.0),
      (press, ts("2024-01-01 00:00:00"), 2.0),
      (press, ts("2024-01-02 00:00:00"), 3.0)
    ).toDF("attribute_id", "timestamp", "value"))
    assert(cat.archive.count() === 3)
    // the whole-archive rewrite deletes and moves directories
    assert(cat.deleteAttribute(press) === 2L)
    assert(cat.archive.as[(Int, Timestamp, Double)].collect().toSeq ===
      Seq((temp, ts("2024-01-01 00:00:00"), 10.0)))
    assert(cat.attributes.select("attribute_id").as[Int].collect().toSeq === Seq(temp))
    assert(!new java.io.File(dir, "site1/archive__rewrite").exists())
  }

  test("concurrent upserts keep every untouched date and leave the session conf alone") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sess = spark
    import sess.implicits._
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val seeded = days.map(d => (1, ts(s"$d 00:00:00"), 0.0))
    val archives = Seq("a", "b").map { site =>
      val path = Files.createTempDirectory(s"graft_concurrent_$site").toString + "/archive"
      graft.catalog.ArchiveStore.append(seeded.toDF("attribute_id", "timestamp", "value"), path)
      path
    }
    // two per-site writers sharing the session, each rewriting only day 2
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writers = archives.map(path => Future {
      for (i <- 1 to 6)
        graft.catalog.ArchiveStore.upsert(spark, path,
          Seq((2, ts("2024-01-02 12:00:00"), i.toDouble)).toDF("attribute_id", "timestamp", "value"))
    })
    Await.result(Future.sequence(writers), 10.minutes)
    for (path <- archives) {
      val rows = spark.read.parquet(path).select("attribute_id", "timestamp", "value")
        .collect().map(r => (r.getInt(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(rows === (seeded :+ ((2, ts("2024-01-02 12:00:00"), 6.0))).toSet)
    }
    assert(spark.conf.getOption(modeKey) === modeBefore)
  }

  test("api: lookup exact vs wildcard, generic table export filters") {
    val (api, cat) = freshApi()
    cat.insertElement("Boiler")
    cat.insertElement("Turbine")
    assert(api.lookup("site1", "element", "Boiler").count() === 1)
    assert(api.lookup("site1", "element", "%i%").count() === 2)

    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (1, ts("2024-01-01 00:00:00"), 1.0),
      (1, ts("2024-01-02 00:00:00"), 2.0)).toDF("attribute_id", "timestamp", "value"))
    assert(api.exportTable("site1", "archive").count() === 2)
    assert(api.exportTable("site1", "archive", Some("timestamp"),
      between = Some(("2024-01-01 00:00:00", "2024-01-01 12:00:00"))).count() === 1)
    assert(api.exportTable("site1", "archive", Some("attribute_id"),
      exact = Some("1")).count() === 2)
    assert(api.databases() === Seq("site1"))
  }

  test("api: databases() lists namespaces through the Hadoop FS API " +
      "(scheme-qualified root, non-directory entries skipped)") {
    // the defect class this guards: a java.io.File walk silently returns
    // an empty catalog for any remote filesystem URI; driving the listing
    // through a scheme-qualified file: root proves the Hadoop path
    val root = Files.createTempDirectory("graft_dbs")
    Files.createDirectory(root.resolve("siteB"))
    Files.createDirectory(root.resolve("siteA"))
    Files.writeString(root.resolve("notes.txt"), "not a namespace")
    val api = new GraftApi(spark, "file:" + root.toString)
    assert(api.databases() === Seq("siteA", "siteB"))
    // missing root: empty listing, no throw (fresh deployment)
    assert(new GraftApi(spark, "file:" + root.resolve("absent"))
      .databases() === Seq.empty)
  }
}
