package graftbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{ArchiveStore, Catalog}
import graft.formula.Formula
import graft.model.Schemas
import graft.streaming.DerivedStream.DerivedDef

final case class Element(level: Int, id: Int, name: String, parent: Option[Int])
final case class Attr(elementId: Int, id: Int, name: String, kks: String,
    formula: Option[String])

/** A seeded plant: site → unit → system → equipment tree, source
  * attributes per equipment and 3-ref derived formulas. Source attribute
  * ids are 1..nTags, derived ids follow. */
final case class Plant(seed: Long, elements: IndexedSeq[Element], attrs: IndexedSeq[Attr]) {
  val equipment: IndexedSeq[Element] = {
    val maxLevel = elements.map(_.level).max
    elements.filter(_.level == maxLevel)
  }
  val sources: IndexedSeq[Attr] = attrs.filter(_.formula.isEmpty)
  val nTags: Int = sources.size
  val derived: Seq[DerivedDef] = attrs.collect { case Attr(_, id, _, _, Some(f)) => DerivedDef(id, f) }
  def attrsOf(elementId: Int): IndexedSeq[Attr] = attrs.filter(_.elementId == elementId)
}

object Plant {
  /** Sizes. Equipment = units × systems per unit × equipment per system. */
  final case class Size(units: Int, systemsPerUnit: Int, equipmentPerSystem: Int,
      attrsPerEquipment: Int, formulas: Int)

  private val systemCodes = Seq("FW", "CW", "ST", "FG", "LO", "AH", "CD", "BD")
  private val equipmentTypes = Seq("PUMP", "FAN", "VALVE", "HX", "MOTOR", "TANK", "DRUM")
  private val attrNames = Seq("TEMP", "PRESS", "FLOW", "VIB", "SPEED", "CURRENT", "LEVEL", "POWER")
  private val formulaShapes = Seq(
    (a: Int, b: Int, c: Int) => s"$$$a + $$$b * 0.5 - $$$c",
    (a: Int, b: Int, c: Int) => s"($$$a - $$$b) * 0.25 + $$$c",
    (a: Int, b: Int, c: Int) => s"$$$a * 0.5 + ($$$b + $$$c) * 0.125",
    (a: Int, b: Int, c: Int) => s"-$$$a + $$$b + $$$c * 0.5")

  def generate(seed: Long, size: Size): Plant = {
    val rnd = new Random(seed)
    val els = Vector.newBuilder[Element]
    var nextId = 0
    def add(level: Int, name: String, parent: Option[Int]): Int = {
      nextId += 1; els += Element(level, nextId, name, parent); nextId
    }
    val site = add(0, s"SITE-${(rnd.nextInt(900) + 100)}", None)
    for (u <- 1 to size.units) {
      val unit = add(1, s"U$u", Some(site))
      for (sys <- rnd.shuffle(systemCodes).take(size.systemsPerUnit)) {
        val system = add(2, s"U$u-$sys", Some(unit))
        val types = rnd.shuffle(equipmentTypes)
        for (e <- 1 to size.equipmentPerSystem)
          add(3, s"U$u-$sys-${types(e % types.size)}$e", Some(system))
      }
    }
    val elements = els.result()
    val equipment = elements.filter(_.level == 3)
    val sources = Vector.newBuilder[Attr]
    var attrId = 0
    for (eq <- equipment; (name, i) <- rnd.shuffle(attrNames).take(size.attrsPerEquipment)
        .sorted.zipWithIndex) {
      attrId += 1
      sources += Attr(eq.id, attrId, name, f"${eq.name.filter(_.isLetterOrDigit)}%s${i + 1}%02d", None)
    }
    val src = sources.result()
    val derived = (1 to size.formulas).map { k =>
      val eq = equipment(rnd.nextInt(equipment.size))
      val refs = rnd.shuffle(src.filter(_.elementId == eq.id).map(_.id)).take(3)
      val f = formulaShapes(rnd.nextInt(formulaShapes.size))(refs(0), refs(1), refs(2))
      Attr(eq.id, src.size + k, s"CALC$k", s"CALC$k", Some(f))
    }
    Plant(seed, elements, src ++ derived)
  }

  /** Writes the plant's element and attribute tables into catalog
    * namespace `db` under `root`, in the program's own table schemas. */
  def writeCatalog(spark: SparkSession, plant: Plant, root: String, db: String): Catalog = {
    val elRows = plant.elements.map(e => Row(e.level, e.id, e.name, e.parent.map(Int.box).orNull))
    val atRows = plant.attrs.map(a => Row(a.elementId, a.id, a.name, a.kks, a.formula.orNull))
    spark.createDataFrame(elRows.asJava, Schemas.element).coalesce(1)
      .write.parquet(s"$root/$db/element")
    spark.createDataFrame(atRows.asJava, Schemas.attribute).coalesce(1)
      .write.parquet(s"$root/$db/attribute")
    new Catalog(spark, root, db)
  }

  /** The tag → attribute id mapping the stream broadcasts, materialized
    * once from [[Catalog.attributePathMapping]] the way the reference's
    * update-cache step writes its mapping artifact. */
  def tagMapping(spark: SparkSession, catalog: Catalog): DataFrame = {
    val m = catalog.attributePathMapping().withColumnRenamed("raw_path", "lookup_key")
    spark.createDataFrame(m.collect().toSeq.asJava, m.schema)
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def fmt(t: LocalDateTime): String = tsFmt.format(t)

  /** Day the archive ends on, varied by seed. */
  def lastDay(seed: Long): LocalDate = LocalDate.of(2024, 3, 1).plusDays(Math.floorMod(seed, 200L))

  /** Source rows for every tag on the 1-minute grid over
    * `[from, from + minutes)`: values are multiples of 0.5 so sums are
    * exact, every ~17th point is a NULL (a PI error value). */
  def sourceRows(spark: SparkSession, plant: Plant, from: LocalDateTime, minutes: Int): DataFrame = {
    val t = plant.nTags
    val epoch = from.toEpochSecond(ZoneOffset.UTC)
    val m = col("id").divide(t).cast("long")
    val attr = (col("id") % t + 1).cast("int")
    spark.range(0L, minutes.toLong * t)
      .select(attr.as("attribute_id"), m.as("m"))
      .select(col("attribute_id"),
        timestamp_seconds(lit(epoch) + col("m") * 60).cast("timestamp_ntz").as("timestamp"),
        when(pmod(xxhash64(lit(plant.seed), col("attribute_id"), col("m")), lit(17L)) === 0,
          lit(null).cast("double"))
          .otherwise((pmod(xxhash64(lit(plant.seed), col("attribute_id")), lit(200L)) +
            pmod(col("m"), lit(60L))) * 0.5).as("value"))
  }

  /** Source rows plus every formula's derived rows over them. */
  def withDerived(plant: Plant, src: DataFrame): DataFrame =
    plant.derived.map(d => Formula.backfill(src, d.formula, d.attributeId))
      .foldLeft(src)(_ unionByName _)

  /** Writes `[from, from + minutes)` of archive, derived rows included,
    * through the same upsert the stream uses. */
  def upsertArchive(spark: SparkSession, plant: Plant, path: String,
      from: LocalDateTime, minutes: Int): Unit =
    ArchiveStore.upsert(spark, path, withDerived(plant, sourceRows(spark, plant, from, minutes)))
}
