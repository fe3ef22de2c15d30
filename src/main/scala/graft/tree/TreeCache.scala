package graft.tree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** PI tree-cache JSON source (SURVEY.md §2.1 S3, §2.3 J7).
  *
  * The reference crawls the PI Web API into a nested JSON tree — node =
  * `{name, webid, children[], attributes[], is_leaf}` (reference
  * `src/pi/tree_generator.py:86-92`) — then loads it into the element/
  * attribute tables by recursive Python descent with per-row INSERTs
  * (reference `src/database/populate.py:299-354`). Spark-first shape:
  * read the whole file with an explicit depth-bounded schema (JSON
  * schemas cannot be recursive), flatten one level per iteration with
  * `explode` (distributed; the loop is driver control-flow only), and
  * assign ids with a deterministic window — no per-row round trips.
  */
object TreeCache {

  val MaxDepth = 8

  /** Node schema unrolled to `depth` levels. */
  def nodeSchema(depth: Int): StructType = {
    val attrs = ArrayType(Schemas.treeAttribute)
    val base = Seq(
      StructField("name", StringType),
      StructField("webid", StringType),
      StructField("attributes", attrs),
      StructField("is_leaf", BooleanType))
    if (depth <= 0) StructType(base)
    else StructType(base :+ StructField("children", ArrayType(nodeSchema(depth - 1))))
  }

  /** Read a tree-cache file: either one root object or a list of roots
    * (reference `populate.py:376-394` handles both). Returns one row per
    * root node. */
  def readRoots(spark: SparkSession, path: String, depth: Int = MaxDepth): DataFrame = {
    val asList = spark.read.option("multiLine", true)
      .schema(StructType(Seq(StructField("roots", ArrayType(nodeSchema(depth))))))
      .json(spark.createDataset(Seq(s"""{"roots": ${readRaw(spark, path)}}"""))(
        spark.implicits.newStringEncoder))
    asList.select(explode(col("roots")).as("node"))
  }

  /** The file's text, read through the Hadoop FileSystem so a `file:`
    * URI or an `hdfs://` path loads like a local path. */
  private def readRaw(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val txt = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    if (txt.startsWith("[")) txt else s"[$txt]" // single root -> list of one
  }

  /** Flatten the nested tree to one row per node:
    * (level, path, name, webid, parent_path, is_leaf, attributes).
    * One explode per level; level count is bounded by the cache depth. */
  def flatten(roots: DataFrame, sep: String = "|"): DataFrame = {
    var frontier = roots.select(
      lit(0).as("level"),
      col("node.name").as("path"),
      col("node.name").as("name"),
      col("node.webid").as("webid"),
      lit(null).cast("string").as("parent_path"),
      coalesce(col("node.is_leaf"), lit(false)).as("is_leaf"),
      col("node.attributes").as("attributes"),
      col("node.children").as("children"))
    var out = frontier.drop("children")
    var depth = 0
    while (depth < MaxDepth && frontier.schema.fieldNames.contains("children") &&
        !frontier.filter(size(col("children")) > 0).isEmpty) {
      val hasGrandchildren = frontier.schema("children").dataType
        .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
        .fieldNames.contains("children")
      val child = frontier
        .select(col("level"), col("path"), explode(col("children")).as("node"))
      frontier = child.select(
        (col("level") + 1).as("level"),
        concat_ws(sep, col("path"), col("node.name")).as("path"),
        col("node.name").as("name"),
        col("node.webid").as("webid"),
        col("path").as("parent_path"),
        coalesce(col("node.is_leaf"), lit(false)).as("is_leaf"),
        col("node.attributes").as("attributes"),
        (if (hasGrandchildren) col("node.children")
         else lit(null).cast(ArrayType(nodeSchema(0)))).as("children"))
      out = out.unionByName(frontier.drop("children"))
      depth += 1
    }
    out
  }

  /** J7 — build the element dimension with deterministic ids: nodes
    * numbered by (level, path) order, parents resolved by a path
    * self-join (replaces the reference's per-row INSERT .. RETURNING). */
  def toElements(flat: DataFrame): DataFrame = {
    val w = Window.orderBy("level", "path")
    val numbered = flat.select(col("level"), col("path"), col("name"), col("parent_path"))
      .withColumn("element_id", row_number().over(w))
    numbered
      .join(broadcast(numbered.select(col("path").as("parent_path"),
        col("element_id").as("parent_id"))), Seq("parent_path"), "left")
      .select(col("level"), col("element_id"), col("name"), col("parent_id").cast("int"))
  }

  /** Attribute catalog from the tree: one row per (element, attribute)
    * with ids numbered by (element path, attribute name). */
  def toAttributes(flat: DataFrame): DataFrame = {
    val elems = toElements(flat)
    val paths = Hierarchy.pathIdMapping(elems)
    val exploded = flat.filter(size(col("attributes")) > 0)
      .select(col("path"), explode(col("attributes")).as("a"))
    exploded
      .join(broadcast(paths), Seq("path"))
      .withColumn("attribute_id", row_number().over(Window.orderBy("path", "a.name")))
      .select(col("element_id"), col("attribute_id"),
        col("a.name").as("name"), col("a.kks").as("kks"),
        lit(null).cast("string").as("formula"))
  }

  /** Leaf webid map `{Root|Child|Leaf: webid}` with the TRUE leaf
    * definition — empty children list (reference
    * `src/pi/extract_leaf_nodes.py:13-19`). */
  def leafWebidMap(flat: DataFrame): DataFrame = {
    val parents = flat.filter(col("parent_path").isNotNull)
      .select(col("parent_path").as("path")).distinct()
    flat.join(parents, Seq("path"), "left_anti")
      .select(col("path"), col("webid"))
  }
}
