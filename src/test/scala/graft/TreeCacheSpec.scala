package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tree.TreeCache

class TreeCacheSpec extends SparkSpec {

  private val treeJson =
    """{
      |  "name": "Plant", "webid": "w-root", "is_leaf": false,
      |  "attributes": [],
      |  "children": [
      |    {"name": "Unit1", "webid": "w-u1", "is_leaf": false,
      |     "attributes": [{"name": "temp", "webid": "w-a1", "type": "Float64",
      |                     "path": "\\\\AF\\Plant\\Unit1|temp", "kks": "10ABC"}],
      |     "children": [
      |       {"name": "Pump", "webid": "w-p", "is_leaf": true, "attributes": [],
      |        "children": []}
      |     ]},
      |    {"name": "Unit2", "webid": "w-u2", "is_leaf": true,
      |     "attributes": [{"name": "press", "webid": "w-a2", "type": "Float64",
      |                     "path": "\\\\AF\\Plant\\Unit2|press", "kks": null}],
      |     "children": []}
      |  ]
      |}""".stripMargin

  private lazy val flat = {
    val f = Files.createTempFile("tree", ".json")
    Files.writeString(f, treeJson)
    TreeCache.flatten(TreeCache.readRoots(spark, f.toString))
  }

  test("flatten yields one row per node with accumulated paths") {
    val rows = flat.select("level", "path", "webid").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(
      (0, "Plant", "w-root"),
      (1, "Plant|Unit1", "w-u1"),
      (1, "Plant|Unit2", "w-u2"),
      (2, "Plant|Unit1|Pump", "w-p")))
  }

  test("toElements assigns deterministic ids and resolves parents") {
    val elems = TreeCache.toElements(flat).orderBy("element_id").collect()
      .map(r => (r.getInt(1), r.getString(2), if (r.isNullAt(3)) None else Some(r.getInt(3))))
    assert(elems.toSeq === Seq(
      (1, "Plant", None), (2, "Unit1", Some(1)), (3, "Unit2", Some(1)),
      (4, "Pump", Some(2))))
  }

  test("toAttributes joins tree attributes to element ids") {
    val attrs = TreeCache.toAttributes(flat).orderBy("attribute_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(attrs.toSeq === Seq((2, 1, "temp", "10ABC"), (3, 2, "press", null)))
  }

  test("leafWebidMap uses true-leaf semantics (no children)") {
    val leaves = TreeCache.leafWebidMap(flat).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(leaves === Map("Plant|Unit1|Pump" -> "w-p", "Plant|Unit2" -> "w-u2"))
  }

  test("a tree given as a file: URI loads like a local path") {
    val f = Files.createTempFile("tree", ".json")
    Files.writeString(f, treeJson)
    val viaUri = TreeCache.flatten(TreeCache.readRoots(spark, f.toUri.toString))
    assert(f.toUri.toString.startsWith("file:"))
    assert(viaUri.select("path").collect().map(_.getString(0)).toSet ===
      flat.select("path").collect().map(_.getString(0)).toSet)
  }

  test("list-of-roots files load as a forest") {
    val f = Files.createTempFile("forest", ".json")
    Files.writeString(f, s"[$treeJson, {\"name\": \"Plant2\", \"webid\": \"w2\", " +
      "\"is_leaf\": true, \"attributes\": [], \"children\": []}]")
    val flat2 = TreeCache.flatten(TreeCache.readRoots(spark, f.toString))
    assert(flat2.filter(col("level") === 0).count() === 2)
  }
}
