package graft

import org.apache.spark.sql.Row

import graft.model.Schemas
import graft.tree.Hierarchy

class HierarchySpec extends SparkSpec {

  /** 3-level tree: 1 root, 2 children, 3 grandchildren under node 2. */
  private lazy val element = {
    val rows = Seq(
      Row(0, 1, "root", null),
      Row(1, 2, "a", Integer.valueOf(1)),
      Row(1, 3, "b", Integer.valueOf(1)),
      Row(2, 4, "x", Integer.valueOf(2)),
      Row(2, 5, "y", Integer.valueOf(2)),
      Row(2, 6, "z", Integer.valueOf(2)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.element)
  }

  test("closure accumulates root|...|node paths for every node") {
    val got = Hierarchy.closure(element).select("element_id", "path")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(
      1 -> "root", 2 -> "root|a", 3 -> "root|b",
      4 -> "root|a|x", 5 -> "root|a|y", 6 -> "root|a|z"))
  }

  test("closure of an empty element table is empty (fresh namespace)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.element)
    assert(Hierarchy.closure(empty).isEmpty)
  }

  test("both closure engines agree; the default dispatches to native WITH RECURSIVE here") {
    val iter = Hierarchy.closureLoop(element).orderBy("element_id").collect()
    val sql = Hierarchy.closureSql(element).orderBy("element_id").collect()
    assert(sql.toSeq === iter.toSeq)
    // this build is Spark 4.x, so the default must take the one-plan
    // native path (no per-level driver round-trips)
    val plan = Hierarchy.closure(element).queryExecution.analyzed.toString
    assert(plan.contains("CTERelation") || plan.contains("UnionLoop"),
      s"default closure did not use the recursive CTE plan:\n$plan")
    // the loop fallback handles the empty table too
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.element)
    assert(Hierarchy.closureLoop(empty).isEmpty)
  }

  test("reference leaf semantics: roots + max-level nodes") {
    val ids = Hierarchy.leavesReferenceSemantics(element)
      .select("element_id").collect().map(_.getInt(0)).toSet
    assert(ids === Set(1, 4, 5, 6)) // root misclassified as leaf, b missed
  }

  test("true leaf semantics: nodes nobody parents") {
    val ids = Hierarchy.leavesTrue(element)
      .select("element_id").collect().map(_.getInt(0)).toSet
    assert(ids === Set(3, 4, 5, 6))
  }

  test("remapIds keeps only changed ids; remapArchive rewrites through the map") {
    val sess = spark
    import sess.implicits._
    val oldM = Seq(("root|a", 2), ("root|b", 3)).toDF("path", "element_id")
    val newM = Seq(("root|a", 2), ("root|b", 33)).toDF("path", "element_id")
    val remap = Hierarchy.remapIds(oldM, newM)
    assert(remap.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ===
      Seq(("root|b", 3, 33)))

    val archive = Seq((3, "t1", 1.0), (9, "t2", 2.0)).toDF("attribute_id", "timestamp", "value")
    val out = Hierarchy.remapArchive(archive, remap).orderBy("timestamp")
      .select("attribute_id").collect().map(_.getInt(0)).toSeq
    assert(out === Seq(33, 9)) // 3 remapped, 9 passes through
  }

  test("closure handles a forest (multiple roots) and single-node trees") {
    val rows = Seq(Row(0, 1, "r1", null), Row(0, 2, "r2", null),
      Row(1, 3, "c", Integer.valueOf(2)))
    val forest = spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.element)
    val got = Hierarchy.closure(forest).select("element_id", "path")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "r1", 2 -> "r2", 3 -> "r2|c"))
  }
}
