package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SortLocalRelation

class SortLocalRelationSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType), StructField("d", DoubleType), StructField("s", StringType)))

  /** Local rows with ties, nulls, NaN, both zeros and mixed-case strings;
    * `id` is the input position. */
  private def frame(): DataFrame = {
    val ks = Seq[Integer](3, null, 1, 3, 2, null, 1, 3, 2, 1)
    val ds = Seq[java.lang.Double](Double.NaN, 1.5, null, -0.0, 0.0, Double.NaN, 1.5,
      Double.NegativeInfinity, null, 2.0)
    val ss = Seq("b", "a", null, "B", "a", "ä", "", null, "b", "A")
    val rows = ks.indices.map(i => Row(i, ks(i), ds(i), ss(i)))
    spark.createDataFrame(rows.asJava, schema)
  }

  private val rule = "graft.functions.SortLocalRelation"

  /** The rows `df.orderBy(order)` returns without the fold (Spark's own
    * distributed sort). */
  private def sparkSorted(df: DataFrame, order: Seq[Column]): Seq[Row] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, rule)
    try {
      val q = df.orderBy(order: _*)
      assert(q.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }.isDefined)
      q.collect().toSeq
    } finally spark.conf.unset(key)
  }

  /** Sort keys as text: -0.0 and 0.0 sort equal, so they print alike. */
  private def keyOf(r: Row, cols: Seq[String]): Seq[String] = cols.map { c =>
    r.getAs[Any](c) match {
      case d: Double if d == 0.0 => "0.0"
      case v => String.valueOf(v)
    }
  }

  /** Runs of equal keys, in order, each run's rows as a multiset. */
  private def runs(rows: Seq[Row], cols: Seq[String]): Seq[(Seq[String], Map[String, Int])] =
    rows.foldLeft(Vector.empty[(Seq[String], Vector[Row])]) { (acc, r) =>
      val k = keyOf(r, cols)
      if (acc.nonEmpty && acc.last._1 == k) acc.init :+ (k -> (acc.last._2 :+ r))
      else acc :+ (k -> Vector(r))
    }.map { case (k, rs) => k -> rs.groupBy(_.toString).view.mapValues(_.size).toMap }

  private val orders: Seq[(Seq[String], Seq[Column])] = Seq(
    Seq("k") -> Seq(col("k")),
    Seq("k") -> Seq(col("k").desc),
    Seq("k") -> Seq(col("k").asc_nulls_last),
    Seq("k") -> Seq(col("k").desc_nulls_first),
    Seq("d") -> Seq(col("d")),
    Seq("d") -> Seq(col("d").desc_nulls_last),
    Seq("s") -> Seq(col("s")),
    Seq("s") -> Seq(col("s").desc),
    Seq("k", "s") -> Seq(col("k").desc, col("s").asc_nulls_last),
    Seq("s", "d", "k") -> Seq(col("s"), col("d").desc, col("k")))

  test("the fold returns Spark's own sort; ties keep input order; the plan is a LocalTableScan") {
    val df = frame()
    for ((cols, order) <- orders) {
      val q = df.orderBy(order: _*)
      val folded = q.collect().toSeq
      val what = order.mkString(", ")
      assert(runs(folded, cols) === runs(sparkSorted(df, order), cols), what)
      // stable: each run of equal keys is in input (id) order
      for ((_, run) <- folded.groupBy(keyOf(_, cols)))
        assert(run.map(_.getInt(0)) === run.map(_.getInt(0)).sorted, s"$what: unstable")
      assert(q.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }.isEmpty, what)
      assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        s"$what:\n${q.queryExecution.executedPlan}")
    }
    // filters and projections under the sort fold too
    val q = df.filter(col("k").isNotNull).select(col("s"), col("k")).orderBy(col("k"), col("s"))
    assert(q.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    assert(q.collect().toSeq ===
      sparkSorted(df.filter(col("k").isNotNull).select(col("s"), col("k")), Seq(col("k"), col("s"))))
  }

  test("a non-deterministic order, a per-partition sort and a streaming relation are left alone") {
    val local = frame().queryExecution.analyzed match {
      case l: LocalRelation => l
      case other => fail(s"expected a LocalRelation, got\n$other")
    }
    val byRand = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, local)
    assert(SortLocalRelation(byRand) eq byRand)
    val byK = Seq(SortOrder(local.output(1), Ascending))
    val perPartition = Sort(byK, global = false, local)
    assert(SortLocalRelation(perPartition) eq perPartition)
    val streaming = Sort(byK, global = true, local.copy(isStreaming = true))
    assert(SortLocalRelation(streaming) eq streaming)
    // the same global order over the batch relation does fold
    assert(SortLocalRelation(Sort(byK, global = true, local)).isInstanceOf[LocalRelation])
    // and through the session: sortWithinPartitions keeps its Sort
    val within = frame().sortWithinPartitions("k").queryExecution.optimizedPlan
    assert(within.collectFirst { case s: Sort if !s.global => s }.isDefined, within.toString)
  }
}
