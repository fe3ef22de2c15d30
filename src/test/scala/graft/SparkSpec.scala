package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (Spark startup ~10s). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // materializeBucketed's probes rely on bucket pruning, which the
      // auto-disable rule strips from filter-only scans
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // match GraftSession: the native SQL functions register at build
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir: String = TestSession.sfDir

  /** Write `df` bucketed+sorted by `keys` as catalog table `tableName`
    * at `path` and read it back through the catalog (bucket metadata
    * lives there, not in the files), so a join or aggregate on all the
    * keys plans with no exchange. Repartitioning on the keys first makes
    * each task write one bucket, so each bucket is one file. */
  def materializeBucketed(df: DataFrame, path: String, tableName: String,
      keys: Seq[String], buckets: Int): DataFrame = {
    df.repartition(buckets, keys.map(col): _*)
      .write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path).mode("overwrite").saveAsTable(tableName)
    df.sparkSession.table(tableName)
  }
}
