package graft

import org.apache.spark.graftbridge.BlockBridge
import org.apache.spark.sql.SparkSession

/** Session, warm-up and per-query cleanup shared by the harness mains
  * (`Bench`, `Verify`, `JobProf`, `ProfileQuery`), so they measure and
  * clean up the same way. */
object Harness {

  /** The recommended local session ([[GraftSession.local]]) on
    * `SPARK_GRAFT_CPUS` cores, default 4. */
  def session(app: String): SparkSession =
    GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, app)

  /** The query names listed, comma-separated, in `envVar`, or None when
    * it is unset. A name that is not in [[SparkEntry.queries]] fails
    * here, before any work: a typo would otherwise select nothing. */
  def only(envVar: String): Option[Set[String]] =
    sys.env.get(envVar).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"$envVar names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** Absorbs JVM, codegen and parquet-reader start-up before anything is
    * timed; otherwise whichever query runs first is charged for it. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }

  /** Runs `body`, then drops the SQL cache and unpersists only the RDDs
    * `body` created, so one query cannot squeeze the next one's storage.
    * `clearCache` alone leaves `localCheckpoint` blocks (every unrolled
    * graph/dedup superstep) until a GC lets the ContextCleaner sweep
    * them. RDDs persisted before `body` are kept: a blanket unpersist
    * would also drop the blocks of a checkpointed frame retained across
    * queries, whose truncated lineage then fails with block-not-found
    * instead of recomputing. */
  def dropCreated[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) BlockBridge.drop(rdd)
      }
    }
  }
}
