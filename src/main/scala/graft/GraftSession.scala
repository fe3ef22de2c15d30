package graft

import org.apache.spark.sql.SparkSession

/** The recommended session configuration for this engine, in one place —
  * what a deployment would put behind `--conf`, and what the harness
  * mains apply through [[Harness.session]] so the benched configuration
  * IS the recommended one. Nothing here reads the environment.
  *
  *  - `shuffle.partitions = cores`: the AQE floor; fine for small inputs.
  *  - `initialPartitionNum = 8 × cores`: the scale lever — large shuffles
  *    fan out to byte-sized reduce tasks (no per-task spill when the data
  *    grows 100×) and AQE coalesces small shuffles right back down, so
  *    one config is correct across orders of magnitude of input. Measured
  *    (BENCH_SCALE.md): −19% on the two heaviest 100× pair queries and
  *    −22% on the full sf0.1 sweep vs the fixed-count config.
  *  - UTC session time zone: every temporal oracle twin assumes it.
  *  - `graft.functions.GraftExtensions` registers the native SQL
  *    functions (`poly_hash`, `float_vec_dot`, ...) and the optimizer
  *    rule `SortLocalRelation` (a global sort over a `LocalRelation` runs
  *    at planning time, with no job) at session build.
  *
  * On a real cluster replace `cores` with the executor-core total; the
  * ratios carry.
  */
object GraftSession {

  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // generated-class cache sized to the WORKLOAD, not the 100-entry
      // default: a 270-query sweep compiles a few thousand codegen
      // units, so at 100 entries every repeated run re-Janinos AND
      // re-JITs classes the JVM had already optimized — measured as the
      // 3× median/min spread on the unrolled graph cells (each query is
      // stable in isolation, where 100 entries suffice). Class metadata
      // is KBs per entry; the compiled code budget is the code cache.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** A local session with the recommended configuration (the harness
    * shape: `local[cores]`, UI off). */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
