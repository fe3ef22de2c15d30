package graft


/** Dev utility: time individual SparkEntry queries in a warm JVM.
  *
  * {{{ sbt "runMain graft.ProfileQuery /root/testdata/sf0.1 s_knn_lsh d_minhash_sig" }}}
  *
  * Pass `--explain` as a query name to also print each plan
  * (`explain("formatted")`) before timing it. Runs on `SPARK_GRAFT_CPUS`
  * cores (default 4), like `Bench`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1)
    val explain = rest.contains("--explain")
    val names = rest.filterNot(_ == "--explain") match {
      case Array() => SparkEntry.queries.keys.toSeq.sorted
      case qs      => qs.toSeq
    }
    val spark = Harness.session("graft-profile")
    Harness.warm(spark, sfDir)
    names.foreach { name => Harness.dropCreated(spark) {
      if (explain) SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      // construct INSIDE the timed region: operators with driver-side
      // fixpoint loops (Hierarchy.closure, Dedup.clusters) do real work
      // eagerly at construction, and Bench times them that way too
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, sfDir).count() catch {
        case e: Throwable => println(s"ERR $name ${e.getMessage.take(120)}"); -1L
      }
      println(f"PROF $name rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f")
    } }
    spark.stop()
  }
}
