package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the benched configuration IS the recommended deployment config —
    // scale-proportional reduce parallelism rationale in GraftSession
    val spark = Harness.session("graft-bench")
    Harness.warm(spark, sfDir)
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the sweep — used for the
    // 100× scale spot-bench where only the pair-generation suite matters
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // sweep every query once at the smallest fixture first: identical plan
    // shapes compile identical generated code, so the Janino/JIT cost of
    // all ~50 queries is paid on tiny data instead of inside pass 1
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory) names.foreach { n =>
      Harness.dropCreated(spark) {
        try SparkEntry.queries(n)(spark, warmDir.toString).count()
        catch { case _: Throwable => () }
      }
    }
    // queries are independent measurements: each one's cache and
    // checkpoint blocks are dropped after its timed region
    def timeOne(name: String): Double = Harness.dropCreated(spark) {
      val t0 = System.nanoTime()
      val n = try { SparkEntry.queries(name)(spark, sfDir).count() } catch {
        case e: Throwable => System.err.println(s"BENCHFAIL $name: $e"); -1L
      }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"BENCHQ $name rows=$n%d sec=$dt%.2f")
      dt
    }
    // n passes (default 3, SPARK_GRAFT_BENCH_RUNS): this VM sees bursty
    // CPU steal from the host, so a single pass is ~25% noise
    // round-over-round. The headline per-query number is the MEDIAN
    // (robust to one stolen pass in either direction); the min is kept
    // alongside as the low-noise floor. Passes are full sweeps so later
    // passes reuse nothing.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val passes = (1 to runs).map(_ => names.map(n => n -> timeOne(n)).toMap)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val med = names.map(n => n -> median(passes.map(_(n))))
    val mins = names.map(n => n -> passes.map(_(n)).min)
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (med.nonEmpty) med.map(_._2).sum else 0.0
    val totalMin = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""queries":${obj(med)},"queries_min":${obj(mins)},"total_min":$totalMin,"sf":"$sfDir"}"""
    // full per-query detail lives on disk (and on stdout, first) — at 100+
    // queries the single-line maps run past what a tail-capturing consumer
    // keeps, so the detail line must never be the one the consumer needs
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), fullJson + "\n")
    catch { case _: Throwable => () }
    println(fullJson)
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    // contract: the LAST stdout line is a short, fixed-size summary that
    // survives any tail window; consumers wanting per-query medians read
    // BENCH_LOCAL.json (or the detail line above when their capture allows)
    val shortJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,""" +
      s""""nqueries":${names.length},"total_min":${r3(totalMin)},"detail":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    println(shortJson)
    spark.stop()
  }
}
