package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line options the runner passes through. `work` is the
  * scratch directory every file of the run goes under. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String)

final case class Metric(name: String, value: Double, unit: String)

/** One closed-loop round of a workload: an ingest drain and re-pull, or
  * a browse session. `ops` operations delivered `rows` rows in
  * `seconds`. */
final case class Round(ops: Int, rows: Long, seconds: Double)

/** What one run reports: `attempted`/`failed` count the workload's unit
  * operations (micro-batches or browse calls); a failed output check
  * marks the operations it covers as failed. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0 && attempted > 0
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, opts: Opts, sessionS: Double) {
  def dir(name: String): String = s"${opts.work}/$name"
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints the result object as the last line of stdout and exits
  * non-zero when an output check failed. */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "ingest_stream" -> IngestStream.run,
    "api_browse" -> ApiBrowse.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"))
    val run = workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors, "perfbench")
    // JVM start to a usable session: the part of set-up no repetition can re-measure
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = try run(Ctx(spark, opts, sessionS)) finally spark.stop()
    println(Json.result(out))
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  def result(o: Outcome): String = {
    val ms = o.metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$ms}}"""
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` at least once and until `seconds` have passed. */
  def loopFor(seconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    while (secondsSince(t0) < seconds) body
  }
}
