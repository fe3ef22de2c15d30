package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Metric assembly. `run.py` checks every emitted name and unit
  * against `BENCHMARK.json`, the one catalog of metrics. */
object Report {
  /** The end-to-end metrics, identical in name and unit for every
    * workload. `opS` is the workload's median operation latency. The
    * rates are the run's totals over the run's measured time: on
    * `api_browse` sessions deliver different row counts, and a median
    * of per-session rates jumped between them from run to run. */
  def endToEnd(setupS: Double, opS: Double, rounds: Seq[Round]): Seq[Metric] = {
    val seconds = rounds.map(_.seconds).sum
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", opS * 1e3, "ms"),
      Metric("ops_per_s", rounds.map(_.ops).sum / seconds, "1/s"),
      Metric("rows_per_s", rounds.map(_.rows).sum / seconds, "rows/s"))
  }

  /** Tracing overhead: the traced half's median operation `t` against
    * the untraced half's `u`, both from the same run. */
  def overhead(u: Double, t: Double, layerSumS: Double): Seq[Metric] =
    Seq(Metric("trace.untraced_op_ms", u * 1e3, "ms"), Metric("trace.traced_op_ms", t * 1e3, "ms"),
      Metric("trace.overhead_frac", t / u - 1, "ratio"),
      Metric("trace.layer_gap_ms", (layerSumS - u) * 1e3, "ms"))
}

/** Set-up timing: the expensive part of set-up is built `reps` times
  * into fresh directories and its median counts. */
object Setup {
  def repeated[T](reps: Int)(build: Int => T): (T, Double) = {
    val timed = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val f = build(r)
      val s = Stats.secondsSince(t0)
      System.err.println(f"perfbench: set-up $r took $s%.2f s")
      (f, s)
    }
    (timed.last._1, Stats.median(timed.map(_._2)))
  }
}

/** Parquet files of an archive directory, for write accounting and
  * layout metrics. */
object ArchiveFiles {
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map((f: Path) => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** (bytes of files the call wrote, growth of the archive) around `body`. */
  def written(root: String)(body: => Unit): (Long, Long) = {
    val before = sizes(root)
    body
    val after = sizes(root)
    ((after -- before.keySet).values.sum, after.values.sum - before.values.sum)
  }

  /** Mean parquet files per date partition and bytes per archive row. */
  def layout(spark: SparkSession, root: String): Seq[Metric] = {
    val files = sizes(root)
    val dates = files.keys.map(_.takeWhile(_ != '/')).toSet.size
    val rows = spark.read.parquet(root).count()
    Seq(Metric("archive.files_per_date", files.size.toDouble / math.max(dates, 1), "count"),
      Metric("archive.bytes_per_row", files.values.sum.toDouble / math.max(rows, 1L), "B"))
  }
}
