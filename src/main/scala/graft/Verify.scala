package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Every query
  * runs even when another throws; the run then exits with status 1 and
  * names each query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-loop subset filter (comma-separated names), like the bench's
    // SPARK_GRAFT_BENCH_ONLY; the driver never sets it
    val only = Harness.only("SPARK_GRAFT_VERIFY_ONLY")
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(kv => only.forall(_(kv._1)))
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      Harness.dropCreated(spark) {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} queries failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
