package graft

import graft.dedup.Dedup

/** Exact substring (k-token window) dedup: hand-computed coverage on
  * crafted documents — whole-doc duplicates vanish, a shared k-gram is
  * cut at every occurrence after the global first, self-repetition
  * inside one doc keeps only the leading period, short/empty docs pass
  * through untouched.
  */
class SubstringDedupSpec extends SparkSpec {

  private def run(rows: Seq[(Long, String)], k: Int): Map[Long, (String, Int, Int)] = {
    val sess = spark
    import sess.implicits._
    Dedup.substringDedup(rows.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
  }

  test("whole-doc duplicate is fully removed; first occurrence untouched") {
    val out = run(Seq(1L -> "a b c d e f", 2L -> "a b c d e f"), k = 3)
    assert(out(1L) === (("a b c d e f", 6, 0)))
    assert(out(2L) === (("", 6, 6)))
  }

  test("a shared k-gram is cut out of the later doc only") {
    val out = run(Seq(1L -> "a b c d e f", 3L -> "x y a b c z w"), k = 3)
    assert(out(1L) === (("a b c d e f", 6, 0)))
    assert(out(3L) === (("x y z w", 7, 3)))
  }

  test("self-repetition keeps exactly the leading period") {
    // windows at pos 0..2 are the global firsts of their grams; every
    // window from pos 3 on repeats one of them, covering pos 3..8
    val out = run(Seq(4L -> "p q r p q r p q r"), k = 3)
    assert(out(4L) === (("p q r", 9, 6)))
  }

  test("short, empty and whitespace-only docs pass through") {
    val out = run(Seq(5L -> "s t", 6L -> "", 7L -> "   "), k = 3)
    assert(out(5L) === (("s t", 2, 0)))
    assert(out(6L) === (("", 0, 0)))
    assert(out(7L) === (("", 0, 0)))
  }

  test("first-occurrence winner is decided by (doc_id, pos) order, not input order") {
    // doc 9 appears "first" in the input Seq but has the higher id: the
    // packed (id, pos) argmin still awards the gram to doc 8
    val out = run(Seq(9L -> "m n o", 8L -> "m n o"), k = 3)
    assert(out(8L) === (("m n o", 3, 0)))
    assert(out(9L) === (("", 3, 3)))
  }

  private def outRows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int, Int)] =
    df.select("doc_id", "clean_text", "n_tokens", "n_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet

  test("no cartesian or broadcast-nested-loop in the plan") {
    val sess = spark
    import sess.implicits._
    val df = Seq(1L -> "a b c d e f", 2L -> "a b c d e f").toDF("doc_id", "text")
    val plan = Dedup.substringDedup(df, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

}
