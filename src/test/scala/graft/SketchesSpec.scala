package graft

import org.apache.spark.sql.functions._

import graft.sketch.Sketches
import graft.text.TextOps

class SketchesSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("doc_id", "text")
  }

  test("CMS estimates never undercount (one-sided error bound)") {
    val rnd = new scala.util.Random(3)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val d = docs((1L to 50L).map(i =>
      i -> Seq.fill(20)(words(rnd.nextInt(words.size))).mkString(" ")))
    val truth = d.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("true_n"))
    val est = Sketches.countMinEstimate(
      Sketches.countMinTokens(d, "text", 16), truth.select("tok"), 16)
    val joined = truth.join(est, Seq("tok")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("true_n"), r.toString))
  }

  test("CMS sketches merge by counter addition (partition-and-merge == whole)") {
    val rnd = new scala.util.Random(5)
    val words = Vector("red", "green", "blue", "cyan", "teal")
    val all = (1L to 60L).map(i =>
      i -> Seq.fill(10)(words(rnd.nextInt(words.size))).mkString(" "))
    val (a, b) = all.partition(_._1 % 2 == 0)
    val whole = Sketches.countMinTokens(docs(all), "text", 16)
    val merged = Sketches.countMinTokens(docs(a), "text", 16)
      .unionByName(Sketches.countMinTokens(docs(b), "text", 16))
      .groupBy("row", "slot").agg(sum("n").as("n"))
    assert(whole.orderBy("row", "slot").collect().toSeq ===
      merged.orderBy("row", "slot").collect().toSeq)
  }

  test("Bloom: no false negatives ever; filters merge by set union") {
    val rnd = new scala.util.Random(9)
    val words = (1 to 40).map(i => s"w$i")
    val all = (1L to 60L).map(i =>
      i -> Seq.fill(8)(words(rnd.nextInt(words.size))).mkString(" "))
    val bloom = Sketches.bloomSlots(docs(all), "text", 256)
    val present = docs(all).select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
    val flags = Sketches.bloomContains(bloom, present, 256).collect()
    assert(flags.nonEmpty)
    flags.foreach(r => assert(r.getBoolean(1), s"false negative for ${r.getString(0)}"))
    val (a, b) = all.partition(_._1 % 2 == 0)
    val merged = Sketches.bloomSlots(docs(a), "text", 256)
      .unionByName(Sketches.bloomSlots(docs(b), "text", 256)).distinct()
    assert(bloom.orderBy("slot").collect().toSeq ===
      merged.orderBy("slot").collect().toSeq)
  }

  test("HLL registers merge by max, and the estimate tracks the exact count") {
    val sess = spark
    import sess.implicits._
    val ids = (1 to 2000).map(_.toString)
    def hashed(xs: Seq[String]) =
      xs.toDF("uid").select(TextOps.tokenHash("uid").as("h"))
    val (a, b) = ids.partition(_.toInt % 3 == 0)
    val whole = Sketches.hllRegisters(hashed(ids), 64)
    val merged = Sketches.hllRegisters(hashed(a), 64)
      .unionByName(Sketches.hllRegisters(hashed(b), 64))
      .groupBy("bucket").agg(max("register").as("register"))
    assert(whole.orderBy("bucket").collect().toSeq ===
      merged.orderBy("bucket").collect().toSeq)
    val est = Sketches.hllEstimate(whole, 64).head().getDouble(0)
    // standard error ~1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(est - 2000) / 2000 < 0.4, s"estimate $est vs 2000")
  }

  test("histogram quantiles are within one bin width of the exact quantile") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(5000)(rnd.nextDouble() * 1000.0)
    val df = vals.toDF("v")
    val bins = 64
    val got = Sketches.histogramQuantiles(df, "v", bins, Seq(0.1, 0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val binWidth = (vals.max - vals.min) / bins
    val sorted = vals.sorted
    for ((q, est) <- got) {
      val exact = sorted(math.min(sorted.size - 1, math.ceil(q * sorted.size).toInt
        - (if (q > 0) 1 else 0)))
      assert(math.abs(est - exact) <= binWidth + 1e-9,
        s"q=$q est=$est exact=$exact binWidth=$binWidth")
    }
    // degenerate input: constant column estimates the constant at every q
    val const = Seq.fill(10)(42.0).toDF("v")
    Sketches.histogramQuantiles(const, "v", bins, Seq(0.0, 0.5, 1.0))
      .collect().foreach(r => assert(r.getDouble(1) === 42.0))
  }

  test("grouped histogram quantiles equal a per-group brute reference bit-exactly") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(23)
    val rows = for (g <- Seq("a", "b", "c"); _ <- 1 to 400)
      yield (g, rnd.nextDouble() * (if (g == "b") 10.0 else 500.0))
    val bins = 16
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = Sketches.histogramQuantiles(rows.toDF("g", "v"), "v", bins, qs, Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // brute reference with the IDENTICAL arithmetic (same fp op order)
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val vs = rs.map(_._2)
      val (lo, hi, n) = (vs.min, vs.max, vs.size)
      val width = (hi - lo) / bins
      val counts = vs.groupBy(v =>
          if (hi == lo) 0 else math.min(math.floor((v - lo) / width).toInt, bins - 1))
        .map { case (b, xs) => b -> xs.size.toLong }
      val sorted = counts.toSeq.sortBy(_._1)
      val cums = sorted.scanLeft(0L)(_ + _._2).tail
      qs.map { q =>
        val r = math.max(q * n.toDouble, 1.0)
        val idx = sorted.indices.find(i => cums(i).toDouble >= r &&
          (cums(i) - sorted(i)._2).toDouble < r).get
        val (bin, c) = sorted(idx)
        val before = cums(idx) - c
        (g, q) -> (lo + bin.toDouble * width + ((r - before.toDouble) / c.toDouble) * width)
      }
    }
    assert(got === want)
  }

  test("KMV: small sets are exact; the sketch merges as union-keep-k") {
    val sess = spark
    import sess.implicits._
    // two groups of word-soup docs; group g1 has < k distinct 2-grams
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    def soup(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val small = Seq((1L, "g1", "a b c d e"))            // 4 distinct 2-grams
    val big = (2L to 40L).map(i => (i, "g2", soup(60)))
    val df = (small ++ big).toDF("doc_id", "g", "text")
    val k = 16
    val est = Sketches.kmvDistinctEval(df, "g", "text", 2, k).collect()
      .map(r => r.getString(0) -> r).toMap
    // under-full sketch: estimate IS the exact distinct count
    assert(est("g1").getAs[Long]("n_sketch") === 4L)
    assert(est("g1").getAs[Long]("est_distinct") === est("g1").getAs[Long]("exact_distinct"))
    // full sketch: the estimating regime, within the ~1/sqrt(k) band
    assert(est("g2").getAs[Long]("n_sketch") === k.toLong)
    val e2 = est("g2").getAs[Long]("est_distinct").toDouble
    val x2 = est("g2").getAs[Long]("exact_distinct").toDouble
    assert(math.abs(e2 - x2) / x2 < 0.8, s"est $e2 vs exact $x2")
    // mergeability: sketch(all docs as ONE group) == union-keep-k of the
    // two per-group sketches — the property that makes KMV shardable
    val one = Sketches.kmvSketch(df.withColumn("g", lit("all")), "g", "text", 2, k)
      .select("h").collect().map(_.getLong(0)).sorted.toSeq
    val merged = Sketches.kmvSketch(df, "g", "text", 2, k)
      .select("h").distinct().collect().map(_.getLong(0)).sorted.take(k).toSeq
    assert(one === merged)
  }

  test("KMV jaccard: identical groups estimate 1.0; disjoint estimate 0.0") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("p", "q", "r", "s", "t", "u", "v", "w")
    def soup(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val texts = (1L to 20L).map(i => i -> soup(40))
    val df = (texts.map { case (i, t) => (i, "ga", t) } ++
      texts.map { case (i, t) => (i + 100L, "gb", t) } ++            // gb == ga
      (1L to 20L).map(i => (i + 200L, "gc", soup(40).toUpperCase))   // disjoint case
    ).toDF("doc_id", "g", "text")
    val out = Sketches.kmvOverlapEval(df, "g", "text", 2, 16).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("ga", "gb")).getAs[Double]("jaccard_est") === 1.0)
    assert(out(("ga", "gb")).getAs[Double]("true_jaccard") === 1.0)
    assert(out(("ga", "gc")).getAs[Double]("jaccard_est") === 0.0)
    assert(out(("ga", "gc")).getAs[Double]("true_jaccard") === 0.0)
  }

}
