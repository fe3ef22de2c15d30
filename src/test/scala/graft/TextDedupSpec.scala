package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.model.Tables
import graft.text.TextOps

class TextDedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("fingerprint is order-sensitive and stable") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, "a b c"), (2, "c b a"), (3, "a b c")).toDF("id", "text")
    val fps = df.select(col("id"), TextOps.fingerprint("text").as("fp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fps(1) === fps(3))
    assert(fps(1) !== fps(2))
  }

  test("tokenHash matches a reference implementation") {
    val sess = spark
    import sess.implicits._
    def ref(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % TextOps.P)
    val got = Seq("abc").toDF("t").select(TextOps.tokenHash("t")).head().getLong(0)
    assert(got === ref("abc"))
  }

  test("langId picks the profile with most marker hits, tie-break by order") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1, "der hund und die katze ist nicht da"),
      (2, "the cat and the dog is here"),
      (3, "xyzzy plugh")).toDF("id", "text")
    val got = df.select(col("id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got(1) === "de")
    assert(got(2) === "en")
    assert(got(3) === "und")
    // staged variant must agree with the single-Column form everywhere
    val staged = TextOps.withLangId(df, "text", "l")
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(staged === got)
  }

  test("shingles produces n-grams; short docs produce none") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, "a b c d"), (2, "a b")).toDF("id", "text")
    val got = df.select(col("id"),
        TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) === Seq("a b c", "b c d"))
    assert(got(2) === Seq())
  }

  test("ilog2ScaledExpr matches the bit-twiddling reference and is monotone") {
    val sess = spark
    import sess.implicits._
    def ref(x: Long): Long = {
      val f = 63 - java.lang.Long.numberOfLeadingZeros(x)
      f * 1024L + ((x << 10) >> f) - 1024L
    }
    val rnd = new scala.util.Random(7)
    val xs = (Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1025L,
      (1L << 40) - 1, 1L << 40) ++
      Seq.fill(200)(1L + math.abs(rnd.nextLong()) % (1L << 40))).distinct
    val got = xs.toDF("x")
      .selectExpr("x", s"${TextOps.ilog2ScaledExpr("x")} AS l")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (x <- xs) assert(got(x) === ref(x), s"ilog2($x)")
    // exact at powers of two: L(2^k) = 1024k
    assert(got(1L) === 0L && got(1024L) === 10240L)
    val sorted = xs.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(got(a) <= got(b), s"not monotone at $a -> $b")
    }
  }

  test("perplexityBuckets: fluent repeats head, unseen gibberish tails, degenerates drop") {
    val sess = spark
    import sess.implicits._
    // 40 identical fluent docs: the hash-split train subset of them
    // gives every fluent bigram a high LM count; 5 gibberish docs use
    // vocabulary the LM never saw. Plus two degenerate docs (< 2
    // tokens) that must emit no row.
    val fluent = (0L until 40L).map(i => (i, "the cat sat on the mat"))
    val gibberish = (40L until 45L).map(i => (i, s"zzq$i qqz$i xoxo$i wubba$i"))
    val degenerate = Seq((45L, "solo"), (46L, "   "))
    val df = (fluent ++ gibberish ++ degenerate).toDF("doc_id", "text")
    val got = TextOps.perplexityBuckets(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(!got.contains(45L) && !got.contains(46L))
    val fluentAvg = (0L until 40L).map(got(_)._1)
    val gibAvg = (40L until 45L).map(got(_)._1)
    assert(fluentAvg.distinct.size === 1) // identical docs, identical cost
    assert(fluentAvg.max < gibAvg.min,
      s"fluent docs must cost fewer bits: ${fluentAvg.max} vs ${gibAvg.min}")
    (0L until 40L).foreach(i => assert(got(i)._2 === "head", s"doc $i"))
    (40L until 45L).foreach(i => assert(got(i)._2 === "tail", s"doc $i"))
  }

  test("gopherRules: each rule trips on its crafted violator, clean prose passes") {
    val sess = spark
    import sess.implicits._
    val clean = "the cat and the dog have fun with all of that prose " +
      Seq.fill(40)("word").mkString(" ") // >= 50 words, sane lengths
    val docs = Seq(
      (1L, clean),
      (2L, "the and of short"), // < 50 words
      (3L, "the and of " + Seq.fill(50)("extraordinarily").mkString(" ")), // mean len > 10
      (4L, clean + " " + Seq.fill(20)("#").mkString(" ")), // symbol soup
      (5L, "the and\n" + Seq.fill(10)("- bullet").mkString("\n")), // bullet-heavy
      (6L, "the and\n" + Seq.fill(5)("trailing off...").mkString("\n")), // ellipsis-heavy
      (7L, "the and " + Seq.fill(60)("12345").mkString(" ")), // numeric words
      (8L, clean.replace("the ", "x ").replace("and ", "y ")
        .replace("have ", "z ").replace("of ", "w ").replace("that ", "v ")) // no stopwords
    ).toDF("doc_id", "text")
    val cols = TextOps.gopherRules(col("text")).map { case (n, c) => c.as(n) }
    val got = docs.select(col("doc_id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7), r.getBoolean(8))).toMap
    // (r_wordcount, r_wordlen, r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop)
    assert(got(1L) === ((true, true, true, true, true, true, true)))
    assert(!got(2L)._1, "short doc must fail word count")
    assert(!got(3L)._2, "long-word doc must fail mean word length")
    assert(!got(4L)._3, "symbol soup must fail symbol ratio")
    assert(!got(5L)._4, "bullet-heavy doc must fail bullet rule")
    assert(!got(6L)._5, "ellipsis-heavy doc must fail ellipsis rule")
    assert(!got(7L)._6, "numeric-word doc must fail alpha rule")
    assert(!got(8L)._7, "stopword-free doc must fail stopword rule")
  }

  test("bm25TopK: rare term dominates, tf saturates monotonically, ties break by id") {
    val sess = spark
    import sess.implicits._
    // query terms stay minority-df (Robertson idf > 0): docs 5-9 are
    // filler-only, so df(common)=4 of N=9
    val df = (Seq(
      (1L, "rare common filler filler"),
      (2L, "common common filler filler"),  // tf(common)=2
      (3L, "common filler filler filler"),  // tf(common)=1
      (4L, "common filler filler filler")   // identical to 3: tie -> id order
    ) ++ (5L to 9L).map(i => (i, "filler filler filler filler"))).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(df, "doc_id", "text", Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!got.exists(_._1 == 5L))
    // the one doc holding the df=1 term must outrank every common-only doc
    assert(got.head._1 === 1L && got.head._2 === 2L)
    val byId = got.map(t => t._1 -> t._3).toMap
    assert(byId(2L) > byId(3L), "higher tf must score higher")
    assert(byId(3L) === byId(4L), "identical docs score identically")
    val order = got.map(_._1).toSeq
    assert(order.indexOf(3L) < order.indexOf(4L), "score ties break by id")
  }

  test("bm25TopK agrees with a double-arithmetic BM25 reference on clear orderings") {
    val sess = spark
    import sess.implicits._
    val texts = Seq(
      (1L, "x x x y f f f f"), (2L, "x y y f f"), (3L, "y f f f"),
      (4L, "x f f f f f f f f f f f"), (5L, "f f"), (6L, "x x y y"))
    val df = texts.toDF("doc_id", "text")
    val q = Seq("x", "y")
    // reference: double BM25 with log2 idf, same k1=1.2 b=0.75
    val n = texts.size.toDouble
    val avgdl = texts.map(_._2.split(" ").length).sum / n
    def dfOf(t: String) = texts.count(_._2.split(" ").contains(t)).toDouble
    def score(text: String): Double = {
      val toks = text.split(" ")
      q.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val idf = math.log((n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)) / math.log(2)
          idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
        }
      }.sum
    }
    val refOrder = texts.filter(d => d._2.split(" ").exists(q.contains))
      .sortBy(d => (-score(d._2), d._1)).map(_._1)
    val got = TextOps.bm25TopK(df, "doc_id", "text", q, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got === refOrder,
      s"integer BM25 order $got != double reference $refOrder")
  }

  test("importanceScores: directional on synthetic docs, degenerate-safe") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "tgt", "alpha beta alpha"),
      (2L, "raw", "alpha beta gamma"),   // target-leaning tokens
      (3L, "raw", "zeta yota omicron"),  // tokens the target never uses
      (4L, "raw", "   ")                 // tokenless: must emit no row
    ).toDF("doc_id", "source", "text")
    val got = TextOps.importanceScores(df,
      df.filter(col("source") === "tgt"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(4L))
    assert(got(2L)._1 === 3L && got(3L)._1 === 3L)
    assert(got(2L)._2 > got(3L)._2)
  }

  test("importanceScores n=2 scores bigram occurrences exactly") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "tgt", "a b c"),      // target bigrams: "a b", "b c"
      (2L, "raw", "a b x"),      // shares "a b"
      (3L, "raw", "y z")         // disjoint bigram "y z"
    ).toDF("doc_id", "source", "text")
    val got = TextOps.importanceScores(df,
      df.filter(col("source") === "tgt"), "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // raw counts: "a b"=2, "b c"=1, "a b x"? bigrams of doc2: "a b","b x";
    // doc3: "y z". tgt counts: "a b"=1, "b c"=1.
    // doc1: (2*1e6)/3 + (2*1e6)/2 ; doc2: (2*1e6)/3 + (1*1e6)/2 ; doc3: 1e6/2
    assert(got(1L) === ((2L, 2000000L / 3 + 1000000L)))
    assert(got(2L) === ((2L, 2000000L / 3 + 500000L)))
    assert(got(3L) === ((1L, 500000L)))
  }

  test("importanceScores matches a brute-force reference on the fixture") {
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[Long] =
      t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        .map(_.foldLeft(0L)((a, c) => (a * TextOps.CharMul + c.toLong) % TextOps.P))
    val rawToks = rows.map { case (id, _, t) => id -> toks(t) }
    val cRaw = rawToks.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cTgt = rows.filter(_._2 == "src0").flatMap(r => toks(r._3))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = rawToks.filter(_._2.nonEmpty).map { case (id, ts) =>
      id -> ((ts.size.toLong,
        ts.map(t => (cTgt.getOrElse(t, 0L) + 1L) * 1000000L / (cRaw(t) + 1L)).sum))
    }.toMap
    val got = TextOps.importanceScores(docs,
      docs.filter(col("source") === "src0"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  test("property: importanceScores equals a brute-force reference on random corpora") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(0, 6).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    val genCase = for {
      n <- Gen.choose(1, 6)
      docs <- Gen.listOfN(n, doc)
      srcs <- Gen.listOfN(n, Gen.oneOf("tgt", "raw"))
    } yield docs.zip(srcs).zipWithIndex.map { case ((t, s), i) => (i.toLong, s, t) }
    def hash(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % TextOps.P)
    def toks(t: String): Seq[Long] =
      t.trim.split("\\s+").toSeq.filter(_.nonEmpty).map(hash)
    val prop = Prop.forAll(genCase) { case rows =>
      val df = rows.toDF("doc_id", "source", "text")
      val got = TextOps.importanceScores(df,
        df.filter(col("source") === "tgt"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val cRaw = rows.flatMap(r => toks(r._3)).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val cTgt = rows.filter(_._2 == "tgt").flatMap(r => toks(r._3))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val want = rows.flatMap { case (id, _, t) =>
        val ts = toks(t)
        if (ts.isEmpty) None
        else Some(id -> ((ts.size.toLong,
          ts.map(k => (cTgt.getOrElse(k, 0L) + 1L) * 1000000L / (cRaw(k) + 1L)).sum)))
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("lineQualityFilter keeps punctuated prose, drops short/unpunctuated lines") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "Home | About | Contact\nThis is a real sentence with substance.\nok.\nAnother good line stands here!"),
      (2L, "all lines fail\nshort.\nno ending punct at all"),
      (3L, "One single proper line survives intact.")).toDF("doc_id", "text")
    val cols = TextOps.lineQualityFilter(col("text")).map { case (n, c) => c.as(n) }
    val got = df.select(col("doc_id") +: cols: _*)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // doc1: nav line has 5 words but no terminal punct; "ok." too short
    assert(got(1L) === ((4, 2,
      "This is a real sentence with substance.\nAnother good line stands here!")))
    assert(got(2L) === ((3, 0, "")))
    assert(got(3L) === ((1, 1, "One single proper line survives intact.")))
  }

  test("boilerplateRemove: df>=minDocs lines die everywhere, trim-normalized; " +
    "within-doc repetition alone survives") {
    val sess = spark
    import sess.implicits._
    val boiler = "Subscribe to our newsletter!"
    val df = (1L to 5L).map(i => (i, s"Real content of document $i.\n  $boiler \nTail $i."))
      .toDF("doc_id", "text")
      // doc 6: the boilerplate line repeated 3x IN ONE doc (df still 6 >= 5
      // via docs 1-5 + 6); doc 7: a line repeated within-doc only (df=1, kept)
      .unionAll(Seq(
        (6L, s"$boiler\n$boiler\n$boiler\nOwn words."),
        (7L, "echo echo\necho echo\nSolo line.")).toDF("doc_id", "text"))
    val got = TextOps.boilerplateRemove(df, "doc_id", "text", minDocs = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // docs 1-5: the padded "  boiler " line hashes equal to the bare one
    (1L to 5L).foreach { i =>
      assert(got(i) === ((3, 1, s"Real content of document $i.\nTail $i.")))
    }
    assert(got(6L) === ((4, 3, "Own words.")))
    assert(got(7L) === ((3, 0, "echo echo\necho echo\nSolo line.")))
  }

  test("boilerplateRemove: all-boilerplate doc yields empty clean_text, not a dropped row") {
    val sess = spark
    import sess.implicits._
    val df = ((1L to 5L).map(i => (i, s"common line\nkeep $i"))
      :+ (6L, "common line")).toDF("doc_id", "text")
    val got = TextOps.boilerplateRemove(df, "doc_id", "text", minDocs = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(6L) === ((1, 1, "")))
    assert(got(3L) === ((2, 1, "keep 3")))
    assert(got.size === 6)
  }

  test("redactPii: counts and typed placeholders, untouched text passes through") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.co.uk now"),
      (2L, "call 555-123-4567 or 555-999-0000"),
      (3L, "host 192.168.0.1 up"),
      (4L, "plain text only"),
      (5L, "a@b.io 111-222-3333 1.2.3.4")).toDF("doc_id", "text")
    val cols = TextOps.redactPii(col("text")).map { case (n, c) => c.as(n) }
    val got = df.select(col("doc_id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) === ((1, 0, 0, "mail <EMAIL> now")))
    assert(got(2L) === ((0, 2, 0, "call <PHONE> or <PHONE>")))
    assert(got(3L) === ((0, 0, 1, "host <IP> up")))
    assert(got(4L) === ((0, 0, 0, "plain text only")))
    assert(got(5L) === ((1, 1, 1, "<EMAIL> <PHONE> <IP>")))
  }

  test("contaminationMatrix: hand-computed overlap, maxDf drops the everywhere-token") {
    val sess = spark
    import sess.implicits._
    // unigram shingles (n=1) so vocabularies are readable: A={x,y,z,common},
    // B={x,y,common}, C={q,common}; 'common' lives in all three sources
    val df = Seq(
      (1L, "A", "x y z common"),
      (2L, "B", "x y common"),
      (3L, "C", "q common")).toDF("doc_id", "source", "text")
    val full = Dedup.contaminationMatrix(df, "source", "text", n = 1, maxDf = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(full(("A", "B")) === ((3L, 4L, 3L, 3.0 / 4.0))) // x, y, common
    assert(full(("A", "C")) === ((1L, 4L, 2L, 1.0 / 5.0))) // common
    assert(full(("B", "C")) === ((1L, 3L, 2L, 1.0 / 4.0)))
    // maxDf = 2 drops 'common' (df 3) from sharing; vocab sizes stay exact
    val capped = Dedup.contaminationMatrix(df, "source", "text", n = 1, maxDf = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped(("A", "B")) === 2L) // x, y only
    assert(!capped.contains(("A", "C"))) // nothing shared below the cap
  }

  test("pipe_dedup_keep_best keeps the max-quality member of every cluster, full coverage") {
    val docs = Tables.documents(spark, sfDir)
    val out = SparkEntry.queries("pipe_dedup_keep_best")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // recompute membership + scores independently
    val clusters = graft.dedup.Dedup.clusters(docs.select("doc_id"),
      graft.dedup.Dedup.minhashLshCandidates(docs, "doc_id", "text", 3), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = TextOps.withQualityFeatures(docs, "text")
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // full coverage: every document is a member of exactly one output cluster
    assert(out.values.map(_._3).sum === docs.count())
    assert(out.keySet === clusters.values.toSet)
    out.foreach { case (cl, (kept, score, n)) =>
      val members = clusters.collect { case (id, c) if c == cl => id }
      assert(members.size.toLong === n, s"cluster $cl member count")
      assert(clusters(kept) === cl, s"kept doc $kept not in cluster $cl")
      // the representative attains the cluster max; ties break to low id
      val best = members.map(id => (scores(id), id))
        .maxBy { case (s0, id) => (s0, -id) }
      assert((scores(kept), kept) === best, s"cluster $cl kept $kept, want $best")
    }
  }

  test("redactPiiV2: IBAN and E.164 boundary spans resolve as documented") {
    val sess = spark
    import sess.implicits._
    val df = TextOps.CraftedPiiRows.toDF("doc_id", "text")
    val cols = TextOps.redactPii(col("text"), TextOps.PiiClassesV2).map { case (n, c) => c.as(n) }
    val got = df.select(col("doc_id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getString(6))))
      .toMap
    // (n_emails, n_ibans, n_e164, n_phones, n_ips, clean)
    assert(got(900001L) === ((0, 1, 0, 0, 0, "Pay to <IBAN> today")))
    // lowercase runs are prose
    assert(got(900002L)._2 === 0)
    assert(got(900002L)._6 === "iban de89370400440532013000 lowercase stays prose")
    assert(got(900003L) === ((0, 1, 0, 0, 0, "<IBAN> starts the line")))
    // E.164 and dashed phone are distinct classes
    assert(got(900004L) === ((0, 0, 1, 1, 0, "call <E164> or <PHONE> now")))
    // leading zero never matches E.164
    assert(got(900005L)._3 === 0)
    // 15-digit max matches whole; a 16-digit run matches its first 15
    assert(got(900006L)._3 === 2)
    assert(got(900006L)._6 === "max <E164> and beyond <E164>6 overruns")
    assert(got(900007L) === ((1, 1, 0, 0, 1, "mail <EMAIL> IBAN <IBAN> ip <IP>")))
    // {10,30} clamp: a 33-char run after the prefix leaves 3 chars
    assert(got(900008L)._2 === 1)
    assert(got(900008L)._6 === "token <IBAN>BCD clamps at thirty")
    // fewer than 10 chars after the prefix never matches
    assert(got(900009L)._2 === 0)
  }

  test("redactPii v3 classes: SSN/phone spans are disjoint; an IBAN-length NINO-prefixed run is IBAN") {
    val sess = spark
    import sess.implicits._
    val df = TextOps.CraftedPiiRowsV3.toDF("doc_id", "text")
    val cols = TextOps.redactPii(col("text"), TextOps.PiiClassesV3).map { case (n, c) => c.as(n) }
    val got = df.select(col("doc_id") +: cols: _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6),
          r.getInt(7), r.getString(8))))
      .toMap
    // (n_emails, n_ibans, n_ninos, n_e164, n_ssns, n_phones, n_ips, clean)
    assert(got(900010L) === ((0, 0, 0, 0, 1, 0, 0, "SSN <SSN> filed today")))
    // 3-3-4 is a dash phone, never an SSN: the two shapes claim disjoint spans
    assert(got(900011L) === ((0, 0, 0, 0, 0, 1, 0, "not an SSN <PHONE> is a dash phone")))
    assert(got(900012L) === ((0, 0, 1, 0, 0, 0, 0, "NI number <NINO> on file")))
    // counted by both classes on the input; the earlier IBAN pass takes the span
    assert(got(900014L) === ((0, 1, 1, 0, 0, 0, 0,
      "run <IBAN> is iban shaped with a nino prefix")))
  }

  test("chunkTokens: sliding windows with overlap, short/empty docs behave") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 toks
      (2L, "a b c"),                          // fits one chunk
      (3L, "   ")                             // tokenless: no rows
    ).toDF("doc_id", "text")
    val got = TextOps.chunkTokens(df, "doc_id", "text", chunkSize = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3)))).toMap
    // stride 2: chunks at offsets 0,2,4,6 — full coverage, last chunk full
    assert(got.keys.count(_._1 == 1L) === 4)
    assert(got((1L, 0)) === ((4, "t0 t1 t2 t3")))
    assert(got((1L, 1)) === ((4, "t2 t3 t4 t5")))
    assert(got((1L, 3)) === ((4, "t6 t7 t8 t9")))
    assert(got((2L, 0)) === ((3, "a b c")))
    assert(!got.keys.exists(_._1 == 3L))
    // a ragged tail stays short, never pads or drops
    val ragged = TextOps.chunkTokens(Seq((9L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text"), "doc_id", "text", 4, 2)
      .collect().map(r => r.getInt(1) -> r.getString(3)).toMap
    assert(ragged === Map(0 -> "x1 x2 x3 x4", 1 -> "x3 x4 x5"))
  }

  test("exact dedup keeps lowest id per duplicate text") {
    val sess = spark
    import sess.implicits._
    val df = Seq((5, "same"), (2, "same"), (9, "other")).toDF("doc_id", "text")
    val ids = Dedup.exact(df, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getInt(0)).toSet
    assert(ids === Set(2, 9))
  }

  test("jaccardPairs finds identical docs with jaccard 1.0") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "x", "s", "alpha beta gamma"),
      (2L, "x", "s", "gamma beta alpha"),   // same token set
      (3L, "x", "s", "delta epsilon zeta"),
      (4L, "y", "s", "alpha beta gamma")    // same tokens, different block
    ).toDF("doc_id", "lang", "source", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", Seq("lang", "source"), 0.9)
      .select("id_a", "id_b", "jaccard").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getDouble(2) === 1.0)
  }

  test("PPJoin prefix filter: identical pairs to the full index, strictly fewer index rows") {
    val sess = spark
    import sess.implicits._
    // skewed fixture: every doc shares a boilerplate shingle block (the
    // hot, high-df tokens a prefix filter exists to skip) plus distinct
    // content; docs 1/2 and 5/6 are near-identical pairs
    val boiler = "all rights reserved contact us terms of service"
    val df = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon"),
      (2L, s"$boiler alpha beta gamma delta zeta"),
      (3L, s"$boiler completely different content here now"),
      (4L, s"$boiler nothing like any other document text"),
      (5L, s"$boiler red orange yellow green blue"),
      (6L, s"$boiler red orange yellow green indigo")
    ).toDF("doc_id", "text")
    def run(prefix: Boolean) =
      Dedup.jaccardPairs(df, "doc_id", "text", Nil, 0.7, prefixFilter = prefix)
        .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val full = run(prefix = false)
    assert(full.map(t => (t._1, t._2)) === Set((1L, 2L), (5L, 6L)))
    assert(run(prefix = true) === full)
    // the candidate reduction: the prefix index carries only the rarest
    // n - ceil(t*n) + 1 tokens per doc — a strict subset of the inverted
    // index, and none of the boilerplate (max-df) tokens survive
    val dt = Dedup.docTokens(df, "doc_id", "text", Nil)
    val sizes = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val prefixRows = Dedup.jaccardPrefixIndex(dt, sizes, "doc_id", Nil, 0.7).count()
    assert(prefixRows < dt.count(),
      s"prefix index ($prefixRows rows) did not shrink the inverted index (${dt.count()} rows)")
  }

  test("minhash LSH candidates ⊇ identical docs and agree with signatures") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),  // identical -> all bands equal
      (3L, "seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val cand = Dedup.minhashLshCandidates(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("simhash: identical texts equal, disjoint-vocab texts differ") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val h = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    assert(h.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("simhashPairs: near-identical docs within hamming radius") {
    val sess = spark
    import sess.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base + " extra"), (3L, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("jaccardPairs maxDf drops hot tokens from index AND similarity") {
    val sess = spark
    import sess.implicits._
    // "hot" appears in every doc (boilerplate); docs 1/2 share real content
    val df = Seq(
      (1L, "hot alpha beta gamma"),
      (2L, "hot alpha beta delta"),
      (3L, "hot zz yy xx")).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(df, "doc_id", "text", Nil, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 3L))) // hot token alone links 1~3 (1/7)
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", Nil, 0.1, maxDf = Some(2L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(!capped.contains((1L, 3L))) // boilerplate-only link gone
    // 1~2 survive on real content: {alpha,beta} of capped sets {alpha,beta,gamma}/{alpha,beta,delta}
    assert(capped((1L, 2L)) === 2.0 / 4.0)
  }

  test("clusters: transitive pairs merge to the component-min id, singletons keep their own") {
    val sess = spark
    import sess.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 7L).toDF("doc_id")
    // chain 3~2, 2~1 (never 3~1 directly) plus the pair 4~7
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(nodes, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 7L -> 4L))
  }

  test("native expressions are SQL-registered: poly_hash / float_vec_dot") {
    val r = spark.sql(
      "SELECT poly_hash('ab', 31, 2147483647) AS h, " +
        "float_vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(2.0 as float), cast(0.5 as float))) AS d").head()
    assert(r.getLong(0) === ('a'.toLong * 31 + 'b'.toLong) % 2147483647L)
    assert(r.getDouble(1) === 1.5 * 2.0 + 2.0 * 0.5)
  }

  test("FloatDoubleVecDot is bit-identical to the zip_with+aggregate fold") {
    val emb = Tables.embeddings(spark, sfDir)
    val plane = graft.sim.Similarity.hyperplanes(1, 64, seed = 7L)(0)
    val planeLit = array(plane.map(lit): _*)
    val hof = aggregate(
      zip_with(col("embedding"), planeLit, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)
    val native = graft.functions.NativeExprs.floatDoubleVecDot(col("embedding"), planeLit)
    assert(emb.filter(hof =!= native).count() === 0L)
    // SQL registration
    val r = spark.sql(
      "SELECT float_double_vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(2.0 as double), cast(0.5 as double))) AS d").head()
    assert(r.getDouble(0) === 1.5 * 2.0 + 2.0 * 0.5)
  }

  test("contamination reports the overlapping shingle fraction per eval doc") {
    val sess = spark
    import sess.implicits._
    val train = Seq((10, "a b c d e")).toDF("doc_id", "text")
    val eval = Seq(
      (1, "a b c x y"), // shingles: "a b c","b c x","c x y" → 1 of 3 in train
      (2, "b c d"),     // exactly one shingle, fully contained
      (3, "q r"))       // < 3 tokens → no shingles → no output row
      .toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text", 3)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1) === ((3L, 1L, 1.0 / 3.0)))
    assert(got(2) === ((1L, 1L, 1.0)))
    assert(!got.contains(3))
  }

  test("mixtureKeep downsamples per source deterministically") {
    val keepAll = docs.filter(
      TextOps.mixtureKeep(col("doc_id"), col("source"), Seq.empty)).count()
    assert(keepAll === docs.count()) // unlisted sources keep everything
    val none = docs.filter(
      TextOps.mixtureKeep(col("doc_id"), col("source"), Seq("src0" -> 0)))
      .filter(col("source") === "src0").count()
    assert(none === 0L)
    val half = TextOps.mixtureKeep(col("doc_id"), col("source"), Seq("src0" -> 50))
    val a = docs.filter(half).filter(col("source") === "src0").count()
    val b = docs.filter(half).filter(col("source") === "src0").count()
    assert(a === b) // re-evaluation is stable (no RNG state)
    assert(a > 0 && a < docs.filter(col("source") === "src0").count())
  }

  test("property: banded simhashPairs equals the brute-force all-pairs reference") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small vocab → clustered signatures → multi-band matches and
    // near-boundary hamming distances, the cases banding must not drop
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    val genCase = for {
      n <- Gen.choose(2, 7)
      ds <- Gen.listOfN(n, doc)
      maxH <- Gen.choose(0, 6)
      bits <- Gen.oneOf(32, 64) // both signature widths share the band path
    } yield (ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }, maxH, bits)
    val prop = Prop.forAll(genCase) { case (ds, maxH, bits) =>
      val df = ds.toDF("doc_id", "text")
      val got = Dedup.simhashPairs(df, "doc_id", "text", maxH, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sigs = Dedup.simhash(df, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= maxH
      } yield (a, b, h)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("64-bit simhash banding spreads bucket populations vs 32-bit") {
    // the hot-bucket skew lever: radius-3 banding chunks a 64-bit
    // signature into 16-bit blocks (65k bucket values per band) vs
    // 8-bit blocks at 32 bits — on the real corpus the most-populated
    // (band, chunk) bucket must shrink and the bucket count must grow,
    // or the wider width buys nothing
    def buckets(bits: Int) = {
      // the (band, chunk) keys hammingPairs joins on, for radius 3
      val (widths, offsets) = Dedup.bandLayout(bits, 4)
      val blocks = (0 until 4).map(b => struct(lit(b).as("band"),
        Dedup.chunkAt(col("simhash"), widths, offsets, b).as("chunk")))
      Dedup.simhash(docs, "doc_id", "text", bits)
        .select(explode(array(blocks: _*)).as("bc"))
        .groupBy("bc.band", "bc.chunk").agg(count(lit(1)).as("n"))
    }
    val n32 = buckets(32).agg(max("n"), count(lit(1))).head()
    val n64 = buckets(64).agg(max("n"), count(lit(1))).head()
    assert(n64.getLong(0) < n32.getLong(0),
      s"64-bit max bucket ${n64.getLong(0)} not below 32-bit ${n32.getLong(0)}")
    assert(n64.getLong(1) > n32.getLong(1),
      s"64-bit bucket count ${n64.getLong(1)} not above 32-bit ${n32.getLong(1)}")
  }

  test("property: clusters equals union-find on random graphs") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genGraph = for {
      nNodes <- Gen.choose(1, 20)
      nEdges <- Gen.choose(0, 15)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
    } yield (nNodes.toLong, edges.filter { case (a, b) => a != b })
    val prop = Prop.forAll(genGraph) { case (n, edges) =>
      val nodes = (0L until n).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.clusters(nodes, pairs, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotStar = Dedup.clustersStar(nodes, pairs, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find reference
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0L until n).map(i => i -> find(i.toInt).toLong).toMap
      got == want && gotStar == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: contamination equals a brute-force shingle-overlap reference") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = Gen.choose(0, 6).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    val genCase = for {
      nT <- Gen.choose(0, 4); nE <- Gen.choose(1, 4)
      ts <- Gen.listOfN(nT, doc); es <- Gen.listOfN(nE, doc)
    } yield (ts.zipWithIndex.map { case (t, i) => (i, t) },
      es.zipWithIndex.map { case (t, i) => (100 + i, t) })
    def hash(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % TextOps.P)
    def sh2(t: String): Set[Long] = {
      val toks = t.trim.split("\\s+").toSeq
      if (t.trim.isEmpty || toks.length < 2) Set.empty
      else toks.sliding(2).map(w => hash(w.mkString(" "))).toSet
    }
    val prop = Prop.forAll(genCase) { case (train, eval) =>
      val got = Dedup.contamination(train.toDF("doc_id", "text"),
        eval.toDF("doc_id", "text"), "doc_id", "text", 2)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val vocab = train.flatMap(t => sh2(t._2)).toSet
      val want = eval.flatMap { case (id, t) =>
        val s = sh2(t)
        if (s.isEmpty) None
        else Some(id -> ((s.size.toLong, s.count(vocab.contains).toLong)))
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("quality features on fixture docs are sane") {
    val row = docs.select(
      TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }: _*)
      .agg(min("stop_ratio"), max("stop_ratio"), min("mean_tok_len")).head()
    assert(row.getDouble(0) >= 0.0 && row.getDouble(1) <= 1.0)
    assert(row.getDouble(2) > 0.0)
  }

  test("nbClassify separates disjoint vocabularies perfectly on the held-out split") {
    val sess = spark
    import sess.implicits._
    // two classes with disjoint vocabularies; ids 0..199 hash-split into
    // ~80/10/10, so both train and test slices are non-empty per class
    val corpus = (0L until 200L).map { id =>
      if (id % 2 == 0) (id, "alpha beta gamma alpha", "A")
      else (id, "delta epsilon zeta zeta", "B")
    }
    val df = corpus.toDF("doc_id", "text", "lang")
    val confusion = TextOps.nbClassify(df, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // disjoint vocab → every held-out doc lands on the diagonal
    assert(confusion.keySet === Set(("A", "A"), ("B", "B")))
    // accounting: exactly the test-split docs are classified
    val nTest = df.withColumn("s", TextOps.hashSplit(col("doc_id")))
      .filter(col("s") === "test").count()
    assert(confusion.values.sum === nTest && nTest > 0)
  }

  test("nbClassify argmax tie-break is the lexicographically first class") {
    val sess = spark
    import sess.implicits._
    // identical class corpora → identical per-class scores on every
    // held-out doc → every prediction must fall to the first class name
    val corpus = (0L until 120L).map { id =>
      (id, "same words every time", if (id % 2 == 0) "b_cls" else "a_cls")
    }
    val out = TextOps.nbClassify(corpus.toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang").collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getString(1) === "a_cls"))
  }

  test("containment catches a subset dup that jaccard misses") {
    val sess = spark
    import sess.implicits._
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val short = (1 to 5).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, long, "en", "s"), (2L, short, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val cont = Dedup.containmentPairs(df, "doc_id", "text",
      Seq("lang", "source"), 0.9).collect()
    assert(cont.length === 1)
    val r = cont.head
    assert(r.getAs[Long]("common") === 5L && r.getAs[Double]("containment") === 1.0)
    // the same pair scores jaccard 5/20 = 0.25 — invisible at any
    // plausible jaccard dedup threshold
    assert(Dedup.jaccardPairs(df, "doc_id", "text",
      Seq("lang", "source"), 0.9).isEmpty)
  }

  test("shardAssignment: id-only dependence, contiguous per-shard positions, every shard used") {
    val sess = spark
    import sess.implicits._
    val docs = (0L until 200L).map(id => (id, s"text $id")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
      TextOps.shardAssignment(df, "doc_id", 16).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val a = rows(docs)
    // reproducible shuffle: identical under any input re-partitioning
    assert(a === rows(docs.repartition(7).sortWithinPartitions(desc("text"))))
    // shards cover [0, 16) and positions are 1..count within each shard
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet === (0 until 16).toSet)
    byShard.foreach { case (_, members) =>
      assert(members.map(_._3) === (1 to members.size).toSet)
    }
    // the intra-shard order is the salted ord-hash order, not id order
    assert(byShard.exists { case (_, members) =>
      members.toSeq.sortBy(_._3).map(_._1) !=
        members.toSeq.sortBy(_._3).map(_._1).sorted
    })
  }

  test("shardAssignment epochs: independent permutations, each reproducible") {
    val sess = spark
    import sess.implicits._
    val docs = (0L until 200L).map(id => (id, s"text $id")).toDF("doc_id", "text")
    def rows(epoch: Int): Seq[(Long, Int, Int)] =
      TextOps.shardAssignment(docs, "doc_id", 16, epoch).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sortBy(_._1)
    val e0 = rows(0)
    val e1 = rows(1)
    val e2 = rows(2)
    // each epoch is itself deterministic
    assert(e1 === rows(1))
    // distinct epochs genuinely re-shuffle: shard assignment differs for
    // a substantial fraction of ids (an identical permutation would mean
    // the salt is dead)
    def sharDiff(a: Seq[(Long, Int, Int)], b: Seq[(Long, Int, Int)]): Int =
      a.zip(b).count { case ((_, s1, _), (_, s2, _)) => s1 != s2 }
    assert(sharDiff(e0, e1) > 100)
    assert(sharDiff(e1, e2) > 100)
    // every epoch is still a complete, contiguous sharding
    Seq(e0, e1, e2).foreach { e =>
      val byShard = e.groupBy(_._2)
      byShard.foreach { case (_, m) =>
        assert(m.map(_._3).toSet === (1 to m.size).toSet)
      }
    }
  }

  test("temperatureSample: head downsampled, tail fully kept with repeat factors") {
    val sess = spark
    import sess.implicits._
    val head = (0L until 160L).map(id => (id, "en"))
    val tail = (1000L until 1040L).map(id => (id, "zh"))
    val df = (head ++ tail).toDF("doc_id", "lang")
    // budget below corpus size: everything is downsampled, copies all 1,
    // and the realized split is flatter than the corpus (alpha=0.5)
    val down = TextOps.temperatureSample(df, "doc_id", "lang", budget = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(down.forall(_._3 == 1))
    val nEn = down.count(_._2 == "en").toDouble
    val nZh = down.count(_._2 == "zh").toDouble
    // corpus ratio is 4:1; sqrt-flattened target ratio is 2:1 — the
    // hash-rate realization must land well inside (1.2, 3.5)
    assert(nEn / nZh > 1.2 && nEn / nZh < 3.5, s"en=$nEn zh=$nZh")
    // budget above corpus size: the tail group keeps EVERY doc and marks
    // repeats; no document is ever silently dropped from an upsampled group
    val up = TextOps.temperatureSample(df, "doc_id", "lang", budget = 400L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val upZh = up.filter(_._2 == "zh")
    assert(upZh.length === 40) // all kept
    assert(upZh.forall(_._3 >= 2)) // k_zh ~ 133 over 40 docs → base 3? no: verify >= 2
    // deterministic under re-partitioning
    val again = TextOps.temperatureSample(df.repartition(7), "doc_id", "lang",
      budget = 400L).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(again.sortBy(_._1).toSeq === up.sortBy(_._1).toSeq)
    // only cross-engine-exact alphas are accepted
    intercept[IllegalArgumentException] {
      TextOps.temperatureSample(df, "doc_id", "lang", 100L, alpha = 0.7)
    }
  }

  test("spanCorrupt: splicing targets back into inputs reconstructs every document") {
    val out = TextOps.spanCorrupt(docs.limit(100), "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    val orig = docs.limit(100).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty && out.exists(_._4 > 0), "15% masking must hit something")
    out.foreach { case (id, inputs, targets, nMasked, nSpans) =>
      val origToks = orig(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      // token accounting: inputs = unmasked + one sentinel per span;
      // targets = masked + one sentinel per span
      val inToks = if (inputs.isEmpty) Seq.empty else inputs.split(" ").toSeq
      val tgToks = if (targets.isEmpty) Seq.empty else targets.split(" ").toSeq
      assert(inToks.length === origToks.length - nMasked + nSpans)
      assert(tgToks.length === nMasked + nSpans)
      assert(inToks.count(_ == "<X>") === nSpans)
      assert(tgToks.count(_ == "<X>") === nSpans)
      // reconstruct: spans in targets are in document order, so replacing
      // the j-th <X> of inputs with the j-th span restores the original
      val spans = {
        var acc = List.empty[List[String]]
        tgToks.foreach {
          case "<X>" => acc = List.empty[String] :: acc
          case t     => acc = (acc.head :+ t) :: acc.tail
        }
        acc.reverse
      }
      val rebuilt = {
        var si = 0
        inToks.flatMap {
          case "<X>" => val s = spans(si); si += 1; s
          case t     => Seq(t)
        }
      }
      assert(rebuilt === origToks, s"doc $id failed round-trip")
    }
  }

  test("fimTransform: prefix+middle+suffix reassemble every document; cuts are deterministic") {
    val out = TextOps.fimTransform(docs.limit(100), "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val orig = docs.limit(100).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, psm, nPre, nMid, nSuf) =>
      val origToks = orig(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      assert(nPre + nMid + nSuf === origToks.length)
      // parse PSM: <PRE> p... <SUF> s... <MID> m...
      val toks = psm.split(" ").toSeq
      val iSuf = toks.indexOf("<SUF>"); val iMid = toks.indexOf("<MID>")
      assert(toks.head === "<PRE>" && iSuf > 0 && iMid > iSuf)
      val pre = toks.slice(1, iSuf)
      val suf = toks.slice(iSuf + 1, iMid)
      val mid = toks.drop(iMid + 1)
      assert(pre.length === nPre && mid.length === nMid && suf.length === nSuf)
      assert(pre ++ mid ++ suf === origToks, s"doc $id failed FIM round-trip")
    }
    // non-degenerate on the fixture: some docs get a real 3-way split
    assert(out.exists(o => o._3 > 0 && o._4 > 0 && o._5 > 0))
    // reproducible: same cuts on a reshuffled input
    val again = TextOps.fimTransform(docs.limit(100).repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out.foreach { case (id, psm, _, _, _) => assert(again(id) === psm) }
  }

  test("vocabDrift: identical halves 0, disjoint halves 1, half-shifted mixture exact") {
    val sess = spark
    import sess.implicits._
    def tvd(rows: Seq[(Long, String, String)]): Map[String, (Long, Long, Double)] =
      TextOps.vocabDrift(rows.toDF("doc_id", "source", "text"), "source", "text",
        col("doc_id") % 2 === 0).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).toMap
    // identical distributions → zero drift
    val same = tvd(Seq((0L, "a", "x y z"), (1L, "a", "x y z")))
    assert(same("a") === ((3L, 3L, 0.0)))
    // disjoint vocabularies → total drift 1.0
    val disj = tvd(Seq((0L, "a", "x x y"), (1L, "a", "p q r")))
    assert(disj("a")._3 === 1.0)
    // hand-computed mixture: ref = {x:2, y:2}, cur = {x:2, z:2}
    // TVD = ½(|2/4−2/4| + |2/4−0| + |0−2/4|) = 0.5
    val mix = tvd(Seq((0L, "a", "x x y y"), (1L, "a", "x x z z")))
    assert(mix("a") === ((4L, 4L, 0.5)))
    // a group with one empty side reports NULL, not a division blow-up
    val lop = tvd(Seq((0L, "b", "x y"), (2L, "b", "y z")))
    assert(lop("b")._1 === 4L && lop("b")._2 === 0L && lop("b")._3.isNaN)
  }

  test("contrastivePairs: intra-cluster positives, different-cluster deterministic negatives") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // cluster {1,2}
      (3L, "zeta eta theta iota kappa"),
      (4L, "zeta eta theta iota kappa"),        // cluster {3,4}
      (5L, "lambda mu nu xi omicron")           // singleton
    ).toDF("doc_id", "text")
    val out = Dedup.contrastivePairs(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    // positives: exactly the ordered intra-cluster pairs
    assert(out.map(t => (t._1, t._2)).toSet === Set((1L, 2L), (3L, 4L)))
    val clusterOf = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
    out.foreach { case (a, p, negOpt) =>
      negOpt.foreach { neg =>
        assert(clusterOf(neg) !== clusterOf(a),
          s"negative $neg of anchor $a shares its cluster")
      }
    }
    // deterministic under re-partitioning
    val again = Dedup.contrastivePairs(df.repartition(5), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(again.sortBy(t => (t._1, t._2)) === out.sortBy(t => (t._1, t._2)))
    // the negative windows are shard-partitioned: nothing in the plan
    // funnels the corpus through one partition or a global range sort
    val plan = Dedup.contrastivePairs(df, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"contrastive mining must not sort globally:\n$plan")
  }

  test("noveltyScores: first occurrence owns its grams; later copies score zero") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "a b c d"),   // grams abc, bcd — both first here → 1.0
      (2L, "a b c d"),   // exact copy → 0.0
      (3L, "b c d e"),   // bcd seen, cde new → 0.5
      (4L, "x y")        // < 3 tokens → absent from output
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(df, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((2L, 1L, 0.5)))
  }

  test("canonicalDedup: case/punctuation/whitespace variants share one keeper") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "  HELLO   world!!  "),
      (4L, "a different document")).toDF("doc_id", "text")
    val out = Dedup.canonicalDedup(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    assert(out(1L)._2 && !out(2L)._2 && !out(3L)._2, "lowest id keeps the group")
    assert(Set(1L, 2L, 3L).map(out(_)._1).size === 1, "variants share the canon hash")
    assert(Set(1L, 2L, 3L).forall(out(_)._3 === 3L))
    assert(out(4L)._2 && out(4L)._3 === 1L)
    assert(out(4L)._1 !== out(1L)._1)
  }

  test("lshRecallEval: an exact duplicate pair is always surfaced (recall 1)") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // byte-equal → sig-equal
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val r = Dedup.lshRecallEval(df, "doc_id", "text", 3, 0.8).head()
    assert(r.getLong(0) === 1L, "one true pair at 0.8")   // n_true
    assert(r.getLong(2) === 1L, "the identical pair must collide in every band") // n_hit
    assert(r.getDouble(3) === 1.0)                        // recall
    assert(r.getLong(1) >= 1L)                            // n_cand
  }

  test("minhashEstimatePairs: identical docs estimate 1.0 with zero error; bounds hold on the fixture") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val rows = Dedup.minhashEstimatePairs(df, "doc_id", "text", 3).collect()
    val ab = rows.find(r => r.getLong(0) === 1L && r.getLong(1) === 2L).get
    assert(ab.getAs[Int]("est_matches") === Dedup.MinhashParams.size)
    assert(ab.getAs[Double]("est") === 1.0)
    assert(ab.getAs[Double]("jaccard") === 1.0)
    assert(ab.getAs[Double]("abs_err") === 0.0)
    // fixture-wide invariants: est and jaccard in [0,1], err consistent
    val fx = Dedup.minhashEstimatePairs(docs, "doc_id", "text", 3).collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      val est = r.getAs[Double]("est"); val j = r.getAs[Double]("jaccard")
      assert(est >= 0.0 && est <= 1.0 && j >= 0.0 && j <= 1.0)
      assert(r.getAs[Double]("abs_err") === math.abs(est - j))
    }
  }

  test("chunked langid flags a code-switched doc that doc-level langid scores confident") {
    val sess = spark
    import sess.implicits._
    // exactly 16 tokens each, so every sentence is one whole chunk
    val en = "the cat and the dog is in the house and the bird is on the roof"
    val de = "der hund und die katze ist nicht das haus und der vogel ist nicht hier heute"
    val df = Seq(
      (1L, s"$en $en"),        // pure EN, 32 tokens = 2 chunks
      (2L, s"$en $de"),        // half EN half DE
      (3L, "xyzzy plugh"))     // no markers, one chunk of 'und'
      .toDF("doc_id", "text")
    // reproduce the query's chunk->majority pipeline
    val chunks = TextOps.chunkTokens(df, "doc_id", "text", 16, 0)
      .select(col("doc_id"), TextOps.langId(col("chunk")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = chunks.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byDoc(1L) === Seq("en", "en"))
    assert(byDoc(2L).sorted === Seq("de", "en"))
    assert(byDoc(3L) === Seq("und"))
  }

  test("d_source_dups pairs mirrored sources by shared fingerprint only") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "sa", "alpha beta gamma"),
      (2L, "sb", "alpha beta gamma"),   // exact mirror of 1 in sb
      (3L, "sb", "delta epsilon zeta"),
      (4L, "sc", "eta theta iota")).toDF("doc_id", "source", "text")
    val fp = df.select(col("source"), TextOps.fingerprint("text").as("fp")).distinct()
    val pairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .select(col("a.source"), col("b.source"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("sa", "sb")))
  }

  test("eval decontamination keeps exactly the low-overlap test docs") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("__split", TextOps.hashSplit(col("doc_id")))
    val test = docs.filter(col("__split") === "test")
    val c = Dedup.contamination(
      docs.filter(col("__split") === "train"), test, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val kept = test.select("doc_id")
      .join(Dedup.contamination(
        docs.filter(col("__split") === "train"), test, "doc_id", "text", 3),
        Seq("doc_id"), "left")
      .filter(coalesce(col("contamination") <= 0.5, lit(true)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val testIds = test.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = testIds.filter(id => c.get(id).forall(_ <= 0.5))
    assert(kept === expected)
    assert(kept.subsetOf(testIds))
  }

  test("tokenBudgetSelect equals a driver-side greedy simulation on the fixture") {
    val budget = 600L
    val feats = docs.select(col("doc_id"), col("source"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tok"),
        TextOps.qualityScore(col("text")).as("score"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = feats.groupBy(_._2).valuesIterator.flatMap { ds =>
      var cum = 0L
      ds.sortBy(t => (-t._4, t._1)).takeWhile { t => cum += t._3; cum <= budget }
        .map(_._1)
    }.toSet
    val got = TextOps.tokenBudgetSelect(docs, "doc_id", "source", "text", budget)
    val gotIds = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds === expected)
    // every kept row respects the allowance, and adding any source's
    // first excluded doc would break it (greedy-prefix contract)
    got.collect().foreach(r => assert(r.getAs[Long]("cum_tok") <= budget))
    // stable under re-partitioning (window keys are deterministic)
    val again = TextOps.tokenBudgetSelect(docs.repartition(7), "doc_id",
      "source", "text", budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === gotIds)
  }

  test("interleaveSchedule: stride timeline is weight-proportional and repartition-stable") {
    val sess = spark
    import sess.implicits._
    val df = (1L to 60L).map(i => (i, if (i <= 40) "a" else "b")).toDF("doc_id", "source")
    val out = TextOps.interleaveSchedule(df, "doc_id", "source", Seq("a" -> 2, "b" -> 1))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
    // vtime = (rank * 2^20) div w exactly
    out.foreach { case (_, s, r, v) =>
      val w = if (s == "a") 2L else 1L
      assert(v === (r * 1048576L) / w)
    }
    // in timeline order, source a (weight 2) appears ~2x as often as b
    // over any aligned prefix: count a-events with vtime <= b's k-th slot
    val sorted = out.sortBy(t => (t._4, t._2, t._1))
    val firstB = sorted.filter(_._2 == "b").take(10)
    val aBefore = sorted.count(t => t._2 == "a" && t._4 <= firstB.last._4)
    assert(aBefore >= 18 && aBefore <= 22, s"a-events in b's first 10 slots: $aBefore")
    // deterministic under repartitioning
    val again = TextOps.interleaveSchedule(df.repartition(7), "doc_id", "source",
      Seq("a" -> 2, "b" -> 1)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4))).toSet
    assert(again === out.toSet)
  }

  test("tokenEntropy: powers-of-two distributions hit exact bit counts; constants hit zero") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "a a b b"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.tokenEntropy(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(out(1L) === ((4L, 1L, 0.0)))   // all same token: 0 bits
    assert(out(2L) === ((4L, 4L, 2.0)))   // uniform over 4: exactly 2 bits
    assert(out(3L) === ((4L, 2L, 1.0)))   // uniform over 2: exactly 1 bit
    assert(!out.contains(4L))             // empty doc emits no row
  }

  test("bpePairCandidates: frequency-weighted adjacent pairs, within-word repeats count") {
    val sess = spark
    import sess.implicits._
    // "ab" ×3 (two docs), "aaa" ×1 → pairs: ab=3, aa=2 (two per "aaa");
    // single-char words contribute nothing
    val df = Seq((1L, "ab ab aaa x"), (2L, "ab x x")).toDF("doc_id", "text")
    val out = TextOps.bpePairCandidates(df, "text", k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("ab", 3L), ("aa", 2L)))
    // ties order lexicographically; k truncates
    val t = TextOps.bpePairCandidates(Seq((1L, "xy zw")).toDF("doc_id", "text"), "text", k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t.toSeq === Seq(("xy", 1L)))
  }

  test("readability: syllable/sentence counts and the integer Flesch terms") {
    val sess = spark
    import sess.implicits._
    val df = Seq(
      (1L, "the cat sat. it ran!"),        // 5 words, 2 sentences, 5 monosyllables
      (2L, "university onomatopoeia"),     // poly-word pair, no sentence marks
      (3L, ""),                            // degenerate: 0 words
      (4L, "rhythm myth")                  // y-as-vowel keeps syllables >= 1
    ).toDF("doc_id", "text")
    val out = TextOps.readability(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: words=5 sentences=2 syllables=5 poly=0;
    // flesch = 206835 - (1015*5) div 2 - (84600*5) div 5 = 206835-2537-84600
    assert(out(1L).getLong(1) === 5L && out(1L).getLong(2) === 2L)
    assert(out(1L).getLong(3) === 5L && out(1L).getLong(4) === 0L)
    assert(out(1L).getLong(6) === 206835L - 2537L - 84600L)
    assert(out(1L).getString(7) === "easy")
    // doc 2: university=5 vowel groups (u-i-e-i-y), onomatopoeia=5 → both poly
    assert(out(2L).getLong(2) === 1L) // no [.!?] → min 1 sentence
    assert(out(2L).getLong(4) === 2L)
    assert(out(2L).getString(7) === "hard")
    // doc 3: 0 words → NULL milli scores and NULL grade, no divide-by-zero
    assert(out(3L).isNullAt(5) && out(3L).isNullAt(6) && out(3L).isNullAt(7))
    // doc 4: vowel-less-but-for-y words still count 1 syllable each
    assert(out(4L).getLong(3) === 2L)
  }

  test("phraseSearch: overlap-correct counts, 1-based positions, mixed phrase lengths") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "a a a b c"),        // "a a" overlaps: positions 1 and 2
      (2L, "x y a a z b c q"),  // "a a" at 3; "b c" at 6
      (3L, "b c"),              // exactly the phrase
      (4L, "nothing here"),
      (5L, "a b c d a b c")     // "a b c" at 1 and 5
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.phraseSearch(docs, "doc_id", "text",
        Seq("a a", "b c", "a b c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === Map(
      ("a a", 1L) -> ((2L, 1L)), ("a a", 2L) -> ((1L, 3L)),
      ("b c", 1L) -> ((1L, 4L)), ("b c", 2L) -> ((1L, 6L)),
      ("b c", 3L) -> ((1L, 1L)), ("b c", 5L) -> ((2L, 2L)),
      ("a b c", 1L) -> ((1L, 3L)), ("a b c", 5L) -> ((2L, 1L))))
  }

  test("ppsSample: hit counts track weights exactly; partition-invariant; zero weight never hit") {
    val sess = spark
    import sess.implicits._
    // weights via word counts: doc i has (i % 17 + a few spikes) words
    val docs = (0L until 300L).map { i =>
      val w = if (i == 42L) 120 else if (i == 77L) 0 else (i % 17).toInt + 1
      (i, Seq.fill(w)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = graft.text.TextOps.ppsSample(docs, "doc_id", "text", n = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totalW = (0L until 300L).map(i =>
      if (i == 42L) 120L else if (i == 77L) 0L else (i % 17) + 1).sum
    val step = math.max(totalW / 40, 1L)
    // the stride covers the axis exactly: sum(hits) == floor(W / step)
    assert(out.map(_._3).sum === totalW / step)
    // every hit count is within 1 of the ideal w/step quota
    out.foreach { case (id, w, h) =>
      assert(math.abs(h - w.toDouble / step) <= 1.0, s"doc $id quota off: w=$w hits=$h")
    }
    // the empty doc is never selected
    assert(!out.exists(_._1 == 77L))
    // the heavy doc is hit with multiplicity
    assert(out.find(_._1 == 42L).exists(_._3 >= 2))
    // two-level prefix sum is layout-independent: same rows under a
    // hostile repartitioning
    val shuffled = graft.text.TextOps.ppsSample(
      docs.repartition(13, col("text")), "doc_id", "text", n = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(shuffled.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("bpeTrain: frequency weighting, greedy left-to-right, lexical tie-break, exhaustion") {
    val sess = spark
    import sess.implicits._
    // vocab: aaa ×2, b ×1 → round 1 merges (a,a) with count 4 (two
    // positions × word freq 2); GREEDY rewrite gives 'aa a' (never
    // 'a aa'), so round 2 merges (aa, a) — then no pairs remain and
    // training stops early despite rounds = 5
    val docs = Seq((1L, "aaa aaa b")).toDF("doc_id", "text")
    val merges = graft.text.TextOps.bpeTrain(docs, "text", rounds = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(merges === Seq((1, "a", "a", "aa", 4L), (2, "aa", "a", "aaa", 2L)))
    // equal counts break ties on (left, right) lexically: (x,y) beats (x,z)
    val tie = Seq((1L, "xy xz")).toDF("doc_id", "text")
    val first = graft.text.TextOps.bpeTrain(tie, "text", rounds = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(first === Seq(("x", "y")))
    // segmentation stats: after full training every word is one token
    // (ratio exactly 1.0); after one round 'aaa' is still 2 subwords
    val full = graft.text.TextOps.bpeSegmentStats(docs, "text", rounds = 5)
      .collect().head
    assert((full.getLong(0), full.getLong(1), full.getLong(2), full.getLong(3)) ===
      ((2L, 3L, 3L, 1000000L)))
    val one = graft.text.TextOps.bpeSegmentStats(docs, "text", rounds = 1)
      .collect().head
    assert((one.getLong(2), one.getLong(3)) === ((5L, 1666666L)))
  }

  test("bpeTrain equals an independent reference trainer on random corpora") {
    val sess = spark
    import sess.implicits._
    import TextDedupSpec.refTrain
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 12) {
      val words = Seq.fill(2 + rng.nextInt(7))(
        Seq.fill(1 + rng.nextInt(5))(('a' + rng.nextInt(3)).toChar).mkString)
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = graft.text.TextOps.bpeTrain(docs, "text", rounds = 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(got === refTrain(words, 4), s"trial $trial diverged on $words")
    }

    // ---- batched supersteps: EXACTLY the sequential greedy result ----
    def batchedEq(words: Seq[String], rounds: Int, batch: Int): Unit = {
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = graft.text.TextOps.bpeTrain(docs, "text", rounds, batch)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(got === refTrain(words, rounds),
        s"batch=$batch diverged from sequential on $words")
    }
    // morph-rename hazard: after r1=(a,b), the SKIPPED interferer (w,a)
    // morphs into (w,ab) which wins round 2 at count parity — a naive
    // top-M disjoint batch would wrongly take (c,c)/(x,x) instead; the
    // strict-inequality rule must stop the batch at the tie
    batchedEq(Seq.fill(95)("wab") ++ Seq.fill(90)("cc"), rounds = 3, batch = 8)
    batchedEq(Seq.fill(90)("wab") ++ Seq.fill(90)("xx"), rounds = 3, batch = 8)
    // self-chaining hazard (review counterexample): accepted (bb,bb)
    // spawns (bbbb,bb) bounded by its OWN count — the batch must stop
    // at a self-pair instead of accepting (a,b) over the unseen child
    batchedEq(Seq.fill(11)("bbbbbb") ++ Seq.fill(6)("ab"), rounds = 3, batch = 8)
    batchedEq(Seq.fill(20)("bababa") ++ Seq.fill(7)("xy"), rounds = 4, batch = 8)
    // clean disjoint corpus: one superstep should learn several merges
    batchedEq(Seq.fill(9)("aabb") ++ Seq.fill(7)("ccdd") ++ Seq.fill(5)("eeff"),
      rounds = 6, batch = 8)
    // random small-alphabet corpora (dense ties + interference)
    for (trial <- 0 until 12) {
      val words = Seq.fill(3 + rng.nextInt(8))(
        Seq.fill(1 + rng.nextInt(6))(('a' + rng.nextInt(3)).toChar).mkString)
      batchedEq(words, rounds = 8, batch = 8)
    }
    // binary alphabet: EVERY pair interferes with every other and count
    // ties are the norm — the batch selector's worst case
    for (trial <- 0 until 8) {
      val words = Seq.fill(3 + rng.nextInt(6))(
        Seq.fill(2 + rng.nextInt(5))(('a' + rng.nextInt(2)).toChar).mkString)
      batchedEq(words, rounds = 8, batch = 8)
    }
    // pure fuzz at volume: the REAL selectBatch inside an exact
    // in-memory replica of the driver loop vs the sequential reference
    // — thousands of corpora (runs, repeats, binary and ternary
    // alphabets) in seconds, no Spark job per trial. This harness is
    // what falsified the first draft of the acceptance rule (the
    // self-chaining and name-collision holes); keep it hostile.
    val frng = new scala.util.Random(1234)
    for (trial <- 0 until 4000) {
      val alpha = 2 + frng.nextInt(2)
      val words = Seq.fill(2 + frng.nextInt(5)) {
        val w = Seq.fill(1 + frng.nextInt(8))(('a' + frng.nextInt(alpha)).toChar).mkString
        w
      }
      val weighted = words.flatMap(w => Seq.fill(1 + frng.nextInt(20))(w))
      val got = TextDedupSpec.simBatched(weighted, rounds = 10, batch = 8)
      val want = TextDedupSpec.refTrain(weighted, rounds = 10)
      assert(got === want, s"fuzz trial $trial diverged on $weighted")
    }

    // segment stats ride the same loop: batched == sequential datasheet
    val statDocs = (Seq.fill(9)("aabb cdcd") ++ Seq.fill(4)("abab ee"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seqStats = graft.text.TextOps.bpeSegmentStats(statDocs, "text", 6)
      .collect().head.toSeq
    val batStats = graft.text.TextOps.bpeSegmentStats(statDocs, "text", 6, batch = 8)
      .collect().head.toSeq
    assert(batStats === seqStats)
  }

  test("hammingClusters equals clusters-over-hammingPairs; identical hashes never pair") {
    val sess = spark
    import sess.implicits._
    // heavy identical-hash groups + a near pair bridging two groups +
    // an isolated far signature
    val sigs = (
      (1L to 40L).map(i => (i, 0x0F0F0F0FL)) ++          // group A (40-way identical)
      (41L to 70L).map(i => (i, 0x0F0F0F0DL)) ++         // group B, hamming 1 from A
      Seq((80L, 0x7000000000000000L), (81L, 0x7000000000000003L), // pair at hamming 2
          (99L, -1L))                                     // isolated
    ).toDF("id", "sig")
    val viaCollapse = graft.dedup.Dedup.hammingClusters(sigs, "id", "sig",
      maxHamming = 2, bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = graft.dedup.Dedup.clusters(sigs.select("id"),
      graft.dedup.Dedup.hammingPairs(sigs, "id", "sig", 2, 64), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCollapse === viaPairs)
    // A and B chain through hamming 1: all 70 carry label 1
    assert((1L to 70L).forall(viaCollapse(_) == 1L))
    assert(viaCollapse(80L) === 80L && viaCollapse(81L) === 80L)
    assert(viaCollapse(99L) === 99L)
    // the collapsed generator's pair list is representative-only: the
    // 40-way group contributes zero intra-group pairs
    val repPairs = graft.dedup.Dedup.hammingPairs(
      sigs.groupBy(col("sig")).agg(min(col("id")).as("id")), "id", "sig", 2, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repPairs === Set((1L, 41L), (80L, 81L)))
  }

  test("property: hammingPairs equals brute-force hamming enumeration " +
      "on random signatures (dup ids and dup signatures included)") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small signature space (4 distinct bit patterns × low ids) forces
    // identical-signature groups, duplicate ids, and near chains — the
    // three shapes the banded generator special-cases
    val sig = Gen.oneOf(0x00L, 0x01L, 0x03L, 0x07L, 0x0FL, 0xF0L, -1L)
    val genRows = Gen.choose(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 9L), sig)))
    val prop = Prop.forAll(genRows, Gen.choose(0, 3)) { (rows, tau) =>
      val df = rows.toDF("id", "sig")
      val got = graft.dedup.Dedup.hammingPairs(df, "id", "sig", tau, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // brute force over the distinct (id, sig) relation: every id pair
      // (a < b) whose MINIMUM cross-signature hamming is <= tau, at
      // that minimum — matching the generator's first-match-band +
      // distinct-expansion contract (a pair is emitted once per
      // distinct qualifying signature combination; compare as sets of
      // qualifying (a, b, h) triples)
      val rel = rows.distinct
      val want = (for {
        (ia, sa) <- rel; (ib, sb) <- rel
        if ia < ib || (ia == ib && sa != sb)
        h = java.lang.Long.bitCount(sa ^ sb)
        if h <= tau && ia != ib
      } yield (math.min(ia, ib), math.max(ia, ib), h)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("hammingPairs: duplicate-id input (one id under two near signatures) " +
      "never emits a self-pair") {
    val sess = spark
    import sess.implicits._
    // id 5 appears under two signatures at hamming 1 of each other —
    // the cross expansion would join 5 (as __ia via sig A) with 5 (as
    // __ib via sig B) and least/greatest would collapse it to (5, 5)
    // without the id-inequality guard
    val sigs = Seq((5L, 0x0FL), (5L, 0x0DL), (9L, 0x0FL)).toDF("id", "sig")
    val pairs = graft.dedup.Dedup.hammingPairs(sigs, "id", "sig", 1, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((5L, 9L)))
  }

  test("hammingClusters: NULL signatures come out as singleton clusters, not dropped") {
    val sess = spark
    import sess.implicits._
    // the oracle face seeds every id with (id, id) and NULL xor NULL is
    // NULL (never <= tau), so NULL-sig rows are singletons there; the
    // operator must emit them too (an equi-join back on the signature
    // would silently drop them)
    val sigs = Seq((1L, Some(7L)), (2L, Some(7L)), (3L, None),
      (4L, None), (5L, Some(-1L))).toDF("id", "sig")
    val got = graft.dedup.Dedup.hammingClusters(sigs, "id", "sig",
      maxHamming = 1, bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("prioritySample: exactly k kept, q >= w, unbiased max(w,tau) estimator, stable") {
    val sess = spark
    import sess.implicits._
    val docs = (0L until 200L).map { i =>
      val w = if (i == 7L) 150 else if (i == 99L) 0 else (i % 11).toInt + 1
      (i, Seq.fill(w)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val k = 25
    val out = graft.text.TextOps.prioritySample(docs, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === k)
    // priority = (w*P) div (h+1) with h+1 <= P is always >= w
    out.foreach { case (id, w, q, _) => assert(q >= w, s"doc $id: q=$q < w=$w") }
    // zero-weight docs can never enter the sample
    assert(!out.exists(_._1 == 99L))
    // the very heavy doc has the largest expected priority mass: with
    // w=150 vs max 11 its inclusion probability is ~min(1, 150/tau-ish);
    // on this fixture it must be sampled (regression canary, deterministic)
    assert(out.exists(_._1 == 7L), "w=150 spike missing from a k=25 sample")
    // estimator: every kept doc reports max(w, tau) with ONE shared tau
    val taus = out.map { case (_, w, _, est) => if (est > w) Some(est) else None }
      .flatten.distinct
    assert(taus.length <= 1, s"more than one tau surfaced: ${taus.toSeq}")
    // est total is an unbiased estimate of total weight; on this fixture
    // (deterministic hash) it must land within 35% — a drift canary
    val estTotal = out.map(_._4).sum.toDouble
    val trueTotal = (0L until 200L).map(i =>
      if (i == 7L) 150L else if (i == 99L) 0L else (i % 11) + 1).sum.toDouble
    assert(math.abs(estTotal - trueTotal) / trueTotal < 0.35,
      s"estimate $estTotal vs true $trueTotal")
    // repartition-stable: the sample is a pure function of doc ids
    val shuffled = graft.text.TextOps.prioritySample(
      docs.repartition(13, col("text")), "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(shuffled.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    // k >= n keeps everything with tau = 0: est_weight == weight
    val all = graft.text.TextOps.prioritySample(docs, "doc_id", "text", 500)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(all.length === 199 && all.forall { case (w, est) => est === w })
  }

  test("negativeSample: negatives avoid the user's history, bounded by m, repartition-stable") {
    val sess = spark
    import sess.implicits._
    import graft.text.TextOps
    val catalog = (1L to 40L).map(i => Tuple1(i)).toDF("item")
    // user 1 touched 3 items; user 2 touched the WHOLE catalog
    val inter = ((1L to 3L).map(i => (1L, i)) ++ (1L to 40L).map(i => (2L, i)))
      .toDF("user", "item")
    val out = TextOps.negativeSample(inter, "user", "item", catalog, "item", m = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val history = Map(1L -> (1L to 3L).toSet, 2L -> (1L to 40L).toSet)
    out.foreach { case (u, _, j, neg) =>
      assert(!history(u).contains(neg), s"negative $neg is in user $u's history")
      assert(j >= 1 && j <= 3 && neg >= 1 && neg <= 40)
    }
    // the all-catalog user can never receive a negative (every draw collides)
    assert(!out.exists(_._1 == 2L))
    // user 1: 3 interactions x 3 draws, minus collisions — most survive
    val u1 = out.filter(_._1 == 1L)
    assert(u1.length >= 6 && u1.length <= 9, s"got ${u1.length} triplets")
    // pure function of (user, pos, j): stable under hostile layouts
    val again = TextOps.negativeSample(inter.repartition(11, col("item")),
        "user", "item", catalog.repartition(3), "item", m = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
  }

  test("cdcChunks: chunks partition the tokens; boundaries re-synchronize across offsets") {
    val sess = spark
    import sess.implicits._
    import graft.dedup.Dedup
    // a 200-token passage, and the same passage behind a 7-token prefix
    val passage = (0 until 200).map(i => s"w${i * 13 % 97}").mkString(" ")
    val prefix = (0 until 7).map(i => s"pre$i").mkString(" ")
    val docs = Seq((1L, passage), (2L, s"$prefix $passage"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunks(docs, "doc_id", "text", window = 3, divisor = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getString(4)))
    // empty docs chunk to nothing
    assert(!out.exists(_._1 == 3L))
    // chunks PARTITION each doc: reassembly in chunk order is the doc
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).sortBy(_._2).map(_._5).mkString(" ") === passage)
    assert(byDoc(2L).sortBy(_._2).map(_._5).mkString(" ") === s"$prefix $passage")
    // content-defined re-sync: boundaries inside the shared passage
    // depend only on local 3-grams, so after the first in-passage cut
    // doc 2's chunks hash identically to doc 1's — everything but each
    // doc's first chunk is shared (both docs END with the passage)
    val h1 = byDoc(1L).map(_._4).toSet
    val h2 = byDoc(2L).map(_._4).toSet
    val shared = h1.intersect(h2)
    assert(byDoc(1L).length >= 5, s"fixture too short: ${byDoc(1L).length} chunks")
    // distinct hashes, not chunk counts: the cycling passage makes
    // later chunks repeat earlier ones
    assert(shared.size >= h1.size - 1,
      s"CDC failed to re-synchronize: ${shared.size} of ${h1.size} distinct shared")
    // ...whereas a FIXED grid at the same granularity shares nothing
    // under a 7-token shift (the motivating failure)
    val fixed = graft.text.TextOps.chunkTokens(docs, "doc_id", "text", 16, 0)
      .collect().map(r => (r.getLong(0), r.getString(3))).groupBy(_._1)
    assert(fixed(1L).map(_._2).toSet.intersect(fixed(2L).map(_._2).toSet).isEmpty)
  }

  test("cdcDedup: high-overlap docs flag as dups, one representative keeps, unique docs pass") {
    val sess = spark
    import sess.implicits._
    import graft.dedup.Dedup
    val passage = (0 until 200).map(i => s"w${i * 13 % 97}").mkString(" ")
    val unique = (0 until 60).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, passage),                    // all tokens shared with doc 2
      (2L, s"pre0 pre1 pre2 $passage"), // ~97% shared
      (3L, unique)                      // nothing shared
    ).toDF("doc_id", "text")
    val out = Dedup.cdcDedup(docs, "doc_id", "text", minSharedPct = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    // both overlapping docs are dups; the unique doc is clean and kept
    assert(out(1L)._3 && out(2L)._3 && !out(3L)._3 && out(3L)._4)
    // exactly one representative of the overlap group survives, and it
    // is the min-id owner of the earliest shared chunk (doc 1)
    assert(out(1L)._4 && !out(2L)._4)
    // coverage accounting: both overlap docs are nearly fully shared
    // (each doc's FIRST chunk is its own — doc 2's absorbs the prefix)
    assert(out(1L)._2 >= 90L && out(2L)._2 >= 90L && out(3L)._1 === 0L)
  }

  test("groupKFold: leakage-safe (one fold per group), covers [0,k), repartition-stable") {
    val sess = spark
    import sess.implicits._
    // 400 records across 80 users, 5 records each
    val rows = (0L until 400L).map(i => (i, i % 80L)).toDF("rec_id", "user")
    val assigned = rows.withColumn("fold",
      graft.text.TextOps.groupKFold(col("user"), k = 5))
    val perUser = assigned.groupBy("user")
      .agg(org.apache.spark.sql.functions.countDistinct(col("fold")).as("nf"))
      .collect().map(_.getLong(1))
    assert(perUser.forall(_ === 1L), "a group straddled folds — leakage")
    val folds = assigned.select("fold").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(folds.subsetOf((0L until 5L).toSet) && folds.size >= 4,
      s"folds should fill [0,5) on 80 groups: $folds")
    // deterministic under hostile repartitioning
    val again = rows.repartition(17, col("rec_id"))
      .withColumn("fold", graft.text.TextOps.groupKFold(col("user"), k = 5))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val first = assigned.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(again === first)
    // k must be a real split
    intercept[IllegalArgumentException] {
      graft.text.TextOps.groupKFold(col("user"), k = 1)
    }
  }
}

/** Pure BPE references shared by the trainer tests: the independent
  * sequential greedy trainer, and an in-memory simulator of the BATCHED
  * trainer that reuses the REAL `TextOps.selectBatch` (the Spark loop's
  * only decision logic) with the exact horizon/cutoff semantics — so
  * the batch-selection rule can be fuzzed over thousands of corpora
  * without a Spark job per trial. */
object TextDedupSpec {

  def applyRef(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  private def pairCounts(vocab: Map[Vector[String], Long]): Seq[(String, String, Long)] = {
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
      counts((syms(i), syms(i + 1))) += f
    counts.toSeq.map { case ((l, r), c) => (l, r, c) }
      .sortBy { case (l, r, c) => (-c, l, r) }
  }

  private def toVocab(words: Seq[String]): Map[Vector[String], Long] =
    words.groupBy(identity)
      .map { case (w, g) => w.map(_.toString).toVector -> g.size.toLong }

  def refTrain(words: Seq[String], rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab = toVocab(words)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var done = false
    for (round <- 1 to rounds if !done) {
      val counts = pairCounts(vocab)
      if (counts.isEmpty) done = true
      else {
        val (l, r, c) = counts.head
        out += ((round, l, r, l + r, c))
        vocab = vocab.toSeq
          .map { case (syms, f) => (applyRef(syms, l, r), f) }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  /** The batched trainer's exact driver loop, minus Spark: same horizon
    * (4·batch floor 64), same cutoff (first below-horizon count), same
    * `selectBatch`, merges applied in rank order. */
  def simBatched(words: Seq[String], rounds: Int,
      batch: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab = toVocab(words)
    val horizon = if (batch == 1) 1 else math.max(batch * 4, 64)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (out.size < rounds && !exhausted) {
      val counts = pairCounts(vocab)
      if (counts.isEmpty) exhausted = true
      else {
        val cutoff = if (counts.length > horizon) counts(horizon)._3 else -1L
        val accepted = graft.text.TextOps.selectBatch(
          counts.take(horizon), cutoff, math.min(batch, rounds - out.size))
        for ((l, r, c) <- accepted) {
          out += ((out.size + 1, l, r, l + r, c))
          vocab = vocab.toSeq
            .map { case (syms, f) => (applyRef(syms, l, r), f) }
            .groupMapReduce(_._1)(_._2)(_ + _)
        }
      }
    }
    out.toSeq
  }
}
