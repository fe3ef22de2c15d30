package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Relational

class RelationalSpec extends SparkSpec {

  test("rangeJoin: inclusive bounds, multi-cell intervals, exactly-once pairs") {
    val sess = spark
    import sess.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1, t("2024-01-01 00:00:00"), 100), // == win_start (inclusive)
      (1, t("2024-01-01 05:00:00"), 101), // inside, different cell than start
      (1, t("2024-01-01 06:00:00"), 102), // == win_end (inclusive)
      (1, t("2024-01-01 06:00:01"), 103), // just outside
      (2, t("2024-01-01 01:00:00"), 104)  // right key, other user's window
    ).toDF("user_id", "ts", "event_id")
    val intervals = Seq(
      (1, t("2024-01-01 00:00:00"), t("2024-01-01 06:00:00"), 900)
    ).toDF("user_id", "win_start", "win_end", "incident_id")
    // bucket (1h) much smaller than the interval → the interval spans 7
    // cells; every in-range event must appear exactly once
    val out = Relational.rangeJoin(events, intervals, "user_id", "ts",
      "win_start", "win_end", bucketSeconds = 3600L)
    assert(out.select("event_id").collect().map(_.getInt(0)).sorted.toSeq ===
      Seq(100, 101, 102))
    assert(out.count() === out.select("event_id", "incident_id").distinct().count())
  }

  test("rangeJoin matches a brute-force reference on random data") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val ev = (1 to 200).map(i =>
      (rnd.nextInt(5), new java.sql.Timestamp(base + rnd.nextInt(200000) * 1000L), i))
    val iv = (1 to 40).map { i =>
      val s = base + rnd.nextInt(200000) * 1000L
      (rnd.nextInt(5), new java.sql.Timestamp(s),
        new java.sql.Timestamp(s + rnd.nextInt(20000) * 1000L), i)
    }
    val got = Relational.rangeJoin(
      ev.toDF("user_id", "ts", "event_id"),
      iv.toDF("user_id", "win_start", "win_end", "incident_id"),
      "user_id", "ts", "win_start", "win_end", bucketSeconds = 3600L)
      .select("event_id", "incident_id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val want = (for {
      (ek, ets, eid) <- ev
      (ik, is, ie, iid) <- iv
      if ek == ik && !ets.before(is) && !ets.after(ie)
    } yield (eid, iid)).sorted
    assert(got === want)
  }

  test("intervalOverlapJoin: inclusive overlap, exactly-once pairs, inverted intervals drop") {
    val sess = spark
    import sess.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1, t("2024-01-01 00:00:00"), t("2024-01-01 10:00:00"), 10),
      (1, t("2024-01-02 00:00:00"), t("2024-01-02 01:00:00"), 11),
      (1, t("2024-01-03 05:00:00"), t("2024-01-03 04:00:00"), 12) // inverted
    ).toDF("user_id", "l_start", "l_end", "lid")
    val right = Seq(
      (1, t("2024-01-01 09:00:00"), t("2024-01-01 12:00:00"), 20), // overlaps 10
      (1, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00"), 21), // touches 10's end (inclusive)
      (1, t("2024-01-01 10:00:01"), t("2024-01-01 11:00:00"), 22), // just past
      (2, t("2024-01-01 05:00:00"), t("2024-01-01 06:00:00"), 23), // other key
      (1, t("2024-01-03 00:00:00"), t("2024-01-03 23:00:00"), 24)  // only meets inverted
    ).toDF("user_id", "r_start", "r_end", "rid")
    // 1h cells: the long left interval spans 11 cells, overlapping pairs
    // share several — each must still emit exactly once
    val out = Relational.intervalOverlapJoin(left, right, "user_id",
      "l_start", "l_end", "r_start", "r_end", bucketSeconds = 3600L)
    val pairs = out.select("lid", "rid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(pairs === Seq((10, 20), (10, 21)))
    assert(out.count() === out.select("lid", "rid").distinct().count())
  }

  test("intervalOverlapJoin matches brute force; result invariant to bucket size") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(23)
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    def mk(n: Int, off: Int) = (1 to n).map { i =>
      val s = base + rnd.nextInt(200000) * 1000L
      (rnd.nextInt(4), new java.sql.Timestamp(s),
        new java.sql.Timestamp(s + rnd.nextInt(30000) * 1000L), off + i)
    }
    val l = mk(60, 0)
    val r = mk(60, 1000)
    val want = (for {
      (lk, ls, le, lid) <- l
      (rk, rs, re, rid) <- r
      if lk == rk && !ls.after(re) && !rs.after(le)
    } yield (lid, rid)).sorted
    for (bucket <- Seq(600L, 3600L, 86400L)) {
      val got = Relational.intervalOverlapJoin(
        l.toDF("k", "l_start", "l_end", "lid"),
        r.toDF("k", "r_start", "r_end", "rid"),
        "k", "l_start", "l_end", "r_start", "r_end", bucketSeconds = bucket)
        .select("lid", "rid").collect()
        .map(x => (x.getInt(0), x.getInt(1))).sorted.toSeq
      assert(got === want, s"bucketSeconds=$bucket diverged from brute force")
    }
  }

  test("bandJoin matches brute force across negative values and cell boundaries") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(31)
    // values straddle zero deliberately: a truncating cell division
    // would collapse (-eps, eps) into one cell and both miss and
    // double-count boundary pairs
    val l = (1 to 120).map(i => (rnd.nextInt(3), rnd.nextInt(4001) - 2000L, i))
    val r = (1 to 120).map(i => (rnd.nextInt(3), rnd.nextInt(4001) - 2000L, 1000 + i))
    val eps = 150L
    val want = (for {
      (lk, lv, lid) <- l; (rk, rv, rid) <- r
      if lk == rk && math.abs(lv - rv) <= eps
    } yield (lid, rid)).sorted
    val got = Relational.bandJoin(
      l.toDF("k", "lv", "lid"), r.toDF("k", "rv", "rid"),
      "k", "lv", "rv", eps)
      .select("lid", "rid").collect()
      .map(x => (x.getInt(0), x.getInt(1))).sorted.toSeq
    assert(got === want)
    // exactly-once: no pair appears twice
    assert(got.distinct.size === got.size)
  }

  test("dedupFirst keeps exactly one row per key, deterministically") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1, "b", 2.0), (1, "a", 1.0), (2, "c", 3.0)).toDF("k", "ord", "v")
    val out = Relational.dedupFirst(df, Seq("k"), Seq(col("ord"))).orderBy("k").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("a", "c"))
  }

  test("pivotWide produces one column per pivot value with NULL fill") {
    val sess = spark
    import sess.implicits._
    val df = Seq(("t1", "a", 1.0), ("t1", "b", 2.0), ("t2", "a", 3.0))
      .toDF("ts", "attr", "value")
    val out = Relational.pivotWide(df, Seq("ts"), "attr", Seq("a", "b"), "value")
      .orderBy("ts").collect()
    assert(out.length === 2)
    assert(out(0).getDouble(1) === 1.0 && out(0).getDouble(2) === 2.0)
    assert(out(1).getDouble(1) === 3.0 && out(1).isNullAt(2))
  }

  test("whereEqualsGlobalAgg matches driver-side computation") {
    val li = Tables.lineitem(spark, sfDir)
    val mx = li.agg(max("l_quantity")).head().getDouble(0)
    val got = Relational.whereEqualsGlobalAgg(li, "l_quantity", max(col("l_quantity")))
    assert(got.count() === li.filter(col("l_quantity") === mx).count())
  }

  test("topK returns k rows in total order") {
    val o = Tables.orders(spark, sfDir)
    val got = Relational.topK(o.select("o_orderkey", "o_totalprice"), 5,
      col("o_totalprice").desc, col("o_orderkey")).collect()
    assert(got.length === 5)
    val prices = got.map(_.getDouble(1)).toSeq
    assert(prices === prices.sorted.reverse)
  }

  test("asofJoin attaches the latest right row at or before each left ts") {
    val sess = spark
    import sess.implicits._
    val left = Seq(("u1", 10L, 1), ("u1", 5L, 2), ("u2", 7L, 3))
      .toDF("k", "ts", "lid")
    val right = Seq(
      ("u1", 5L, 100, Option(1.0)),
      ("u1", 9L, 101, Option(3.0)),
      ("u1", 9L, 102, Option(2.0))) // same ts as 101: greater rid wins
      .toDF("k", "ts", "rid", "rv")
      .select(col("k"), col("ts"), col("rid"), col("rv"))
    val out = Relational.asofJoin(left, right, "k", "ts",
      Seq("rid", "rv"), Seq("rid"))
      .orderBy("lid").collect()
    // left(ts=10): latest right is ts=9, tie → rid 102
    assert(out(0).getInt(3) === 102 && out(0).getDouble(4) === 2.0)
    // left(ts=5): inclusive — right at exactly ts=5 matches
    assert(out(1).getInt(3) === 100)
    // u2 has no right rows → NULL payload (left-outer)
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("asofJoin payload is atomic: a NULL field never borrows an older row's value") {
    val sess = spark
    import sess.implicits._
    val left = Seq(("u1", 10L, 1)).toDF("k", "ts", "lid")
    val right = Seq(
      ("u1", 5L, 100, Option(1.0)),
      ("u1", 9L, 101, Option.empty[Double])) // latest row has NULL rv
      .toDF("k", "ts", "rid", "rv")
    val out = Relational.asofJoin(left, right, "k", "ts",
      Seq("rid", "rv"), Seq("rid")).collect()
    assert(out(0).getInt(3) === 101)
    assert(out(0).isNullAt(4)) // NOT 1.0 from rid=100
  }

  test("asofJoinForward attaches the earliest right row at or after each left ts") {
    val sess = spark
    import sess.implicits._
    val left = Seq(("u1", 4L, 1), ("u1", 9L, 2), ("u2", 7L, 3))
      .toDF("k", "ts", "lid")
    val right = Seq(
      ("u1", 9L, 100, Option(1.0)),
      ("u1", 9L, 101, Option(3.0)), // same ts as 100: SMALLER rid wins
      ("u1", 12L, 102, Option(2.0)))
      .toDF("k", "ts", "rid", "rv")
    val out = Relational.asofJoinForward(left, right, "k", "ts",
      Seq("rid", "rv"), Seq("rid"))
      .orderBy("lid").collect()
    // left(ts=4): earliest right at-or-after is ts=9, tie → rid 100
    assert(out(0).getInt(3) === 100 && out(0).getDouble(4) === 1.0)
    // left(ts=9): inclusive — right at exactly ts=9 matches
    assert(out(1).getInt(3) === 100)
    // u2 has no right rows → NULL payload (left-outer)
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("asofJoinNearest: min |dt| either side, equidistant prefers earlier, " +
    "per-side equal-ts tiebreaks, exact hit is 'before'") {
    val sess = spark
    import sess.implicits._
    val left = Seq(
      ("u1", 10L, 1), // Δ to {4,7,12} = 6,3,2 → 12, after
      ("u1", 6L, 2),  // Δ = 2,1,6 → 7, after
      ("u1", 7L, 3),  // exact hit → 7, before
      ("u2", 7L, 4),  // no rights → nulls
      ("u3", 6L, 5),  // rights {4, 8}: equidistant → earlier (4), before
      ("u4", 9L, 6),  // rights both at ts 5 → backward side: MAX rid
      ("u4", 3L, 7))  // same rights, now forward side: MIN rid
      .toDF("k", "ts", "lid")
    val right = Seq(
      ("u1", 4L, 100, Option(1.0)), ("u1", 7L, 101, Option(2.0)),
      ("u1", 12L, 102, Option(3.0)),
      ("u3", 4L, 200, Option(4.0)), ("u3", 8L, 201, Option(5.0)),
      ("u4", 5L, 300, Option(6.0)), ("u4", 5L, 301, Option(7.0)))
      .toDF("k", "ts", "rid", "rv")
    val out = Relational.asofJoinNearest(left, right, "k", "ts",
      Seq("rid", "rv"), Seq("rid"))
      .orderBy("lid").collect()
    def got(i: Int) = (out(i).getInt(3), out(i).getString(6))
    assert(got(0) === ((102, "after")))
    assert(got(1) === ((101, "after")))
    assert(got(2) === ((101, "before")))
    assert(out(3).isNullAt(3) && out(3).isNullAt(5) && out(3).isNullAt(6))
    assert(got(4) === ((200, "before")))
    assert(got(5) === ((301, "before"))) // equal-ts backward → max rid
    assert(got(6) === ((300, "after")))  // equal-ts forward → min rid
  }

  test("property: asofJoinForward equals the per-row brute-force reference") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genRows = for {
      nL <- Gen.choose(1, 8)
      nR <- Gen.choose(0, 8)
      lks <- Gen.listOfN(nL, Gen.oneOf("a", "b"))
      lts <- Gen.listOfN(nL, Gen.choose(0L, 10L))
      rks <- Gen.listOfN(nR, Gen.oneOf("a", "b"))
      rts <- Gen.listOfN(nR, Gen.choose(0L, 10L))
      rvs <- Gen.listOfN(nR, Gen.option(Gen.choose(0, 9).map(_.toDouble)))
    } yield (
      lks.zip(lts).zipWithIndex.map { case ((k, t), i) => (k, t, i) },
      rks.zip(rts).zipWithIndex.map { case ((k, t), i) => (k, t, 100 + i, rvs(i)) })
    val prop = Prop.forAll(genRows) { case (ls, rs) =>
      val got = Relational.asofJoinForward(
        ls.toDF("k", "ts", "lid"), rs.toDF("k", "ts", "rid", "rv"),
        "k", "ts", Seq("rid", "rv"), Seq("rid"))
        .collect().map { r =>
          r.getInt(2) -> (if (r.isNullAt(3)) None
            else Some((r.getInt(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
        }.toMap
      val want = ls.map { case (k, t, lid) =>
        val cand = rs.filter(r => r._1 == k && r._2 >= t)
        lid -> (if (cand.isEmpty) None else {
          val best = cand.minBy(r => (r._2, r._3))
          Some((best._3, best._4))
        })
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: asofJoin equals the per-row brute-force reference") {
    val sess = spark
    import sess.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small domains force key collisions and ts ties; rv is nullable so
    // the atomic-payload property is exercised too
    val genRows = for {
      nL <- Gen.choose(1, 8)
      nR <- Gen.choose(0, 8)
      lks <- Gen.listOfN(nL, Gen.oneOf("a", "b"))
      lts <- Gen.listOfN(nL, Gen.choose(0L, 10L))
      rks <- Gen.listOfN(nR, Gen.oneOf("a", "b"))
      rts <- Gen.listOfN(nR, Gen.choose(0L, 10L))
      rvs <- Gen.listOfN(nR, Gen.option(Gen.choose(0, 9).map(_.toDouble)))
    } yield (
      lks.zip(lts).zipWithIndex.map { case ((k, t), i) => (k, t, i) },
      rks.zip(rts).zipWithIndex.map { case ((k, t), i) => (k, t, 100 + i, rvs(i)) })
    val prop = Prop.forAll(genRows) { case (ls, rs) =>
      val got = Relational.asofJoin(
        ls.toDF("k", "ts", "lid"), rs.toDF("k", "ts", "rid", "rv"),
        "k", "ts", Seq("rid", "rv"), Seq("rid"))
        .collect().map { r =>
          r.getInt(2) -> (if (r.isNullAt(3)) None
            else Some((r.getInt(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
        }.toMap
      val want = ls.map { case (k, t, lid) =>
        val cand = rs.filter(r => r._1 == k && r._2 <= t)
        lid -> (if (cand.isEmpty) None else {
          val best = cand.maxBy(r => (r._2, r._3))
          Some((best._3, best._4))
        })
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("driver contract: entry() returns a non-empty pivoted frame") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq === Seq("timestamp", "1", "2", "3", "4", "5"))
    assert(df.count() > 0)
  }

  test("broadcast dim join plans a BroadcastHashJoin (no fact shuffle)") {
    val c = Tables.customer(spark, sfDir).withColumnRenamed("c_nationkey", "n_nationkey")
    val plan = Relational.dimJoin(c, Tables.nation(spark, sfDir), "n_nationkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("associationRules: exact support/confidence/lift; in-basket multiplicity ignored") {
    val sess = spark
    import sess.implicits._
    // b1{x,y} b2{x,y} b3{x,z}; the duplicate (b1,x) row must not count
    val baskets = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z")).toDF("bk", "it")
    val out = Relational.associationRules(baskets, "bk", "it", minPairCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(out.keySet === Set(("x", "y"), ("y", "x"))) // (x,z) is below min count
    assert(out(("x", "y")) === ((2L, 3L, 2L, 2.0 / 3.0, 2.0 / 3.0, 1.0)))
    assert(out(("y", "x")) === ((2L, 2L, 3L, 2.0 / 3.0, 1.0, 1.0)))
  }
}
