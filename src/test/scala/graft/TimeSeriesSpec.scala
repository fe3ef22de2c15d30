package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.TimeSeries

class TimeSeriesSpec extends SparkSpec {

  private def archive(rows: Seq[(Int, String, Option[Double])]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("attribute_id", "ts_s", "value")
      .select(col("attribute_id"), col("ts_s").cast("timestamp").as("timestamp"),
        col("value").cast("double"))
  }

  test("grid points hitting an observation return it exactly; midpoints interpolate") {
    val out = TimeSeries.resampleInterpolate(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(10.0)),
      (1, "2024-01-01 00:30:00", Some(30.0)))), 900L)
      .orderBy("timestamp").collect()
    assert(out.map(_.getDouble(2)).toSeq === Seq(10.0, 20.0, 30.0))
  }

  test("no extrapolation: grid covers only [ceil(min), floor(max)]") {
    val out = TimeSeries.resampleInterpolate(archive(Seq(
      (1, "2024-01-01 00:07:00", Some(1.0)),
      (1, "2024-01-01 00:40:00", Some(2.0)))), 900L)
      .orderBy("timestamp").collect()
    // observations span 00:07..00:40 → grid points 00:15 and 00:30 only
    assert(out.map(_.getAs[java.time.LocalDateTime](1).toString).toSeq ===
      Seq("2024-01-01T00:15", "2024-01-01T00:30"))
  }

  test("span shorter than one interval yields no rows; null values are gaps") {
    assert(TimeSeries.resampleInterpolate(archive(Seq(
      (1, "2024-01-01 00:16:00", Some(1.0)),
      (1, "2024-01-01 00:29:00", Some(2.0)))), 900L).count() === 0)
    // the null at 00:15 is ignored: 00:15 grid point interpolates 00:00→00:30
    val out = TimeSeries.resampleInterpolate(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(0.0)),
      (1, "2024-01-01 00:15:00", None),
      (1, "2024-01-01 00:30:00", Some(30.0)))), 900L)
      .orderBy("timestamp").collect()
    assert(out.map(_.getDouble(2)).toSeq === Seq(0.0, 15.0, 30.0))
  }

  test("resampleStep carries the previous value; exact hits return it verbatim") {
    val out = TimeSeries.resampleStep(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(10.0)),
      (1, "2024-01-01 00:20:00", Some(30.0)),
      (1, "2024-01-01 00:50:00", Some(50.0)))), 900L)
      .orderBy("timestamp").collect()
    // 00:00 exact → 10; 00:15 holds 10; 00:30/00:45 hold the 00:20 value
    assert(out.map(_.getDouble(2)).toSeq === Seq(10.0, 10.0, 30.0, 30.0))
    // same grid bounds as the linear resampler: [ceil(min), floor(max)]
    assert(out.map(_.getAs[java.time.LocalDateTime](1).getMinute).toSeq ===
      Seq(0, 15, 30, 45))
    // a null observation is a gap, not a carried value
    val gap = TimeSeries.resampleStep(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(1.0)),
      (1, "2024-01-01 00:14:00", None),
      (1, "2024-01-01 00:30:00", Some(2.0)))), 900L)
      .orderBy("timestamp").collect()
    assert(gap.map(_.getDouble(2)).toSeq === Seq(1.0, 1.0, 2.0))
  }

  test("timeWeightedAvg weights by hold duration, not sample count") {
    // value 10 holds 00:00→00:10 (600s), value 0 holds 00:10→01:00
    // (3000s): plain AVG of the 3 samples = (10+0+7)/3; TWA must be
    // (10*600 + 0*3000) / 3600 = 5/3. The last point holds nothing.
    val out = TimeSeries.timeWeightedAvg(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(10.0)),
      (1, "2024-01-01 00:10:00", Some(0.0)),
      (1, "2024-01-01 01:00:00", Some(7.0)),
      (2, "2024-01-01 00:00:00", Some(99.0))))) // single point: no span
      .collect()
    assert(out.length === 1 && out(0).getInt(0) === 1)
    assert(out(0).getLong(1) === 3)
    assert(math.abs(out(0).getDouble(2) - 5.0 / 3.0) < 1e-6)
  }

  test("timeWeightedAvg matches a brute-force reference bit-exactly on random series") {
    val rnd = new scala.util.Random(17)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = for {
      attr <- 1 to 3
      i <- 0 until 25
    } yield (attr,
      new Timestamp(base + rnd.nextInt(24 * 3600) * 1000L).toString,
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextDouble() * 100))
    val got = TimeSeries.timeWeightedAvg(archive(rows))
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    val want = rows.collect { case (a, ts, Some(v)) => (a, Timestamp.valueOf(ts).getTime / 1000L, v) }
      .groupBy(_._1).flatMap { case (a, rs) =>
        val series = rs.groupBy(_._2).map { case (t, vs) => (t, vs.map(_._3).min) }
          .toSeq.sortBy(_._1)
        val durs = series.zip(series.tail).map { case ((t0, v0), (t1, _)) => (v0, t1 - t0) }
        val dsum = durs.map(_._2).sum
        if (dsum == 0) None
        else {
          val qsum = durs.map { case (v, d) => math.round(v * 1048576.0) * d }.sum
          Some(a -> qsum.toDouble / (dsum.toDouble * 1048576.0))
        }
      }
    assert(got === want) // identical quantized arithmetic → exact equality
  }

  test("resampleStep matches a brute-force LOCF reference on random series") {
    val rnd = new scala.util.Random(13)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = for {
      attr <- 1 to 3
      i <- 0 until 30
    } yield (attr,
      new Timestamp(base + rnd.nextInt(24 * 3600) * 1000L).toString,
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextDouble() * 50))
    val got = TimeSeries.resampleStep(archive(rows), 3600L)
      .collect().map(r => (r.getInt(0),
        r.getAs[java.time.LocalDateTime](1).toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val g = 3600L * 1000L
    val obs = rows.collect { case (a, ts, Some(v)) => (a, Timestamp.valueOf(ts).getTime, v) }
      .groupBy(_._1).map { case (a, rs) =>
        // random instants may collide: keep-min per instant mirrors the
        // engine's dedup-to-unique-(attribute, t) pre-step
        a -> rs.groupBy(_._2).map { case (t, vs) => (t, vs.map(_._3).min) }
          .toSeq.sortBy(_._1)
      }
    val want = obs.toSeq.flatMap { case (a, series) =>
      val lo = math.ceil(series.head._1.toDouble / g).toLong * g
      val hi = math.floor(series.last._1.toDouble / g).toLong * g
      (lo to hi by g).map { t => (a, t, series.filter(_._1 <= t).last._2) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq === want)
  }

  test("matches a brute-force per-attribute reference on random series") {
    val rnd = new scala.util.Random(7)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = for {
      attr <- 1 to 4
      i <- 0 until 40
    } yield (attr,
      new Timestamp(base + rnd.nextInt(48 * 3600) * 1000L).toString,
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble() * 100))
    val df = archive(rows)
    val got = TimeSeries.resampleInterpolate(df, 3600L)
      .collect().map(r => (r.getInt(0),
        r.getAs[java.time.LocalDateTime](1).toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getDouble(2)))
      .sortBy(t => (t._1, t._2))

    val g = 3600L * 1000L // reference works in epoch millis
    val obs = rows.collect { case (a, ts, Some(v)) => (a, Timestamp.valueOf(ts).getTime, v) }
      .groupBy(_._1).map { case (a, rs) =>
        // keep-last per instant mirrors nothing — fixture instants are unique
        a -> rs.map(t => (t._2, t._3)).sortBy(_._1)
      }
    val want = obs.toSeq.flatMap { case (a, series) =>
      val lo = math.ceil(series.head._1.toDouble / g).toLong * g
      val hi = math.floor(series.last._1.toDouble / g).toLong * g
      (lo to hi by g).map { t =>
        val (t0, v0) = series.filter(_._1 <= t).last
        if (t0 == t) (a, t, v0)
        else {
          val (t1, v1) = series.find(_._1 > t).get
          (a, t, v0 + (v1 - v0) * ((t - t0).toDouble / (t1 - t0).toDouble))
        }
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.length === want.length)
    got.zip(want).foreach { case ((ga, gt, gv), (wa, wt, wv)) =>
      assert(ga === wa && gt === wt)
      assert(math.abs(gv - wv) < 1e-9, s"attr $ga at $gt: $gv vs $wv")
    }
  }

  test("zscoreAnomalies: a spike flags against its trailing baseline; constants never do") {
    // gently varying baseline (std > 0) then a spike far outside it
    val baseVals = Seq(9.5, 10.5, 9.5, 10.5, 9.5, 10.5, 9.5, 10.5)
    val rows = baseVals.zipWithIndex.map { case (v, i) =>
      (1, f"2024-01-01 $i%02d:00:00", Some(v))
    } :+ ((1, "2024-01-01 08:00:00", Some(100.0)))
    val steady = (0 until 9).map(i => (2, f"2024-01-01 $i%02d:00:00", Some(10.0)))
    val out = TimeSeries.zscoreAnomalies(archive(rows ++ steady))
      .orderBy("attribute_id", "timestamp").collect()
    val spike = out.filter(r => r.getInt(0) == 1 && r.getDouble(2) == 100.0)
    assert(spike.length === 1)
    // brute-force recompute from the same quantized-integer definition:
    // baseline frame = the 7 points BEFORE the spike (current excluded)
    val q = baseVals.takeRight(7).map(v => math.round(v * 1024.0))
    val (n, s1) = (q.length.toLong, q.sum)
    val s2 = q.map(x => x * x).sum
    val expectZ = (102400L * n - s1).toDouble /
      math.sqrt((n * s2 - s1 * s1).toDouble * n.toDouble / (n - 1).toDouble)
    assert(spike.head.getDouble(3) === expectZ)
    assert(expectZ > 100.0, s"spike z $expectZ should be enormous vs a ±0.5 baseline")
    assert(spike.head.getBoolean(4), "the spike must flag")
    // a constant series has a zero-variance baseline -> NULL z, no flag
    val const = out.filter(_.getInt(0) == 2)
    assert(const.length === 9)
    assert(const.forall(r => r.isNullAt(3) && !r.getBoolean(4)))
    // the alternating baseline points themselves stay within ~1.2 sigma
    assert(out.filter(r => r.getInt(0) == 1 && r.getDouble(2) < 50.0)
      .forall(!_.getBoolean(4)))
  }

  test("ewma matches the truncated-weight reference; constants are fixed points") {
    val vals = Seq(10.0, 20.0, 40.0, 10.0, 30.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (1, f"2024-01-01 $i%02d:00:00", Some(v))
    } ++ (0 until 4).map(i => (2, f"2024-01-01 $i%02d:00:00", Some(7.5)))
    val out = TimeSeries.ewma(archive(rows), window = 3)
      .orderBy("attribute_id", "timestamp").collect()
    // reference: newest weight 2^(n-1) .. oldest 2^0 over last 3 points
    def ref(window: Seq[Double]): Double = {
      // window is oldest→newest; reverse so the newest folds first and
      // ends up with weight 2^(n-1)
      val q = window.map(v => math.round(v * 1024.0))
      val num = q.reverse.foldLeft(0L)((a, x) => a * 2 + x)
      num.toDouble / (((1L << q.length) - 1).toDouble * 1024.0)
    }
    val s1 = out.filter(_.getInt(0) == 1).map(_.getDouble(3))
    val expect = vals.indices.map(i => ref(vals.slice(math.max(0, i - 2), i + 1)))
    assert(s1.toSeq === expect)
    // a constant series smooths to itself (weights sum to the denominator)
    assert(out.filter(_.getInt(0) == 2).forall(_.getDouble(3) === 7.5))
    // newest point dominates: the 40 spike pulls the smoothed value to
    // (40·4 + 20·2 + 10·1)/7 = 30 — far above the running mean ~23.3
    assert(s1(2) === 30.0)
  }

  test("decompose: linear ramp has zero residual, edges NULL, bumped hour dominates seasonal") {
    val hw = 3 // n = 7
    // attr 1: exact linear ramp (centered MA of a symmetric ramp IS the
    // center, detrended integers are exactly 0)
    val ramp = (0 until 24).map(i => (1, f"2024-01-01 $i%02d:00:00", Some(100.0 + 2.0 * i)))
    // attr 2: constant 50 with a +70 bump every day at hour 02 over 3 days
    val bump = (0 until 72).map { i =>
      val hod = i % 24
      (2, f"2024-01-${i / 24 + 1}%02d ${hod}%02d:00:00",
        Some(if (hod == 2) 120.0 else 50.0))
    }
    val out = TimeSeries.decompose(archive(ramp ++ bump), halfWindow = hw)
      .orderBy("attribute_id", "timestamp").collect()
    val r = out.filter(_.getInt(0) == 1)
    // edges: first/last hw rows lack a full centered window
    assert(r.take(hw).forall(x => x.isNullAt(4) && x.isNullAt(6)))
    assert(r.takeRight(hw).forall(x => x.isNullAt(4) && x.isNullAt(6)))
    // interior of the ramp: trend = value exactly, residual exactly 0
    r.drop(hw).dropRight(hw).foreach { x =>
      assert(x.getDouble(4) === x.getDouble(3), s"trend != value on ramp: $x")
      assert(x.getDouble(6) === 0.0, s"nonzero ramp residual: $x")
    }
    // the bumped hour's seasonal profile stands far above every other hour
    val b = out.filter(_.getInt(0) == 2).filter(!_.isNullAt(5))
      .map(x => x.getInt(2) -> x.getDouble(5)).distinct.toMap
    val others = b.filter(_._1 != 2).values
    assert(b(2) > others.max + 30.0,
      s"bumped-hour seasonal ${b(2)} not separated from ${others.max}")
  }

  test("doubleEwma: constants are fixed points, ramps forecast ahead, warm-up is NULL") {
    val w = 3
    // attr 1: constant 8.0; attr 2: linear ramp 10,20,30,...
    val rows = (0 until 10).map(i => (1, f"2024-01-01 $i%02d:00:00", Some(8.0))) ++
      (0 until 10).map(i => (2, f"2024-01-01 $i%02d:00:00", Some(10.0 * (i + 1))))
    val out = TimeSeries.doubleEwma(archive(rows), window = w)
      .orderBy("attribute_id", "timestamp").collect()
    val const = out.filter(_.getInt(0) == 1)
    val ramp = out.filter(_.getInt(0) == 2)
    // warm-up: rows before index 2w-2 have NULL s1/s2/forecast
    assert(const.take(2 * w - 2).forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
    assert(const.drop(2 * w - 2).forall(r => !r.isNullAt(5)))
    // a constant series is a fixed point of both passes and the forecast
    assert(const.drop(2 * w - 2).forall(r =>
      r.getDouble(3) === 8.0 && r.getDouble(4) === 8.0 && r.getDouble(5) === 8.0))
    // on a rising ramp the trend term pushes the forecast ABOVE both
    // smoothed levels, and s1 (less lagged) above s2
    ramp.drop(2 * w - 2).foreach { r =>
      assert(r.getDouble(3) > r.getDouble(4), s"s1 <= s2 on a ramp: $r")
      assert(r.getDouble(5) > r.getDouble(3), s"forecast <= s1 on a ramp: $r")
    }
    // exact reference at the last ramp row: fold quantized values
    def fold(vs: Seq[Double]): Long =
      vs.map(v => math.round(v * 1024.0)).reverse.foldLeft(0L)((a, x) => a * 2 + x)
    val den = (1L << w) - 1
    val last3 = Seq(80.0, 90.0, 100.0)
    val n1s = (5 until 10).map(i => fold(Seq(10.0 * (i - 1), 10.0 * i, 10.0 * (i + 1))))
    val n2 = n1s.takeRight(3).reverse.foldLeft(0L)((a, x) => a * 2 + x)
    val n1 = fold(last3)
    val lastRow = ramp.last
    assert(lastRow.getDouble(3) === n1.toDouble / (den * 1024.0))
    assert(lastRow.getDouble(4) === n2.toDouble / (den.toDouble * den * 1024.0))
    assert(lastRow.getDouble(5) ===
      (3L * n1 * den - 2L * n2).toDouble / (den.toDouble * den * 1024.0))
  }

  test("meanShift peaks exactly at a level step; flat regions score zero") {
    // 10,10,10,10,10,10 | 20,20,20,20,20,20 with window 3
    val rows = (0 until 12).map(i =>
      (1, f"2024-01-01 $i%02d:00:00", Some(if (i < 6) 10.0 else 20.0)))
    val out = TimeSeries.meanShift(archive(rows), window = 3)
      .orderBy("timestamp").collect()
      .map(r => (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // rows 0-2 lack a full before-window; rows 10-11 lack a full after-window
    assert(out(0).isEmpty && out(1).isEmpty && out(2).isEmpty)
    assert(out(10).isEmpty && out(11).isEmpty)
    // flat interior before the step (after-frame 3,4,5 all pre-step)
    assert(out(3) === Some(0.0))
    // at the step (index 6: before = 10s, after = 20s): shift = +10
    assert(out(6) === Some(10.0))
    // approaching the step the after-window mixes in step values:
    // 4 -> (10+10+20)/3-10, 5 -> (10+20+20)/3-10 — monotone ramp up
    assert(out(4).get > 3.0 && out(4).get < out(5).get && out(5).get < 10.0)
    // past the step it decays back to 0
    assert(out(9) === Some(0.0))
  }

  test("acf: linear series hits exactly 1.0; alternating flips sign by lag parity; " +
    "constant series has NULL r") {
    val lin = (0 until 20).map(i => (1, f"2024-01-01 $i%02d:00:00", Some(10.0 + i)))
    val alt = (0 until 20).map(i =>
      (2, f"2024-01-01 $i%02d:00:00", Some(if (i % 2 == 0) 5.0 else -5.0)))
    val const = (0 until 20).map(i => (3, f"2024-01-01 $i%02d:00:00", Some(7.5)))
    val out = TimeSeries.acf(archive(lin ++ alt ++ const), maxLag = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // y = x + c pairs → numerator == both variance terms as exact integers,
    // and the final double chain reproduces ±1.0 exactly (see acf doc)
    assert(out((1, 1)) === ((19L, Some(1.0))))
    assert(out((1, 2)) === ((18L, Some(1.0))))
    assert(out((2, 1)) === ((19L, Some(-1.0))))
    assert(out((2, 2)) === ((18L, Some(1.0))))
    assert(out((3, 1)) === ((19L, None)))
    assert(out((3, 2)) === ((18L, None)))
    // brute-force Pearson parity on the quantized values for a mixed series
    val xs = Seq(1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.5, 6.25)
    val mixed = xs.zipWithIndex.map { case (v, i) =>
      (4, f"2024-01-01 $i%02d:00:00", Some(v)) }
    val got = TimeSeries.acf(archive(mixed), maxLag = 1).collect()
      .map(r => r.getDouble(3)).head
    val q = xs.map(v => math.round(v * 1024L).toDouble)
    val (x, y) = (q.dropRight(1), q.drop(1))
    val n = x.size.toDouble
    val exp = (n * x.zip(y).map { case (a, b) => a * b }.sum - x.sum * y.sum) /
      math.sqrt((n * x.map(a => a * a).sum - x.sum * x.sum) *
        (n * y.map(a => a * a).sum - y.sum * y.sum))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("crossCorrelation: scaled copy r=1, negated r=-1, overlap-only alignment") {
    val s1 = (0 until 10).map(i => (1, f"2024-01-01 $i%02d:00:00", Some(10.0 + i)))
    val s2 = (0 until 10).map(i => (2, f"2024-01-01 $i%02d:00:00", Some(2.0 * (10 + i))))
    val s3 = (0 until 10).map(i => (3, f"2024-01-01 $i%02d:00:00", Some(100.0 - (10 + i))))
    // series 4 overlaps series 1 on hours 5..9 only
    val s4 = (5 until 15).map(i => (4, f"2024-01-01 $i%02d:00:00", Some(50.0 + 3 * i)))
    val out = TimeSeries.crossCorrelation(archive(s1 ++ s2 ++ s3 ++ s4))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out((1, 2)) === ((10L, Some(1.0))))
    assert(out((1, 3)) === ((10L, Some(-1.0))))
    assert(out((2, 3)) === ((10L, Some(-1.0))))
    assert(out((1, 4)) === ((5L, Some(1.0)))) // linear in i on the overlap
    assert(out.keySet === Set((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)))
  }

  test("seasonalResiduals: slot means per hour-of-day; residuals sum to ~0 per slot") {
    // two days, hours 0..2: hour h of day d has value 10*h + d
    val rows = for (d <- 0 until 2; h <- 0 until 3) yield
      (1, f"2024-01-0${d + 1} $h%02d:00:00", Some(10.0 * h + d))
    val out = TimeSeries.seasonalResiduals(archive(rows)).collect()
      .map(r => (r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // slot mean for hour h = 10h + 0.5; residual = ±0.5
    out.foreach { case (hod, v, mean, res) =>
      assert(mean === 10.0 * hod + 0.5)
      assert(math.abs(res) === 0.5)
      assert(v - mean === res)
    }
    assert(out.groupBy(_._1).forall { case (_, g) => g.map(_._4).sum === 0.0 })
  }

  test("m4Downsample: per-bucket first/min/max/last with exact timestamps") {
    val out = TimeSeries.m4Downsample(archive(Seq(
      // day 1: first=5, max=90 (mid), min=1 (mid), last=7
      (1, "2024-01-01 01:00:00", Some(5.0)),
      (1, "2024-01-01 08:00:00", Some(90.0)),
      (1, "2024-01-01 13:00:00", Some(1.0)),
      (1, "2024-01-01 22:00:00", Some(7.0)),
      // day 2: a single point is all four extremes; nulls are gaps
      (1, "2024-01-02 03:00:00", None),
      (1, "2024-01-02 12:00:00", Some(42.0)),
      // second series, same day as series 1 day 1: independent bucket
      (2, "2024-01-01 00:00:00", Some(-3.0)))))
      .orderBy("attribute_id", "bucket_start").collect()
      .map(r => (r.getInt(0),
        r.getAs[java.sql.Timestamp](1).toLocalDateTime.getDayOfMonth,
        r.getLong(2), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    assert(out.toSeq === Seq(
      (1, 1, 4L, 5.0, 1.0, 90.0, 7.0),
      (1, 2, 1L, 42.0, 42.0, 42.0, 42.0),
      (2, 1, 1L, -3.0, -3.0, -3.0, -3.0)))
  }

  test("m4Downsample: duplicate timestamps collapse (min value) before arg_min/arg_max") {
    val out = TimeSeries.m4Downsample(archive(Seq(
      (1, "2024-01-01 00:00:00", Some(9.0)),
      (1, "2024-01-01 00:00:00", Some(2.0)), // tie at t_first → min wins
      (1, "2024-01-01 10:00:00", Some(5.0)))))
      .collect().map(r => (r.getLong(2), r.getDouble(5), r.getDouble(8)))
    assert(out.toSeq === Seq((2L, 2.0, 5.0))) // n counts UNIQUE timestamps
  }
}
