package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

import graft.api.GraftApi

/** `api_browse`: the UI's browse flow over a week of archive. Each
  * session lists leaf elements, opens one equipment (its attributes and
  * their archive time range, a full-archive scan), looks up an attribute
  * by exact name and elements by an ILIKE pattern, then downloads one
  * hour of that equipment as CSV through [[GraftApi.streamExportCsv]]
  * (`POST /api/download`). One operation is one API call; every call's
  * result is checked against the generated plant or the archive. */
object ApiBrowse {
  val setupReps = 3
  /** Sessions run before timing starts. A JVM's first session takes
    * about 2.5 times as long as a warm one (class loading, C1 compiles,
    * Spark's first-use caches), the second about 15% longer. */
  val warmupSessions = 2

  /** One API call: runs as operation `op` (traced when a tracer is
    * given) and returns the rows it delivered and the check to run once
    * the clock has stopped. */
  final case class Call(name: String, run: (Option[Tracer], Long) => (Long, () => Boolean))

  /** A call whose result is a collected frame, checked by `ok`. */
  private def rows(name: String, result: => Seq[Row])(ok: Seq[Row] => Boolean): Call =
    Call(name, (_, _) => { val r = result; (r.size.toLong, () => ok(r)) })

  /** The reference's ILIKE: `%` any run, `_` one character, no case. */
  private def like(pattern: String, s: String): Boolean =
    s.toLowerCase.matches(pattern.toLowerCase.split("%", -1)
      .map(_.split("_", -1).map(java.util.regex.Pattern.quote).mkString("."))
      .mkString(".*"))

  /** One seeded browse session. */
  def session(api: GraftApi, w: Week, rnd: Random): Seq[Call] = {
    val p = w.plant
    val eq = p.equipment(rnd.nextInt(p.equipment.size))
    val attrs = p.attrsOf(eq.id)
    val name = attrs(rnd.nextInt(attrs.size)).name
    val parts = eq.name.split("-")
    val pattern = rnd.nextInt(3) match {
      case 0 => s"${parts(0).toLowerCase}-%"
      case 1 => s"%-${parts(1).toLowerCase}-%"
      case _ => s"%${parts(2).filter(_.isLetter).toLowerCase}%"
    }
    val from = w.firstDay.plusHours(rnd.nextInt(Week.days * 24).toLong)
    val to = from.plusMinutes(59).plusSeconds(59)
    val leaves = p.elements.filter(e => e.parent.isEmpty || p.equipment.contains(e)).map(_.name).sorted
    val download = Call("browse.export_small", (tracer, id) => {
      def span[T](n: String)(body: => T): T = tracer.fold(body)(_.span(n, id)(body))
      val df = span("export.plan") {
        val d = api.export(w.db, Seq(eq.id), Some(Plant.fmt(from)), Some(Plant.fmt(to)))
        if (tracer.isDefined) d.queryExecution.executedPlan // physical planning inside the span
        d
      }
      val lines = span("export.render")(api.streamExportCsv(df).toVector)
      (lines.size - 1L, () => w.csvMatches(lines, keyCols = 1, attrs.map(_.id), from, to))
    })
    Seq(
      rows("browse.leaf_elements", api.leafElements(w.db).collect().toSeq)(
        _.map(_.getAs[String]("name")) == leaves),
      rows("browse.element_attributes", api.elementAttributes(w.db, eq.id).collect().toSeq)(
        _.map(_.getAs[String]("name")) == attrs.map(_.name).sorted),
      rows("browse.time_range", api.attributeTimeRange(w.db, attrs.map(_.id)).collect().toSeq)(
        _.map(r => (r.get(0), r.get(1))) == Seq((w.firstDay, w.lastMinute))),
      rows("browse.lookup", api.lookup(w.db, "attribute", name).collect().toSeq)(r =>
        r.size == p.attrs.count(_.name == name) && r.forall(_.getAs[String]("name") == name)),
      rows("browse.lookup", api.lookup(w.db, "element", pattern).collect().toSeq)(
        _.map(_.getAs[String]("name")) == p.elements.map(_.name).filter(like(pattern, _)).sorted),
      download)
  }

  /** The typical call: the geometric mean of each session slot's median
    * latency. The slots differ several-fold in cost, so a plain median
    * over all calls falls in the gap between two slots and jumps between
    * them from run to run. */
  def typicalS(lat: Seq[(Int, Double)]): Double = {
    val medians = lat.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2)))
    math.exp(medians.map(math.log).sum / medians.size)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (w, buildS) = Setup.repeated(setupReps)(r => Week.build(ctx, s"week$r"))
    val api = new GraftApi(spark, w.root)
    val rnd = new Random(ctx.opts.seed * 17 + 3)
    val checks = mutable.ArrayBuffer.empty[() => Boolean]

    val slotOf = mutable.Map.empty[Long, Int]

    /** Whole sessions until `seconds` have passed; (slot in the session,
      * latency) per call, and one round per session. */
    def measure(seconds: Double, tracer: Option[Tracer]): (Seq[(Int, Double)], Seq[Round]) = {
      val lat = mutable.ArrayBuffer.empty[(Int, Double)]
      val rounds = mutable.ArrayBuffer.empty[Round]
      Stats.loopFor(seconds) {
        val s0 = System.nanoTime()
        var delivered = 0L
        val calls = session(api, w, rnd)
        calls.zipWithIndex.foreach { case (c, slot) =>
          val op = checks.size.toLong
          slotOf(op) = slot
          val t0 = System.nanoTime()
          val (n, check) = tracer.fold(c.run(None, op))(t => t.span(c.name, op)(c.run(tracer, op)))
          lat += slot -> Stats.secondsSince(t0)
          delivered += n
          checks += check
        }
        rounds += Round(calls.size, delivered, Stats.secondsSince(s0))
      }
      System.err.println("perfbench: session ms " + rounds.map(r => (r.seconds * 1e3).toInt).mkString(" "))
      (lat.toSeq, rounds.toSeq)
    }

    val w0 = System.nanoTime()
    (1 to warmupSessions).foreach(_ => measure(0, None))
    val setupS = ctx.sessionS + buildS + Stats.secondsSince(w0)

    val secs = ctx.opts.seconds
    val metrics = if (!ctx.opts.trace) {
      val (lat, rounds) = measure(secs, None)
      Report.endToEnd(setupS, typicalS(lat), rounds)
    } else {
      val (plain, _) = measure(secs / 2, None)
      val tracer = new Tracer(spark)
      val counters = new JobCounters(spark)
      counters.start()
      val (traced, rounds) = measure(secs / 2, Some(tracer))
      counters.stop()
      val spans = tracer.spans
      val exportSpans = spans.filter(_.name.startsWith("export.")).map(_.id).toSet
      val downloads = spans.count(_.name == "browse.export_small")
      val callS = typicalS(spans.filter(_.parent == 0).map(s => slotOf(s.op) -> s.seconds))
      Seq("browse.leaf_elements", "browse.element_attributes", "browse.time_range",
        "browse.lookup", "browse.export_small").map(c => Metric(s"${c}_ms", tracer.totalMedian(c) * 1e3, "ms")) ++
        Seq(
          Metric("export.plan_s", tracer.totalMedian("export.plan"), "s"),
          Metric("export.render_s", tracer.totalMedian("export.render"), "s"),
          Metric("export.jobs_per_request", counters.jobsOf(exportSpans).size.toDouble / math.max(downloads, 1), "count")) ++
        counters.common(traced.size, rounds.map(_.rows).sum) ++ ArchiveFiles.layout(spark, w.archive) ++
        Report.overhead(typicalS(plain), typicalS(traced), callS)
    }
    val failed = checks.count(c => !c()).toLong
    Outcome(checks.size.toLong, failed, metrics)
  }
}
