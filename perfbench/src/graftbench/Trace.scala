package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is the micro-batch or request the
  * call belongs to; `parent` is 0 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, op: Long, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. Every span runs its Spark jobs under the job group
  * `span-<id>`, so the [[JobCounter]] can attribute jobs to it. Spans
  * are kept in memory and summarized when the run ends. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicInteger(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val groupProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  def span[T](name: String, op: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    val saved = groupProps.map(p => p -> sc.getLocalProperty(p))
    stack.set(id :: stack.get)
    sc.setJobGroup(s"span-$id", name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      saved.foreach { case (p, v) => sc.setLocalProperty(p, v) }
      recorded.synchronized(recorded += Span(id, name, parent, op, t0, t1))
    }
  }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Span duration minus the time its children cover (children of one
    * span run one after another on its thread). */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  /** Per-op self time of `name` (summed over that op's spans), median over ops. */
  def selfMedian(name: String): Double = {
    val all = spans
    val perOp = all.filter(_.name == name).groupBy(_.op)
      .values.map(_.map(selfSeconds(_, all)).sum).toSeq
    Stats.medianOr0(perOp)
  }

  /** Per-op total (inclusive) time of `name`, median over ops. */
  def totalMedian(name: String): Double =
    Stats.medianOr0(spans.filter(_.name == name).groupBy(_.op).values.map(_.map(_.seconds).sum).toSeq)
}

/** SparkListener counting jobs, tasks, executor CPU, shuffle writes and
  * spill, with each job attributed to the span whose job group ran it. */
final class JobCounter extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end: Long = -1L
    var tasks = 0
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val j = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: Seq[Job] = synchronized(jobs.values.toList)
  def ended(group: String): Boolean = synchronized(jobs.values.exists(j => j.group == group && j.end >= 0))
}

/** QueryExecutionListener collecting Catalyst phase times and the file
  * scans' SQL metrics of every query action. */
final class PlanCounter extends QueryExecutionListener {
  final case class Query(planStartMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long, partitions: Long, rowsRead: Long, sentinel: Boolean)
  private val queries = mutable.ArrayBuffer.empty[Query]

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
    val scans = Plans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val q = Query(start, ms("analysis"), ms("optimization"), ms("planning"),
      metric("numFiles"), metric("numPartitions"), metric("numOutputRows"),
      qe.logical.toString.contains(JobCounters.SentinelTag))
    synchronized(queries += q)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def snapshot: Seq[Query] = synchronized(queries.toList)
}

/** The traced half of a run: listeners on, spans recorded, JVM
  * counters sampled. Summaries cover only jobs and queries that started
  * inside the traced window. */
final class JobCounters(spark: SparkSession) {
  val jobs = new JobCounter
  val plans = new PlanCounter
  private var t0Ms = 0L
  private var t1Ms = 0L
  private var gc0 = 0L
  private var gcS = 0.0
  private var heapPeakMb = 0.0

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    t0Ms = System.currentTimeMillis()
  }

  /** Ends the traced window and waits until both listener buses have
    * delivered everything, using a tagged sentinel query. */
  def stop(): Unit = {
    t1Ms = System.currentTimeMillis()
    gcS = (gcMs - gc0) / 1e3
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val sc = spark.sparkContext
    sc.setJobGroup(JobCounters.SentinelTag, JobCounters.SentinelTag)
    spark.range(1).selectExpr(s"'${JobCounters.SentinelTag}' AS tag").collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def drained = jobs.ended(JobCounters.SentinelTag) && plans.snapshot.exists(_.sentinel)
    while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
    if (!drained) System.err.println("perfbench: listener events still pending after 30 s")
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  private def inWindow(ms: Long) = ms >= t0Ms && ms <= t1Ms

  def windowJobs: Seq[JobCounter#Job] =
    jobs.snapshot.filter(j => inWindow(j.start) && j.group != JobCounters.SentinelTag)
  def windowQueries: Seq[PlanCounter#Query] =
    plans.snapshot.filter(q => !q.sentinel && inWindow(q.planStartMs))

  /** Wall time of the window not covered by any running job. */
  def driverGapMs: Double = {
    val iv = windowJobs.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    ((t1Ms - t0Ms) - covered).toDouble
  }

  /** Jobs whose group is one of `spanIds`' job groups. */
  def jobsOf(spanIds: Set[Int]): Seq[JobCounter#Job] =
    windowJobs.filter(j => j.group != null && j.group.startsWith("span-") &&
      spanIds.contains(j.group.stripPrefix("span-").toInt))

  /** The per-layer metrics every workload reports: Catalyst phases,
    * scheduler and executor counters and scans per operation, JVM. */
  def common(ops: Long, rowsOut: Long): Seq[Metric] = {
    val js = windowJobs
    val qs = windowQueries
    val n = math.max(ops, 1L).toDouble
    val rowsRead = qs.map(_.rowsRead).sum.toDouble
    Seq(
      Metric("plan.analysis_ms", qs.map(_.analysisMs).sum / n, "ms"),
      Metric("plan.optimization_ms", qs.map(_.optimizationMs).sum / n, "ms"),
      Metric("plan.planning_ms", qs.map(_.planningMs).sum / n, "ms"),
      Metric("scan.files_read", qs.map(_.files).sum / n, "count"),
      Metric("scan.partitions_read", qs.map(_.partitions).sum / n, "count"),
      Metric("scan.rows_read_per_row_out", rowsRead / math.max(rowsOut, 1L), "ratio"),
      Metric("spark.jobs", js.size / n, "count"),
      Metric("spark.tasks", js.map(_.tasks).sum / n, "count"),
      Metric("spark.executor_cpu_s", js.map(_.cpuNs).sum / 1e9 / n, "s"),
      Metric("spark.shuffle_write_mb", js.map(_.shuffleWriteBytes).sum / 1048576.0 / n, "MB"),
      Metric("spark.spill_mb", js.map(_.spillBytes).sum / 1048576.0 / n, "MB"),
      Metric("spark.driver_gap_ms", driverGapMs / n, "ms"),
      Metric("jvm.gc_s", gcS, "s"),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB"))
  }
}

object JobCounters {
  val SentinelTag = "perfbench-sentinel"
}
