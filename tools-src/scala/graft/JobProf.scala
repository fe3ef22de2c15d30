package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Dev utility: per-JOB breakdown of one SparkEntry query — job wall
  * time, task count, and summed task time, so protocol cells' fixed
  * job-floor vs real compute is visible without the UI.
  *
  * {{{ sbt "runMain graft.JobProf /root/testdata/sf0.1 er_inc" }}}
  *
  * Runs on `SPARK_GRAFT_CPUS` cores (default 4), like `Bench`.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val spark = Harness.session("graft-jobprof")
    Harness.warm(spark, sfDir)

    final case class J(var start: Long = 0L, var end: Long = 0L,
      var tasks: Int = 0, var taskMs: Long = 0L, var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, J]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(e.jobId, J())
        j.start = e.time
        // properties is nullable (jobs submitted without local properties);
        // an NPE here would be swallowed by the listener bus and silently
        // drop the job from the profile
        j.desc = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
        }
    }

    names.foreach { name => Harness.dropCreated(spark) {
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"JOBPROF $name rows=$n wall=$dt%.2f jobs=${jobs.size}")
      var acc = 0L
      jobs.foreach { case (id, j) =>
        val w = j.end - j.start
        acc += w
        println(f"  job=$id%-4d wall=${w}%5dms tasks=${j.tasks}%4d taskSum=${j.taskMs}%6dms  ${j.desc.take(90)}")
      }
      println(f"  sumJobWall=${acc}ms  (wall-sumJobWall = driver/plan gaps)")
    } }
    spark.stop()
  }
}
