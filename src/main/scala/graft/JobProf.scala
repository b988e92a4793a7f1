package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job profiler (dev tool, not part of the driver contract): runs a
  * named SparkEntry gate once (noop sink) with a listener that records
  * every job's wall time, stage task time, and input/shuffle volumes —
  * the "which stage is the money going to" read the optimization guide
  * §1.1/§7.1 asks for, usable without the Spark UI. Driver-side gaps
  * (time between jobs: barrier footer reads, plan/analysis, local
  * loops) fall out as the difference between the gate total and Σ jobs.
  *
  * Usage: runMain graft.JobProf <dir> <gateName> [runs]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = LocalSession(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", "32", "ERROR")

    case class JobRec(id: Int, var desc: String = "", var t0: Long = 0,
      var t1: Long = 0, var stages: Seq[Int] = Nil)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    case class StageRec(id: Int, var nameStr: String = "",
      var taskTimeMs: Long = 0, var inputBytes: Long = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
      var nTasks: Int = 0)
    val stages = mutable.HashMap[Int, StageRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId)
        r.t0 = e.time
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        r.stages = e.stageIds
        jobs.synchronized { jobs(e.jobId) = r }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val r = StageRec(si.stageId, si.name.take(60))
        r.taskTimeMs = si.taskMetrics.executorRunTime
        r.inputBytes = si.taskMetrics.inputMetrics.bytesRead
        r.shuffleReadBytes =
          si.taskMetrics.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes =
          si.taskMetrics.shuffleWriteMetrics.bytesWritten
        r.nTasks = si.numTasks
        stages.synchronized { stages(si.stageId) = r }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"no gate named $name"))
    var best = Double.MaxValue
    (0 until runs).foreach { i =>
      jobs.synchronized { jobs.clear() }; stages.synchronized { stages.clear() }
      val t0 = System.nanoTime()
      val (tCons, tAll) = Scratch.scoped(spark) {
        val df = fn(spark, dir)
        val tCons = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        (tCons, (System.nanoTime() - t0) / 1e9)
      }
      Thread.sleep(300) // let the listener bus drain
      println(f"\n===== $name run $i: total $tAll%.2f s (construction $tCons%.2f s)")
      var sumJobs = 0.0
      jobs.values.toSeq.sortBy(_.t0).foreach { j =>
        val dur = (j.t1 - j.t0) / 1e3
        sumJobs += dur
        val st = j.stages.flatMap(stages.get)
        val tt = st.map(_.taskTimeMs).sum / 1e3
        val in = st.map(_.inputBytes).sum / 1e6
        val sr = st.map(_.shuffleReadBytes).sum / 1e6
        val sw = st.map(_.shuffleWriteBytes).sum / 1e6
        val nt = st.map(_.nTasks).sum
        if (dur >= 0.01)
          println(f"job ${j.id}%3d ${dur}%7.2f s  task ${tt}%8.2f s  " +
            f"tasks $nt%4d  in ${in}%8.1f MB  sRd ${sr}%7.1f sWr ${sw}%7.1f  " +
            s"${j.desc.take(70)}")
      }
      println(f"sum(jobs) $sumJobs%.2f s; driver gaps ${tAll - sumJobs}%.2f s")
      if (tAll < best) best = tAll
    }
    println(f"\nbest total: $best%.2f s")
    spark.stop()
  }
}
