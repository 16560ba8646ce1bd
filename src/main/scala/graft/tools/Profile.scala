package graft.tools

import org.apache.spark.scheduler._

/** Empirical profiler for one SparkEntry query (optimization guide §1:
  * decide where the time goes before touching anything): runs the query
  * once untimed (codegen/JIT warmup, the bench's own protocol), then
  * once timed under a listener that attributes wall-clock to Spark JOBS
  * (with task counts and per-stage task-time sums) and reports the
  * residue — driver-side time outside any job (planning, driver loops,
  * filesystem fixture work) — which on the sandbox's store gates is
  * often the real cost.
  *
  * Usage: `runMain graft.tools.Profile <queryName> [sfDir] [passes]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [sfDir] [passes]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 1
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    val spark = graft.LocalSpark.session("graft-profile")

    final case class Job(id: Int, desc: String, start: Long,
                         var end: Long = -1, var tasks: Int = 0,
                         var taskTimeMs: Long = 0,
                         var deserMs: Long = 0, var runMs: Long = 0,
                         var gcMs: Long = 0, var resSerMs: Long = 0,
                         var cpuMs: Long = 0,
                         var shufReadB: Long = 0, var shufWriteB: Long = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, d, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // boxed lookup: an unmapped stage (job started before listener
        // registration) must DROP the task, not unbox null to job 0
        // (ADVICE r17)
        val jidBoxed = stageToJob.asInstanceOf[java.util.Map[Integer, Integer]]
          .get(Integer.valueOf(e.stageId))
        val j = if (jidBoxed == null) null else jobs.get(jidBoxed.intValue())
        if (j != null && e.taskInfo != null) {
          j.tasks += 1
          j.taskTimeMs += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            j.deserMs += m.executorDeserializeTime
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.resSerMs += m.resultSerializationTime
            j.cpuMs += m.executorCpuTime / 1000000
            // shuffle BYTES per job: timing-window-immune evidence for
            // per-iteration exchange claims (graph ops)
            j.shufReadB += m.shuffleReadMetrics.totalBytesRead
            j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }

    // warmup (codegen + JIT, outside the measurement)
    try fn(spark, sfDir).count() catch { case e: Throwable => throw e }

    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    var rows = 0L
    (1 to passes).foreach { _ => rows = fn(spark, sfDir).count() }
    val wallMs = (System.nanoTime() - t0) / 1e6
    Thread.sleep(500) // let the listener bus drain

    import scala.jdk.CollectionConverters._
    val js = jobs.values().asScala.toSeq.sortBy(_.start)
    val jobMs = js.map(j => if (j.end > 0) (j.end - j.start) else 0L).sum
    println(f"=== profile: $name rows=$rows passes=$passes wall=${wallMs}%.0f ms " +
      f"jobs=${js.size} job-wall=${jobMs} ms driver-residue=${wallMs - jobMs}%.0f ms ===")
    js.foreach { j =>
      val dur = if (j.end > 0) j.end - j.start else -1
      println(f"job ${j.id}%4d ${dur}%6d ms tasks=${j.tasks}%4d taskTime=${j.taskTimeMs}%6d ms " +
        f"deser=${j.deserMs}%5d run=${j.runMs}%6d cpu=${j.cpuMs}%6d gc=${j.gcMs}%4d resSer=${j.resSerMs}%4d " +
        f"shufR=${j.shufReadB}%9d shufW=${j.shufWriteB}%9d  ${j.desc.take(60)}")
    }
    spark.stop()
  }
}
