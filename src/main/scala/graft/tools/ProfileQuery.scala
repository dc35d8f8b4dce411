package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB profiler for a single SparkEntry query (guide §1: measure
  * first). Runs the named queries (after the standard warmup) with a
  * listener that records every Spark job's duration, first-stage name
  * and task count, then prints a breakdown INCLUDING the driver-side
  * gaps between jobs — the local[N] stand-in for the Spark UI's Jobs
  * page (UI is disabled in this sandbox). Gaps are where planning,
  * file listing, footer reads and manifest IO hide.
  *
  * Usage:
  *   java ... graft.tools.ProfileQuery <queryName>[,<queryName>...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PROBES as Bench.
  */
object ProfileQuery {
  private final case class JobRec(id: Int, name: String, t0: Long,
                                  t1: Long, tasks: Int)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: ProfileQuery <queryName>[,name...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.probeScaleFromEnv()

    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobStage0 = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageName.put(s.stageInfo.stageId, s.stageInfo.name)
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobStart.put(js.jobId, js.time)
        if (js.stageIds.nonEmpty) jobStage0.put(js.jobId, js.stageIds.min)
        // stage -> owning job: tasks attribute through their stage, not
        // a guess at the max active job id (broadcast/observe jobs DO
        // overlap under AQE, which miscounted tasks pre-r15)
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
        jobTasks.put(js.jobId, new java.util.concurrent.atomic.AtomicInteger(0))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(te.stageId))
          .flatMap(j => Option(jobTasks.get(j)))
          .foreach(_.incrementAndGet())
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(je.jobId)).foreach { t0 =>
          val nm = Option(jobStage0.get(je.jobId))
            .flatMap(s => Option(stageName.get(s))).getOrElse("?")
          val tc = Option(jobTasks.remove(je.jobId)).map(_.get).getOrElse(0)
          done.add(JobRec(je.jobId, nm, t0, je.time, tc))
        }
      }
    })

    def run(n: String): Unit =
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def cleanup(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    try { run("q06_join_auto"); run("q03_groupby_agg") }
    catch { case _: Throwable => () }
    cleanup()

    names.foreach { name =>
      (1 to 2).foreach { rep =>
        done.clear()
        val w0 = System.currentTimeMillis()
        run(name)
        val w1 = System.currentTimeMillis()
        val wall = (w1 - w0) / 1000.0
        cleanup()
        import scala.jdk.CollectionConverters._
        val recs = done.asScala.toSeq.sortBy(_.t0)
        val sumMs = recs.map(r => r.t1 - r.t0).sum
        println(f"== $name rep$rep wall=$wall%.2fs jobs=${recs.size} jobSum=${sumMs / 1000.0}%.2fs gap=${wall - sumMs / 1000.0}%.2fs")
        // timeline: every job plus any preceding driver gap > 150 ms
        var cursor = w0
        recs.foreach { r =>
          val gap = r.t0 - cursor
          if (gap > 150)
            println(f"  GAP  ${gap}%6d ms  (driver-side, before job ${r.id})")
          cursor = math.max(cursor, r.t1)
          val ms = r.t1 - r.t0
          if (ms >= 100 || rep == 2)
            println(f"  job ${r.id}%4d ${ms}%6d ms  tasks=${r.tasks}%4d  ${r.name.take(120)}")
        }
        val tailGap = w1 - cursor
        if (tailGap > 150) println(f"  GAP  ${tailGap}%6d ms  (driver-side, after last job)")
      }
    }
    spark.stop()
  }
}
