package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job-level profile of one named SparkEntry query: per-job wall time,
  * task count, summed executor run time, and the driver-side GAPS
  * between jobs (planning/commit/driver work) — the breakdown that
  * says whether a many-small-jobs query is task-bound, scheduling-
  * bound, or driver-bound (guide §1/§7.3). Usage:
  *   runMain graft.JobProfile <queryName> [sfDir] [reps]
  * Reps > 1 re-run the query in the same session, so memoized builds
  * (shared silver cache, the one-batch gates' 3-batch state) land in
  * rep 1 and later reps profile the steady state the bench's min-of-3
  * reports. Session config matches graft.Bench exactly.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })

    final case class Job(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var tasks: Int = 0, var runMs: Long = 0L, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, t0 = e.time)
        j.stages = e.stageInfos.size
        jobs.put(e.jobId, j)
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // containsKey, not Option(get): the map's values unbox to Int, so
        // get() of an unknown stage returns 0 and would charge job 0
        Option.when(stageToJob.containsKey(e.stageId))(stageToJob.get(e.stageId))
          .flatMap(id => Option(jobs.get(id)))
          .foreach { j =>
            j.synchronized {
              j.tasks += 1
              if (e.taskMetrics != null) j.runMs += e.taskMetrics.executorRunTime
            }
          }
      }
    }

    // comma-separated list: earlier names run (in order) as warm-up —
    // the in-suite shape where e.g. q218 absorbs the shared CDC build —
    // and each gets its own profile block
    val names = name.split(",").map(_.trim).filter(_.nonEmpty)
    for (rep <- 1 to reps; qname <- names) {
      val fn = SparkEntry.queries(qname)
      if (qname == names.head) {
        spark.catalog.clearCache()
        graft.engine.InsuranceGate.resetCdcDeltaMemoForBench()
      }
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // drain the listener bus so late onJobEnd/onTaskEnd events land
      // (listenerBus is private[spark]; a short sleep suffices here)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.values.toArray(Array.empty[Job]).sortBy(_.t0)
      println(f"[jobprofile] === $qname rep $rep: wall ${wallMs / 1000}%.3f s, " +
        s"${js.length} jobs ===")
      var prevEnd = 0L
      var sumJobMs = 0L
      var sumGapMs = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0 else (j.t0 - prevEnd).max(0)
        // gap<0 means the job overlapped the previous one (inParallel)
        val overlap = if (prevEnd == 0) 0 else (prevEnd - j.t0).max(0)
        val dur = j.t1 - j.t0
        sumJobMs += dur
        sumGapMs += gap
        println(f"[jobprofile] job ${j.id}%4d  wall ${dur}%6d ms  " +
          f"gap ${gap}%6d ms  ovl ${overlap}%6d ms  stages ${j.stages}%3d  " +
          f"tasks ${j.tasks}%5d  taskrun ${j.runMs}%7d ms")
        prevEnd = prevEnd.max(j.t1)
      }
      val first = js.headOption.map(_.t0).getOrElse(0L)
      val last = js.map(_.t1).maxOption.getOrElse(0L)
      println(f"[jobprofile] $qname rep $rep summary: wall ${wallMs / 1000}%.3f s, " +
        f"job-span ${(last - first) / 1000.0}%.3f s, sum-job ${sumJobMs / 1000.0}%.3f s, " +
        f"sum-gap ${sumGapMs / 1000.0}%.3f s, tasks ${js.map(_.tasks).sum}, " +
        f"taskrun ${js.map(_.runMs).sum / 1000.0}%.3f s")
    }
    spark.stop()
  }
}
