package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a registry query's time goes, under the Bench session:
  *
  *   runMain graft.Explain <q[,q…]> [sfDir] [reps]
  *
  * Each rep runs the named SparkEntry queries in order through the noop
  * sink, as Bench does, and prints per query one line per Spark job —
  * wall time, the driver-side gap since the previous job ended (planning,
  * commit, driver work), the overlap with it (concurrent jobs), stages,
  * tasks and summed executor run time — then a summary. That breakdown
  * says whether a many-small-jobs query is task-, scheduling- or
  * driver-bound. Earlier names are warm-up (the in-suite shape where q218
  * absorbs the shared CDC build); each rep starts from a cleared SQL cache
  * and CDC-delta memo, like a Bench rep, so reps > 1 profile the steady
  * state that Bench's min-of-reps reports.
  *
  * After the last rep it prints the last query's formatted plan (scan
  * details, PushedFilters/ReadSchema, exchange placement) and its final
  * post-AQE physical plan with every non-zero per-node SQL metric: where
  * the rows and the time went.
  */
object Explain {
  private final case class Job(id: Int, t0: Long, stages: Int) {
    var t1 = 0L
    var tasks = 0
    var runMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val names = SparkEntry.queryNames(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession(GraftSession.cpus(GraftSession.allCores))
    GraftSession.applyExtraConf(spark)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Job(e.jobId, e.time, e.stageInfos.size))
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
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
    })
    // the noop write spawns its own QueryExecution (the frame's own one
    // never runs, so its metrics stay zero): keep the write's, found by
    // the frame's logical plan under the write command
    @volatile var target: LogicalPlan = null
    @volatile var captured: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val t = target
        if (t != null && qe.logical.children.exists(_ eq t)) captured = qe
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    var df: org.apache.spark.sql.DataFrame = null
    for (rep <- 1 to reps; name <- names) {
      if (name == names.head) {
        spark.catalog.clearCache()
        graft.engine.InsuranceGate.resetCdcDeltaMemoForBench()
      }
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      df = SparkEntry.queries(name)(spark, sfDir)
      captured = null
      target = df.queryExecution.commandExecuted
      df.write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // let late onJobEnd/onTaskEnd events land (the listener bus drains
      // asynchronously and its wait is private to Spark)
      Thread.sleep(300)
      printJobs(s"$name rep $rep", wallMs,
        jobs.values.toArray(Array.empty[Job]).sortBy(_.t0).toSeq)
    }

    println("[explain] === explain(formatted) ===")
    println(df.queryExecution.explainString(FormattedMode))
    val deadline = System.nanoTime() + 10e9.toLong
    while (captured == null && System.nanoTime() < deadline) Thread.sleep(50)
    val executed =
      if (captured != null) captured.executedPlan else df.queryExecution.executedPlan
    println("[explain] === final physical plan with non-zero metrics ===")
    def walk(p: SparkPlan, depth: Int): Unit = {
      val m = p.metrics.filter(_._2.value != 0)
        .map { case (k, v) => s"$k=${v.value}" }.toSeq.sorted.mkString(", ")
      println(s"[explain] ${"  " * depth}${p.nodeName}: $m")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case r: ReusedExchangeExec =>
          println(s"[explain] ${"  " * (depth + 1)}(reuses ${r.child.nodeName})")
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(executed, 0)
    spark.stop()
  }

  private def printJobs(label: String, wallMs: Double, js: Seq[Job]): Unit = {
    println(f"[explain] === $label: wall ${wallMs / 1000}%.3f s, " +
      s"${js.length} jobs ===")
    var prevEnd = 0L
    var sumJobMs = 0L
    var sumGapMs = 0L
    js.foreach { j =>
      val gap = if (prevEnd == 0) 0 else (j.t0 - prevEnd).max(0)
      val overlap = if (prevEnd == 0) 0 else (prevEnd - j.t0).max(0)
      val dur = j.t1 - j.t0
      sumJobMs += dur
      sumGapMs += gap
      println(f"[explain] job ${j.id}%4d  wall ${dur}%6d ms  " +
        f"gap ${gap}%6d ms  ovl ${overlap}%6d ms  stages ${j.stages}%3d  " +
        f"tasks ${j.tasks}%5d  taskrun ${j.runMs}%7d ms")
      prevEnd = prevEnd.max(j.t1)
    }
    val first = js.headOption.map(_.t0).getOrElse(0L)
    val last = js.map(_.t1).maxOption.getOrElse(0L)
    println(f"[explain] $label summary: wall ${wallMs / 1000}%.3f s, " +
      f"job-span ${(last - first) / 1000.0}%.3f s, sum-job ${sumJobMs / 1000.0}%.3f s, " +
      f"sum-gap ${sumGapMs / 1000.0}%.3f s, tasks ${js.map(_.tasks).sum}, " +
      f"taskrun ${js.map(_.runMs).sum / 1000.0}%.3f s")
  }
}
