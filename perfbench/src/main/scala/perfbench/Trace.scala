package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * with a fractional part (from `System.nanoTime`, anchored once). */
final case class Span(name: String, start: Double, end: Double,
    parent: String, op: String) {
  def seconds: Double = (end - start) / 1000.0
}

/** A finished Spark job with its stages' task totals, attributed to the
  * op whose name the submitting thread carried. */
final case class JobRec(op: String, start: Double, end: Double,
    stages: Int, tasks: Long, taskS: Double, shuffleWriteMb: Double,
    spillMb: Double, inputMb: Double, gcS: Double)

/** Query-execution planning phases (analysis + optimization + planning)
  * of one action, from `QueryExecution.tracker`. */
final case class PlanRec(start: Double, planningS: Double)

/** Observes the engine from outside: spans kept in memory by the
  * harness, plus a `SparkListener` and a `QueryExecutionListener` that
  * collect job, stage, task and planning totals. Jobs are attributed to
  * an op through the `perfbench.op` local property, which the harness
  * sets on the thread that submits the op's work. */
final class Tracer(spark: SparkSession) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  def span[A](name: String, parent: String = "", op: String = "")(f: => A): A = {
    val t0 = now()
    try f finally spans.add(Span(name, t0, now(), parent, op))
  }

  /** Tags every job the current thread submits until the next call. */
  def setOp(op: String): Unit =
    spark.sparkContext.setLocalProperty(Tracer.OpKey, op)

  import Tracer.{Open, StageAgg}
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.OpKey))).getOrElse("")
      open.put(e.jobId, Open(op, e.time.toDouble, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val a = new StageAgg
      a.tasks = i.numTasks
      if (m != null) {
        a.runMs = m.executorRunTime
        a.shW = m.shuffleWriteMetrics.bytesWritten
        a.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        a.input = m.inputMetrics.bytesRead
        a.gcMs = m.jvmGCTime
      }
      stageAgg.put(i.stageId, a)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = open.remove(e.jobId)
      if (o != null) {
        val done = o.stageIds.flatMap(s => Option(stageAgg.remove(s)))
        val mb = 1024.0 * 1024.0
        jobs.add(JobRec(o.op, o.start, e.time.toDouble,
          done.size, done.map(_.tasks).sum, done.map(_.runMs).sum / 1000.0,
          done.map(_.shW).sum / mb, done.map(_.spill).sum / mb,
          done.map(_.input).sum / mb, done.map(_.gcMs).sum / 1000.0))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        plans.add(PlanRec(start,
          phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private var attached = false

  /** Starts observing: traced ops run between `attach` and `detach`, so
    * the plain ops of a traced run pay no listener cost. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.ListenerDrain.drain(spark.sparkContext)

  def jobsWithin(start: Double, end: Double): Seq[JobRec] =
    jobs.asScala.filter(j => j.start >= start - 1 && j.start <= end + 1).toSeq
  def plansWithin(start: Double, end: Double): Seq[PlanRec] =
    plans.asScala.filter(p => p.start >= start - 1 && p.start <= end + 1).toSeq

  /** Seconds of [start, end] during which no Spark job was running. */
  def gapSeconds(start: Double, end: Double, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (j.start.max(start), j.end.min(end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a <= curE) curE = curE.max(b)
      else { covered += curE - curS; curS = a; curE = b }
    }
    if (!curS.isNaN) covered += curE - curS
    ((end - start) - covered).max(0.0) / 1000.0
  }

  /** Spans as JSON lines, for the trace file. */
  def spansJson: Seq[String] = spans.asScala.toSeq.sortBy(_.start).map { s =>
    Json.obj("name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "op" -> s.op)
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  /** Traced against plain medians, in percent (0 without both kinds). */
  def overheadPct(traced: Seq[Double], plain: Seq[Double]): Double =
    if (traced.isEmpty || plain.isEmpty) 0.0
    else (Clocks.median(traced) / Clocks.median(plain) - 1) * 100

  private final case class Open(op: String, start: Double, stageIds: Seq[Int])
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var shW = 0L
    var spill = 0L; var input = 0L; var gcMs = 0L
  }
}
