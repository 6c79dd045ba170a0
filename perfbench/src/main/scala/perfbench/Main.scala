package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed pass: its wall time in seconds, the ops it ran, and whether
  * the tracer observed it. run.py drops a pass that holds a failed op,
  * including one the oracle check fails after the run. */
final case class Pass(seconds: Double, ops: Seq[String], traced: Boolean)

/** What one workload run produced. `ops` holds every attempted op with
  * its latency, or None when it failed; a failed op contributes no
  * timing. `runs` holds every timed execution of an op that runs in
  * each pass (query_mix). `passes` holds each pass that completed.
  * Times are epoch milliseconds. */
final case class Outcome(
    ops: Seq[(String, Option[Double])],
    failures: Seq[String],
    windowStart: Double,
    outputMb: Double,
    perLayer: Map[String, Double],
    inputs: Map[String, Any],
    passes: Seq[Pass],
    spans: Seq[String] = Nil,
    runs: Map[String, Seq[Double]] = Map.empty)

/** Harness entry point, started by run.py:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --data <dir> --golden <dir> --out <file>
  *     --spans <file>
  *
  * It sets up the workload, measures it for `--seconds` (whole ops),
  * checks its outputs outside the timed window, and writes one JSON
  * object to `--out`. `--golden-seeds a,b,..` instead writes the
  * dag_batch content-hash golden of each landing `--data`/<seed>. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work"))
    work.mkdirs()
    val spark = Session.create(work)
    try {
      opt.get("golden-seeds") match {
        case Some(seeds) => seeds.split(",").foreach(s => DagRun.writeGolden(
          spark, new File(opt("data"), s), new File(opt("golden")), s.toLong))
        case None => runOne(spark, opt, work)
      }
    } finally spark.stop()
  }

  private def runOne(spark: SparkSession, opt: Map[String, String],
      work: File): Unit = {
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val loadStart = Context.loadavg()
    val cpu = new Context.CpuWindow
    val outcome = opt("workload") match {
      case "dag_batch" => DagRun.run(spark, new File(opt("data")), seed,
        seconds, trace, new File(opt("golden")))
      case "ivm_stream" => IvmRun.run(spark, work, seed, seconds, trace)
      case "query_mix" => MixRun.run(spark, work, opt("data"), seed, seconds,
        trace)
      case other => sys.error(s"unknown workload $other")
    }
    val windowEnd = Clocks.nowMs()
    val ambient = cpu.ambientCores()
    val context = Map(
      "master" -> spark.sparkContext.master,
      "cores" -> Session.Cores,
      "effective_cpus" -> Runtime.getRuntime.availableProcessors(),
      "ambient_cores" -> ambient,
      "steal_cores" -> cpu.stealCores(),
      "load_start" -> loadStart,
      "seed" -> seed,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "inputs" -> outcome.inputs)
    val json = Json.obj(
      "ops" -> outcome.ops.map { case (n, l) => Map("op" -> n, "s" -> l) },
      "runs" -> outcome.runs,
      "failures" -> outcome.failures,
      "window_start_ms" -> outcome.windowStart,
      "window_end_ms" -> windowEnd,
      "output_mb" -> outcome.outputMb,
      "passes" -> outcome.passes.map(p =>
        Map("s" -> p.seconds, "ops" -> p.ops, "traced" -> p.traced)),
      "per_layer" -> outcome.perLayer,
      "context" -> context)
    Files.writeString(Paths.get(opt("out")), json + "\n")
    opt.get("spans").filter(_ => trace).foreach(p =>
      Files.writeString(Paths.get(p), outcome.spans.mkString("", "\n", "\n")))
  }
}

/** Run context: load average and Bench's ambient-core measure. */
object Context {
  def loadavg(): Double = try {
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
  } catch { case _: Throwable => -1.0 }

  /** (whole-box busy jiffies, this JVM's utime+stime, whole-box steal
    * jiffies) from /proc. */
  def jiffies(): (Long, Long, Long) = try {
    val v = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val busy = v(0) + v(1) + v(2) + v(5) + v(6) + v(7)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, rest(11).toLong + rest(12).toLong, v(7))
  } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** Cores other processes kept busy, averaged from construction until
    * `ambientCores()`: whole-box busy time minus this JVM's own. */
  final class CpuWindow {
    private val (busy0, self0, steal0) = jiffies()
    private val t0 = System.nanoTime()
    private def perSecond(d: Long): Double = {
      val dt = (System.nanoTime() - t0) / 1e9
      if (dt <= 0) -1.0 else d / (dt * 100.0)
    }
    def ambientCores(): Double = {
      val (busy1, self1, _) = jiffies()
      if (busy0 < 0 || busy1 < 0) -1.0
      else perSecond(((busy1 - busy0) - (self1 - self0)).max(0L))
    }
    /** Cores the hypervisor ran something else on while this VM wanted
      * them: other guests on the host, invisible to `ambientCores`. */
    def stealCores(): Double = {
      val (_, _, steal1) = jiffies()
      if (steal0 < 0 || steal1 < 0) -1.0 else perSecond(steal1 - steal0)
    }
  }
}

/** Timing helpers shared by the workload runners. */
object Clocks {
  def nowMs(): Double = System.currentTimeMillis().toDouble
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(2).mkString(" ").take(300)
}

/** dag_batch runner. */
object DagRun {
  /** Timed passes at the least. One pass keeps a run inside the
    * benchmark's per-run budget; across ten runs its wall time spread
    * 10%, against 8.5% for the median of two. */
  val MinPasses = 1
  /** One untimed pass first: it is cold (class loading, codegen). */
  val WarmupPasses = 1
  def goldenFile(dir: File, seed: Long): File = new File(dir, s"dag_batch_seed$seed.json")

  def readGolden(dir: File, seed: Long): Option[Map[String, String]] = {
    val f = goldenFile(dir, seed)
    if (!f.exists()) None
    else Some("\"([^\"]+)\":\"([^\"]+)\"".r
      .findAllMatchIn(Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2)).toMap)
  }

  def writeGolden(spark: SparkSession, landing: File, dir: File, seed: Long): Unit = {
    DagBatch.pass(spark, landing)
    dir.mkdirs()
    val h = DagBatch.hashes(spark)
    Files.writeString(goldenFile(dir, seed).toPath,
      DagBatch.modelNames.map(m => s"  ${Json.str(m)}:${Json.str(h(m))}")
        .mkString("{\n", ",\n", "\n}\n"))
  }

  def run(spark: SparkSession, landingDir: File, seed: Long, seconds: Double,
      trace: Boolean, goldenDir: File): Outcome = {
    val expected = DagBatch.expected(landingDir)
    val models = DagBatch.modelNames
    val failures = mutable.ArrayBuffer[String]()
    val ops = mutable.ArrayBuffer[(String, Option[Double])]()
    (1 to WarmupPasses).foreach(_ => DagBatch.pass(spark, landingDir))
    val warehouse = new File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer[Pass]()
    val tracedStarts = mutable.ArrayBuffer[Double]()
    var lastAudit: Option[org.apache.spark.sql.DataFrame] = None
    var auditBytes = 0L
    val start = Clocks.nowMs()
    var pass = 0
    // at least MinPasses whole passes (traced runs: plain, traced,
    // plain at the least, for the overhead estimate)
    val minPasses = if (trace) MinPasses.max(3) else MinPasses
    while (pass < minPasses || Clocks.nowMs() - start < seconds * 1000) {
      val useTrace = tracer.isDefined && pass % 2 == 1
      val auditBefore = DagBatch.dirBytes(DagBatch.auditDir(warehouse))
      val t0 = Clocks.nowMs()
      val res = try {
        val (audit, s) = Clocks.timed(tracer.filter(_ => useTrace) match {
          case Some(t) =>
            t.attach()
            try DagBatch.tracedPass(spark, landingDir, t) finally t.detach()
          case None => DagBatch.pass(spark, landingDir)
        })
        lastAudit = Some(audit)
        Some(s)
      } catch { case e: Throwable =>
        failures += s"pass $pass: ${Clocks.message(e)}"
        lastAudit = None
        None
      }
      auditBytes = DagBatch.dirBytes(DagBatch.auditDir(warehouse)) - auditBefore
      val latency = lastAudit.filter(_ => res.isDefined)
        .map(DagBatch.modelLatencies(_, t0)).getOrElse(Map.empty)
      val names = models.map(m => s"pass$pass/$m")
      models.zip(names).foreach { case (m, n) => ops += (n -> latency.get(m)) }
      System.err.println(s"[perfbench] dag pass $pass: ${res.getOrElse("failed")} s")
      res.foreach { s =>
        passes += Pass(s, names, useTrace)
        if (useTrace) tracedStarts += t0
      }
      pass += 1
    }
    // correctness, outside the window, on the last pass's output
    lastAudit.foreach { audit =>
      val errs = DagBatch.check(spark, audit, expected,
        readGolden(goldenDir, seed))
      errs.foreach { case (m, msgs) =>
        msgs.foreach(x => failures += s"$m: $x")
        val i = ops.lastIndexWhere(_._1.endsWith(s"/$m"))
        if (i >= 0) ops(i) = ops(i)._1 -> None
      }
    }
    if (readGolden(goldenDir, seed).isEmpty)
      System.err.println(s"[perfbench] no dag_batch golden for seed $seed")
    val outputBytes = models.map(m => DagBatch.dirBytes(
      DagBatch.tableDir(warehouse, DagBatch.layerOf(m), m))).sum + auditBytes
    val perLayer = tracer.map { t =>
      val (traced, plain) = passes.partition(_.traced)
      DagRun.layers(t, tracedStarts.zip(traced.map(_.seconds)).toSeq,
        plain.map(_.seconds).toSeq)
    }.getOrElse(Map.empty)
    Outcome(ops.toSeq, failures.toSeq, start, outputBytes / 1048576.0,
      perLayer, passes = passes.toSeq,
      spans = tracer.map(_.spansJson).getOrElse(Nil),
      inputs = Map("raw_rows" -> expected.raw, "silver_rows" -> expected.silver,
        "landing_mb" -> DagBatch.dirBytes(landingDir) / 1048576.0))
  }

  /** Per-layer metrics of the traced passes, averaged per pass. */
  def layers(t: Tracer, traced: Seq[(Double, Double)], plain: Seq[Double])
      : Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = t.spans.asScala.toSeq
    val layerOf = DagBatch.layerOf
    val n = traced.size.max(1).toDouble
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v / n
    traced.foreach { case (t0, wall) =>
      val t1 = t0 + wall * 1000
      val inPass = spans.filter(s => s.start >= t0 && s.end <= t1 + 1)
      val jobs = t.jobsWithin(t0, t1)
      val starts = inPass.filter(_.name.startsWith("model.")).map(s => s.op -> s.start).toMap
      val writes = inPass.filter(_.name.startsWith("write.")).map(s => s.op -> s).toMap
      // a model ends with its last job (the audit counts run after the write)
      val ends = DagBatch.modelNames.map { m =>
        val lastJob = jobs.filter(_.op == m).map(_.end)
        m -> (lastJob ++ writes.get(m).map(_.end)).foldLeft(0.0)(_ max _)
      }.toMap
      DagBatch.Layers.foreach { l =>
        val ms = DagBatch.modelNames.filter(layerOf(_) == l)
        val s = ms.flatMap(starts.get)
        val e = ms.map(ends)
        add(s"dag.level_s.$l", if (s.isEmpty) 0.0 else (e.max - s.min) / 1000)
        add(s"dag.task_s.$l", jobs.filter(j => ms.contains(j.op)).map(_.taskS).sum)
      }
      DagBatch.modelNames.foreach(m =>
        add(s"dag.write_s.$m", writes.get(m).map(_.seconds).getOrElse(0.0)))
      val audit = jobs.filter(j => writes.get(j.op).exists(w => j.start >= w.end))
      add("dag.audit_jobs", audit.size)
      add("dag.audit_s", DagBatch.modelNames.map(m => writes.get(m)
        .map(w => (ends(m) - w.end).max(0.0) / 1000).getOrElse(0.0)).sum)
      add("dag.core_busy_frac", jobs.map(_.taskS).sum / (wall * Session.Cores))
      add("dag.jobs", jobs.size)
      add("dag.stages", jobs.map(_.stages).sum)
      add("dag.tasks", jobs.map(_.tasks).sum.toDouble)
      add("dag.shuffle_write_mb", jobs.map(_.shuffleWriteMb).sum)
      add("dag.spill_mb", jobs.map(_.spillMb).sum)
      add("dag.input_mb", jobs.map(_.inputMb).sum)
      add("dag.gc_s", jobs.map(_.gcS).sum)
      add("dag.traced_pass_s", wall)
    }
    out("trace.overhead_pct") = Tracer.overheadPct(traced.map(_._2), plain)
    out.toMap
  }
}

/** ivm_stream runner. */
object IvmRun {
  val Customers = 1000
  val BatchRecords = 300
  /** Batches per pass: a pass commits four state versions, so the
    * store's retention GC (three kept) deletes inside every pass. */
  val PassBatches = 4

  def run(spark: SparkSession, work: File, seed: Long, seconds: Double,
      trace: Boolean): Outcome = {
    val schemas = IvmStream.schemas(spark)
    val gen = new IvmStream(seed, Customers, BatchRecords)
    val stateDir = new File(work, "state")
    val root = stateDir.getAbsolutePath
    val boot = gen.bootstrap()
    val (_, bootS) = Clocks.timed(IvmStream.materialize(
      IvmStream.fold(IvmStream.frame(spark, boot), 0L, schemas, root)))
    System.err.println(s"[perfbench] ivm bootstrap: $bootS s")
    var id = 1L
    // one untimed pass: the first batches after the bootstrap run up to
    // twice as slow while the JIT compiles the fold
    (1 to PassBatches).foreach { _ =>
      IvmStream.materialize(IvmStream.fold(
        IvmStream.frame(spark, gen.microBatch()), id, schemas, root))
      id += 1
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val failures = mutable.ArrayBuffer[String]()
    val ops = mutable.ArrayBuffer[(String, Option[Double])]()
    val passes = mutable.ArrayBuffer[Pass]()
    val layer = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
    var last: Option[DataFrame] = None
    var inputBytes = 0L
    val start = Clocks.nowMs()
    var pass = 0
    // whole passes until the window has passed, two at the least;
    // traced runs alternate plain and traced passes, plain first and
    // last (batches speed up over a run, so the overhead compares
    // against both neighbours)
    val minPasses = if (trace) 3 else 2
    while (pass < minPasses || Clocks.nowMs() - start < seconds * 1000) {
      val useTrace = tracer.isDefined && pass % 2 == 1
      val names = (0 until PassBatches).map(i => s"batch${id + i}")
      val passStart = System.nanoTime()
      var ok = true
      names.foreach { op =>
        val recs = gen.microBatch()
        val df = IvmStream.frame(spark, recs)
        val before = if (useTrace) IvmStream.files(stateDir) else Map.empty[String, Long]
        val t0 = Clocks.nowMs()
        val res = try {
          val (_, s) = Clocks.timed(tracer.filter(_ => useTrace) match {
            case Some(t) =>
              t.attach()
              t.setOp(op)
              try t.span(op, op = op) {
                val mart = IvmStream.fold(df, id, schemas, root, Some(t), op)
                t.span("refresh", op, op)(IvmStream.materialize(mart))
                last = mart
              } finally t.detach()
            case None =>
              val mart = IvmStream.fold(df, id, schemas, root)
              IvmStream.materialize(mart)
              last = mart
          })
          Some(s)
        } catch { case e: Throwable =>
          failures += s"$op: ${Clocks.message(e)}"
          ok = false
          None
        }
        ops += (op -> res)
        System.err.println(s"[perfbench] ivm $op: ${res.getOrElse("failed")} s")
        for (s <- res; t <- tracer if useTrace) {
          val t1 = t0 + s * 1000
          // by time, not by op: the state store submits from its own pool
          val jobs = t.jobsWithin(t0, t1)
          import scala.jdk.CollectionConverters._
          t.spans.asScala.filter(sp => sp.op == op && sp.parent == op)
            .foreach(sp => add(s"ivm.${sp.name}_s", sp.seconds))
          add("ivm.batches", 1)
          add("ivm.batch_s", s)
          add("ivm.jobs", jobs.size)
          add("ivm.tasks", jobs.map(_.tasks).sum.toDouble)
          add("ivm.driver_gap_s", t.gapSeconds(t0, t1, jobs))
          val written = IvmStream.files(stateDir).filter { case (p, b) =>
            !before.get(p).contains(b) }
          add("ivm.files_written", written.size)
          add("ivm.bytes_written", written.values.sum.toDouble)
          add("ivm.input_bytes", IvmStream.inputBytes(recs).toDouble)
        }
        inputBytes += IvmStream.inputBytes(recs)
        id += 1
      }
      if (ok) passes += Pass((System.nanoTime() - passStart) / 1e9, names, useTrace)
      pass += 1
    }
    val stateMb = DagBatch.dirBytes(stateDir) / 1048576.0
    // correctness: the mart after the last batch equals a single
    // bootstrap fold of the final table state into an empty state dir
    def failLast(msg: String): Unit = {
      failures += msg
      val i = ops.lastIndexWhere(_._2.isDefined)
      if (i >= 0) ops(i) = ops(i)._1 -> None
    }
    try {
      val ref = IvmStream.fold(IvmStream.frame(spark, gen.finalState()), 0L,
        schemas, new File(work, "reference").getAbsolutePath)
      val got = last.map(IvmStream.rowsOf)
      val want = ref.map(IvmStream.rowsOf)
      if (got.isEmpty || got != want)
        failLast(s"exec mart after batch ${id - 1} differs from a fresh " +
          s"fold of the final state (${got.map(_.size).getOrElse(0)} vs " +
          s"${want.map(_.size).getOrElse(0)} rows)")
    } catch { case e: Throwable =>
      failLast(s"reference fold: ${Clocks.message(e)}")
    }
    val perLayer = tracer.map { _ =>
      val get = (k: String) => layer.getOrElse(k, 0.0)
      val n = get("ivm.batches").max(1.0)
      val (traced, plain) = passes.partition(_.traced)
      Map(
        "ivm.traced_batch_s" -> get("ivm.batch_s") / n,
        "ivm.fold_s.exec" -> get("ivm.fold.exec_s") / n,
        "ivm.refresh_s" -> get("ivm.refresh_s") / n,
        "ivm.jobs_per_batch" -> get("ivm.jobs") / n,
        "ivm.tasks_per_batch" -> get("ivm.tasks") / n,
        "ivm.driver_gap_s_per_batch" -> get("ivm.driver_gap_s") / n,
        "ivm.files_written_per_batch" -> get("ivm.files_written") / n,
        "ivm.mb_written_per_batch" -> get("ivm.bytes_written") / n / 1048576.0,
        "ivm.write_amp" -> (if (get("ivm.input_bytes") > 0)
          get("ivm.bytes_written") / get("ivm.input_bytes") else 0.0),
        "trace.overhead_pct" -> Tracer.overheadPct(traced.map(_.seconds).toSeq,
          plain.map(_.seconds).toSeq))
    }.getOrElse(Map.empty)
    Outcome(ops.toSeq, failures.toSeq, start, stateMb, perLayer,
      passes = passes.toSeq,
      spans = tracer.map(_.spansJson).getOrElse(Nil),
      inputs = Map("bootstrap_records" -> boot.size,
        "batch_records" -> BatchRecords,
        "batches" -> (id - 1), "cdc_mb" -> inputBytes / 1048576.0,
        "bootstrap_mb" -> IvmStream.inputBytes(boot) / 1048576.0,
        "final_rows" -> Map("customers" -> gen.custRows.size,
          "policies" -> gen.polRows.size, "claims" -> gen.clRows.size)))
  }
}

/** query_mix runner. */
object MixRun {
  /** Untimed passes after the first, checked one: pass times fall for
    * about four passes while the JIT settles (e.g. 4.7, 4.1, 3.7, 3.2 s). */
  val WarmupPasses = 1
  /** Timed passes at the least. Each query's latency and the pass time
    * are medians over them, so one pass slowed by a burst of host load
    * barely moves them. With two, ten-seed series of the same code
    * spread up to 25%, the bound. */
  val MinPasses = 4
  /** Traced runs: plain, traced, plain. */
  val TracedMinPasses = 3

  def run(spark: SparkSession, work: File, dataDir: String, seed: Long,
      seconds: Double, trace: Boolean): Outcome = {
    val sample = QueryMix.sample
    val resultsDir = new File(work, "results")
    val failures = mutable.ArrayBuffer[String]()
    val broken = mutable.Set[String]()
    // first, untimed execution of every query, kept for the oracle check
    sample.foreach { q =>
      try QueryMix.capture(spark, q, dataDir, new File(resultsDir, q.name).getPath)
      catch { case e: Throwable =>
        broken += q.name
        failures += s"${q.name} (first run): ${Clocks.message(e)}"
      }
    }
    (1 to WarmupPasses).foreach { _ =>
      QueryMix.reset(spark)
      sample.filterNot(q => broken.contains(q.name)).foreach { q =>
        try QueryMix.run(spark, q, dataDir)
        catch { case e: Throwable =>
          broken += q.name
          failures += s"${q.name} (warm-up): ${Clocks.message(e)}"
        }
      }
    }
    val resultBytes = DagBatch.dirBytes(resultsDir)
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(new File(work, "oracle_sql.json").toPath, Json.value(
      sample.flatMap(q => oracles.get(q.name).map(q.name -> _)).toMap) + "\n")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[Pass]()
    val layer = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
    val start = Clocks.nowMs()
    var pass = 0
    // traced runs alternate plain and traced passes, plain first and
    // last: passes keep speeding up while the JIT settles, so the
    // overhead compares against both neighbours
    val minPasses = if (trace) TracedMinPasses else MinPasses
    while (pass < minPasses || Clocks.nowMs() - start < seconds * 1000) {
      QueryMix.reset(spark)
      val useTrace = tracer.isDefined && pass % 2 == 1
      var passS = 0.0
      sample.filterNot(q => broken.contains(q.name)).foreach { q =>
        val t0 = Clocks.nowMs()
        try {
          val (_, s) = Clocks.timed(tracer.filter(_ => useTrace) match {
            case Some(t) =>
              t.attach()
              t.setOp(q.name)
              try t.span(s"query.${q.name}", op = q.name) {
                val parent = s"query.${q.name}"
                val df = t.span("build", parent, q.name)(q.fn(spark, dataDir))
                t.span("exec", parent, q.name)(
                  df.write.format("noop").mode("overwrite").save())
              } finally t.detach()
            case None => QueryMix.run(spark, q, dataDir)
          })
          times.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += s
          System.err.println(s"[perfbench] mix pass $pass ${q.name}: $s s")
          passS += s
          if (useTrace) tracer.foreach { t =>
            val t1 = t0 + s * 1000
            val jobs = t.jobsWithin(t0, t1)
            import scala.jdk.CollectionConverters._
            t.spans.asScala.filter(sp => sp.op == q.name && sp.start >= t0 - 5 &&
              sp.parent == s"query.${q.name}").foreach(sp =>
              add(s"mix.${sp.name}_s", sp.seconds))
            add(s"mix.module_s.${q.module}", s)
            add("mix.planning_s", t.plansWithin(t0, t1).map(_.planningS).sum)
            add("mix.driver_gap_s", t.gapSeconds(t0, t1, jobs))
            add("mix.jobs", jobs.size)
            add("mix.stages", jobs.map(_.stages).sum)
            add("mix.tasks", jobs.map(_.tasks).sum.toDouble)
            add("mix.task_s", jobs.map(_.taskS).sum)
            add("mix.shuffle_mb", jobs.map(_.shuffleWriteMb).sum)
            add("mix.spill_mb", jobs.map(_.spillMb).sum)
            add("mix.scan_mb", jobs.map(_.inputMb).sum)
          }
        } catch { case e: Throwable =>
          broken += q.name
          failures += s"${q.name}: ${Clocks.message(e)}"
        }
      }
      // every pass holds the whole sample: a pass with a failed query
      // is shorter, not faster, and run.py drops it
      passes += Pass(passS, sample.map(_.name), useTrace)
      pass += 1
    }
    val ops = sample.map { q =>
      q.name -> (if (broken.contains(q.name)) None
        else times.get(q.name).map(ts => Clocks.median(ts.toSeq)))
    }
    val (tracedPasses, plainPasses) =
      passes.filter(_ => broken.isEmpty).partition(_.traced)
    val perLayer = tracer.map { t =>
      val n = tracedPasses.size.max(1).toDouble
      layer.map { case (k, v) => k -> v / n }.toMap ++
        QueryMix.modules.map(m => s"mix.module_s.$m" ->
          layer.getOrElse(s"mix.module_s.$m", 0.0) / n) ++
        Map("mix.traced_pass_s" -> Clocks.median(tracedPasses.map(_.seconds).toSeq),
          "trace.overhead_pct" -> Tracer.overheadPct(
            tracedPasses.map(_.seconds).toSeq, plainPasses.map(_.seconds).toSeq))
    }.getOrElse(Map.empty)
    val tables = new File(dataDir).listFiles().filter(_.getName.endsWith(".parquet"))
    Outcome(ops, failures.toSeq, start, resultBytes / 1048576.0, perLayer,
      passes = passes.toSeq, runs = times.map { case (q, ts) => q -> ts.toSeq }.toMap,
      spans = tracer.map(_.spansJson).getOrElse(Nil),
      inputs = Map("queries" -> sample.map(_.name), "passes" -> pass,
        "data_mb" -> tables.map(DagBatch.dirBytes).sum / 1048576.0))
  }
}
