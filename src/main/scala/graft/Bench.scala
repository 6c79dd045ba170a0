package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is materialized through the `noop` datasource sink — a full
  * computation of every output column with zero write cost. (`count()`
  * would let Catalyst prune projections and undercount per-row work.)
  *
  * Robustness (r2 verdict): the suite runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) and reports the per-query MINIMUM — the driver box takes
  * periodic cron load spikes, and best-of-N measures the engine, not the
  * neighbors. Each rep starts from a cleared SQL cache so the gate
  * queries' shared silver caches never leak work across reps. The JSON
  * line is ALSO written to SPARK_GRAFT_BENCH_FILE (default
  * BENCH_LAST.json in the working dir): the r2 stdout artifact lost its
  * tail to the driver's log capture, so the file is the durable record.
  *
  * A query that throws in any rep records no time: it is left out of
  * `queries` and `total` and listed in `failed` (a time-to-failure is
  * not a timing).
  */
object Bench {
  private def loadavg(): String = try {
    java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0)
  } catch { case _: Throwable => "-1" }

  // Per-query AMBIENT load (r8 verdict #1): the 1-min loadavg can't
  // separate the bench's own local[32] load from the box's cron
  // spikes, so instead we difference /proc/stat's whole-box busy
  // jiffies against this JVM's own utime+stime over each query's
  // window. ambient cores = (box_busy - self_busy) / elapsed — the
  // average number of CPU cores OTHER processes burned while the
  // query ran. A "drifted" query with ambient>1 was measured under
  // interference; ambient~0 means the number is the engine's.
  private def cpuJiffies(): (Long, Long) = try {
    val stat = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/stat")).linesIterator.next()
    val v = stat.trim.split("\\s+").drop(1).map(_.toLong)
    // user+nice+system+irq+softirq+steal (skip idle, iowait)
    val busy = v(0) + v(1) + v(2) + v(5) + v(6) + v(7)
    val self = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/self/stat"))
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, rest(11).toLong + rest(12).toLong) // utime+stime, all threads
  } catch { case _: Throwable => (-1L, -1L) }

  /** Best-of-reps result: per-query minimum seconds and the ambient
    * cores of that rep, for the queries that never threw; `failed`
    * holds the others, in run order. */
  final case class Timings(best: Map[String, Double],
      ambient: Map[String, Double], failed: Seq[String]) {
    def total: Double = best.values.sum
  }

  /** Run every query in `names` once per rep (`beforeRep` first) and
    * keep each query's minimum time. A query that throws in any rep is
    * failed: it records no time in any rep. */
  def timeReps(reps: Int, names: Seq[String], beforeRep: () => Unit)(
      run: String => Unit): Timings = {
    val best = scala.collection.mutable.Map[String, Double]()
    // ambient CPU-cores during the rep that produced each query's
    // reported (minimum) time — the context a reader needs to judge it
    val bestAmbient = scala.collection.mutable.Map[String, Double]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (_ <- 1 to reps) {
      beforeRep()
      names.foreach { name =>
        val (busy0, self0) = cpuJiffies()
        val t0 = System.nanoTime()
        val ok = try { run(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val (busy1, self1) = cpuJiffies()
        val ambient =
          if (busy0 < 0 || busy1 < 0 || dt <= 0) -1.0
          else ((busy1 - busy0) - (self1 - self0)).max(0L) / (dt * 100.0)
        if (!ok) failed += name
        else if (dt < best.getOrElse(name, Double.MaxValue)) {
          best(name) = dt
          bestAmbient(name) = ambient
        }
      }
    }
    Timings(best.toMap -- failed, bestAmbient.toMap -- failed, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional subset (comma-separated names) for targeted measurements,
    // checked before the session starts; a blank list means the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").filter(_.trim.nonEmpty)
      .map(SparkEntry.queryNames(_).toSet)
    val spark = GraftSession(GraftSession.cpus(GraftSession.allCores))
    // ambient load BEFORE any work: the end-of-run figure includes the
    // bench's own local[32] load (r6's 4.15 was self-inflicted); this is
    // the number that says whether the box was otherwise idle
    val loadStart = loadavg()
    GraftSession.applyExtraConf(spark)
    // the effective parallelism, read from the session the suite runs in
    val cpus = spark.sparkContext.defaultParallelism
    val master = spark.sparkContext.master

    // warmup: exercise the parquet reader, codegen, and the decimal
    // aggregation path once so JIT/init isn't charged to the first query
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet")
      .selectExpr("sum(cast(r_regionkey as decimal(18,4))) as s")
      .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val fns = names.toMap
    val t = timeReps(reps, names.map(_._1), () => {
      spark.catalog.clearCache() // each rep self-contained, cold SQL cache
      // the shared CDC-delta checkpoints live outside the SQL cache —
      // reset them too so the IVM gates rebuild per rep
      graft.engine.InsuranceGate.resetCdcDeltaMemoForBench()
    }) { name =>
      fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    val timed = names.map(_._1).filter(t.best.contains)
    val qs = timed.map(k => "\"" + k + f"""\":${t.best(k)}%.3f""")
      .mkString("{", ",", "}")
    val amb = timed.map(k => "\"" + k + f"""\":${t.ambient(k)}%.2f""")
      .mkString("{", ",", "}")
    val failed = t.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = t.total
    // 1-minute load average at END of run: lets a reader judge whether
    // the numbers were taken on a noisy box (±15% cron spikes, NOTES.md)
    val load = loadavg()
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"ambient_cores":$amb,"sf":"$sfDir","reps":$reps,"cpus":$cpus,"master":"$master","load":$load,"load_start":$loadStart}"""
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // FINAL stdout line: a COMPACT summary (<200 chars) rather than the
    // full per-query map. The driver's tail capture is 2,000 chars and
    // the 200+-query JSON line is ~8 KB, so re-emitting the full line
    // (the r11 attempt) still left the captured tail starting mid-line
    // with no parseable object (r11 verdict #2). The full JSON lives in
    // BENCH_LAST.json; this line carries the headline total and points
    // at the file.
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${names.size},"n_failed":${t.failed.size},"sf":"$sfDir","reps":$reps,"cpus":$cpus,"master":"$master","load":$load,"load_start":$loadStart,"queries_file":"$outFile"}"""
    println(compact)
    System.out.flush()
  }
}
