package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's read-only window onto two package-private members:
  * the query registry's module list (to attribute a query to its module)
  * and the CDC-delta memo reset that graft.Bench also calls between
  * reps. Lives with the benchmark, not the engine. */
object PerfbenchAccess {
  /** Query name -> (module name, query function). */
  def registry: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    SparkEntry.modules.flatMap { m =>
      val module = m.getClass.getName.stripPrefix("graft.").stripSuffix("$")
      m.queries.toSeq.map { case (n, f) => (n, module, f) }
    }.sortBy(_._1)

  def resetCdcDeltaMemo(): Unit =
    engine.InsuranceGate.resetCdcDeltaMemoForBench()
}
