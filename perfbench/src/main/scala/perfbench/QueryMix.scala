package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_mix`: one analyst running a fixed sample of the query
  * registry: one short query from each of 8 query modules, the
  * planning- and driver-bound regime most registry queries live in.
  * Every run and every `--seed` times the same queries; `--seed` only
  * changes the data. The IVM-family queries (q218, q221, q223, q224,
  * q228, q235-q238) were not eligible: their maintainers are the
  * `ivm_stream` workload's subject.
  *
  * The sample is pinned so that queries added to or removed from the
  * registry never silently change what the mix measures; a pinned query
  * that no longer exists fails its op. It was drawn with Python's
  * `random.Random(20261017)` from the 159 eligible queries that took
  * under 0.5 s warm at sf0.01 on 4 cores: 12 of their 18 modules, then
  * one query of each (sorted by name). To fit the per-run budget only
  * the 8 of those modules with the most registry queries stay
  * (RelationalOps, SimilarityOps, InsuranceGate, DedupOps, CorpusStats,
  * SourceGate, TemporalJoins, TextOps); ArrayOps, EventAnalytics,
  * Snapshots and TimeSeriesOps (7 queries or fewer each) were dropped.
  * SimilarityOps' draw, q53_embedding_near_dup, was replaced: its DuckDB
  * oracle alone took 7 s of the run. q107_gramian is the first of the
  * module's queries by name that ran under 0.5 s warm and whose oracle
  * takes under 1 s. */
object QueryMix {
  val Sample: Seq[String] = Seq(
    "q107_gramian", "q133_target_encoding", "q135_earned_revenue",
    "q137_source_similarity", "q157_clustered_sink_roundtrip",
    "q23_dedup_exact", "q41_policies_silver", "q89_pii_redaction")

  final case class Query(name: String, module: String,
      fn: (SparkSession, String) => DataFrame)

  def sample: Seq[Query] = {
    val reg = graft.PerfbenchAccess.registry.map { case (n, m, f) => n -> (m, f) }.toMap
    Sample.map { n =>
      reg.get(n).map { case (m, f) => Query(n, m, f) }.getOrElse(
        Query(n, "missing", (_, _) => sys.error(s"$n is not in the registry")))
    }
  }

  def modules: Seq[String] = sample.map(_.module).distinct.sorted

  def run(spark: SparkSession, q: Query, dir: String): Unit =
    q.fn(spark, dir).write.format("noop").mode("overwrite").save()

  /** The untimed first execution, kept for the DuckDB oracle check. */
  def capture(spark: SparkSession, q: Query, dir: String, out: String): Unit =
    q.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)

  /** Before each timed pass: the SQL cache and the shared CDC-delta memo,
    * as graft.Bench resets them between reps. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.PerfbenchAccess.resetCdcDeltaMemo()
  }
}
