package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the query/oracle maps owned by each module:
  *   - [[graft.ops.RelationalOps]] — SURVEY §2 operator inventory on the
  *     TPC-H-ish tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.RelationalOps.queries("q01_agg")(spark, "/root/testdata/sf0.001")

  private[graft] def modules: Seq[ops.QueryModule] = Seq(
    ops.RelationalOps, text.TextOps, text.DedupOps, ml.SimilarityOps,
    streaming.StreamingOps, multimodal.MultimodalOps, engine.InsuranceGate,
    ops.TemporalJoins, text.SamplingOps, text.CorpusStats, engine.Snapshots,
    text.ChunkingOps, ops.GraphOps, text.QualityOps, ops.ProfilingOps,
    ops.ArrayOps, ops.TimeSeriesOps, ops.EventAnalytics, sources.SourceGate,
    ops.RuntimeFilterOps, ops.LayoutOps)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** The query names in a comma-separated `list`, trimmed and in order.
    * Throws, naming each one, if any is not a key of [[queries]] (a
    * misspelled name must not silently run fewer queries), or if the list
    * names none. */
  def queryNames(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no query name in '$list'")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
