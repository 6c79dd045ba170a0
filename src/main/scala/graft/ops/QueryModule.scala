package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared registry shape for query modules: each named query has a Spark
  * implementation and a DuckDB oracle SQL twin.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  protected val reg: scala.collection.mutable.LinkedHashMap[String, (Q, String)] =
    scala.collection.mutable.LinkedHashMap()

  protected def register(name: String, sql: String)(q: Q): Unit =
    reg(name) = (q, sql)

  def queries: Map[String, Q] = reg.map { case (k, (q, _)) => k -> q }.toMap
  def oracles: Map[String, String] =
    reg.map { case (k, (_, sql)) => k -> sql }.toMap
}
