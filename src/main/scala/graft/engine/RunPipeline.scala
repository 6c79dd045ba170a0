package graft.engine

import org.apache.spark.sql.DataFrame

/** CLI entry point: run the full insurance medallion pipeline over raw CSVs.
  *
  *   runMain graft.engine.RunPipeline <rawDir> <outDir>
  *
  * `<rawDir>` must contain customers.csv, policies.csv, claims.csv,
  * premiums.csv (headers; schema-on-read as STRING, bronze casts onto the
  * declared schemas — mirroring Auto Loader's landing→bronze boundary).
  * Writes each model to `<outDir>/<layer>/<name>` (full-refresh parquet,
  * the dbt `+materialized: table` analogue), the audit log to
  * `<outDir>/logging/dbt_logs`, and prints the bronze check results.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(rawDir, outDir) = args.take(2)
    // SPARK_MASTER is the deployment's cluster, when there is one
    val spark = graft.GraftSession(graft.GraftSession.cpus(4),
      sys.env.get("SPARK_MASTER"))

    def readCsv(name: String): DataFrame =
      spark.read.option("header", "true").csv(s"$rawDir/$name.csv")

    val raw = Map(
      "raw_customers" -> readCsv("customers"),
      "raw_policies" -> readCsv("policies"),
      "raw_claims" -> readCsv("claims"),
      "raw_premiums" -> readCsv("premiums"))

    // month-grained marts write hive-partitioned (partition pruning for
    // downstream month-range readers)
    val sink = Sink.Parquet(outDir, partitions = Map(
      "gold_policy_performance" -> Seq("policy_month"),
      "gold_executive_summary" -> Seq("report_period")))
    val (outputs, audit) = InsurancePipeline.run(raw, sink)
    audit.write.mode("append").parquet(s"$outDir/logging/dbt_logs")

    val checks = Checks.bronzeSuite(Map(
      "customers_bronze" -> outputs("customers_bronze"),
      "policies_bronze" -> outputs("policies_bronze"),
      "claims_bronze" -> outputs("claims_bronze"),
      "premiums_bronze" -> outputs("premiums_bronze")))

    println("== audit log ==")
    audit.orderBy("layer", "dataset").show(50, truncate = false)
    println("== checks ==")
    checks.foreach(c => println(
      s"${c.table}.${c.column} ${c.check}: " +
        (if (c.passed) "PASS" else s"FAIL (${c.violations} violations)")))
    spark.stop()
  }
}
