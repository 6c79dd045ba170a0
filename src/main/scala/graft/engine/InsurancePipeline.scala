package graft.engine

import org.apache.spark.sql.DataFrame

/** The complete 12-model medallion DAG of the reference project
  * (dbt_project.yml; SURVEY.md §3), wired for the [[Dag]] runner.
  *
  * Inputs are the four raw source tables
  * (models/sources/sources.yml:8-16): `raw_customers`, `raw_policies`,
  * `raw_claims`, `raw_premiums`.
  */
object InsurancePipeline {
  def models(clock: Clock = Clock.System): Seq[Model] = Seq(
    Model("customers_bronze", "bronze", Seq("raw_customers"),
      d => Bronze.customers(d("raw_customers"))),
    Model("policies_bronze", "bronze", Seq("raw_policies"),
      d => Bronze.policies(d("raw_policies"))),
    Model("claims_bronze", "bronze", Seq("raw_claims"),
      d => Bronze.claims(d("raw_claims"))),
    Model("premiums_bronze", "bronze", Seq("raw_premiums"),
      d => Bronze.premiums(d("raw_premiums"))),

    Model("customers_silver", "silver", Seq("customers_bronze"),
      d => Silver.customers(d("customers_bronze"), clock)),
    Model("policies_silver", "silver", Seq("policies_bronze"),
      d => Silver.policies(d("policies_bronze"), clock)),
    Model("claims_silver", "silver", Seq("claims_bronze"),
      d => Silver.claims(d("claims_bronze"), clock)),
    Model("premiums_silver", "silver", Seq("premiums_bronze"),
      d => Silver.premiums(d("premiums_bronze"))),

    Model("gold_customer_360", "gold",
      Seq("customers_silver", "policies_silver", "claims_silver"),
      d => Gold.customer360(d("customers_silver"), d("policies_silver"),
        d("claims_silver"), clock)),
    Model("gold_policy_performance", "gold",
      Seq("policies_silver", "claims_silver"),
      d => Gold.policyPerformance(d("policies_silver"), d("claims_silver"),
        clock)),
    Model("gold_claims_operations", "gold",
      Seq("claims_silver", "policies_silver", "customers_silver"),
      d => Gold.claimsOperations(d("claims_silver"), d("policies_silver"),
        d("customers_silver"), clock)),
    Model("gold_executive_summary", "gold",
      Seq("policies_silver", "claims_silver"),
      d => Gold.executiveSummary(d("policies_silver"), d("claims_silver"),
        clock)))

  /** Run end-to-end over the four raw inputs.
    *
    * @param auditTable optional metastore table name (`db.table`) the
    *                   audit rows are APPENDED to across runs — the
    *                   reference's accumulating `dbt_logs` post-hook
    *                   target (models/bronze/customers_bronze.sql:4-19)
    */
  def run(raw: Map[String, DataFrame], sink: Sink = Sink.Cached(),
      clock: Clock = Clock.System, parallelism: Int = 4,
      auditTable: Option[String] = None)
      : (Map[String, DataFrame], DataFrame) =
    new Dag(models(clock), sink, clock, auditTable).run(raw, parallelism)
}
