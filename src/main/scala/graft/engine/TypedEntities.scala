package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}

/** Typed (case-class) views of the silver entities — `Dataset[T]` sugar
  * for users who want compile-time safety over the DataFrame pipeline
  * (SURVEY.md §1: DataFrame is the faithful mapping because the
  * reference's schemas are declared, not compiled; these are optional).
  *
  * Money kept as the silver layer's runtime types: BigDecimal where the
  * reference declares DECIMAL(18,2), Double where it declares DOUBLE.
  */
object TypedEntities {
  final case class CustomerSilver(
      customer_id: String, first_name: String, last_name: String,
      full_name: String, email: String, phone: String,
      date_of_birth: java.sql.Date, age: Option[Int], address: String,
      city: String, state: String, zip_code: String,
      annual_income: BigDecimal, credit_score: Option[Int],
      marital_status: String, occupation: String,
      created_at: java.sql.Timestamp, updated_at: java.sql.Timestamp,
      source_file_path: String, source_file_time: java.sql.Timestamp,
      processed_at: java.sql.Timestamp, invalid_email_flag: Int)

  final case class ClaimSilver(
      claim_id: String, policy_id: String, customer_id: String,
      claim_date: java.sql.Timestamp, reported_date: java.sql.Timestamp,
      claim_amount: Double, settled_amount: Double,
      deductible_amount: Option[Int], claim_reason: String, status: String,
      adjuster_id: String, claim_type: String, severity: String,
      fraud_indicator: Option[Int], created_at: java.sql.Timestamp,
      updated_at: java.sql.Timestamp, source_file_path: String,
      source_file_time: java.sql.Timestamp, processed_at: java.sql.Timestamp,
      reporting_delay_days: Option[Int], claim_difference: Double,
      settlement_ratio: Option[Double], missing_policy_flag: Int,
      missing_customer_flag: Int, invalid_claim_amount_flag: Int,
      invalid_settled_amount_flag: Int)

  /** Typed view of a customers_silver DataFrame. */
  def customers(df: DataFrame): Dataset[CustomerSilver] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[CustomerSilver]
  }

  /** Typed view of a claims_silver DataFrame. */
  def claims(df: DataFrame): Dataset[ClaimSilver] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[ClaimSilver]
  }
}
