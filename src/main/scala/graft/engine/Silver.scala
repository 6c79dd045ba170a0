package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Silver layer — clean, flag, dedup, derive
  * (models/silver/{customers,policies,claims,premiums}_silver.sql).
  *
  * Shared mechanics:
  *  - quality defects become 0/1 flag COLUMNS, not rejections; only the
  *    missing-PK rows are dropped, and the drop happens BEFORE the dedup
  *    window (models/silver/customers_silver.sql:64 — Catalyst cannot push
  *    a filter below a window, so the placement is load-bearing);
  *  - latest-record dedup is ROW_NUMBER over (PK, recency ordering) = 1 —
  *    NOT dropDuplicates, which has no ordering guarantee (SURVEY §2.5 W1).
  *
  * Scale: the dedup window shuffles once on the PK — the natural key the
  * downstream joins also use. Everything else is a narrow projection
  * inside whole-stage codegen.
  */
object Silver {
  private val emailRe = "^[A-Za-z0-9+_.-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

  private def flag(p: Column): Column = when(p, 1).otherwise(0)
  private def missing(c: Column): Column = flag(c.isNull || c === "")

  /** Latest-record dedup: keep row_number()=1 per `pk` under `ordering`
    * (models/silver/customers_silver.sql:56-62,91). */
  def latestByKey(df: DataFrame, pk: String, ordering: Seq[Column]): DataFrame =
    df.withColumn("row_num",
        row_number().over(Window.partitionBy(col(pk)).orderBy(ordering: _*)))
      .filter(col("row_num") === 1)
      .drop("row_num")

  /** models/silver/customers_silver.sql */
  def customers(bronze: DataFrame, clock: Clock = Clock.System): DataFrame = {
    val cleaned = bronze.select(
      trim(col("customer_id")).cast(StringType).as("customer_id"),
      initcap(trim(col("first_name"))).as("first_name"),
      initcap(trim(col("last_name"))).as("last_name"),
      lower(trim(col("email"))).as("email"),
      trim(col("phone")).as("phone"),
      col("date_of_birth").cast(DateType).as("date_of_birth"),
      trim(col("address")).as("address"),
      trim(col("city")).as("city"),
      trim(col("state")).as("state"),
      trim(col("zip_code")).as("zip_code"),
      col("annual_income").cast(DecimalType(18, 2)).as("annual_income"),
      col("credit_score").cast(IntegerType).as("credit_score"),
      initcap(trim(col("marital_status"))).as("marital_status"),
      initcap(trim(col("occupation"))).as("occupation"),
      col("created_at").cast(TimestampType).as("created_at"),
      col("updated_at").cast(TimestampType).as("updated_at"),
      col("source_file_path"),
      col("source_file_time"),
      clock.now.as("processed_at"),
      // age is deliberately naive YEAR(now)-YEAR(dob), as in the reference
      // (models/silver/customers_silver.sql:44-46)
      when(col("date_of_birth").isNotNull,
        year(clock.today) - year(col("date_of_birth"))).as("age"),
      concat(initcap(trim(col("first_name"))), lit(" "),
        initcap(trim(col("last_name")))).as("full_name"),
      missing(col("customer_id")).as("missing_id_flag"),
      // deliberately validates the RAW email, not the trimmed/lowered one:
      // SQL column scoping in the reference means the flag sees the source
      // column, so padded emails are "invalid" (customers_silver.sql:50-53)
      flag(col("email").isNull || !col("email").rlike(emailRe))
        .as("invalid_email_flag"))

    latestByKey(cleaned.filter(col("missing_id_flag") === 0), "customer_id",
        Seq(col("updated_at").desc, col("processed_at").desc))
      .select("customer_id", "first_name", "last_name", "full_name", "email",
        "phone", "date_of_birth", "age", "address", "city", "state",
        "zip_code", "annual_income", "credit_score", "marital_status",
        "occupation", "created_at", "updated_at", "source_file_path",
        "source_file_time", "processed_at", "invalid_email_flag")
  }

  /** models/silver/policies_silver.sql */
  def policies(bronze: DataFrame, clock: Clock = Clock.System): DataFrame = {
    val cleaned = bronze.select(
      trim(col("policy_id")).cast(StringType).as("policy_id"),
      trim(col("customer_id")).cast(StringType).as("customer_id"),
      initcap(trim(col("policy_type"))).as("policy_type"),
      col("coverage_amount").cast(DecimalType(18, 2)).as("coverage_amount"),
      col("premium_amount").cast(DecimalType(18, 2)).as("premium_amount"),
      col("deductible").cast(DecimalType(18, 2)).as("deductible"),
      col("start_date").cast(DateType).as("start_date"),
      col("end_date").cast(DateType).as("end_date"),
      upper(trim(col("status"))).as("status"),
      col("agent_id").cast(StringType).as("agent_id"),
      col("underwriter_id").cast(StringType).as("underwriter_id"),
      lower(trim(col("payment_frequency"))).as("payment_frequency"),
      col("created_at").cast(TimestampType).as("created_at"),
      col("updated_at").cast(TimestampType).as("updated_at"),
      col("source_file_path"),
      col("source_file_time"),
      clock.now.as("processed_at"),
      missing(col("policy_id")).as("missing_policy_id_flag"),
      missing(col("customer_id")).as("missing_customer_id_flag"),
      flag(col("coverage_amount").isNull || col("coverage_amount") < 0)
        .as("invalid_coverage_amount_flag"),
      flag(col("premium_amount").isNull || col("premium_amount") < 0)
        .as("invalid_premium_amount_flag"),
      flag(col("deductible").isNull || col("deductible") < 0)
        .as("invalid_deductible_flag"),
      flag(col("start_date").isNull || col("end_date").isNull ||
        col("start_date") > col("end_date")).as("invalid_date_range_flag"),
      datediff(col("end_date"), col("start_date")).as("policy_duration_days"))

    latestByKey(cleaned.filter(col("missing_policy_id_flag") === 0), "policy_id",
        Seq(col("updated_at").desc, col("processed_at").desc))
      .select("policy_id", "customer_id", "policy_type", "coverage_amount",
        "premium_amount", "deductible", "start_date", "end_date", "status",
        "agent_id", "underwriter_id", "payment_frequency", "created_at",
        "updated_at", "source_file_path", "source_file_time", "processed_at",
        "policy_duration_days", "missing_customer_id_flag",
        "invalid_coverage_amount_flag", "invalid_premium_amount_flag",
        "invalid_deductible_flag", "invalid_date_range_flag")
  }

  /** models/silver/claims_silver.sql */
  def claims(bronze: DataFrame, clock: Clock = Clock.System): DataFrame = {
    val cleaned = bronze.select(
      trim(col("claim_id")).cast(StringType).as("claim_id"),
      trim(col("policy_id")).cast(StringType).as("policy_id"),
      trim(col("customer_id")).cast(StringType).as("customer_id"),
      col("claim_date").cast(TimestampType).as("claim_date"),
      col("reported_date").cast(TimestampType).as("reported_date"),
      col("claim_amount").cast(DoubleType).as("claim_amount"),
      col("settled_amount").cast(DoubleType).as("settled_amount"),
      col("deductible_amount").cast(IntegerType).as("deductible_amount"),
      initcap(trim(col("claim_reason"))).as("claim_reason"),
      upper(trim(col("status"))).as("status"),
      col("adjuster_id").cast(StringType).as("adjuster_id"),
      upper(trim(col("claim_type"))).as("claim_type"),
      upper(trim(col("severity"))).as("severity"),
      col("fraud_indicator").cast(IntegerType).as("fraud_indicator"),
      col("created_at").cast(TimestampType).as("created_at"),
      col("updated_at").cast(TimestampType).as("updated_at"),
      col("source_file_path"),
      col("source_file_time"),
      clock.now.as("processed_at"),
      missing(col("claim_id")).as("missing_id_flag"),
      missing(col("policy_id")).as("missing_policy_flag"),
      missing(col("customer_id")).as("missing_customer_flag"),
      flag(col("claim_amount").isNull || col("claim_amount") < 0)
        .as("invalid_claim_amount_flag"),
      flag(col("settled_amount").isNull || col("settled_amount") < 0)
        .as("invalid_settled_amount_flag"))

    latestByKey(cleaned.filter(col("missing_id_flag") === 0), "claim_id",
        Seq(col("updated_at").desc, col("processed_at").desc))
      .withColumn("reporting_delay_days",
        datediff(col("reported_date"), col("claim_date")))
      .withColumn("claim_difference", col("claim_amount") - col("settled_amount"))
      .withColumn("settlement_ratio",
        when(col("claim_amount") > 0,
          round(col("settled_amount") / col("claim_amount"), 3)))
      .select("claim_id", "policy_id", "customer_id", "claim_date",
        "reported_date", "claim_amount", "settled_amount",
        "deductible_amount", "claim_reason", "status", "adjuster_id",
        "claim_type", "severity", "fraud_indicator", "created_at",
        "updated_at", "source_file_path", "source_file_time", "processed_at",
        "reporting_delay_days", "claim_difference", "settlement_ratio",
        "missing_policy_flag", "missing_customer_flag",
        "invalid_claim_amount_flag", "invalid_settled_amount_flag")
  }

  /** models/silver/premiums_silver.sql — note the different shape: dedup
    * runs FIRST (ordered by source_file_time only), cleaning second, and
    * negative money amounts clamp to 0 instead of flagging. */
  def premiums(bronze: DataFrame): DataFrame = {
    val typed = bronze.select(
      trim(col("premium_id")).cast(StringType).as("premium_id"),
      trim(col("policy_id")).cast(StringType).as("policy_id"),
      trim(col("customer_id")).cast(StringType).as("customer_id"),
      col("payment_date").cast(TimestampType).as("payment_date"),
      col("due_date").cast(TimestampType).as("due_date"),
      col("premium_amount").cast(DoubleType).as("premium_amount"),
      trim(col("payment_frequency")).cast(StringType).as("payment_frequency"),
      trim(col("payment_method")).cast(StringType).as("payment_method"),
      trim(col("payment_status")).cast(StringType).as("payment_status"),
      col("late_fee").cast(DoubleType).as("late_fee"),
      col("discount_applied").cast(DoubleType).as("discount_applied"),
      col("tax_amount").cast(DoubleType).as("tax_amount"),
      col("total_amount").cast(DoubleType).as("total_amount"),
      trim(col("transaction_id")).cast(StringType).as("transaction_id"),
      trim(col("payment_processor")).cast(StringType).as("payment_processor"),
      col("created_at").cast(TimestampType).as("created_at"),
      col("updated_at").cast(TimestampType).as("updated_at"),
      col("source_file_path").cast(StringType).as("source_file_path"),
      col("source_file_time").cast(TimestampType).as("source_file_time"))

    def clamp(c: String): Column = when(col(c) < 0, 0).otherwise(col(c)).as(c)

    latestByKey(typed, "premium_id", Seq(col("source_file_time").desc))
      .select(
        col("premium_id"), col("policy_id"), col("customer_id"),
        col("payment_date"), col("due_date"),
        clamp("premium_amount"),
        upper(trim(col("payment_frequency"))).as("payment_frequency"),
        initcap(trim(col("payment_method"))).as("payment_method"),
        upper(trim(col("payment_status"))).as("payment_status"),
        clamp("late_fee"), clamp("discount_applied"), clamp("tax_amount"),
        clamp("total_amount"),
        col("transaction_id"),
        initcap(trim(col("payment_processor"))).as("payment_processor"),
        col("created_at"), col("updated_at"),
        col("source_file_path"), col("source_file_time"))
  }
}
