package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class SilverSpec extends SparkSpec {
  import Fixtures.clock

  lazy val customers = Silver.customers(
    Bronze.customers(Fixtures.rawCustomers(spark)), clock).cache()
  lazy val policies = Silver.policies(
    Bronze.policies(Fixtures.rawPolicies(spark)), clock).cache()
  lazy val claims = Silver.claims(
    Bronze.claims(Fixtures.rawClaims(spark)), clock).cache()
  lazy val premiums = Silver.premiums(
    Bronze.premiums(Fixtures.rawPremiums(spark))).cache()

  test("customers: missing-PK rows dropped, duplicates deduped to latest") {
    assert(customers.count() === 4) // 6 raw - 2 missing PK - 1 dup
    val c2 = customers.filter(col("customer_id") === "C002").collect()
    assert(c2.length === 1)
    assert(c2.head.getAs[String]("email") === "bob@new.example.com")
  }

  test("customers: cleaning + derived columns") {
    val c1 = customers.filter(col("customer_id") === "C001").head()
    assert(c1.getAs[String]("first_name") === "Alice")
    assert(c1.getAs[String]("last_name") === "Smith")
    assert(c1.getAs[String]("full_name") === "Alice Smith")
    assert(c1.getAs[String]("email") === "alice.smith@example.com")
    assert(c1.getAs[Int]("invalid_email_flag") === 0)
    // fixed clock 2025-06-15; dob 1990 → naive age 35
    assert(c1.getAs[Int]("age") === 35)
  }

  test("customers: invalid/null email flagged, not dropped") {
    assert(customers.filter(col("invalid_email_flag") === 1)
      .select("customer_id").collect().map(_.getString(0)).toSet
      === Set("C003", "C004"))
  }

  test("policies: flags and duration") {
    val byId = policies.collect().map(r => r.getAs[String]("policy_id") -> r).toMap
    assert(byId.keySet === Set("P001", "P002", "P003", "P004", "P005", "P006", "P007"))
    assert(byId("P005").getAs[Int]("invalid_premium_amount_flag") === 1)
    assert(byId("P006").getAs[Int]("invalid_date_range_flag") === 1)
    assert(byId("P006").getAs[Int]("policy_duration_days") === -365)
    assert(byId("P007").getAs[Int]("missing_customer_id_flag") === 1)
    // dup P004: later update (coverage 150000) wins
    assert(byId("P004").getAs[java.math.BigDecimal]("coverage_amount")
      .compareTo(new java.math.BigDecimal("150000")) === 0)
    assert(byId("P001").getAs[String]("policy_type") === "Auto")
    assert(byId("P001").getAs[String]("status") === "ACTIVE")
  }

  test("claims: derived analytics columns") {
    val byId = claims.collect().map(r => r.getAs[String]("claim_id") -> r).toMap
    assert(byId.keySet === Set("CL001", "CL002", "CL003", "CL004", "CL005", "CL006"))
    val cl2 = byId("CL002")
    assert(cl2.getAs[Int]("reporting_delay_days") === 20)
    assert(cl2.getAs[Double]("claim_difference") === 1000.0)
    assert(cl2.getAs[Double]("settlement_ratio") === 0.5)
    // zero claim_amount → NULL ratio (guarded division)
    assert(byId("CL005").isNullAt(byId("CL005").fieldIndex("settlement_ratio")))
    assert(byId("CL005").getAs[Int]("invalid_settled_amount_flag") === 1)
    // dedup kept the later settled_amount
    assert(byId("CL004").getAs[Double]("settled_amount") === 11000.0)
  }

  test("premiums: clamp-to-zero and dedup by source_file_time") {
    val byId = premiums.collect().map(r => r.getAs[String]("premium_id") -> r).toMap
    assert(byId.keySet === Set("PM001", "PM002", "PM003"))
    assert(byId("PM002").getAs[String]("payment_status") === "PAID")
    assert(byId("PM002").getAs[Double]("late_fee") === 5.0)
    assert(byId("PM003").getAs[Double]("premium_amount") === 0.0)
    assert(byId("PM003").getAs[Double]("late_fee") === 0.0)
    assert(byId("PM001").getAs[String]("payment_method") === "Credit Card")
    assert(byId("PM001").getAs[String]("payment_processor") === "Stripe")
  }

  test("dedup is idempotent (silver of silver = silver)") {
    val twice = Silver.latestByKey(customers, "customer_id",
      Seq(col("updated_at").desc, col("processed_at").desc))
    assert(twice.count() === customers.count())
  }

  test("flag columns are always 0/1") {
    val flags = Seq("missing_customer_id_flag", "invalid_coverage_amount_flag",
      "invalid_premium_amount_flag", "invalid_deductible_flag",
      "invalid_date_range_flag")
    val bad = policies.filter(flags.map(f =>
      !col(f).isin(0, 1)).reduce(_ || _)).count()
    assert(bad === 0)
  }

  test("bronze checks: fixture defects are caught by the dbt-test analogue") {
    val bronze = Map(
      "customers_bronze" -> Bronze.customers(Fixtures.rawCustomers(spark)),
      "policies_bronze" -> Bronze.policies(Fixtures.rawPolicies(spark)),
      "claims_bronze" -> Bronze.claims(Fixtures.rawClaims(spark)),
      "premiums_bronze" -> Bronze.premiums(Fixtures.rawPremiums(spark)))
    val results = Checks.bronzeSuite(bronze)
    assert(results.size === 8)
    val byKey = results.map(r => (r.table, r.check) -> r.violations).toMap
    assert(byKey(("customers_bronze", "not_null")) === 1) // null PK row
    assert(byKey(("customers_bronze", "unique")) === 1)   // C002 dup
    assert(byKey(("claims_bronze", "not_null")) === 1)
    assert(byKey(("premiums_bronze", "unique")) === 1)    // PM002 dup
  }
}
