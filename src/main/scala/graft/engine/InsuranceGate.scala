package graft.engine

import graft.ops.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Puts the reference insurance pipeline itself under the DuckDB
  * hash-match gate: deterministic insurance-shaped raw tables are derived
  * from the TPC-H-ish testdata (same arithmetic in Spark and in the
  * oracle SQL, including seeded quality defects and duplicate PKs), the
  * REAL `engine.Silver` transforms run on them, and the oracle transcribes
  * the silver semantics in DuckDB dialect.
  *
  * Silver is per-row expressions + one window dedup — no floating
  * aggregation — so results are bit-deterministic across engines.
  * (Gold's reference-typed AVG/DECIMAL aggregates are engine semantics
  * verified by ScalaTest goldens; the gate covers gold SHAPES through
  * the q06-q12 analogs and the deterministic gold gate query below.)
  *
  * Defect seeding (primes so slices overlap): every k-th row gets an
  * empty/null PK, invalid email, negative amount, or inverted date
  * range; every j-th row is duplicated with a later updated_at and
  * changed payload — exercising every silver flag and the latest-wins
  * dedup.
  */
object InsuranceGate extends QueryModule {
  import Tables.{customer, orders, lineitem}

  /** Fixed clock shared by Spark and oracle (age/processed_at). */
  val clock: Clock = Clock.Fixed(java.time.Instant.parse("2025-06-15T00:00:00Z"))
  private val oNow = "TIMESTAMP '2025-06-15 00:00:00'"
  private val oToday = "DATE '2025-06-15'"

  /** DuckDB emulation of Spark's initcap (capitalize first letter of each
    * space-separated word, lowercase the rest). */
  def oInitcap(e: String): String =
    s"array_to_string(list_transform(string_split(lower($e), ' '), s -> upper(s[1]) || s[2:]), ' ')"

  // ----------------------------------------------------------------- raw
  // raw_customers ⟵ customer (plus a duplicated slice with later updates)
  private def rawCustomersSpark(s: SparkSession, d: String): DataFrame = {
    def build(dup: Boolean): DataFrame = {
      val base = customer(s, d)
      val src = if (dup) base.filter(col("c_custkey") % 11 === 0) else base
      val k = col("c_custkey")
      src.select(
        when(k % 97 === 0, lit("")).when(k % 101 === 0, lit(null))
          .otherwise(concat(lit("C"), k)).as("customer_id"),
        concat(lit("  "), lower(col("c_mktsegment"))).as("first_name"),
        concat(lit(" "), col("c_name"), lit(" ")).as("last_name"),
        when(k % 7 === 0, lit("not-an-email")).when(k % 13 === 0, lit(null))
          .otherwise(concat(
            regexp_replace(lower(col("c_name")), "#", "."),
            lit(if (dup) "@dup.example.com" else "@example.com")))
          .as("email"),
        k.cast(StringType).as("phone"),
        date_add(lit("1950-01-01").cast(DateType), (k % 18000).cast(IntegerType))
          .as("date_of_birth"),
        concat(lit("addr "), k).as("address"),
        lit("Metropolis").as("city"),
        when(col("c_nationkey") % 5 === 0, "CA")
          .when(col("c_nationkey") % 5 === 1, "TX")
          .when(col("c_nationkey") % 5 === 2, "NY")
          .when(col("c_nationkey") % 5 === 3, "FL")
          .otherwise("WA").as("state"),
        (k % 100000).cast(StringType).as("zip_code"),
        ((k % 2000000).cast(DoubleType) / 100 + 20000).as("annual_income"),
        (lit(300) + k % 550).cast(IntegerType).as("credit_score"),
        when(k % 3 === 0, " single ").when(k % 3 === 1, " married ")
          .otherwise(" divorced ").as("marital_status"),
        lower(col("c_mktsegment")).as("occupation"),
        timestamp_seconds(lit(1704067200L) + (k % 10000) * 60).as("created_at"),
        timestamp_seconds(lit(1704067200L) + ((k % 10000)
          + (if (dup) 99999 else 0)) * 60).as("updated_at"),
        lit(if (dup) "raw/customers_2.csv" else "raw/customers_1.csv")
          .as("source_file_path"),
        lit("2024-06-01 00:00:00").cast(TimestampType).as("source_file_time"))
    }
    build(dup = false).unionAll(build(dup = true))
  }

  private def oRawCustomers: String = {
    def row(dup: Boolean): String = {
      val filter = if (dup) "WHERE c_custkey % 11 = 0" else ""
      val mail = if (dup) "@dup.example.com" else "@example.com"
      val updExtra = if (dup) " + 99999" else ""
      val file = if (dup) "raw/customers_2.csv" else "raw/customers_1.csv"
      s"""SELECT
         |  CASE WHEN c_custkey % 97 = 0 THEN ''
         |       WHEN c_custkey % 101 = 0 THEN NULL
         |       ELSE 'C' || c_custkey END AS customer_id,
         |  '  ' || lower(c_mktsegment) AS first_name,
         |  ' ' || c_name || ' ' AS last_name,
         |  CASE WHEN c_custkey % 7 = 0 THEN 'not-an-email'
         |       WHEN c_custkey % 13 = 0 THEN NULL
         |       ELSE replace(lower(c_name), '#', '.') || '$mail' END AS email,
         |  CAST(c_custkey AS VARCHAR) AS phone,
         |  DATE '1950-01-01' + CAST(c_custkey % 18000 AS INTEGER) AS date_of_birth,
         |  'addr ' || c_custkey AS address,
         |  'Metropolis' AS city,
         |  CASE c_nationkey % 5 WHEN 0 THEN 'CA' WHEN 1 THEN 'TX'
         |       WHEN 2 THEN 'NY' WHEN 3 THEN 'FL' ELSE 'WA' END AS state,
         |  CAST(c_custkey % 100000 AS VARCHAR) AS zip_code,
         |  CAST(c_custkey % 2000000 AS DOUBLE) / 100 + 20000 AS annual_income,
         |  CAST(300 + c_custkey % 550 AS INTEGER) AS credit_score,
         |  CASE c_custkey % 3 WHEN 0 THEN ' single ' WHEN 1 THEN ' married '
         |       ELSE ' divorced ' END AS marital_status,
         |  lower(c_mktsegment) AS occupation,
         |  make_timestamp((1704067200 + (c_custkey % 10000) * 60) * 1000000) AS created_at,
         |  make_timestamp((1704067200 + (c_custkey % 10000$updExtra) * 60) * 1000000) AS updated_at,
         |  '$file' AS source_file_path,
         |  TIMESTAMP '2024-06-01 00:00:00' AS source_file_time
         |FROM customer $filter""".stripMargin
    }
    s"raw_customers AS (${row(dup = false)} UNION ALL ${row(dup = true)})"
  }

  // ------------------------------------------------------------ gate: silver
  private val emailRe = "^[A-Za-z0-9+_.-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

  /** Materialize a gate silver chain ONCE. The gold gates reference each
    * silver table from several aggregate subtrees that prune different
    * columns, so their dedup exchanges differ and ReuseExchange never
    * unifies them — the raw→silver window-dedup chain recomputed per
    * subtree (~28 s of the r2 driver bench across q44–q47). An eager
    * columnar cache is the Spark-native analogue of the real DAG
    * materializing silver before gold reads it; CacheManager matches by
    * semantic plan, so the q40–q42 silver gates and all four marts share
    * one cached copy per entity within a session. Values are unchanged —
    * both engines still compute the identical chain — only the number of
    * times Spark computes it drops. */
  private def materialized(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }
  private def customersSilver(s: SparkSession, d: String): DataFrame =
    materialized(Silver.customers(Bronze.customers(rawCustomersSpark(s, d)), clock))
  private def policiesSilver(s: SparkSession, d: String): DataFrame =
    materialized(Silver.policies(Bronze.policies(rawPoliciesSpark(s, d)), clock))
  private def claimsSilver(s: SparkSession, d: String): DataFrame =
    materialized(Silver.claims(Bronze.claims(rawClaimsSpark(s, d)), clock))

  /** customers_silver as oracle CTEs. */
  private def oCustomersSilver: String =
    s"""cu_cleaned AS (
       |  SELECT
       |    trim(customer_id) AS customer_id,
       |    ${oInitcap("trim(first_name)")} AS first_name,
       |    ${oInitcap("trim(last_name)")} AS last_name,
       |    lower(trim(email)) AS email,
       |    trim(phone) AS phone,
       |    date_of_birth,
       |    trim(address) AS address, trim(city) AS city, trim(state) AS state,
       |    trim(zip_code) AS zip_code,
       |    CAST(annual_income AS DECIMAL(18,2)) AS annual_income,
       |    credit_score,
       |    ${oInitcap("trim(marital_status)")} AS marital_status,
       |    ${oInitcap("trim(occupation)")} AS occupation,
       |    created_at, updated_at, source_file_path, source_file_time,
       |    $oNow AS processed_at,
       |    CASE WHEN date_of_birth IS NOT NULL
       |         THEN year($oToday) - year(date_of_birth) END AS age,
       |    ${oInitcap("trim(first_name)")} || ' ' || ${oInitcap("trim(last_name)")} AS full_name,
       |    CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END AS missing_id_flag,
       |    CASE WHEN email IS NULL OR NOT regexp_matches(email, '$emailRe')
       |         THEN 1 ELSE 0 END AS invalid_email_flag
       |  FROM raw_customers),
       |cu_deduped AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id
       |            ORDER BY updated_at DESC, processed_at DESC) AS row_num
       |  FROM cu_cleaned WHERE missing_id_flag = 0),
       |customers_silver AS (
       |  SELECT customer_id, first_name, last_name, full_name, email, phone,
       |    date_of_birth, age, address, city, state, zip_code, annual_income,
       |    credit_score, marital_status, occupation, created_at, updated_at,
       |    source_file_path, source_file_time, processed_at, invalid_email_flag
       |  FROM cu_deduped WHERE row_num = 1)""".stripMargin

  // Gate outputs cast DECIMAL columns to DOUBLE on BOTH sides: the silver
  // tables keep DecimalType (reference fidelity), but the driver's compare
  // materializes the two sides through different client paths where a
  // DECIMAL column surfaces as Decimal('18.00') vs 18.0 — hash mismatch on
  // bit-identical data (round-1 q02/q40/q41/q46). DOUBLE round-trips
  // identically through every client.
  register("q40_customers_silver",
    s"""WITH $oRawCustomers,
       |$oCustomersSilver
       |SELECT * REPLACE (CAST(annual_income AS DOUBLE) AS annual_income)
       |FROM customers_silver""".stripMargin) { (s, d) =>
    customersSilver(s, d)
      .withColumn("annual_income", col("annual_income").cast(DoubleType))
  }

  // ----------------------------------------------------------------- raw
  // raw_policies ⟵ orders (defect slices: empty PK/FK, negative amounts,
  // null/inverted dates; dup slice with later updated_at)
  private def rawPoliciesSpark(s: SparkSession, d: String): DataFrame = {
    def build(dup: Boolean): DataFrame = {
      val base = orders(s, d)
      val src = if (dup) base.filter(col("o_orderkey") % 13 === 0) else base
      val k = col("o_orderkey")
      val premium = when(k % 67 === 0, -50.0)
        .otherwise((k % 900000).cast(DoubleType) / 100 + 100 + (if (dup) 1 else 0))
      src.select(
        when(k % 89 === 0, lit("")).otherwise(concat(lit("P"), k)).as("policy_id"),
        when(k % 83 === 0, lit("")).otherwise(concat(lit("C"), col("o_custkey")))
          .as("customer_id"),
        when(k % 4 === 0, " auto ").when(k % 4 === 1, " home ")
          .when(k % 4 === 2, " life ").otherwise(" health ").as("policy_type"),
        when(k % 71 === 0, (k % 1000000).cast(DoubleType) / -100 - 1)
          .otherwise((k % 5000000).cast(DoubleType) / 100 + 10000)
          .as("coverage_amount"),
        premium.as("premium_amount"),
        when(k % 61 === 0, -5.0).otherwise(((k * 7) % 200000).cast(DoubleType) / 100)
          .as("deductible"),
        when(k % 59 === 0, lit(null)).otherwise(
          date_add(lit("2020-01-01").cast(DateType), (k % 2000).cast(IntegerType)))
          .as("start_date"),
        date_add(lit("2020-01-01").cast(DateType),
          ((k % 2000) + (k % 1000) - 50).cast(IntegerType)).as("end_date"),
        when(k % 3 === 0, " active ").when(k % 3 === 1, " expired ")
          .otherwise(" cancelled ").as("status"),
        concat(lit("A"), k % 50).as("agent_id"),
        concat(lit("U"), k % 20).as("underwriter_id"),
        when(k % 2 === 0, " Monthly ").otherwise(" Annual ")
          .as("payment_frequency"),
        timestamp_seconds(lit(1704067200L) + (k % 20000) * 60).as("created_at"),
        timestamp_seconds(lit(1704067200L) + ((k % 20000)
          + (if (dup) 99999 else 0)) * 60).as("updated_at"),
        when(k % 500 === 0, lit("{\"bad\":1}")).otherwise(lit(null))
          .as("_rescued_data"),
        lit(if (dup) "raw/policies_2.csv" else "raw/policies_1.csv")
          .as("source_file_path"),
        lit("2024-06-01 00:00:00").cast(TimestampType).as("source_file_time"))
    }
    build(dup = false).unionAll(build(dup = true))
  }

  private def oRawPolicies: String = {
    def row(dup: Boolean): String = {
      val filter = if (dup) "WHERE o_orderkey % 13 = 0" else ""
      val premExtra = if (dup) " + 1" else ""
      val updExtra = if (dup) " + 99999" else ""
      val file = if (dup) "raw/policies_2.csv" else "raw/policies_1.csv"
      s"""SELECT
         |  CASE WHEN o_orderkey % 89 = 0 THEN '' ELSE 'P' || o_orderkey END AS policy_id,
         |  CASE WHEN o_orderkey % 83 = 0 THEN '' ELSE 'C' || o_custkey END AS customer_id,
         |  CASE o_orderkey % 4 WHEN 0 THEN ' auto ' WHEN 1 THEN ' home '
         |       WHEN 2 THEN ' life ' ELSE ' health ' END AS policy_type,
         |  CASE WHEN o_orderkey % 71 = 0
         |       THEN CAST(o_orderkey % 1000000 AS DOUBLE) / -100 - 1
         |       ELSE CAST(o_orderkey % 5000000 AS DOUBLE) / 100 + 10000 END AS coverage_amount,
         |  CASE WHEN o_orderkey % 67 = 0 THEN -50.0
         |       ELSE CAST(o_orderkey % 900000 AS DOUBLE) / 100 + 100$premExtra END AS premium_amount,
         |  CASE WHEN o_orderkey % 61 = 0 THEN -5.0
         |       ELSE CAST((o_orderkey * 7) % 200000 AS DOUBLE) / 100 END AS deductible,
         |  CASE WHEN o_orderkey % 59 = 0 THEN NULL
         |       ELSE DATE '2020-01-01' + CAST(o_orderkey % 2000 AS INTEGER) END AS start_date,
         |  DATE '2020-01-01' + CAST((o_orderkey % 2000) + (o_orderkey % 1000) - 50 AS INTEGER) AS end_date,
         |  CASE o_orderkey % 3 WHEN 0 THEN ' active ' WHEN 1 THEN ' expired '
         |       ELSE ' cancelled ' END AS status,
         |  'A' || (o_orderkey % 50) AS agent_id,
         |  'U' || (o_orderkey % 20) AS underwriter_id,
         |  CASE WHEN o_orderkey % 2 = 0 THEN ' Monthly ' ELSE ' Annual ' END AS payment_frequency,
         |  make_timestamp((1704067200 + (o_orderkey % 20000) * 60) * 1000000) AS created_at,
         |  make_timestamp((1704067200 + ((o_orderkey % 20000)$updExtra) * 60) * 1000000) AS updated_at,
         |  CASE WHEN o_orderkey % 500 = 0 THEN '{"bad":1}' END AS _rescued_data,
         |  '$file' AS source_file_path,
         |  TIMESTAMP '2024-06-01 00:00:00' AS source_file_time
         |FROM orders $filter""".stripMargin
    }
    s"raw_policies AS (${row(dup = false)} UNION ALL ${row(dup = true)})"
  }

  /** policies_silver as oracle CTEs (cleaned + deduped + final select). */
  private def oPoliciesSilver: String =
    s"""p_cleaned AS (
       |  SELECT
       |    trim(policy_id) AS policy_id,
       |    trim(customer_id) AS customer_id,
       |    ${oInitcap("trim(policy_type)")} AS policy_type,
       |    CAST(coverage_amount AS DECIMAL(18,2)) AS coverage_amount,
       |    CAST(premium_amount AS DECIMAL(18,2)) AS premium_amount,
       |    CAST(deductible AS DECIMAL(18,2)) AS deductible,
       |    start_date, end_date,
       |    upper(trim(status)) AS status,
       |    agent_id, underwriter_id,
       |    lower(trim(payment_frequency)) AS payment_frequency,
       |    created_at, updated_at, source_file_path, source_file_time,
       |    $oNow AS processed_at,
       |    CASE WHEN policy_id IS NULL OR policy_id = '' THEN 1 ELSE 0 END AS missing_policy_id_flag,
       |    CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END AS missing_customer_id_flag,
       |    CASE WHEN coverage_amount IS NULL OR coverage_amount < 0 THEN 1 ELSE 0 END AS invalid_coverage_amount_flag,
       |    CASE WHEN premium_amount IS NULL OR premium_amount < 0 THEN 1 ELSE 0 END AS invalid_premium_amount_flag,
       |    CASE WHEN deductible IS NULL OR deductible < 0 THEN 1 ELSE 0 END AS invalid_deductible_flag,
       |    CASE WHEN start_date IS NULL OR end_date IS NULL OR start_date > end_date THEN 1 ELSE 0 END AS invalid_date_range_flag,
       |    date_diff('day', start_date, end_date) AS policy_duration_days
       |  FROM raw_policies),
       |p_deduped AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY policy_id
       |            ORDER BY updated_at DESC, processed_at DESC) AS row_num
       |  FROM p_cleaned WHERE missing_policy_id_flag = 0),
       |policies_silver AS (
       |  SELECT policy_id, customer_id, policy_type, coverage_amount,
       |    premium_amount, deductible, start_date, end_date, status,
       |    agent_id, underwriter_id, payment_frequency, created_at,
       |    updated_at, source_file_path, source_file_time, processed_at,
       |    policy_duration_days, missing_customer_id_flag,
       |    invalid_coverage_amount_flag, invalid_premium_amount_flag,
       |    invalid_deductible_flag, invalid_date_range_flag
       |  FROM p_deduped WHERE row_num = 1)""".stripMargin

  register("q41_policies_silver",
    s"""WITH $oRawPolicies,
       |$oPoliciesSilver
       |SELECT * REPLACE (
       |  CAST(coverage_amount AS DOUBLE) AS coverage_amount,
       |  CAST(premium_amount AS DOUBLE) AS premium_amount,
       |  CAST(deductible AS DOUBLE) AS deductible)
       |FROM policies_silver""".stripMargin) { (s, d) =>
    policiesSilver(s, d)
      .withColumn("coverage_amount", col("coverage_amount").cast(DoubleType))
      .withColumn("premium_amount", col("premium_amount").cast(DoubleType))
      .withColumn("deductible", col("deductible").cast(DoubleType))
  }

  // ----------------------------------------------------------------- raw
  // raw_claims ⟵ lineitem. settlement ratios are j/8 multiples so the
  // ROUND(ratio, 3) in silver never sits near a rounding midpoint.
  private def rawClaimsSpark(s: SparkSession, d: String): DataFrame = {
    // the testdata's (l_orderkey, l_linenumber) is NOT unique; pre-dedup on
    // a deterministic total order so claim_ids are unique and the silver
    // dedup never ties (identical in the oracle's QUALIFY)
    val uniq = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey") * 10 + col("l_linenumber"))
        .orderBy(col("l_shipdate"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      lineitem(s, d).withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    def build(dup: Boolean): DataFrame = {
      val base = uniq
      val kE = col("l_orderkey") * 10 + col("l_linenumber")
      val src = if (dup) base.filter((col("l_orderkey") * 10 + col("l_linenumber")) % 19 === 0)
        else base
      val k = kE
      val baseClaim = ((k * 13 % 3000000) + 7).cast(DoubleType) / 100 + 50
      val claim = when(k % 71 === 0, -baseClaim)
        .when(k % 111 === 0, 0.0).otherwise(baseClaim)
      // NOTE: the `+ 1` is applied only on the dup slice; an unconditional
      // `+ 0` would rewrite IEEE -0.0 (negative claim × zero ratio) to +0.0
      // and diverge from the oracle, which has no `+ 0` term (round-1 driver
      // hash mismatch on settled_amount).
      val settledBase = claim * (k % 8) / 8
      val settled = when(k % 67 === 0, -10.0)
        .otherwise(if (dup) settledBase + 1 else settledBase)
      src.select(
        when(k % 79 === 0, lit("")).otherwise(concat(lit("CL"), k)).as("claim_id"),
        when(k % 73 === 0, lit("")).otherwise(concat(lit("P"), col("l_orderkey")))
          .as("policy_id"),
        when(k % 103 === 0, lit(null))
          .otherwise(concat(lit("C"), col("l_suppkey"))).as("customer_id"),
        col("l_shipdate").cast(TimestampType).as("claim_date"),
        timestamp_micros(unix_micros(col("l_shipdate").cast(TimestampType))
          + (k % 30) * 86400000000L).as("reported_date"),
        claim.as("claim_amount"),
        settled.as("settled_amount"),
        (lit(250) * (lit(1) + k % 8)).cast(IntegerType).as("deductible_amount"),
        when(k % 5 === 0, " collision ").when(k % 5 === 1, " theft ")
          .when(k % 5 === 2, " fire ").when(k % 5 === 3, " flood ")
          .otherwise(" injury ").as("claim_reason"),
        when(k % 3 === 0, " settled ").when(k % 3 === 1, " open ")
          .otherwise(" denied ").as("status"),
        when(k % 17 === 0, lit(null)).otherwise(concat(lit("ADJ"), k % 25))
          .as("adjuster_id"),
        when(k % 4 === 0, " auto ").when(k % 4 === 1, " home ")
          .when(k % 4 === 2, " life ").otherwise(" health ").as("claim_type"),
        when(k % 3 === 0, " low ").when(k % 3 === 1, " medium ")
          .otherwise(" high ").as("severity"),
        when(k % 23 === 0, 1).otherwise(0).cast(IntegerType).as("fraud_indicator"),
        timestamp_seconds(lit(1704067200L) + (k % 40000) * 30).as("created_at"),
        timestamp_seconds(lit(1704067200L) + ((k % 40000)
          + (if (dup) 99999 else 0)) * 30).as("updated_at"),
        lit(if (dup) "raw/claims_2.csv" else "raw/claims_1.csv")
          .as("source_file_path"),
        lit("2024-06-01 00:00:00").cast(TimestampType).as("source_file_time"))
    }
    build(dup = false).unionAll(build(dup = true))
  }

  private def oRawClaims: String = {
    def row(dup: Boolean): String = {
      val filter = if (dup) "WHERE (l_orderkey * 10 + l_linenumber) % 19 = 0" else ""
      val settledExtra = if (dup) " + 1" else ""
      val updExtra = if (dup) " + 99999" else ""
      val file = if (dup) "raw/claims_2.csv" else "raw/claims_1.csv"
      val k = "(l_orderkey * 10 + l_linenumber)"
      val from = s"""(SELECT * FROM lineitem
         |    QUALIFY ROW_NUMBER() OVER (PARTITION BY $k
         |      ORDER BY l_shipdate, l_partkey, l_suppkey, l_quantity,
         |               l_extendedprice) = 1) li""".stripMargin
      val baseClaim = s"CAST(($k * 13 % 3000000) + 7 AS DOUBLE) / 100 + 50"
      val claim = s"""CASE WHEN $k % 71 = 0 THEN -($baseClaim)
         |       WHEN $k % 111 = 0 THEN 0.0 ELSE $baseClaim END""".stripMargin
      s"""SELECT
         |  CASE WHEN $k % 79 = 0 THEN '' ELSE 'CL' || $k END AS claim_id,
         |  CASE WHEN $k % 73 = 0 THEN '' ELSE 'P' || l_orderkey END AS policy_id,
         |  CASE WHEN $k % 103 = 0 THEN NULL ELSE 'C' || l_suppkey END AS customer_id,
         |  l_shipdate AS claim_date,
         |  make_timestamp(epoch_us(l_shipdate) + ($k % 30) * 86400000000) AS reported_date,
         |  ($claim) AS claim_amount,
         |  CASE WHEN $k % 67 = 0 THEN -10.0
         |       ELSE ($claim) * ($k % 8) / 8$settledExtra END AS settled_amount,
         |  CAST(250 * (1 + $k % 8) AS INTEGER) AS deductible_amount,
         |  CASE $k % 5 WHEN 0 THEN ' collision ' WHEN 1 THEN ' theft '
         |       WHEN 2 THEN ' fire ' WHEN 3 THEN ' flood '
         |       ELSE ' injury ' END AS claim_reason,
         |  CASE $k % 3 WHEN 0 THEN ' settled ' WHEN 1 THEN ' open '
         |       ELSE ' denied ' END AS status,
         |  CASE WHEN $k % 17 = 0 THEN NULL ELSE 'ADJ' || ($k % 25) END AS adjuster_id,
         |  CASE $k % 4 WHEN 0 THEN ' auto ' WHEN 1 THEN ' home '
         |       WHEN 2 THEN ' life ' ELSE ' health ' END AS claim_type,
         |  CASE $k % 3 WHEN 0 THEN ' low ' WHEN 1 THEN ' medium '
         |       ELSE ' high ' END AS severity,
         |  CAST(CASE WHEN $k % 23 = 0 THEN 1 ELSE 0 END AS INTEGER) AS fraud_indicator,
         |  make_timestamp((1704067200 + ($k % 40000) * 30) * 1000000) AS created_at,
         |  make_timestamp((1704067200 + (($k % 40000)$updExtra) * 30) * 1000000) AS updated_at,
         |  '$file' AS source_file_path,
         |  TIMESTAMP '2024-06-01 00:00:00' AS source_file_time
         |FROM $from $filter""".stripMargin
    }
    s"raw_claims AS (${row(dup = false)} UNION ALL ${row(dup = true)})"
  }

  /** claims_silver as oracle CTEs.
    *
    * settlement_ratio carries a `+ 0` ONLY on the oracle side: Spark's
    * ROUND routes doubles through BigDecimal, which cannot represent
    * -0.0, so round(-0.0004, 3) canonicalizes to +0.0; DuckDB's round
    * keeps the sign and returns -0.0. The +0 collapses DuckDB's -0.0 to
    * +0.0 (IEEE: -0.0 + 0 = +0.0) and leaves every nonzero value
    * bit-identical — replicating Spark's canonicalization rather than
    * introducing asymmetry. Found by the 10-20× soak sweep (21,810
    * tiny-negative ratios at soak; zero at sf0.01/sf0.001). */
  private def oClaimsSilver: String =
    s"""c_cleaned AS (
       |  SELECT
       |    trim(claim_id) AS claim_id,
       |    trim(policy_id) AS policy_id,
       |    trim(customer_id) AS customer_id,
       |    claim_date, reported_date,
       |    CAST(claim_amount AS DOUBLE) AS claim_amount,
       |    CAST(settled_amount AS DOUBLE) AS settled_amount,
       |    CAST(deductible_amount AS INTEGER) AS deductible_amount,
       |    ${oInitcap("trim(claim_reason)")} AS claim_reason,
       |    upper(trim(status)) AS status,
       |    adjuster_id,
       |    upper(trim(claim_type)) AS claim_type,
       |    upper(trim(severity)) AS severity,
       |    fraud_indicator, created_at, updated_at,
       |    source_file_path, source_file_time,
       |    $oNow AS processed_at,
       |    CASE WHEN claim_id IS NULL OR claim_id = '' THEN 1 ELSE 0 END AS missing_id_flag,
       |    CASE WHEN policy_id IS NULL OR policy_id = '' THEN 1 ELSE 0 END AS missing_policy_flag,
       |    CASE WHEN customer_id IS NULL OR customer_id = '' THEN 1 ELSE 0 END AS missing_customer_flag,
       |    CASE WHEN claim_amount IS NULL OR claim_amount < 0 THEN 1 ELSE 0 END AS invalid_claim_amount_flag,
       |    CASE WHEN settled_amount IS NULL OR settled_amount < 0 THEN 1 ELSE 0 END AS invalid_settled_amount_flag
       |  FROM raw_claims),
       |c_deduped AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY claim_id
       |            ORDER BY updated_at DESC, processed_at DESC) AS row_num
       |  FROM c_cleaned WHERE missing_id_flag = 0),
       |claims_silver AS (
       |  SELECT claim_id, policy_id, customer_id, claim_date, reported_date,
       |    claim_amount, settled_amount, deductible_amount, claim_reason,
       |    status, adjuster_id, claim_type, severity, fraud_indicator,
       |    created_at, updated_at, source_file_path, source_file_time,
       |    processed_at,
       |    date_diff('day', CAST(claim_date AS DATE), CAST(reported_date AS DATE)) AS reporting_delay_days,
       |    claim_amount - settled_amount AS claim_difference,
       |    CASE WHEN claim_amount > 0 THEN ROUND(settled_amount / claim_amount, 3) + 0 END AS settlement_ratio,
       |    missing_policy_flag, missing_customer_flag,
       |    invalid_claim_amount_flag, invalid_settled_amount_flag
       |  FROM c_deduped WHERE row_num = 1)""".stripMargin

  register("q42_claims_silver",
    s"""WITH $oRawClaims,
       |$oClaimsSilver
       |SELECT * FROM claims_silver""".stripMargin) { (s, d) =>
    claimsSilver(s, d)
  }

  // ----------------------------------------------------------------- raw
  // raw_premiums ⟵ events (negative money for the clamp path; dedup is by
  // source_file_time only, matching premiums_silver's different shape)
  private def rawPremiumsSpark(s: SparkSession, d: String): DataFrame = {
    def build(dup: Boolean): DataFrame = {
      val base = Tables.events(s, d)
      val src = if (dup) base.filter(col("event_id") % 21 === 0) else base
      val k = col("event_id")
      src.select(
        concat(lit("PM"), k).as("premium_id"),
        concat(lit("P"), col("user_id")).as("policy_id"),
        concat(lit("C"), col("user_id")).as("customer_id"),
        col("ts").as("payment_date"),
        timestamp_micros(unix_micros(col("ts")) + 14L * 86400000000L).as("due_date"),
        (col("value") - 5).as("premium_amount"),
        when(k % 2 === 0, " monthly ").otherwise(" annual ")
          .as("payment_frequency"),
        when(k % 3 === 0, " credit card ").when(k % 3 === 1, " ach ")
          .otherwise(" check ").as("payment_method"),
        when(k % 4 === 0, " paid ").when(k % 4 === 1, " pending ")
          .when(k % 4 === 2, " failed ").otherwise(" refunded ")
          .as("payment_status"),
        when(col("event_type") === "error", -2.5)
          .otherwise((k % 2000).cast(DoubleType) / 100).as("late_fee"),
        ((k % 500).cast(DoubleType) / 100
          - (if (dup) 1 else 0)).as("discount_applied"),
        ((k % 300).cast(DoubleType) / 100).as("tax_amount"),
        col("value").as("total_amount"),
        concat(lit("T"), k).as("transaction_id"),
        when(k % 2 === 0, " stripe ").otherwise(" adyen ")
          .as("payment_processor"),
        col("ts").as("created_at"),
        col("ts").as("updated_at"),
        lit(if (dup) "raw/premiums_2.csv" else "raw/premiums_1.csv")
          .as("source_file_path"),
        timestamp_seconds(lit(1717200000L) + (k % 5) * 3600
          + (if (dup) 999L * 3600 else 0L)).as("source_file_time"))
    }
    build(dup = false).unionAll(build(dup = true))
  }

  private def oRawPremiums: String = {
    def row(dup: Boolean): String = {
      val filter = if (dup) "WHERE event_id % 21 = 0" else ""
      val discExtra = if (dup) " - 1" else ""
      val fileExtra = if (dup) " + 999 * 3600" else ""
      val file = if (dup) "raw/premiums_2.csv" else "raw/premiums_1.csv"
      s"""SELECT
         |  'PM' || event_id AS premium_id,
         |  'P' || user_id AS policy_id,
         |  'C' || user_id AS customer_id,
         |  ts AS payment_date,
         |  make_timestamp(epoch_us(ts) + 14 * 86400000000) AS due_date,
         |  value - 5 AS premium_amount,
         |  CASE WHEN event_id % 2 = 0 THEN ' monthly ' ELSE ' annual ' END AS payment_frequency,
         |  CASE event_id % 3 WHEN 0 THEN ' credit card ' WHEN 1 THEN ' ach '
         |       ELSE ' check ' END AS payment_method,
         |  CASE event_id % 4 WHEN 0 THEN ' paid ' WHEN 1 THEN ' pending '
         |       WHEN 2 THEN ' failed ' ELSE ' refunded ' END AS payment_status,
         |  CASE WHEN event_type = 'error' THEN -2.5
         |       ELSE CAST(event_id % 2000 AS DOUBLE) / 100 END AS late_fee,
         |  CAST(event_id % 500 AS DOUBLE) / 100$discExtra AS discount_applied,
         |  CAST(event_id % 300 AS DOUBLE) / 100 AS tax_amount,
         |  value AS total_amount,
         |  'T' || event_id AS transaction_id,
         |  CASE WHEN event_id % 2 = 0 THEN ' stripe ' ELSE ' adyen ' END AS payment_processor,
         |  ts AS created_at,
         |  ts AS updated_at,
         |  '$file' AS source_file_path,
         |  make_timestamp((1717200000 + (event_id % 5) * 3600$fileExtra) * 1000000) AS source_file_time
         |FROM events $filter""".stripMargin
    }
    s"raw_premiums AS (${row(dup = false)} UNION ALL ${row(dup = true)})"
  }

  register("q43_premiums_silver",
    s"""WITH $oRawPremiums,
       |pm_deduped AS (
       |  SELECT
       |    trim(premium_id) AS premium_id,
       |    trim(policy_id) AS policy_id,
       |    trim(customer_id) AS customer_id,
       |    payment_date, due_date,
       |    CAST(premium_amount AS DOUBLE) AS premium_amount,
       |    trim(payment_frequency) AS payment_frequency,
       |    trim(payment_method) AS payment_method,
       |    trim(payment_status) AS payment_status,
       |    CAST(late_fee AS DOUBLE) AS late_fee,
       |    CAST(discount_applied AS DOUBLE) AS discount_applied,
       |    CAST(tax_amount AS DOUBLE) AS tax_amount,
       |    CAST(total_amount AS DOUBLE) AS total_amount,
       |    trim(transaction_id) AS transaction_id,
       |    trim(payment_processor) AS payment_processor,
       |    created_at, updated_at, source_file_path, source_file_time,
       |    ROW_NUMBER() OVER (PARTITION BY trim(premium_id)
       |      ORDER BY source_file_time DESC) AS rn
       |  FROM raw_premiums),
       |pm_cleaned AS (
       |  SELECT premium_id, policy_id, customer_id, payment_date, due_date,
       |    CASE WHEN premium_amount < 0 THEN 0 ELSE premium_amount END AS premium_amount,
       |    upper(trim(payment_frequency)) AS payment_frequency,
       |    ${oInitcap("trim(payment_method)")} AS payment_method,
       |    upper(trim(payment_status)) AS payment_status,
       |    CASE WHEN late_fee < 0 THEN 0 ELSE late_fee END AS late_fee,
       |    CASE WHEN discount_applied < 0 THEN 0 ELSE discount_applied END AS discount_applied,
       |    CASE WHEN tax_amount < 0 THEN 0 ELSE tax_amount END AS tax_amount,
       |    CASE WHEN total_amount < 0 THEN 0 ELSE total_amount END AS total_amount,
       |    transaction_id,
       |    ${oInitcap("trim(payment_processor)")} AS payment_processor,
       |    created_at, updated_at, source_file_path, source_file_time
       |  FROM pm_deduped WHERE rn = 1)
       |SELECT * FROM pm_cleaned""".stripMargin) { (s, d) =>
    Silver.premiums(Bronze.premiums(rawPremiumsSpark(s, d)))
  }

  // ------------------------------------------------------------ gate: gold
  // policy-performance mart over the gate silver tables, with
  // cross-engine-deterministic aggregation (decimal-exact sums; counts;
  // no engine AVG) and a gap-free (policy_type, month) lag grain.
  register("q44_gold_policy_performance",
    s"""WITH $oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |policy_base AS (
       |  SELECT policy_type,
       |    CAST(date_trunc('month', start_date) AS DATE) AS policy_month,
       |    COUNT(*) AS policy_count,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_premium_revenue,
       |    CAST(SUM(CAST(coverage_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_coverage_exposure
       |  FROM policies_silver
       |  WHERE invalid_premium_amount_flag = 0
       |    AND invalid_coverage_amount_flag = 0
       |    AND invalid_date_range_flag = 0
       |  GROUP BY policy_type, CAST(date_trunc('month', start_date) AS DATE)),
       |claims_by_type AS (
       |  SELECT p.policy_type,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE) AS claim_month,
       |    COUNT(DISTINCT cl.claim_id) AS total_claims,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled_amount,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS fraud_claims
       |  FROM claims_silver cl JOIN policies_silver p ON cl.policy_id = p.policy_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY p.policy_type, CAST(date_trunc('month', cl.claim_date) AS DATE))
       |SELECT pb.policy_type, pb.policy_month, pb.policy_count,
       |  pb.total_premium_revenue, pb.total_coverage_exposure,
       |  COALESCE(cp.total_claims, 0) AS total_claims,
       |  COALESCE(cp.total_settled_amount, 0) AS total_settled_amount,
       |  COALESCE(cp.fraud_claims, 0) AS fraud_claims,
       |  CASE WHEN pb.total_premium_revenue > 0
       |       THEN COALESCE(cp.total_settled_amount, 0) / pb.total_premium_revenue
       |       ELSE 0 END AS loss_ratio,
       |  pb.total_premium_revenue - COALESCE(cp.total_settled_amount, 0) AS underwriting_profit,
       |  LAG(pb.policy_count, 12) OVER (PARTITION BY pb.policy_type
       |    ORDER BY pb.policy_month) AS policy_count_prev_year
       |FROM policy_base pb
       |LEFT JOIN claims_by_type cp
       |  ON pb.policy_type = cp.policy_type AND pb.policy_month = cp.claim_month""".stripMargin) { (s, d) =>
    import graft.ops.RelationalOps.dsum
    val policies = policiesSilver(s, d)
    val claims = claimsSilver(s, d)
    val policyBase = policies
      .filter(col("invalid_premium_amount_flag") === 0 &&
        col("invalid_coverage_amount_flag") === 0 &&
        col("invalid_date_range_flag") === 0)
      .groupBy(col("policy_type"),
        date_trunc("month", col("start_date")).cast(DateType).as("policy_month"))
      .agg(count(lit(1)).as("policy_count"),
        dsum(col("premium_amount")).as("total_premium_revenue"),
        dsum(col("coverage_amount")).as("total_coverage_exposure"))
    val claimsByType = claims.alias("cl")
      .filter(col("missing_policy_flag") === 0)
      .join(policies.select("policy_id", "policy_type").alias("p"),
        Seq("policy_id"))
      .groupBy(col("p.policy_type").as("policy_type"),
        date_trunc("month", col("cl.claim_date")).cast(DateType).as("claim_month"))
      .agg(// unique-by-construction (silver dedup): COUNT(DISTINCT pk) == COUNT(pk),
        // so skip the distinct aggregation the oracle still spells out
        count(col("cl.claim_id")).as("total_claims"),
        dsum(col("cl.settled_amount")).as("total_settled_amount"),
        count(when(col("cl.fraud_indicator") === 1, 1)).as("fraud_claims"))
    policyPerfFromMonthly(policyBase, claimsByType)
  }

  /** q44's derived tail — typed-month left join, ratio ladder, per-type
    * YoY lag — shared verbatim with [[IncrementalGold.policyPerfMart]]
    * so the delta-maintained mart and the full refresh differ only in
    * where the monthly frames come from. `policyBase` =
    * (policy_type, policy_month, policy_count, total_premium_revenue,
    * total_coverage_exposure); `claimsByType` = (policy_type,
    * claim_month, total_claims, total_settled_amount, fraud_claims). */
  private[engine] def policyPerfFromMonthly(policyBase: DataFrame,
      claimsByType: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pb.policy_type")).orderBy(col("pb.policy_month"))
    policyBase.alias("pb")
      .join(claimsByType.alias("cp"),
        col("pb.policy_type") === col("cp.policy_type") &&
          col("pb.policy_month") === col("cp.claim_month"), "left")
      .select(col("pb.policy_type").as("policy_type"),
        col("pb.policy_month").as("policy_month"),
        col("pb.policy_count").as("policy_count"),
        col("pb.total_premium_revenue").as("total_premium_revenue"),
        col("pb.total_coverage_exposure").as("total_coverage_exposure"),
        coalesce(col("cp.total_claims"), lit(0)).as("total_claims"),
        coalesce(col("cp.total_settled_amount"), lit(0)).as("total_settled_amount"),
        coalesce(col("cp.fraud_claims"), lit(0)).as("fraud_claims"),
        when(col("pb.total_premium_revenue") > 0,
          coalesce(col("cp.total_settled_amount"), lit(0))
            / col("pb.total_premium_revenue")).otherwise(0).as("loss_ratio"),
        (col("pb.total_premium_revenue")
          - coalesce(col("cp.total_settled_amount"), lit(0)))
          .as("underwriting_profit"),
        lag(col("pb.policy_count"), 12).over(w).as("policy_count_prev_year"))
  }

  // executive-summary mart: full-outer month coalesce + global YoY lag +
  // growth rate + category ladder, deterministic aggregation
  register("q45_gold_executive_summary",
    s"""WITH $oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |monthly_financials AS (
       |  SELECT CAST(date_trunc('month', start_date) AS DATE) AS report_period,
       |    COUNT(DISTINCT policy_id) AS new_policies,
       |    COUNT(DISTINCT customer_id) AS active_customers,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS gross_written_premium
       |  FROM policies_silver WHERE invalid_premium_amount_flag = 0
       |  GROUP BY CAST(date_trunc('month', start_date) AS DATE)),
       |monthly_claims AS (
       |  SELECT CAST(date_trunc('month', claim_date) AS DATE) AS report_period,
       |    COUNT(DISTINCT claim_id) AS total_claims,
       |    CAST(SUM(CAST(settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_paid_claims,
       |    COUNT(CASE WHEN fraud_indicator = 1 THEN 1 END) AS fraud_claims
       |  FROM claims_silver WHERE missing_policy_flag = 0
       |  GROUP BY CAST(date_trunc('month', claim_date) AS DATE)),
       |kpis AS (
       |  SELECT COALESCE(mf.report_period, mc.report_period) AS report_period,
       |    COALESCE(mf.new_policies, 0) AS new_policies,
       |    COALESCE(mf.active_customers, 0) AS active_customers,
       |    COALESCE(mf.gross_written_premium, 0) AS gross_written_premium,
       |    COALESCE(mc.total_claims, 0) AS total_claims,
       |    COALESCE(mc.total_paid_claims, 0) AS total_paid_claims,
       |    COALESCE(mc.fraud_claims, 0) AS fraud_claims,
       |    CASE WHEN COALESCE(mf.gross_written_premium, 0) > 0
       |         THEN COALESCE(mc.total_paid_claims, 0) / mf.gross_written_premium
       |         ELSE 0 END AS loss_ratio,
       |    COALESCE(mf.gross_written_premium, 0)
       |      - COALESCE(mc.total_paid_claims, 0) AS underwriting_profit
       |  FROM monthly_financials mf
       |  FULL OUTER JOIN monthly_claims mc ON mf.report_period = mc.report_period)
       |SELECT report_period, new_policies, active_customers,
       |  gross_written_premium, total_claims, total_paid_claims, fraud_claims,
       |  loss_ratio, underwriting_profit,
       |  LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) AS gwp_prev_year,
       |  CASE WHEN LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) > 0
       |       THEN (gross_written_premium
       |             - LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST))
       |            / LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) * 100
       |       ELSE 0 END AS gwp_growth_rate_yoy,
       |  CASE WHEN loss_ratio <= 0.6 THEN 'Excellent'
       |       WHEN loss_ratio <= 0.8 THEN 'Good'
       |       WHEN loss_ratio <= 1.0 THEN 'Acceptable'
       |       ELSE 'Concerning' END AS performance_category
       |FROM kpis""".stripMargin) { (s, d) =>
    import graft.ops.RelationalOps.dsum
    val policies = policiesSilver(s, d)
    val claims = claimsSilver(s, d)
    val mf = policies.filter(col("invalid_premium_amount_flag") === 0)
      .groupBy(date_trunc("month", col("start_date")).cast(DateType)
        .as("report_period"))
      .agg(// unique-by-construction (silver dedup): COUNT(DISTINCT pk) == COUNT(pk),
        // so skip the distinct aggregation the oracle still spells out
        count(col("policy_id")).as("new_policies"),
        countDistinct(col("customer_id")).as("active_customers"),
        dsum(col("premium_amount")).as("gross_written_premium"))
    val mc = claims.filter(col("missing_policy_flag") === 0)
      .groupBy(date_trunc("month", col("claim_date")).cast(DateType)
        .as("report_period"))
      .agg(count(col("claim_id")).as("total_claims"),
        dsum(col("settled_amount")).as("total_paid_claims"),
        count(when(col("fraud_indicator") === 1, 1)).as("fraud_claims"))
    execSummaryFromMonthly(mf, mc)
  }

  /** q45's derived tail — full-outer month coalesce, ratio ladder,
    * global YoY lag, category — shared verbatim with
    * [[IncrementalGold.mart]] so the delta-maintained mart and the
    * full refresh differ ONLY in where the monthly frames come from.
    * `mf` = (report_period, new_policies, active_customers,
    * gross_written_premium[double]); `mc` = (report_period,
    * total_claims, total_paid_claims[double], fraud_claims). */
  private[engine] def execSummaryFromMonthly(mf: DataFrame, mc: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kpis = mf.join(mc, Seq("report_period"), "full_outer")
      .select(col("report_period"),
        coalesce(col("new_policies"), lit(0)).as("new_policies"),
        coalesce(col("active_customers"), lit(0)).as("active_customers"),
        coalesce(col("gross_written_premium"), lit(0)).as("gross_written_premium"),
        coalesce(col("total_claims"), lit(0)).as("total_claims"),
        coalesce(col("total_paid_claims"), lit(0)).as("total_paid_claims"),
        coalesce(col("fraud_claims"), lit(0)).as("fraud_claims"),
        when(coalesce(col("gross_written_premium"), lit(0)) > 0,
          coalesce(col("total_paid_claims"), lit(0))
            / col("gross_written_premium")).otherwise(0).as("loss_ratio"),
        (coalesce(col("gross_written_premium"), lit(0))
          - coalesce(col("total_paid_claims"), lit(0))).as("underwriting_profit"))
    val w = Window.orderBy(col("report_period"))
    def lag12(c: Column): Column = lag(c, 12).over(w)
    kpis.select(col("report_period"), col("new_policies"),
      col("active_customers"), col("gross_written_premium"),
      col("total_claims"), col("total_paid_claims"), col("fraud_claims"),
      col("loss_ratio"), col("underwriting_profit"),
      lag12(col("gross_written_premium")).as("gwp_prev_year"),
      when(lag12(col("gross_written_premium")) > 0,
        (col("gross_written_premium") - lag12(col("gross_written_premium")))
          / lag12(col("gross_written_premium")) * 100)
        .otherwise(0).as("gwp_growth_rate_yoy"),
      when(col("loss_ratio") <= 0.6, "Excellent")
        .when(col("loss_ratio") <= 0.8, "Good")
        .when(col("loss_ratio") <= 1.0, "Acceptable")
        .otherwise("Concerning").as("performance_category"))
  }

  // ================== incremental gold maintenance over CDC deltas
  // r14 verdict task 4: the reference full-refreshes every gold mart
  // per run (dbt_project.yml:33,38,43); at 100 TB the mart must be
  // MAINTAINED from silver CDC batches instead. Four deterministic
  // op-coded batches (full before/after row images, the Debezium
  // shape) flow through [[IncrementalGold]]'s signed-delta state:
  //
  //   b1  initial load minus a held-out slice (pk%10==3 / ck%10==4)
  //   b2  late INSERT of the held-out slice + UPDATE premium+100 on
  //       pk%5==0 (flips invalid_premium flags on the −50 defect rows —
  //       the filter-transition case IVM must get right)
  //   b3  DELETE pk%7==0 + UPDATE settled+50 on ck%6==0
  //   b4  re-INSERT pk%14==0 at premium 555 (delete-then-resurrect) +
  //       DELETE ck%9==0 (updated-then-deleted on ck%18==0)
  //
  // The ORACLE is the full refresh on the final table state — the
  // invariant an incremental materialization owes its consumers —
  // spelled as q45's mart over final_policies/final_claims CTEs that
  // replay the net mutation algebra. IncrementalGoldSpec additionally
  // proves state == full recompute after EVERY batch prefix.
  register("q218_incremental_gold",
    s"""WITH $oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |pol_keyed AS (
       |  SELECT policy_id, customer_id, start_date, premium_amount,
       |    CAST(policy_id[2:] AS BIGINT) AS pk
       |  FROM policies_silver),
       |final_policies AS (
       |  SELECT policy_id, customer_id, start_date,
       |    new_premium AS premium_amount,
       |    CASE WHEN new_premium IS NULL OR new_premium < 0 THEN 1 ELSE 0 END
       |      AS invalid_premium_amount_flag
       |  FROM (SELECT *,
       |      CASE WHEN pk % 14 = 0 THEN CAST(555.0 AS DECIMAL(18,2))
       |           WHEN pk % 5 = 0 THEN CAST(premium_amount + 100 AS DECIMAL(18,2))
       |           ELSE premium_amount END AS new_premium
       |    FROM pol_keyed)
       |  WHERE pk % 7 <> 0 OR pk % 14 = 0),
       |cl_keyed AS (
       |  SELECT claim_id, claim_date, settled_amount, fraud_indicator,
       |    missing_policy_flag, CAST(claim_id[3:] AS BIGINT) AS ck
       |  FROM claims_silver),
       |final_claims AS (
       |  SELECT claim_id, claim_date,
       |    CASE WHEN ck % 6 = 0 THEN settled_amount + 50
       |         ELSE settled_amount END AS settled_amount,
       |    fraud_indicator, missing_policy_flag
       |  FROM cl_keyed WHERE ck % 9 <> 0),
       |monthly_financials AS (
       |  SELECT CAST(date_trunc('month', start_date) AS DATE) AS report_period,
       |    COUNT(DISTINCT policy_id) AS new_policies,
       |    COUNT(DISTINCT customer_id) AS active_customers,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS gross_written_premium
       |  FROM final_policies WHERE invalid_premium_amount_flag = 0
       |  GROUP BY CAST(date_trunc('month', start_date) AS DATE)),
       |monthly_claims AS (
       |  SELECT CAST(date_trunc('month', claim_date) AS DATE) AS report_period,
       |    COUNT(DISTINCT claim_id) AS total_claims,
       |    CAST(SUM(CAST(settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_paid_claims,
       |    COUNT(CASE WHEN fraud_indicator = 1 THEN 1 END) AS fraud_claims
       |  FROM final_claims WHERE missing_policy_flag = 0
       |  GROUP BY CAST(date_trunc('month', claim_date) AS DATE)),
       |kpis AS (
       |  SELECT COALESCE(mf.report_period, mc.report_period) AS report_period,
       |    COALESCE(mf.new_policies, 0) AS new_policies,
       |    COALESCE(mf.active_customers, 0) AS active_customers,
       |    COALESCE(mf.gross_written_premium, 0) AS gross_written_premium,
       |    COALESCE(mc.total_claims, 0) AS total_claims,
       |    COALESCE(mc.total_paid_claims, 0) AS total_paid_claims,
       |    COALESCE(mc.fraud_claims, 0) AS fraud_claims,
       |    CASE WHEN COALESCE(mf.gross_written_premium, 0) > 0
       |         THEN COALESCE(mc.total_paid_claims, 0) / mf.gross_written_premium
       |         ELSE 0 END AS loss_ratio,
       |    COALESCE(mf.gross_written_premium, 0)
       |      - COALESCE(mc.total_paid_claims, 0) AS underwriting_profit
       |  FROM monthly_financials mf
       |  FULL OUTER JOIN monthly_claims mc ON mf.report_period = mc.report_period)
       |SELECT report_period, new_policies, active_customers,
       |  gross_written_premium, total_claims, total_paid_claims, fraud_claims,
       |  loss_ratio, underwriting_profit,
       |  LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) AS gwp_prev_year,
       |  CASE WHEN LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) > 0
       |       THEN (gross_written_premium
       |             - LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST))
       |            / LAG(gross_written_premium, 12) OVER (ORDER BY report_period NULLS FIRST) * 100
       |       ELSE 0 END AS gwp_growth_rate_yoy,
       |  CASE WHEN loss_ratio <= 0.6 THEN 'Excellent'
       |       WHEN loss_ratio <= 0.8 THEN 'Good'
       |       WHEN loss_ratio <= 1.0 THEN 'Acceptable'
       |       ELSE 'Concerning' END AS performance_category
       |FROM kpis""".stripMargin) { (s, d) =>
    IncrementalGold.mart(cdcMaintainedState(s, d))
  }

  /** The q218 CDC lifecycle: build the four op-coded batches from the
    * gate silver tables and fold them through [[IncrementalGold]].
    * Shared with IncrementalGoldSpec (which checks EVERY prefix) and
    * GoldStreamSpec (which drives them through the streaming
    * maintainer). */
  private[graft] def cdcBatches(s: SparkSession, d: String)
      : Seq[(DataFrame, DataFrame)] = {
    val pol = policiesSilver(s, d)
    val cl = claimsSilver(s, d)
    val polCols = pol.columns.toSeq
    val clCols = cl.columns.toSeq
    val nullP = lit(null).cast(pol.schema)
    val nullC = lit(null).cast(cl.schema)
    // full-row images with the mutated amount and every dependent
    // column recomputed (flags, differences, ratios) — what a real CDC
    // feed carries after the silver transform reruns on the changed row
    def pImg(prem: Column): Column = {
      val p = prem.cast(DecimalType(18, 2))
      struct(polCols.map {
        case "premium_amount" => p.as("premium_amount")
        case "invalid_premium_amount_flag" =>
          when(p.isNull || p < 0, 1).otherwise(0)
            .as("invalid_premium_amount_flag")
        case c => col(c)
      }: _*)
    }
    def cImg(settled: Column): Column =
      struct(clCols.map {
        case "settled_amount" => settled.as("settled_amount")
        case "invalid_settled_amount_flag" =>
          when(settled.isNull || settled < 0, 1).otherwise(0)
            .as("invalid_settled_amount_flag")
        case "claim_difference" =>
          (col("claim_amount") - settled).as("claim_difference")
        case "settlement_ratio" =>
          when(col("claim_amount") > 0,
            round(settled / col("claim_amount"), 3)).as("settlement_ratio")
        case c => col(c)
      }: _*)
    def ins(rows: DataFrame, img: Column, nul: Column): DataFrame =
      rows.select(lit("I").as("op"), nul.as("before"), img.as("after"))
    def del(rows: DataFrame, img: Column, nul: Column): DataFrame =
      rows.select(lit("D").as("op"), img.as("before"), nul.as("after"))
    def upd(rows: DataFrame, b: Column, a: Column): DataFrame =
      rows.select(lit("U").as("op"), b.as("before"), a.as("after"))

    // try_cast: Catalyst may push a slice predicate on this key BELOW
    // the silver missing-id filter (it only references the dedup
    // partition key, so window pushdown is legal), where an ANSI cast
    // would throw on the raw '' ids the filter was about to drop
    val pb = pol.withColumn("__pk",
      expr("try_cast(substring(policy_id, 2) AS BIGINT)"))
    val cb = cl.withColumn("__ck",
      expr("try_cast(substring(claim_id, 3) AS BIGINT)"))
    val basePrem = col("premium_amount")
    // row state entering batch 3 (batch-2 updates applied)
    val prem2 = when(col("__pk") % 5 === 0, basePrem + 100).otherwise(basePrem)
    val baseSettled = col("settled_amount")
    // row state entering batch 4 (batch-3 updates applied)
    val settled3 = when(col("__ck") % 6 === 0, baseSettled + 50)
      .otherwise(baseSettled)

    Seq(
      (ins(pb.filter(col("__pk") % 10 =!= 3), pImg(basePrem), nullP),
        ins(cb.filter(col("__ck") % 10 =!= 4), cImg(baseSettled), nullC)),
      (ins(pb.filter(col("__pk") % 10 === 3), pImg(basePrem), nullP)
        .unionByName(upd(pb.filter(col("__pk") % 5 === 0),
          pImg(basePrem), pImg(basePrem + 100))),
        ins(cb.filter(col("__ck") % 10 === 4), cImg(baseSettled), nullC)),
      (del(pb.filter(col("__pk") % 7 === 0), pImg(prem2), nullP),
        upd(cb.filter(col("__ck") % 6 === 0),
          cImg(baseSettled), cImg(baseSettled + 50))),
      (ins(pb.filter(col("__pk") % 14 === 0), pImg(lit(555.0)), nullP),
        del(cb.filter(col("__ck") % 9 === 0), cImg(settled3), nullC)))
  }

  // ======================= join-IVM gate: gold_policy_performance
  // The same four CDC batches maintain the JOIN-bearing mart (q44):
  // claims attribute to their policy's TYPE, so deleting policy pk%7
  // must retract claims the batch never shipped, and re-inserting
  // pk%14 must re-attribute them — the bilinear delta rule over the
  // PT/CPM auxiliary state ([[IncrementalGold.applyPolicyPerfDelta]]).
  // Oracle = q44's full refresh on the final table state.
  /** q44-over-final-state oracle shared by q221 (lazy in-memory fold,
    * full feed) and q228 (durable delta store with a forced mid-chain
    * compaction, the pk%3==0 SHARD of the feed — the durable gate
    * proves the same algebra at a third of the state-write cost; an
    * equivalence property does not need the whole fact table to
    * falsify a mis-merge). Both owe their consumers the same
    * full-refresh invariant. */
  private def oPolicyPerfIvmSql: String = oPolicyPerfIvmSqlWhere("", "")

  private def oPolicyPerfIvmSqlWhere(polWhere: String,
      clWhere: String): String =
    s"""WITH $oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |pol_keyed AS (
       |  SELECT policy_id, policy_type, start_date, premium_amount,
       |    coverage_amount, invalid_coverage_amount_flag,
       |    invalid_date_range_flag, CAST(policy_id[2:] AS BIGINT) AS pk
       |  FROM policies_silver $polWhere),
       |final_policies AS (
       |  SELECT policy_id, policy_type, start_date, coverage_amount,
       |    new_premium AS premium_amount,
       |    CASE WHEN new_premium IS NULL OR new_premium < 0 THEN 1 ELSE 0 END
       |      AS invalid_premium_amount_flag,
       |    invalid_coverage_amount_flag, invalid_date_range_flag
       |  FROM (SELECT *,
       |      CASE WHEN pk % 14 = 0 THEN CAST(555.0 AS DECIMAL(18,2))
       |           WHEN pk % 5 = 0 THEN CAST(premium_amount + 100 AS DECIMAL(18,2))
       |           ELSE premium_amount END AS new_premium
       |    FROM pol_keyed)
       |  WHERE pk % 7 <> 0 OR pk % 14 = 0),
       |cl_keyed AS (
       |  SELECT claim_id, policy_id, claim_date, settled_amount,
       |    fraud_indicator, missing_policy_flag,
       |    CAST(claim_id[3:] AS BIGINT) AS ck
       |  FROM claims_silver $clWhere),
       |final_claims AS (
       |  SELECT claim_id, policy_id, claim_date,
       |    CASE WHEN ck % 6 = 0 THEN settled_amount + 50
       |         ELSE settled_amount END AS settled_amount,
       |    fraud_indicator, missing_policy_flag
       |  FROM cl_keyed WHERE ck % 9 <> 0),
       |policy_base AS (
       |  SELECT policy_type,
       |    CAST(date_trunc('month', start_date) AS DATE) AS policy_month,
       |    COUNT(*) AS policy_count,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_premium_revenue,
       |    CAST(SUM(CAST(coverage_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_coverage_exposure
       |  FROM final_policies
       |  WHERE invalid_premium_amount_flag = 0
       |    AND invalid_coverage_amount_flag = 0
       |    AND invalid_date_range_flag = 0
       |  GROUP BY policy_type, CAST(date_trunc('month', start_date) AS DATE)),
       |claims_by_type AS (
       |  SELECT p.policy_type,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE) AS claim_month,
       |    COUNT(DISTINCT cl.claim_id) AS total_claims,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled_amount,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS fraud_claims
       |  FROM final_claims cl JOIN final_policies p ON cl.policy_id = p.policy_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY p.policy_type, CAST(date_trunc('month', cl.claim_date) AS DATE))
       |SELECT pb.policy_type, pb.policy_month, pb.policy_count,
       |  pb.total_premium_revenue, pb.total_coverage_exposure,
       |  COALESCE(cp.total_claims, 0) AS total_claims,
       |  COALESCE(cp.total_settled_amount, 0) AS total_settled_amount,
       |  COALESCE(cp.fraud_claims, 0) AS fraud_claims,
       |  CASE WHEN pb.total_premium_revenue > 0
       |       THEN COALESCE(cp.total_settled_amount, 0) / pb.total_premium_revenue
       |       ELSE 0 END AS loss_ratio,
       |  pb.total_premium_revenue - COALESCE(cp.total_settled_amount, 0) AS underwriting_profit,
       |  LAG(pb.policy_count, 12) OVER (PARTITION BY pb.policy_type
       |    ORDER BY pb.policy_month) AS policy_count_prev_year
       |FROM policy_base pb
       |LEFT JOIN claims_by_type cp
       |  ON pb.policy_type = cp.policy_type AND pb.policy_month = cp.claim_month""".stripMargin

  register("q221_incremental_policy_perf", oPolicyPerfIvmSql) {
    (s, d) => IncrementalGold.policyPerfMart(cdcPolicyPerfState(s, d))
  }

  // ============= durable-state compaction gate (q228, r16 verdict
  // task 7): the pk%3==0 SHARD of the four CDC batches folds through
  // the LSM [[graft.streaming.VersionedStateStore]] in delta mode with
  // compactEvery=2, forcing base → delta → COMPACTED base → delta;
  // the mart is then read back from the final version (compaction
  // product + a delta stacked on it). Oracle = the q221 full-refresh
  // twin over the same shard, so a single mis-merged row anywhere in
  // the compaction or the read-side fold hash-fails the gate. Sharding
  // cuts the gate's durable-write cost 3× without weakening the
  // equivalence property (claims shard by their POLICY key, so the
  // join algebra is exactly the full mart's on the sharded tables; the
  // full-feed durable cost is recorded in SCALE.md r16–r18 and
  // BENCH_IVM_SOAK_r18.log). At sf0.1 the gate is job-count bound, not
  // volume bound — the shard mainly protects the gate's cost at larger
  // scales.
  register("q228_compacted_state_mart", oPolicyPerfIvmSqlWhere(
    "WHERE CAST(policy_id[2:] AS BIGINT) % 3 = 0",
    "WHERE TRY_CAST(policy_id[2:] AS BIGINT) % 3 = 0")) { (s, d) =>
    val (pols, cls, _) = sharedCdcDeltas(s, d)
    val shard = expr("try_cast(substring(policy_id, 2) AS BIGINT) % 3 = 0")
    val deltas = pols.zip(cls).map { case (p, c) =>
      (IncrementalGold.narrowPpPol(p).filter(shard),
        IncrementalGold.narrowPpCl(c).filter(shard)) }
    val stateDir =
      java.nio.file.Files.createTempDirectory("q228_state").toString
    graft.util.TmpReaper.track(stateDir)
    graft.streaming.GoldMaintenanceStream
      .compactedPerfMart(s, deltas, stateDir)
  }

  // ---- shared, materialized CDC signed deltas (r16 verdict task 1).
  // The four IVM gates (q218/q221/q223/q224) replay the SAME CDC feed;
  // each previously re-derived the silver→image→union→signedDelta
  // chain per gate (and checkpointed its own narrow copy) — 72.9 s =
  // 31% of the r16 bench, 4× the production cost by construction. One
  // memoized build per (session, dir) materializes each batch's signed
  // delta ONCE, projected to the UNION of the columns any maintainer
  // reads (still IVM column pruning — 12/14/5 columns, not full silver
  // width); every gate's narrow projection is then an in-memory scan
  // of the shared checkpoint. Same trick as the silver cache above,
  // one level up the shared-subtree. Values are unchanged: both paths
  // compute the identical frames, only the number of times Spark
  // computes them drops.
  private[graft] val PolDeltaCols = Seq("policy_id", "customer_id",
    "policy_type", "start_date", "premium_amount", "coverage_amount",
    "status", "missing_customer_id_flag", "invalid_premium_amount_flag",
    "invalid_coverage_amount_flag", "invalid_date_range_flag", "__sign")
  private[graft] val ClDeltaCols = Seq("claim_id", "policy_id", "claim_type",
    "severity", "status", "adjuster_id", "claim_date", "claim_amount",
    "settled_amount", "fraud_indicator", "missing_policy_flag",
    "settlement_ratio", "reporting_delay_days", "__sign")
  private[graft] val CustDeltaCols = Seq("customer_id", "age", "state",
    "invalid_email_flag", "__sign")

  private val cdcDeltaMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (Seq[DataFrame], Seq[DataFrame], Seq[DataFrame])]()

  /** Drop the shared CDC delta memo. Bench calls this next to its
    * per-rep `clearCache()`: localCheckpoint blocks are NOT SQL-cache
    * entries, so without the reset reps 2+ would read rep 1's state
    * back and min-of-reps would measure a cache hit, not the engine.
    * (The stale checkpoint blocks are reclaimed by the ContextCleaner
    * once the dropped frames are GC'd.) */
  private[graft] def resetCdcDeltaMemoForBench(): Unit =
    cdcDeltaMemo.clear()

  /** (policy, claim, customer) signed deltas of the four aligned CDC
    * batches, each materialized once per session and shared by all
    * four IVM gates. */
  private[engine] def sharedCdcDeltas(s: SparkSession, d: String)
      : (Seq[DataFrame], Seq[DataFrame], Seq[DataFrame]) =
    cdcDeltaMemo.computeIfAbsent((s, d), _ => {
      val pc = cdcBatches(s, d)
      val cu = cdcCustomerBatches(s, d)
      // serial checkpoint builds: concurrent submission of the 12 jobs
      // was MEASURED SLOWER at sf0.1 (gates 59.1 s vs 48.9, ambient ~0
      // both runs) — each job saturates local[32] on the cached silver
      // scan, so overlap only adds scheduler contention
      // NOTE (r19, measured negative): REBALANCE-ing each delta to
      // advisory-sized blocks before the checkpoint cut downstream
      // task counts ~2× (the cpus-proportional ~50 KB blocks looked
      // like guide-§2 waste) but collapsed the parallelism of the
      // compute-heavy trilinear consumers to the 1-partition block
      // (q237 12.1 → 17.6 s, q238 2.5 → 4.7 s at 32c). The block
      // layout stays scan-split-sized: those consumers are CPU-bound,
      // not scheduling-bound.
      def mat(df: DataFrame, cols: Seq[String]): DataFrame =
        IncrementalGold.signedDelta(df).select(cols.map(col): _*)
          .localCheckpoint(true)
      (pc.map(b => mat(b._1, PolDeltaCols)),
        pc.map(b => mat(b._2, ClDeltaCols)),
        cu.map(mat(_, CustDeltaCols)))
    })

  /** The replay driver of the IVM gates (q218/q221/q223/q224): state-
    * at-batch-i is ONE k-way [[IncrementalGold.fold]] view over the
    * accumulated per-batch partials, so every consumer pays a single
    * fold instead of an i-level nested state ⊕ Δ cascade (the fold's
    * scaladoc records the measured plan effect). `stepParts` maps the
    * state views before batch i to batch i's delta frames. Returns the
    * final per-table views. */
  private def replayFold(nBatches: Int,
      initParts: => Map[String, DataFrame],
      stepParts: (Map[String, DataFrame], Int) => Map[String, DataFrame],
      specs: Map[String, IncrementalGold.MergeSpec])
      : Map[String, DataFrame] = {
    var parts: Map[String, Vector[DataFrame]] =
      initParts.map { case (t, f) => t -> Vector(f) }
    def views: Map[String, DataFrame] = parts.map { case (t, fs) =>
      t -> IncrementalGold.fold(fs, specs(t))
    }
    (1 until nBatches).foreach { i =>
      val d = stepParts(views, i)
      parts = parts.map { case (t, fs) => t -> (fs :+ d(t)) }
    }
    views
  }

  /** Fold all four q218 CDC batches into the policy-performance state
    * (same feed, second maintained mart). */
  private[engine] def cdcPolicyPerfState(s: SparkSession, d: String)
      : IncrementalGold.PolicyPerfState = {
    val (pols, cls, _) = sharedCdcDeltas(s, d)
    val deltas = pols.zip(cls).map { case (p, c) =>
      (IncrementalGold.narrowPpPol(p), IncrementalGold.narrowPpCl(c)) }
    IncrementalGold.PolicyPerfState.of(replayFold(deltas.size,
      IncrementalGold.initPolicyPerf(deltas.head._1, deltas.head._2).tables,
      (v, i) => { val (p, c) = deltas(i)
        IncrementalGold.policyPerfDeltaFrames(
          IncrementalGold.PolicyPerfState.of(v), p, c) },
      IncrementalGold.PerfSpecs))
  }

  /** Fold all four q218 CDC batches into maintained state. The CDC feed
    * carries FULL row images (the contract); the maintainer immediately
    * projects each signed delta to the columns the view reads — the
    * standard IVM column-pruning step — and materializes the NARROW
    * frame once (localCheckpoint), because three partial aggregations
    * read every delta and would otherwise each re-derive the
    * silver→image→union chain (the shared-subtree trap). Materializing
    * the full-width images instead was measured SLOWER than the
    * recomputes they saved (17.2 vs 13.5 s at sf0.1); the narrow
    * projection is what makes the checkpoint pay. */
  private[engine] def cdcMaintainedState(s: SparkSession, d: String)
      : IncrementalGold.ExecState = {
    val (pols, cls, _) = sharedCdcDeltas(s, d)
    val deltas = pols.zip(cls).map { case (p, c) =>
      (IncrementalGold.narrowPolDelta(p),
        IncrementalGold.narrowClDelta(c)) }
    // lazy fold: the gate replays all four batches inside ONE query, so
    // per-batch checkpoint jobs are pure overhead here (measured 15–17 s
    // vs ~5 s; values identical). Production applies one batch per run
    // and persists the state as a version write.
    IncrementalGold.ExecState.of(replayFold(deltas.size,
      IncrementalGold.init(deltas.head._1, deltas.head._2).tables,
      (_, i) => IncrementalGold.execDeltaFrames(deltas(i)._1, deltas(i)._2),
      IncrementalGold.ExecSpecs))
  }

  // ================== customer-360 IVM gate (q223, r15 verdict task 1)
  // Third maintained mart: the customer dimension itself churns (age/
  // state attribute updates, email-validity filter flips, delete-then-
  // resurrect) while policies and claims replay the SAME four q218
  // batches. Oracle = q46's mart (maintained column subset) over
  // final_customers/final_policies/final_claims CTEs replaying the net
  // mutation algebra. MIN(start_date) is maintained through the
  // (customer, start_date) multiplicity table — the delete-safe remedy
  // — so the mart keeps a non-homomorphic aggregate without rescans.
  register("q223_incremental_customer_360",
    s"""WITH $oRawCustomers,
       |$oCustomersSilver,
       |$oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |cu_keyed AS (
       |  SELECT customer_id, age, state, invalid_email_flag,
       |    CAST(customer_id[2:] AS BIGINT) AS uk
       |  FROM customers_silver),
       |final_customers AS (
       |  SELECT customer_id,
       |    CASE WHEN uk % 14 = 2 THEN 30
       |         WHEN uk % 5 = 1 THEN age + 10
       |         ELSE age END AS age,
       |    CASE WHEN uk % 14 = 2 THEN 'ZZ'
       |         WHEN uk % 9 = 5 AND uk % 7 <> 2 THEN 'XX'
       |         ELSE state END AS state,
       |    CASE WHEN uk % 14 = 2 THEN 0
       |         WHEN uk % 6 = 3 AND uk % 7 <> 2 THEN 1
       |         ELSE invalid_email_flag END AS invalid_email_flag
       |  FROM cu_keyed
       |  WHERE uk % 7 <> 2 OR uk % 14 = 2),
       |pol_keyed AS (
       |  SELECT policy_id, customer_id, start_date, premium_amount, status,
       |    missing_customer_id_flag, CAST(policy_id[2:] AS BIGINT) AS pk
       |  FROM policies_silver),
       |final_policies AS (
       |  SELECT policy_id, customer_id, start_date, status,
       |    missing_customer_id_flag, new_premium AS premium_amount,
       |    CASE WHEN new_premium IS NULL OR new_premium < 0 THEN 1 ELSE 0 END
       |      AS invalid_premium_amount_flag
       |  FROM (SELECT *,
       |      CASE WHEN pk % 14 = 0 THEN CAST(555.0 AS DECIMAL(18,2))
       |           WHEN pk % 5 = 0 THEN CAST(premium_amount + 100 AS DECIMAL(18,2))
       |           ELSE premium_amount END AS new_premium
       |    FROM pol_keyed)
       |  WHERE pk % 7 <> 0 OR pk % 14 = 0),
       |cl_keyed AS (
       |  SELECT claim_id, policy_id, claim_amount, settled_amount,
       |    fraud_indicator, missing_policy_flag,
       |    CAST(claim_id[3:] AS BIGINT) AS ck
       |  FROM claims_silver),
       |final_claims AS (
       |  SELECT claim_id, policy_id, claim_amount,
       |    CASE WHEN ck % 6 = 0 THEN settled_amount + 50
       |         ELSE settled_amount END AS settled_amount,
       |    fraud_indicator, missing_policy_flag
       |  FROM cl_keyed WHERE ck % 9 <> 0),
       |customer_base AS (
       |  SELECT customer_id, age, state FROM final_customers
       |  WHERE invalid_email_flag = 0),
       |policy_metrics AS (
       |  SELECT customer_id,
       |    COUNT(DISTINCT policy_id) AS total_policies,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_annual_premium,
       |    min(start_date) AS first_policy_date,
       |    COUNT(CASE WHEN status = 'ACTIVE' THEN 1 END) AS active_policies,
       |    COUNT(CASE WHEN status = 'CANCELLED' THEN 1 END) AS cancelled_policies
       |  FROM final_policies
       |  WHERE missing_customer_id_flag = 0 AND invalid_premium_amount_flag = 0
       |  GROUP BY customer_id),
       |claims_metrics AS (
       |  SELECT p.customer_id,
       |    COUNT(DISTINCT cl.claim_id) AS total_claims,
       |    CAST(SUM(CAST(cl.claim_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_claimed,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_claims
       |  FROM final_claims cl JOIN final_policies p ON cl.policy_id = p.policy_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY p.customer_id)
       |SELECT cb.customer_id, cb.age,
       |  CASE WHEN cb.age < 25 THEN 'Gen Z' WHEN cb.age < 35 THEN 'Millennial'
       |       WHEN cb.age < 55 THEN 'Gen X' ELSE 'Boomer+' END AS generation_segment,
       |  cb.state,
       |  COALESCE(pm.total_policies, 0) AS total_policies,
       |  COALESCE(pm.total_annual_premium, 0) AS total_annual_premium,
       |  COALESCE(pm.active_policies, 0) AS active_policies,
       |  COALESCE(pm.cancelled_policies, 0) AS cancelled_policies,
       |  pm.first_policy_date,
       |  COALESCE(cm.total_claims, 0) AS total_claims,
       |  COALESCE(cm.total_claimed, 0) AS total_claimed,
       |  COALESCE(cm.total_settled, 0) AS total_settled,
       |  COALESCE(cm.potential_fraud_claims, 0) AS potential_fraud_claims,
       |  COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) AS customer_lifetime_profit,
       |  CASE WHEN COALESCE(pm.total_annual_premium, 0) = 0 THEN 0
       |       ELSE COALESCE(cm.total_settled, 0) / pm.total_annual_premium END AS loss_ratio,
       |  CASE WHEN COALESCE(pm.total_policies, 0) = 0 THEN 0
       |       ELSE CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / pm.total_policies END AS claims_frequency,
       |  CASE WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 10000 THEN 'High Value'
       |       WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 5000 THEN 'Medium Value'
       |       WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 0 THEN 'Low Value'
       |       ELSE 'Loss Making' END AS customer_value_segment,
       |  CASE WHEN COALESCE(cm.total_claims, 0) = 0 THEN 'No Claims'
       |       WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.1 THEN 'Low Risk'
       |       WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.3 THEN 'Medium Risk'
       |       ELSE 'High Risk' END AS risk_tier,
       |  CASE WHEN COALESCE(cm.potential_fraud_claims, 0) > 0 THEN 1 ELSE 0 END AS fraud_flag
       |FROM customer_base cb
       |LEFT JOIN policy_metrics pm ON cb.customer_id = pm.customer_id
       |LEFT JOIN claims_metrics cm ON cb.customer_id = cm.customer_id""".stripMargin) {
    (s, d) => IncrementalGold.customer360Mart(cdcCustomer360State(s, d))
  }

  /** q46's derived tail over the maintained column subset — shared
    * verbatim with [[IncrementalGold.customer360Mart]] so the
    * delta-maintained mart and the full refresh differ only in where
    * the part frames come from. `cd` = (customer_id, age, state);
    * `pm` = (customer_id, total_policies, total_annual_premium[double],
    * active_policies, cancelled_policies, first_policy_date);
    * `cm` = (customer_id, total_claims, total_claimed[double],
    * total_settled[double], potential_fraud_claims). */
  private[engine] def customer360FromParts(cd: DataFrame, pm: DataFrame,
      cm: DataFrame): DataFrame = {
    def z(c: Column): Column = coalesce(c, lit(0))
    val profit = z(col("total_annual_premium")) - z(col("total_settled"))
    cd.join(pm, Seq("customer_id"), "left")
      .join(cm, Seq("customer_id"), "left")
      .select(col("customer_id"), col("age"),
        when(col("age") < 25, "Gen Z").when(col("age") < 35, "Millennial")
          .when(col("age") < 55, "Gen X").otherwise("Boomer+")
          .as("generation_segment"),
        col("state"),
        z(col("total_policies")).as("total_policies"),
        z(col("total_annual_premium")).as("total_annual_premium"),
        z(col("active_policies")).as("active_policies"),
        z(col("cancelled_policies")).as("cancelled_policies"),
        col("first_policy_date"),
        z(col("total_claims")).as("total_claims"),
        z(col("total_claimed")).as("total_claimed"),
        z(col("total_settled")).as("total_settled"),
        z(col("potential_fraud_claims")).as("potential_fraud_claims"),
        profit.as("customer_lifetime_profit"),
        when(z(col("total_annual_premium")) === 0, 0)
          .otherwise(z(col("total_settled")) / col("total_annual_premium"))
          .as("loss_ratio"),
        when(z(col("total_policies")) === 0, 0)
          .otherwise(z(col("total_claims")).cast(DoubleType)
            / col("total_policies")).as("claims_frequency"),
        when(profit > 10000, "High Value").when(profit > 5000, "Medium Value")
          .when(profit > 0, "Low Value").otherwise("Loss Making")
          .as("customer_value_segment"),
        when(z(col("total_claims")) === 0, "No Claims")
          .when(z(col("total_claims")).cast(DoubleType)
            / coalesce(col("total_policies"), lit(1)) < 0.1, "Low Risk")
          .when(z(col("total_claims")).cast(DoubleType)
            / coalesce(col("total_policies"), lit(1)) < 0.3, "Medium Risk")
          .otherwise("High Risk").as("risk_tier"),
        when(z(col("potential_fraud_claims")) > 0, 1).otherwise(0)
          .as("fraud_flag"))
  }

  /** Customer CDC batches aligned with [[cdcBatches]]'s four-step
    * lifecycle, exercising the dimension-churn cases the customer-360
    * maintainer must get right:
    *
    *   b1  initial load minus the held-out uk%10==6 slice
    *   b2  late INSERT of the slice + UPDATE age+10 on uk%5==1
    *       (attribute move → generation-segment transitions; note
    *       uk%10==6 ⊂ uk%5==1, so held-out rows are inserted AND
    *       updated within one batch)
    *   b3  DELETE uk%7==2 + UPDATE email→invalid on uk%6==3 (filter
    *       flip: the customer leaves the mart, policies unchanged)
    *   b4  re-INSERT uk%14==2 with age 30 / state ZZ / valid email
    *       (delete-then-resurrect) + UPDATE state→XX on uk%9==5
    *       (slices exclude rows deleted in b3)
    */
  private[graft] def cdcCustomerBatches(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val cu = customersSilver(s, d)
    val cols = cu.columns.toSeq
    val nullC = lit(null).cast(cu.schema)
    def img(age: Column, state: Column, email: Column): Column =
      struct(cols.map {
        case "age" => age.as("age")
        case "state" => state.as("state")
        case "email" => email.as("email")
        case "invalid_email_flag" =>
          when(email.isNull || !email.rlike(emailRe), 1).otherwise(0)
            .as("invalid_email_flag")
        case c => col(c)
      }: _*)
    def ins(rows: DataFrame, i: Column): DataFrame =
      rows.select(lit("I").as("op"), nullC.as("before"), i.as("after"))
    def del(rows: DataFrame, i: Column): DataFrame =
      rows.select(lit("D").as("op"), i.as("before"), nullC.as("after"))
    def upd(rows: DataFrame, b: Column, a: Column): DataFrame =
      rows.select(lit("U").as("op"), b.as("before"), a.as("after"))

    // try_cast for the same pushdown reason as cdcBatches' __pk/__ck
    val cb = cu.withColumn("__uk",
      expr("try_cast(substring(customer_id, 2) AS BIGINT)"))
    val baseAge = col("age")
    val baseState = col("state")
    val baseEmail = col("email")
    // row state entering batch 3 (batch-2 age bump applied)
    val age2 = when(col("__uk") % 5 === 1, baseAge + 10).otherwise(baseAge)
    // row state entering batch 4 (batch-3 email poison applied)
    val email3 = when(col("__uk") % 6 === 3 && col("__uk") % 7 =!= 2,
      lit("not-an-email")).otherwise(baseEmail)

    Seq(
      ins(cb.filter(col("__uk") % 10 =!= 6),
        img(baseAge, baseState, baseEmail)),
      ins(cb.filter(col("__uk") % 10 === 6),
        img(baseAge, baseState, baseEmail))
        .unionByName(upd(cb.filter(col("__uk") % 5 === 1),
          img(baseAge, baseState, baseEmail),
          img(baseAge + 10, baseState, baseEmail))),
      del(cb.filter(col("__uk") % 7 === 2),
        img(age2, baseState, baseEmail))
        .unionByName(upd(
          cb.filter(col("__uk") % 6 === 3 && col("__uk") % 7 =!= 2),
          img(age2, baseState, baseEmail),
          img(age2, baseState, lit("not-an-email")))),
      ins(cb.filter(col("__uk") % 14 === 2),
        img(lit(30), lit("ZZ"), lit("resurrected@example.com")))
        .unionByName(upd(
          cb.filter(col("__uk") % 9 === 5 && col("__uk") % 7 =!= 2),
          img(age2, baseState, email3),
          img(age2, lit("XX"), email3))))
  }

  /** Fold the four aligned CDC batch triples (customers from
    * [[cdcCustomerBatches]], policies/claims from [[cdcBatches]]) into
    * the customer-360 state (lazy fold per the q218 rationale). */
  private[engine] def cdcCustomer360State(s: SparkSession, d: String)
      : IncrementalGold.Customer360State = {
    val (pols, cls, cus) = sharedCdcDeltas(s, d)
    // the shared deltas are already checkpointed; the per-gate narrow
    // projections below are in-memory scans of those blocks, so the
    // multiple aggregate/trilinear consumers never re-derive the
    // silver->image chain (the q218 shared-subtree lesson)
    val deltas = cus.zip(pols.zip(cls)).map { case (c, (p, cl)) =>
      (IncrementalGold.narrowC360Cust(c),
        IncrementalGold.narrowC360Pol(p),
        IncrementalGold.narrowC360Cl(cl)) }
    val (c0, p0, cl0) = deltas.head
    IncrementalGold.Customer360State.of(replayFold(deltas.size,
      IncrementalGold.initCustomer360(c0, p0, cl0).tables,
      (v, i) => { val (c, p, cl) = deltas(i)
        IncrementalGold.customer360DeltaFrames(
          IncrementalGold.Customer360State.of(v), c, p, cl) },
      IncrementalGold.C360Specs))
  }

  // ================== claims-operations IVM gate (q224): the TRILINEAR
  // case — claims ⋈ policies ⋈ customers on an 8-key grain drawn from
  // all three tables, maintained by Δ(CL⊗P⊗C) with every term a
  // Δ-sized probe ([[IncrementalGold.applyClaimsOpsDelta]]). The same
  // four aligned batch triples as q223; oracle = q47's mart (maintained
  // column subset incl. the sum/count-reassembled averages and the
  // fully tie-broken MoM lag) over the final-state CTEs.
  register("q224_incremental_claims_ops",
    s"""WITH $oRawCustomers,
       |$oCustomersSilver,
       |$oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |cu_keyed AS (
       |  SELECT customer_id, age, state,
       |    CAST(customer_id[2:] AS BIGINT) AS uk
       |  FROM customers_silver),
       |final_customers AS (
       |  SELECT customer_id,
       |    CASE WHEN uk % 14 = 2 THEN 30
       |         WHEN uk % 5 = 1 THEN age + 10
       |         ELSE age END AS age,
       |    CASE WHEN uk % 14 = 2 THEN 'ZZ'
       |         WHEN uk % 9 = 5 AND uk % 7 <> 2 THEN 'XX'
       |         ELSE state END AS state
       |  FROM cu_keyed
       |  WHERE uk % 7 <> 2 OR uk % 14 = 2),
       |pol_keyed AS (
       |  SELECT policy_id, customer_id, policy_type,
       |    CAST(policy_id[2:] AS BIGINT) AS pk
       |  FROM policies_silver),
       |final_policies AS (
       |  SELECT policy_id, customer_id, policy_type
       |  FROM pol_keyed WHERE pk % 7 <> 0 OR pk % 14 = 0),
       |cl_keyed AS (
       |  SELECT claim_id, policy_id, claim_type, severity, status,
       |    adjuster_id, claim_date, claim_amount, settled_amount,
       |    fraud_indicator, missing_policy_flag, reporting_delay_days,
       |    CAST(claim_id[3:] AS BIGINT) AS ck
       |  FROM claims_silver),
       |final_claims AS (
       |  SELECT claim_id, policy_id, claim_type, severity, status,
       |    adjuster_id, claim_date, claim_amount, new_settled AS settled_amount,
       |    fraud_indicator, missing_policy_flag, reporting_delay_days,
       |    CASE WHEN claim_amount > 0
       |         THEN ROUND(new_settled / claim_amount, 3) + 0 END AS settlement_ratio
       |  FROM (SELECT *,
       |      CASE WHEN ck % 6 = 0 THEN settled_amount + 50
       |           ELSE settled_amount END AS new_settled
       |    FROM cl_keyed)
       |  WHERE ck % 9 <> 0),
       |claims_base AS (
       |  SELECT cl.claim_type, cl.severity, cl.status, cl.adjuster_id,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE) AS claim_month,
       |    p.policy_type, c.state AS customer_state, c.age AS customer_age,
       |    COUNT(*) AS claim_count,
       |    CAST(SUM(CAST(cl.claim_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_claim_amount,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled_amount,
       |    CASE WHEN COUNT(cl.reporting_delay_days) = 0 THEN NULL
       |         ELSE CAST(SUM(cl.reporting_delay_days) AS DOUBLE)
       |              / COUNT(cl.reporting_delay_days) END AS avg_reporting_delay,
       |    CASE WHEN COUNT(cl.settlement_ratio) = 0 THEN NULL
       |         ELSE CAST(SUM(CAST(cl.settlement_ratio AS DECIMAL(18,4))) AS DOUBLE)
       |              / COUNT(cl.settlement_ratio) END AS avg_settlement_ratio,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_cases
       |  FROM final_claims cl
       |  JOIN final_policies p ON cl.policy_id = p.policy_id
       |  JOIN final_customers c ON p.customer_id = c.customer_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY cl.claim_type, cl.severity, cl.status, cl.adjuster_id,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE), p.policy_type,
       |    c.state, c.age),
       |adjuster_performance AS (
       |  SELECT adjuster_id,
       |    COUNT(*) AS adjuster_total_claims,
       |    CASE WHEN COUNT(settlement_ratio) = 0 THEN NULL
       |         ELSE CAST(SUM(CAST(settlement_ratio AS DECIMAL(18,4))) AS DOUBLE)
       |              / COUNT(settlement_ratio) END AS adjuster_avg_settlement_ratio,
       |    CASE WHEN COUNT(reporting_delay_days) = 0 THEN NULL
       |         ELSE CAST(SUM(reporting_delay_days) AS DOUBLE)
       |              / COUNT(reporting_delay_days) END AS adjuster_avg_processing_time,
       |    COUNT(CASE WHEN fraud_indicator = 1 THEN 1 END) AS adjuster_fraud_detected
       |  FROM final_claims WHERE adjuster_id IS NOT NULL
       |  GROUP BY adjuster_id)
       |SELECT cb.claim_type, cb.severity, cb.status, cb.adjuster_id,
       |  cb.claim_month, cb.policy_type, cb.customer_state, cb.customer_age,
       |  cb.claim_count, cb.total_claim_amount, cb.total_settled_amount,
       |  cb.avg_reporting_delay, cb.avg_settlement_ratio,
       |  cb.potential_fraud_cases,
       |  CASE WHEN cb.claim_count > 0
       |       THEN CAST(cb.potential_fraud_cases AS DOUBLE) / cb.claim_count
       |       ELSE 0 END AS fraud_rate,
       |  ap.adjuster_total_claims,
       |  ap.adjuster_avg_settlement_ratio,
       |  ap.adjuster_avg_processing_time,
       |  ap.adjuster_fraud_detected,
       |  CASE WHEN ap.adjuster_avg_settlement_ratio >= 0.9 AND ap.adjuster_avg_processing_time <= 7 THEN 'High Performer'
       |       WHEN ap.adjuster_avg_settlement_ratio >= 0.8 AND ap.adjuster_avg_processing_time <= 14 THEN 'Good Performer'
       |       WHEN ap.adjuster_avg_settlement_ratio >= 0.7 AND ap.adjuster_avg_processing_time <= 21 THEN 'Average Performer'
       |       ELSE 'Needs Improvement' END AS adjuster_performance_tier,
       |  CASE WHEN cb.customer_state IN ('FL', 'TX', 'CA') THEN 'High Risk State'
       |       WHEN cb.customer_state IN ('NY', 'NJ', 'CT') THEN 'Medium Risk State'
       |       ELSE 'Low Risk State' END AS state_risk_category,
       |  CASE WHEN cb.customer_age < 25 THEN 'Young Driver'
       |       WHEN cb.customer_age BETWEEN 25 AND 65 THEN 'Mature Driver'
       |       ELSE 'Senior Driver' END AS customer_age_category,
       |  LAG(cb.claim_count, 1) OVER (PARTITION BY cb.claim_type
       |    ORDER BY cb.claim_month, cb.severity, cb.status,
       |      cb.adjuster_id NULLS FIRST, cb.policy_type, cb.customer_state,
       |      cb.customer_age) AS prev_claims
       |FROM claims_base cb
       |LEFT JOIN adjuster_performance ap ON cb.adjuster_id = ap.adjuster_id""".stripMargin) {
    (s, d) => IncrementalGold.claimsOpsMart(cdcClaimsOpsState(s, d))
  }

  /** q47's derived tail over the maintained column subset — shared
    * verbatim with [[IncrementalGold.claimsOpsMart]]. `att` = the 8-key
    * rows with counts/sums/averages; `adj` = the per-adjuster rollup. */
  private[engine] def claimsOpsFromParts(att: DataFrame,
      adj: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("claim_type"))
      .orderBy(col("claim_month"), col("severity"), col("status"),
        col("adjuster_id").asc_nulls_first, col("policy_type"),
        col("customer_state"), col("customer_age"))
    att.join(adj, Seq("adjuster_id"), "left")
      .select(col("claim_type"), col("severity"), col("status"),
        col("adjuster_id"), col("claim_month"), col("policy_type"),
        col("customer_state"), col("customer_age"),
        col("claim_count"), col("total_claim_amount"),
        col("total_settled_amount"), col("avg_reporting_delay"),
        col("avg_settlement_ratio"), col("potential_fraud_cases"),
        when(col("claim_count") > 0,
          col("potential_fraud_cases").cast(DoubleType) / col("claim_count"))
          .otherwise(0).as("fraud_rate"),
        col("adjuster_total_claims"),
        col("adjuster_avg_settlement_ratio"),
        col("adjuster_avg_processing_time"),
        col("adjuster_fraud_detected"),
        when(col("adjuster_avg_settlement_ratio") >= 0.9 &&
          col("adjuster_avg_processing_time") <= 7, "High Performer")
          .when(col("adjuster_avg_settlement_ratio") >= 0.8 &&
            col("adjuster_avg_processing_time") <= 14, "Good Performer")
          .when(col("adjuster_avg_settlement_ratio") >= 0.7 &&
            col("adjuster_avg_processing_time") <= 21, "Average Performer")
          .otherwise("Needs Improvement").as("adjuster_performance_tier"),
        when(col("customer_state").isin("FL", "TX", "CA"), "High Risk State")
          .when(col("customer_state").isin("NY", "NJ", "CT"),
            "Medium Risk State")
          .otherwise("Low Risk State").as("state_risk_category"),
        when(col("customer_age") < 25, "Young Driver")
          .when(col("customer_age").between(25, 65), "Mature Driver")
          .otherwise("Senior Driver").as("customer_age_category"),
        lag(col("claim_count"), 1).over(w).as("prev_claims"))
  }

  /** Fold the four aligned CDC batch triples into the claims-operations
    * state. Measured at sf0.1 (min-of-3, ambient ~0): checkpointing the
    * NARROW deltas + lazy state fold = 21.9 s; lazy everything = 45.0
    * (the trilinear terms re-derive the silver->image chain per
    * consumer); eager state checkpoints = 32.8-39.3 (12 extra
    * state-table jobs dominate). Delta-checkpoint + lazy state wins —
    * the deltas are the shared subtrees, the state frames are not. */
  private[engine] def cdcClaimsOpsState(s: SparkSession, d: String)
      : IncrementalGold.ClaimsOpsState = {
    val (pols, cls, cus) = sharedCdcDeltas(s, d)
    // same shared-checkpoint rationale as cdcCustomer360State
    val deltas = cus.zip(pols.zip(cls)).map { case (c, (p, cl)) =>
      (IncrementalGold.narrowCoCust(c),
        IncrementalGold.narrowCoPol(p),
        IncrementalGold.narrowCoCl(cl)) }
    val (c0, p0, cl0) = deltas.head
    IncrementalGold.ClaimsOpsState.of(replayFold(deltas.size,
      IncrementalGold.initClaimsOps(c0, p0, cl0).tables,
      (v, i) => { val (c, p, cl) = deltas(i)
        IncrementalGold.claimsOpsDeltaFrames(
          IncrementalGold.ClaimsOpsState.of(v), c, p, cl) },
      IncrementalGold.OpsSpecs))
  }

  // customer-360 mart: 3 aggregate CTEs + 2 left joins + segmentation
  // ladders, deterministic aggregation
  register("q46_gold_customer_360",
    s"""WITH $oRawCustomers,
       |$oCustomersSilver,
       |$oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |customer_base AS (
       |  SELECT customer_id, full_name, age, annual_income, credit_score,
       |    state, occupation
       |  FROM customers_silver WHERE invalid_email_flag = 0),
       |policy_metrics AS (
       |  SELECT customer_id,
       |    COUNT(DISTINCT policy_id) AS total_policies,
       |    CAST(SUM(CAST(premium_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_annual_premium,
       |    CAST(SUM(CAST(coverage_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_coverage,
       |    min(start_date) AS first_policy_date,
       |    max(end_date) AS latest_policy_end,
       |    COUNT(CASE WHEN status = 'ACTIVE' THEN 1 END) AS active_policies,
       |    COUNT(CASE WHEN status = 'CANCELLED' THEN 1 END) AS cancelled_policies
       |  FROM policies_silver
       |  WHERE missing_customer_id_flag = 0 AND invalid_premium_amount_flag = 0
       |  GROUP BY customer_id),
       |claims_metrics AS (
       |  SELECT p.customer_id,
       |    COUNT(DISTINCT cl.claim_id) AS total_claims,
       |    CAST(SUM(CAST(cl.claim_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_claimed,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_claims,
       |    min(cl.claim_date) AS first_claim_date,
       |    max(cl.claim_date) AS latest_claim_date
       |  FROM claims_silver cl
       |  JOIN policies_silver p ON cl.policy_id = p.policy_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY p.customer_id)
       |SELECT cb.customer_id, cb.full_name, cb.age,
       |  CASE WHEN cb.age < 25 THEN 'Gen Z' WHEN cb.age < 35 THEN 'Millennial'
       |       WHEN cb.age < 55 THEN 'Gen X' ELSE 'Boomer+' END AS generation_segment,
       |  CAST(cb.annual_income AS DOUBLE) AS annual_income,
       |  cb.credit_score, cb.state, cb.occupation,
       |  COALESCE(pm.total_policies, 0) AS total_policies,
       |  COALESCE(pm.total_annual_premium, 0) AS total_annual_premium,
       |  COALESCE(pm.total_coverage, 0) AS total_coverage,
       |  COALESCE(pm.active_policies, 0) AS active_policies,
       |  COALESCE(pm.cancelled_policies, 0) AS cancelled_policies,
       |  pm.first_policy_date, pm.latest_policy_end,
       |  COALESCE(cm.total_claims, 0) AS total_claims,
       |  COALESCE(cm.total_claimed, 0) AS total_claimed,
       |  COALESCE(cm.total_settled, 0) AS total_settled,
       |  COALESCE(cm.potential_fraud_claims, 0) AS potential_fraud_claims,
       |  cm.first_claim_date, cm.latest_claim_date,
       |  COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) AS customer_lifetime_profit,
       |  CASE WHEN COALESCE(pm.total_annual_premium, 0) = 0 THEN 0
       |       ELSE COALESCE(cm.total_settled, 0) / pm.total_annual_premium END AS loss_ratio,
       |  CASE WHEN COALESCE(pm.total_policies, 0) = 0 THEN 0
       |       ELSE CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / pm.total_policies END AS claims_frequency,
       |  CASE WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 10000 THEN 'High Value'
       |       WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 5000 THEN 'Medium Value'
       |       WHEN COALESCE(pm.total_annual_premium, 0) - COALESCE(cm.total_settled, 0) > 0 THEN 'Low Value'
       |       ELSE 'Loss Making' END AS customer_value_segment,
       |  CASE WHEN COALESCE(cm.total_claims, 0) = 0 THEN 'No Claims'
       |       WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.1 THEN 'Low Risk'
       |       WHEN CAST(COALESCE(cm.total_claims, 0) AS DOUBLE) / COALESCE(pm.total_policies, 1) < 0.3 THEN 'Medium Risk'
       |       ELSE 'High Risk' END AS risk_tier,
       |  CASE WHEN pm.latest_policy_end < $oToday THEN 1 ELSE 0 END AS churned_flag,
       |  CASE WHEN COALESCE(cm.potential_fraud_claims, 0) > 0 THEN 1 ELSE 0 END AS fraud_flag,
       |  $oToday AS report_date
       |FROM customer_base cb
       |LEFT JOIN policy_metrics pm ON cb.customer_id = pm.customer_id
       |LEFT JOIN claims_metrics cm ON cb.customer_id = cm.customer_id""".stripMargin) { (s, d) =>
    import graft.ops.RelationalOps.dsum
    val customers = customersSilver(s, d)
    val policies = policiesSilver(s, d)
    val claims = claimsSilver(s, d)
    def z(c: Column): Column = coalesce(c, lit(0))
    val customerBase = customers.filter(col("invalid_email_flag") === 0)
      .select("customer_id", "full_name", "age", "annual_income",
        "credit_score", "state", "occupation")
    val policyMetrics = policies
      .filter(col("missing_customer_id_flag") === 0 &&
        col("invalid_premium_amount_flag") === 0)
      .groupBy("customer_id")
      .agg(// unique-by-construction (silver dedup): COUNT(DISTINCT pk) == COUNT(pk),
        // so skip the distinct aggregation the oracle still spells out
        count(col("policy_id")).as("total_policies"),
        dsum(col("premium_amount")).as("total_annual_premium"),
        dsum(col("coverage_amount")).as("total_coverage"),
        min(col("start_date")).as("first_policy_date"),
        max(col("end_date")).as("latest_policy_end"),
        count(when(col("status") === "ACTIVE", 1)).as("active_policies"),
        count(when(col("status") === "CANCELLED", 1)).as("cancelled_policies"))
    val claimsMetrics = claims.alias("cl")
      .filter(col("missing_policy_flag") === 0)
      .join(policies.select("policy_id", "customer_id").alias("p"),
        Seq("policy_id"))
      .groupBy(col("p.customer_id").as("customer_id"))
      .agg(count(col("cl.claim_id")).as("total_claims"),
        dsum(col("cl.claim_amount")).as("total_claimed"),
        dsum(col("cl.settled_amount")).as("total_settled"),
        count(when(col("cl.fraud_indicator") === 1, 1)).as("potential_fraud_claims"),
        min(col("cl.claim_date")).as("first_claim_date"),
        max(col("cl.claim_date")).as("latest_claim_date"))
    val profit = z(col("total_annual_premium")) - z(col("total_settled"))
    customerBase
      .join(policyMetrics, Seq("customer_id"), "left")
      .join(claimsMetrics, Seq("customer_id"), "left")
      .select(col("customer_id"), col("full_name"), col("age"),
        when(col("age") < 25, "Gen Z").when(col("age") < 35, "Millennial")
          .when(col("age") < 55, "Gen X").otherwise("Boomer+")
          .as("generation_segment"),
        col("annual_income").cast(DoubleType).as("annual_income"),
        col("credit_score"), col("state"), col("occupation"),
        z(col("total_policies")).as("total_policies"),
        z(col("total_annual_premium")).as("total_annual_premium"),
        z(col("total_coverage")).as("total_coverage"),
        z(col("active_policies")).as("active_policies"),
        z(col("cancelled_policies")).as("cancelled_policies"),
        col("first_policy_date"), col("latest_policy_end"),
        z(col("total_claims")).as("total_claims"),
        z(col("total_claimed")).as("total_claimed"),
        z(col("total_settled")).as("total_settled"),
        z(col("potential_fraud_claims")).as("potential_fraud_claims"),
        col("first_claim_date"), col("latest_claim_date"),
        profit.as("customer_lifetime_profit"),
        when(z(col("total_annual_premium")) === 0, 0)
          .otherwise(z(col("total_settled")) / col("total_annual_premium"))
          .as("loss_ratio"),
        when(z(col("total_policies")) === 0, 0)
          .otherwise(z(col("total_claims")).cast(DoubleType) / col("total_policies"))
          .as("claims_frequency"),
        when(profit > 10000, "High Value").when(profit > 5000, "Medium Value")
          .when(profit > 0, "Low Value").otherwise("Loss Making")
          .as("customer_value_segment"),
        when(z(col("total_claims")) === 0, "No Claims")
          .when(z(col("total_claims")).cast(DoubleType)
            / coalesce(col("total_policies"), lit(1)) < 0.1, "Low Risk")
          .when(z(col("total_claims")).cast(DoubleType)
            / coalesce(col("total_policies"), lit(1)) < 0.3, "Medium Risk")
          .otherwise("High Risk").as("risk_tier"),
        when(col("latest_policy_end") < clock.today, 1).otherwise(0)
          .as("churned_flag"),
        when(z(col("potential_fraud_claims")) > 0, 1).otherwise(0)
          .as("fraud_flag"),
        clock.today.as("report_date"))
  }

  // claims-operations mart: 8-key grain (incl. expression key), adjuster
  // rollup left join, tier/geo/age ladders, MoM lag with a fully
  // tie-broken ordering (the reference's lag ties are nondeterministic;
  // the gate variant totally orders the frame)
  register("q47_gold_claims_operations",
    s"""WITH $oRawCustomers,
       |$oCustomersSilver,
       |$oRawPolicies,
       |$oPoliciesSilver,
       |$oRawClaims,
       |$oClaimsSilver,
       |claims_base AS (
       |  SELECT cl.claim_type, cl.severity, cl.status, cl.adjuster_id,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE) AS claim_month,
       |    p.policy_type, c.state AS customer_state, c.age AS customer_age,
       |    COUNT(*) AS claim_count,
       |    CAST(SUM(CAST(cl.claim_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_claim_amount,
       |    CAST(SUM(CAST(cl.settled_amount AS DECIMAL(18,4))) AS DOUBLE) AS total_settled_amount,
       |    CAST(SUM(cl.reporting_delay_days) AS DOUBLE) / COUNT(cl.reporting_delay_days) AS avg_reporting_delay,
       |    CAST(SUM(CAST(cl.settlement_ratio AS DECIMAL(18,4))) AS DOUBLE)
       |      / COUNT(cl.settlement_ratio) AS avg_settlement_ratio,
       |    COUNT(CASE WHEN cl.fraud_indicator = 1 THEN 1 END) AS potential_fraud_cases
       |  FROM claims_silver cl
       |  JOIN policies_silver p ON cl.policy_id = p.policy_id
       |  JOIN customers_silver c ON p.customer_id = c.customer_id
       |  WHERE cl.missing_policy_flag = 0
       |  GROUP BY cl.claim_type, cl.severity, cl.status, cl.adjuster_id,
       |    CAST(date_trunc('month', cl.claim_date) AS DATE), p.policy_type,
       |    c.state, c.age),
       |adjuster_performance AS (
       |  SELECT adjuster_id,
       |    COUNT(*) AS total_claims_handled,
       |    CAST(SUM(CAST(settlement_ratio AS DECIMAL(18,4))) AS DOUBLE)
       |      / COUNT(settlement_ratio) AS ap_avg_settlement_ratio,
       |    CAST(SUM(reporting_delay_days) AS DOUBLE)
       |      / COUNT(reporting_delay_days) AS avg_processing_time,
       |    CAST(SUM(CASE WHEN fraud_indicator = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fraud_cases_detected
       |  FROM claims_silver WHERE adjuster_id IS NOT NULL
       |  GROUP BY adjuster_id)
       |SELECT cb.claim_type, cb.severity, cb.status, cb.adjuster_id,
       |  cb.claim_month, cb.policy_type, cb.customer_state,
       |  cb.claim_count, cb.total_claim_amount, cb.total_settled_amount,
       |  cb.avg_reporting_delay, cb.avg_settlement_ratio,
       |  cb.potential_fraud_cases,
       |  CASE WHEN cb.claim_count > 0
       |       THEN CAST(cb.potential_fraud_cases AS DOUBLE) / cb.claim_count
       |       ELSE 0 END AS fraud_rate,
       |  ap.total_claims_handled AS adjuster_total_claims,
       |  ap.ap_avg_settlement_ratio AS adjuster_avg_settlement_ratio,
       |  ap.avg_processing_time AS adjuster_avg_processing_time,
       |  ap.fraud_cases_detected AS adjuster_fraud_detected,
       |  CASE WHEN ap.ap_avg_settlement_ratio >= 0.9 AND ap.avg_processing_time <= 7 THEN 'High Performer'
       |       WHEN ap.ap_avg_settlement_ratio >= 0.8 AND ap.avg_processing_time <= 14 THEN 'Good Performer'
       |       WHEN ap.ap_avg_settlement_ratio >= 0.7 AND ap.avg_processing_time <= 21 THEN 'Average Performer'
       |       ELSE 'Needs Improvement' END AS adjuster_performance_tier,
       |  CASE WHEN cb.customer_state IN ('FL', 'TX', 'CA') THEN 'High Risk State'
       |       WHEN cb.customer_state IN ('NY', 'NJ', 'CT') THEN 'Medium Risk State'
       |       ELSE 'Low Risk State' END AS state_risk_category,
       |  CASE WHEN cb.customer_age < 25 THEN 'Young Driver'
       |       WHEN cb.customer_age BETWEEN 25 AND 65 THEN 'Mature Driver'
       |       ELSE 'Senior Driver' END AS customer_age_category,
       |  LAG(cb.claim_count, 1) OVER (PARTITION BY cb.claim_type
       |    ORDER BY cb.claim_month, cb.severity, cb.status,
       |      cb.adjuster_id NULLS FIRST, cb.policy_type, cb.customer_state,
       |      cb.customer_age) AS prev_claims,
       |  $oToday AS report_date
       |FROM claims_base cb
       |LEFT JOIN adjuster_performance ap ON cb.adjuster_id = ap.adjuster_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.ops.RelationalOps.{dsum, davg, iavg}
    val customers = customersSilver(s, d)
    val policies = policiesSilver(s, d)
    val claims = claimsSilver(s, d)

    // SINGLE-PASS plan (profile-driven, 2026-08-12): the naive two-CTE
    // shape recomputes the whole claims-silver dedup chain twice — the
    // claims_base and adjuster_performance consumers prune different
    // columns, so their dedup exchanges differ and ReuseExchange cannot
    // unify them. Instead: LEFT 1:1 joins (policies/customers are
    // PK-deduped, so row count is preserved), then ONE grouping-sets
    // aggregation computes the 8-key grain and the adjuster grain in the
    // same shuffle, with per-branch qualifying predicates folded into the
    // measures. Adjuster measures reach base rows via a window over
    // adjuster_id (a self-join of the aggregate would re-duplicate the
    // subtree). Inner-join semantics are recovered exactly: 1:1 joins
    // never multiply rows, match markers recover the inner filter, and
    // groups with no qualifying row aggregate to claim_count = 0 and are
    // dropped — the same groups an inner join would never form.
    val pre = claims.alias("cl")
      .join(policies.select(col("policy_id"), col("customer_id"),
        col("policy_type"), lit(1).as("__pm")).alias("p"),
        Seq("policy_id"), "left")
      // claims carry their own customer_id — the mart joins on the
      // POLICY's customer (p.customer_id = c.customer_id), so be explicit
      .join(customers.select(col("customer_id").as("cust_id"), col("state"),
        col("age"), lit(1).as("__cm")).alias("c"),
        col("p.customer_id") === col("cust_id"), "left")
      .select(col("cl.claim_type").as("claim_type"),
        col("cl.severity").as("severity"),
        col("cl.status").as("status"),
        col("cl.adjuster_id").as("adjuster_id"),
        date_trunc("month", col("cl.claim_date")).cast(DateType).as("claim_month"),
        col("p.policy_type").as("policy_type"),
        col("c.state").as("customer_state"),
        col("c.age").as("customer_age"),
        (col("cl.missing_policy_flag") === 0 &&
          col("__pm").isNotNull && col("__cm").isNotNull).as("__qb"),
        col("cl.adjuster_id").isNotNull.as("__qa"),
        col("cl.claim_amount"), col("cl.settled_amount"),
        col("cl.reporting_delay_days"), col("cl.settlement_ratio"),
        col("cl.fraud_indicator"))
    // Two-level rollup, NO expand: the base grain (8 keys) IS the only
    // aggregation grain; the adjuster rollup is derived from the same
    // aggregate by window SUMs over adjuster_id (sums of exact partial
    // sums are associative: decimal/long partials widen before the final
    // double cast, so values are bit-identical to a direct aggregate).
    // The earlier grouping-sets variant doubled the aggregate input
    // through Expand to compute both grains; this one touches each row
    // once. Unmatched/flagged rows still form (count=0) groups that
    // contribute their adjuster partials through the window BEFORE the
    // count>0 filter drops them.
    val qb = col("__qb")
    val qa = col("__qa")
    val g = pre.groupBy(col("claim_type"), col("severity"), col("status"),
        col("adjuster_id"), col("claim_month"), col("policy_type"),
        col("customer_state"), col("customer_age"))
      .agg(count(when(qb, 1)).as("claim_count"),
        dsum(when(qb, col("claim_amount"))).as("total_claim_amount"),
        dsum(when(qb, col("settled_amount"))).as("total_settled_amount"),
        iavg(when(qb, col("reporting_delay_days"))).as("avg_reporting_delay"),
        davg(when(qb, col("settlement_ratio"))).as("avg_settlement_ratio"),
        count(when(qb && col("fraud_indicator") === 1, 1))
          .as("potential_fraud_cases"),
        // adjuster-rollup partials (exact: decimal/long, cast only after
        // the window sums)
        count(when(qa, 1)).as("__na"),
        sum(when(qa, col("settlement_ratio")).cast(DecimalType(18, 4)))
          .as("__sr"),
        count(when(qa, col("settlement_ratio"))).as("__nr"),
        sum(when(qa, col("reporting_delay_days"))).as("__sd"),
        count(when(qa, col("reporting_delay_days"))).as("__nd"),
        sum(when(qa, when(col("fraud_indicator") === 1, 1).otherwise(0)))
          .as("__sf"))
    val wAdj = Window.partitionBy(col("adjuster_id"))
    def adj(c: Column): Column =
      when(col("adjuster_id").isNotNull, c) // null-adjuster rows: no match
    val w = Window.partitionBy(col("claim_type"))
      .orderBy(col("claim_month"), col("severity"), col("status"),
        col("adjuster_id"), col("policy_type"), col("customer_state"),
        col("customer_age"))
    g // all window columns in ONE projection (stacked Windows trap)
      .select(col("*"),
        adj(sum(col("__na")).over(wAdj)).as("ap_handled"),
        adj(sum(col("__sr")).over(wAdj).cast(DoubleType) /
          sum(col("__nr")).over(wAdj)).as("ap_ratio"),
        adj(sum(col("__sd")).over(wAdj).cast(DoubleType) /
          sum(col("__nd")).over(wAdj)).as("ap_time"),
        adj(sum(col("__sf")).over(wAdj)).as("ap_fraud"))
      .filter(col("claim_count") > 0)
      .select(col("claim_type"), col("severity"), col("status"),
        col("adjuster_id"), col("claim_month"), col("policy_type"),
        col("customer_state"),
        col("claim_count"), col("total_claim_amount"),
        col("total_settled_amount"), col("avg_reporting_delay"),
        col("avg_settlement_ratio"), col("potential_fraud_cases"),
        when(col("claim_count") > 0,
          col("potential_fraud_cases").cast(DoubleType) / col("claim_count"))
          .otherwise(0).as("fraud_rate"),
        col("ap_handled").as("adjuster_total_claims"),
        col("ap_ratio").as("adjuster_avg_settlement_ratio"),
        col("ap_time").as("adjuster_avg_processing_time"),
        col("ap_fraud").as("adjuster_fraud_detected"),
        when(col("ap_ratio") >= 0.9 &&
          col("ap_time") <= 7, "High Performer")
          .when(col("ap_ratio") >= 0.8 &&
            col("ap_time") <= 14, "Good Performer")
          .when(col("ap_ratio") >= 0.7 &&
            col("ap_time") <= 21, "Average Performer")
          .otherwise("Needs Improvement").as("adjuster_performance_tier"),
        when(col("customer_state").isin("FL", "TX", "CA"), "High Risk State")
          .when(col("customer_state").isin("NY", "NJ", "CT"), "Medium Risk State")
          .otherwise("Low Risk State").as("state_risk_category"),
        when(col("customer_age") < 25, "Young Driver")
          .when(col("customer_age").between(25, 65), "Mature Driver")
          .otherwise("Senior Driver").as("customer_age_category"),
        lag(col("claim_count"), 1).over(w).as("prev_claims"),
        clock.today.as("report_date"))
  }

  // ================ production-shape ONE-BATCH IVM gates (r17 verdict
  // task 2). The q218/q221/q223/q224 gates replay the ENTIRE 4-batch
  // CDC feed inside one query — the right shape for an equivalence
  // gate, but 4× the production cost, so the bench headline measured
  // the harness, not the deployed maintainer. These variants measure
  // the deployed shape: batches 1–3 are folded ONCE per (session,
  // dataset) into a DURABLE key-clustered VersionedStateStore (the
  // amortized layout, same cost model as the persisted ANN index and
  // the bucketed edge tables), and each invocation then pays exactly
  // one production maintenance step for batch 4 —
  //   Δ-keyed bucket-pruned probes of the clustered state
  //   + the Δ-sized version write (to a throwaway dir, so reps never
  //     read a cached commit)
  //   + the mart-grain fold of state ⊕ Δ.
  // The result is the SAME final mart, so each gate reuses its replay
  // twin's DuckDB oracle verbatim — the keyed probes, the clustered
  // format codec, and the overlay algebra all sit under the hash.

  import graft.streaming.{GoldMaintenanceStream, VersionedStateStore}

  private def oracleOf(name: String): String = reg(name)._2

  private val ivmStateMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), VersionedStateStore]()

  /** Batches 1–3 folded into a durable store via the KEYED path —
    * built once per (session, dataset, mart), then read-only. */
  private def ivmState3(s: SparkSession, d: String, mart: String,
      mkStore: String => VersionedStateStore,
      initFrames: Map[String, DataFrame],
      deltaFrames: (IncrementalGold.StateProbe, Int) => Map[String, DataFrame])
      : VersionedStateStore =
    ivmStateMemo.computeIfAbsent((s, d, mart), _ => {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ivm3_$mart").toString
      graft.util.TmpReaper.track(dir)
      val store = mkStore(dir)
      store.save(1L, initFrames)
      Seq(1, 2).foreach { i =>
        store.saveDelta(i + 1L,
          deltaFrames(GoldMaintenanceStream.probeAt(store, i.toLong), i))
      }
      store
    })

  /** One production maintenance step: write the batch's delta frames
    * (the |Δ| version write, throwaway dir), read them back, and fold
    * state ⊕ Δ for the MART-GRAIN tables only — version 3's chain and
    * the new Δ in ONE kernel call per table. */
  private def oneBatchMart(s: SparkSession, store: VersionedStateStore,
      deltas: Map[String, DataFrame], martTables: Seq[String],
      specs: Map[String, IncrementalGold.MergeSpec])
      : Map[String, DataFrame] = {
    val out = java.nio.file.Files.createTempDirectory("graft_ivm1").toString
    graft.util.TmpReaper.track(out)
    // the per-table Δ writes are independent small jobs — overlap them
    // (guide §2.6)
    graft.util.Parallel.inParallel(deltas.toSeq.map {
      case (t, df) => () => df.write.mode("overwrite").parquet(s"$out/$t") })
    // lazy: each folded table is consumed exactly once (by the mart)
    martTables.map { t =>
      t -> IncrementalGold.fold(
        store.chain(3L, t) :+ s.read.parquet(s"$out/$t"), specs(t))
    }.toMap
  }

  register("q235_policy_perf_onebatch", oPolicyPerfIvmSql) { (s, d) =>
    val (pols, cls, _) = sharedCdcDeltas(s, d)
    def pc(i: Int) = (IncrementalGold.narrowPpPol(pols(i)),
      IncrementalGold.narrowPpCl(cls(i)))
    val store = ivmState3(s, d, "perf",
      dir => GoldMaintenanceStream.perfStoreD(s, dir, 3),
      { val (p, c) = pc(0)
        IncrementalGold.initPolicyPerf(p, c).tables },
      (probe, i) => { val (p, c) = pc(i)
        IncrementalGold.policyPerfDeltaFramesKeyed(probe, p, c) })
    val (p4, c4) = pc(3)
    val deltas = IncrementalGold.policyPerfDeltaFramesKeyed(
      GoldMaintenanceStream.probeAt(store, 3L), p4, c4)
    val m = oneBatchMart(s, store, deltas, Seq("polBase", "cbt"),
      IncrementalGold.PerfSpecs)
    IncrementalGold.policyPerfMartFrom(m("polBase"), m("cbt"))
  }

  register("q236_customer360_onebatch",
    oracleOf("q223_incremental_customer_360")) { (s, d) =>
    val (pols, cls, cus) = sharedCdcDeltas(s, d)
    def tri(i: Int) = (IncrementalGold.narrowC360Cust(cus(i)),
      IncrementalGold.narrowC360Pol(pols(i)),
      IncrementalGold.narrowC360Cl(cls(i)))
    val store = ivmState3(s, d, "c360",
      dir => GoldMaintenanceStream.c360StoreD(s, dir, 3),
      { val (cu, p, cl) = tri(0)
        IncrementalGold.initCustomer360(cu, p, cl).tables },
      (probe, i) => { val (cu, p, cl) = tri(i)
        IncrementalGold.customer360DeltaFramesKeyed(probe, cu, p, cl) })
    val (cu4, p4, cl4) = tri(3)
    val deltas = IncrementalGold.customer360DeltaFramesKeyed(
      GoldMaintenanceStream.probeAt(store, 3L), cu4, p4, cl4)
    val m = oneBatchMart(s, store, deltas,
      Seq("custDim", "polMetrics", "polDates", "cm"),
      IncrementalGold.C360Specs)
    IncrementalGold.customer360MartFrom(m("custDim"), m("polMetrics"),
      m("polDates"), m("cm"))
  }

  register("q237_claims_ops_onebatch",
    oracleOf("q224_incremental_claims_ops")) { (s, d) =>
    val (pols, cls, cus) = sharedCdcDeltas(s, d)
    def tri(i: Int) = (IncrementalGold.narrowCoCust(cus(i)),
      IncrementalGold.narrowCoPol(pols(i)),
      IncrementalGold.narrowCoCl(cls(i)))
    val store = ivmState3(s, d, "ops",
      dir => GoldMaintenanceStream.opsStoreD(s, dir, 3),
      { val (cu, p, cl) = tri(0)
        IncrementalGold.initClaimsOps(cu, p, cl).tables },
      (probe, i) => { val (cu, p, cl) = tri(i)
        IncrementalGold.claimsOpsDeltaFramesKeyed(probe, cu, p, cl) })
    val (cu4, p4, cl4) = tri(3)
    val deltas = IncrementalGold.claimsOpsDeltaFramesKeyed(
      GoldMaintenanceStream.probeAt(store, 3L), cu4, p4, cl4)
    val m = oneBatchMart(s, store, deltas, Seq("att", "adj"),
      IncrementalGold.OpsSpecs)
    IncrementalGold.claimsOpsMartFrom(m("att"), m("adj"))
  }

  register("q238_exec_summary_onebatch",
    oracleOf("q218_incremental_gold")) { (s, d) =>
    val (pols, cls, _) = sharedCdcDeltas(s, d)
    def pc(i: Int) = (IncrementalGold.narrowPolDelta(pols(i)),
      IncrementalGold.narrowClDelta(cls(i)))
    val store = ivmState3(s, d, "exec",
      dir => GoldMaintenanceStream.execStoreD(s, dir, 3),
      { val (p, c) = pc(0)
        IncrementalGold.init(p, c).tables },
      (_, i) => { val (p, c) = pc(i)
        IncrementalGold.execDeltaFrames(p, c) })
    val (p4, c4) = pc(3)
    val m = oneBatchMart(s, store, IncrementalGold.execDeltaFrames(p4, c4),
      Seq("polMonths", "polCusts", "clMonths"), IncrementalGold.ExecSpecs)
    IncrementalGold.mart(IncrementalGold.ExecState.of(m))
  }

}
