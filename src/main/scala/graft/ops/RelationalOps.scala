package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator inventory — one query per SURVEY.md §2 row,
  * expressed over the TPC-H-ish testdata schema with a DuckDB oracle twin
  * (registered in [[graft.SparkEntry]]).
  *
  * Determinism rules (both engines must produce bit-identical values):
  *  - sums of DOUBLE go through DECIMAL(18,4): exact, order-independent,
  *    then cast back to DOUBLE (exact decimal→double is deterministic);
  *    all money columns in the testdata sit on a 2-decimal grid, products
  *    of two of them on a 4-decimal grid, so the cast never lands on a
  *    rounding midpoint (where Spark HALF_UP and DuckDB would disagree);
  *  - averages are built as sum / count (double division of identical
  *    operands is IEEE-deterministic) — never the engines' own AVG;
  *  - integer sums are CAST(... AS BIGINT) in the oracle (DuckDB widens to
  *    HUGEINT, Spark to LONG);
  *  - every aggregate/computed column is aliased identically in the Spark
  *    plan and the oracle SQL (the driver hashes by column name);
  *  - window orderings always include a unique tie-break column.
  */
object RelationalOps extends QueryModule {
  import Tables._

  /** Order-independent exact sum of a 2/4-decimal double, as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Deterministic average of a decimal-grid double. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Deterministic average of an integral column. */
  def iavg(c: Column): Column = sum(c).cast(DoubleType) / count(c)

  // oracle-side spellings of the helpers above
  private def oDsum(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"
  private def oDavg(e: String) = s"${oDsum(e)} / COUNT($e)"
  private def oIavg(e: String) = s"CAST(SUM($e) AS DOUBLE) / COUNT($e)"

  // ============================================================ §2.4 A1-A5,A8
  register("q01_agg",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${oDsum("l_quantity")} AS sum_qty,
       |  ${oDsum("l_extendedprice")} AS sum_base_price,
       |  ${oDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${oDavg("l_quantity")} AS avg_qty,
       |  ${oDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  // ============================================================ §2.2 P1/P2
  // bronze-style typed projection: CAST per column + rename (the whole
  // bronze layer, models/bronze/*.sql)
  // The DECIMAL(18,2) cast is the typed-projection semantics under test;
  // the final CAST to DOUBLE exists because DECIMAL output columns surface
  // differently across client paths (Decimal('18.00') vs 18.0) and
  // hash-mismatch on bit-identical data (round-1 driver result).
  register("q02_cast_projection",
    """SELECT CAST(l_orderkey AS VARCHAR) AS order_id,
      |  CAST(l_partkey AS INTEGER) AS part_id,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price,
      |  CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem WHERE l_linenumber = 1""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_linenumber") === 1)
      .select(
        col("l_orderkey").cast(StringType).as("order_id"),
        col("l_partkey").cast(IntegerType).as("part_id"),
        col("l_quantity").cast(DecimalType(18, 2)).cast(DoubleType).as("quantity"),
        col("l_extendedprice").cast(DecimalType(18, 2)).cast(DoubleType)
          .as("extended_price"),
        col("l_shipdate").cast(DateType).as("ship_date"))
  }

  // ============================================================ §2.2 P3-P8
  // predicate battery: null checks, ranges, BETWEEN, IN-list, regex
  register("q03_predicates",
    """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |FROM customer
      |WHERE c_acctbal IS NOT NULL
      |  AND c_acctbal BETWEEN 100 AND 9000
      |  AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      |  AND regexp_matches(c_name, '[0-9]{3}$')
      |  AND NOT (c_acctbal < 0)""".stripMargin) { (s, d) =>
    customer(s, d)
      .filter(col("c_acctbal").isNotNull &&
        col("c_acctbal").between(100, 9000) &&
        col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE") &&
        col("c_name").rlike("[0-9]{3}$") &&
        !(col("c_acctbal") < 0))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
  }

  // ============================================================ §2.5 W1 + P4
  // latest-record dedup: the silver-layer signature operation
  // (models/silver/customers_silver.sql:56-62,91) on events-per-user
  register("q04_window_dedup",
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS row_num
      |  FROM events) WHERE row_num = 1""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
  }

  // ============================================================ §2.3 J1
  // inner equi-join + aggregation; dimension side broadcast
  register("q05_join_inner",
    s"""SELECT n_name AS nation, r_name AS region,
       |  COUNT(*) AS customer_count,
       |  ${oDsum("c_acctbal")} AS total_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY n_name, r_name""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
      .agg(count(lit(1)).as("customer_count"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .withColumnRenamed("n_name", "nation")
  }

  // ============================================================ §2.3 J2 + A2
  // pre-aggregate-then-left-join: the gold_customer_360 shape
  // (models/gold/gold_customer_360.sql:147-149) on customer/orders
  register("q06_join_left_agg",
    s"""WITH order_metrics AS (
       |  SELECT o_custkey,
       |    COUNT(DISTINCT o_orderkey) AS total_orders,
       |    ${oDsum("o_totalprice")} AS total_spend,
       |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders
       |  FROM orders GROUP BY o_custkey)
       |SELECT c_custkey, c_name,
       |  COALESCE(total_orders, 0) AS total_orders,
       |  COALESCE(total_spend, 0) AS total_spend,
       |  COALESCE(finished_orders, 0) AS finished_orders
       |FROM customer LEFT JOIN order_metrics ON c_custkey = o_custkey""".stripMargin) { (s, d) =>
    val om = orders(s, d).groupBy(col("o_custkey"))
      .agg(
        countDistinct(col("o_orderkey")).as("total_orders"),
        dsum(col("o_totalprice")).as("total_spend"),
        count(when(col("o_orderstatus") === "F", 1)).as("finished_orders"))
    customer(s, d)
      .join(om, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("total_orders"), lit(0)).as("total_orders"),
        coalesce(col("total_spend"), lit(0)).as("total_spend"),
        coalesce(col("finished_orders"), lit(0)).as("finished_orders"))
  }

  // ============================================================ §2.3 J3
  // composite-key left join of two aggregates: gold_policy_performance
  // shape (models/gold/gold_policy_performance.sql:124-126)
  register("q07_join_composite",
    s"""WITH order_base AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       |    COUNT(*) AS order_count,
       |    ${oDsum("o_totalprice")} AS revenue
       |  FROM orders GROUP BY 1, 2),
       |line_base AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS shipped_qty
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2)
       |SELECT ob.priority, ob.order_month, ob.order_count, ob.revenue,
       |  COALESCE(lb.shipped_qty, 0) AS shipped_qty
       |FROM order_base ob
       |LEFT JOIN line_base lb
       |  ON ob.priority = lb.priority AND ob.order_month = lb.ship_month""".stripMargin) { (s, d) =>
    val ob = orders(s, d).groupBy(
        col("o_orderpriority").as("priority"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("order_month"))
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("revenue"))
    val lb = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("ship_month"))
      .agg(sum(col("l_quantity").cast(LongType)).as("shipped_qty"))
    ob.alias("ob").join(lb.alias("lb"),
        col("ob.priority") === col("lb.priority") &&
          col("ob.order_month") === col("lb.ship_month"), "left")
      .select(col("ob.priority").as("priority"),
        col("ob.order_month").as("order_month"),
        col("ob.order_count").as("order_count"),
        col("ob.revenue").as("revenue"),
        coalesce(col("lb.shipped_qty"), lit(0)).as("shipped_qty"))
  }

  // ============================================================ §2.3 J4
  // full-outer join + key coalesce of two monthly series:
  // gold_executive_summary shape (models/gold/gold_executive_summary.sql:88)
  register("q08_join_fullouter",
    s"""WITH monthly_orders AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
       |    COUNT(*) AS order_count, ${oDsum("o_totalprice")} AS revenue
       |  FROM orders GROUP BY 1),
       |monthly_events AS (
       |  SELECT CAST(date_trunc('month', ts) AS DATE) AS period,
       |    COUNT(*) AS event_count, ${oDsum("value")} AS event_value
       |  FROM events GROUP BY 1)
       |SELECT COALESCE(mo.period, me.period) AS period,
       |  COALESCE(order_count, 0) AS order_count,
       |  COALESCE(revenue, 0) AS revenue,
       |  COALESCE(event_count, 0) AS event_count,
       |  COALESCE(event_value, 0) AS event_value,
       |  CASE WHEN COALESCE(order_count, 0) > 0
       |       THEN COALESCE(event_value, 0) / order_count ELSE 0 END AS value_per_order
       |FROM monthly_orders mo FULL OUTER JOIN monthly_events me
       |  ON mo.period = me.period""".stripMargin) { (s, d) =>
    val mo = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("period"))
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("revenue"))
    val me = events(s, d)
      .groupBy(date_trunc("month", col("ts")).cast(DateType).as("period"))
      .agg(count(lit(1)).as("event_count"), dsum(col("value")).as("event_value"))
    mo.join(me, Seq("period"), "full_outer")
      .select(col("period"),
        coalesce(col("order_count"), lit(0)).as("order_count"),
        coalesce(col("revenue"), lit(0)).as("revenue"),
        coalesce(col("event_count"), lit(0)).as("event_count"),
        coalesce(col("event_value"), lit(0)).as("event_value"),
        when(coalesce(col("order_count"), lit(0)) > 0,
          coalesce(col("event_value"), lit(0)) / col("order_count"))
          .otherwise(0).as("value_per_order"))
  }

  // ============================================================ §2.1 S4 + J5
  // audit-log row: two scalar COUNT(*) subqueries 1×1 cross-joined
  // (models/bronze/customers_bronze.sql:15-17)
  register("q09_audit_counts",
    """SELECT 'orders' AS dataset, 'bronze' AS layer,
      |  src.source_count, tgt.target_count, CAST(0 AS BIGINT) AS bad_records
      |FROM (SELECT COUNT(*) AS source_count FROM orders) src,
      |     (SELECT COUNT(*) AS target_count FROM orders WHERE o_orderkey IS NOT NULL) tgt""".stripMargin) { (s, d) =>
    val src = orders(s, d).agg(count(lit(1)).as("source_count"))
    val tgt = orders(s, d).filter(col("o_orderkey").isNotNull)
      .agg(count(lit(1)).as("target_count"))
    src.crossJoin(tgt)
      .select(lit("orders").as("dataset"), lit("bronze").as("layer"),
        col("source_count"), col("target_count"),
        lit(0L).as("bad_records"))
  }

  // ============================================================ §2.4 A2,A6,A7
  // exact COUNT(DISTINCT), conditional count, conditional sum
  register("q10_agg_conditional",
    s"""SELECT o_orderpriority,
       |  COUNT(DISTINCT o_custkey) AS unique_customers,
       |  COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS big_orders,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
       |  ${oIavg("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END")} AS finished_share
       |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d).groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("unique_customers"),
        count(when(col("o_totalprice") > 200000, 1)).as("big_orders"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("open_orders"),
        iavg(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("finished_share"))
  }

  // ============================================================ §2.5 W2/W4
  // LAG(n) over partitioned monthly series (rows semantics, exactly as the
  // reference's "YoY"/MoM lags — models/gold/gold_policy_performance.sql:110)
  register("q11_window_lag",
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    COUNT(*) AS event_count, ${oDsum("value")} AS total_value
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, day, event_count, total_value,
       |  LAG(event_count, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_day_count,
       |  LAG(event_count, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev_week_count
       |FROM daily""".stripMargin) { (s, d) =>
    val daily = events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("event_count"), dsum(col("value")).as("total_value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.select(col("event_type"), col("day"), col("event_count"),
      col("total_value"),
      lag(col("event_count"), 1).over(w).as("prev_day_count"),
      lag(col("event_count"), 7).over(w).as("prev_week_count"))
  }

  // ============================================================ §2.5 W3 + O1
  // global (single-partition) LAG + growth rate + presentation sort:
  // gold_executive_summary shape (models/gold/gold_executive_summary.sql:114-146)
  register("q12_window_lag_global",
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
       |    COUNT(*) AS order_count, ${oDsum("o_totalprice")} AS revenue
       |  FROM orders GROUP BY 1)
       |SELECT period, order_count, revenue,
       |  LAG(revenue, 12) OVER (ORDER BY period) AS revenue_prev_year,
       |  CASE WHEN LAG(revenue, 12) OVER (ORDER BY period) > 0
       |       THEN (revenue - LAG(revenue, 12) OVER (ORDER BY period))
       |            / LAG(revenue, 12) OVER (ORDER BY period) * 100
       |       ELSE 0 END AS revenue_growth_yoy
       |FROM monthly ORDER BY period DESC""".stripMargin) { (s, d) =>
    val monthly = orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("period"))
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy(col("period"))
    monthly.select(col("period"), col("order_count"), col("revenue"),
        lag(col("revenue"), 12).over(w).as("revenue_prev_year"),
        when(lag(col("revenue"), 12).over(w) > 0,
          (col("revenue") - lag(col("revenue"), 12).over(w))
            / lag(col("revenue"), 12).over(w) * 100)
          .otherwise(0).as("revenue_growth_yoy"))
      .orderBy(col("period").desc)
  }

  // ============================================================ §2.7 string
  // TRIM/INITCAP/LOWER/UPPER/CONCAT/RLIKE battery (silver cleaning,
  // models/silver/customers_silver.sql:23-36). DuckDB 1.0 has no INITCAP —
  // oracle reimplements it with list_transform over words.
  register("q13_scalar_string",
    """SELECT c_custkey,
      |  array_to_string(list_transform(string_split(lower(trim(c_name)), ' '),
      |    s -> upper(s[1]) || s[2:]), ' ') AS clean_name,
      |  lower(trim(c_mktsegment)) AS segment_lower,
      |  upper(trim(c_mktsegment)) AS segment_upper,
      |  trim(c_name) || '/' || trim(c_mktsegment) AS name_segment,
      |  CASE WHEN regexp_matches(c_name, '^Customer#[0-9]+$') THEN 1 ELSE 0 END AS valid_name_flag
      |FROM customer""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_custkey"),
      initcap(lower(trim(col("c_name")))).as("clean_name"),
      lower(trim(col("c_mktsegment"))).as("segment_lower"),
      upper(trim(col("c_mktsegment"))).as("segment_upper"),
      concat(trim(col("c_name")), lit("/"), trim(col("c_mktsegment"))).as("name_segment"),
      when(col("c_name").rlike("^Customer#[0-9]+$"), 1).otherwise(0).as("valid_name_flag"))
  }

  // ============================================================ §2.7 date/time
  // YEAR, DATEDIFF, DATE_TRUNC (naive age + day-diff semantics of
  // models/silver/customers_silver.sql:45, policies_silver.sql:51)
  register("q14_scalar_datetime",
    """SELECT o_orderkey,
      |  year(o_orderdate) AS order_year,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
      |  2026 - year(o_orderdate) AS order_age_years,
      |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy
      |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin) { (s, d) =>
    orders(s, d).filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("order_month"),
        (lit(2026) - year(col("o_orderdate"))).as("order_age_years"),
        datediff(lit("1998-12-31").cast(DateType),
          col("o_orderdate").cast(DateType)).as("days_to_eoy"))
  }

  // ============================================================ §2.7 cond/math
  // CASE ladders, COALESCE, NULLIF, guarded division, ROUND, negative clamp
  // (gold KPI expressions + premiums_silver clamps)
  register("q15_scalar_conditional",
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 0 ELSE c_acctbal END AS acctbal_clamped,
      |  CASE WHEN c_acctbal > 7500 THEN 'High Value'
      |       WHEN c_acctbal > 2500 THEN 'Medium Value'
      |       WHEN c_acctbal > 0 THEN 'Low Value'
      |       ELSE 'Loss Making' END AS value_segment,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_remap,
      |  ROUND(c_acctbal / 3, 2) AS acctbal_third,
      |  CASE WHEN c_acctbal = 0 THEN 0 ELSE ROUND(c_acctbal / 7, 3) END AS acctbal_seventh
      |FROM customer""".stripMargin) { (s, d) =>
    // ROUND divisors are 3 and 7 on purpose: x/3 and x/7 of a 2-decimal
    // value never approach a rounding midpoint, so Spark's exact-BigDecimal
    // HALF_UP and DuckDB's multiply-round-divide agree bit-for-bit.
    customer(s, d).select(col("c_custkey"),
      when(col("c_acctbal") < 0, 0).otherwise(col("c_acctbal")).as("acctbal_clamped"),
      when(col("c_acctbal") > 7500, "High Value")
        .when(col("c_acctbal") > 2500, "Medium Value")
        .when(col("c_acctbal") > 0, "Low Value")
        .otherwise("Loss Making").as("value_segment"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("segment_remap"),
      round(col("c_acctbal") / 3, 2).as("acctbal_third"),
      when(col("c_acctbal") === 0, 0)
        .otherwise(round(col("c_acctbal") / 7, 3)).as("acctbal_seventh"))
  }

  // ============================================================ §2.4 A8
  // wide multi-key grouping incl. expression keys (8 keys, the
  // gold_claims_operations grain — models/gold/gold_claims_operations.sql:43-44)
  register("q16_multikey_agg",
    s"""SELECT l_returnflag, l_linestatus,
       |  year(l_shipdate) AS ship_year,
       |  month(l_shipdate) AS ship_month,
       |  CAST(l_quantity > 25 AS INTEGER) AS high_qty,
       |  CAST(FLOOR(l_discount * 100 + 0.5) AS INTEGER) AS discount_pct,
       |  l_orderkey % 4 AS order_bucket,
       |  CAST(l_tax > 0.04 AS INTEGER) AS high_tax,
       |  COUNT(*) AS line_count,
       |  ${oDsum("l_extendedprice")} AS total_price
       |FROM lineitem
       |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin) { (s, d) =>
    lineitem(s, d).groupBy(
        col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        (col("l_quantity") > 25).cast(IntegerType).as("high_qty"),
        floor(col("l_discount") * 100 + 0.5).cast(IntegerType).as("discount_pct"),
        (col("l_orderkey") % 4).as("order_bucket"),
        (col("l_tax") > 0.04).cast(IntegerType).as("high_tax"))
      .agg(count(lit(1)).as("line_count"),
        dsum(col("l_extendedprice")).as("total_price"))
  }

  // ============================================================ JSON props
  // semi-structured extraction from the events.props JSON column
  register("q17_json_extract",
    """SELECT event_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
      |FROM events WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("prop_k"))
  }

  // ============================================================ §2.1 S5
  // file-metadata capture (_metadata.file_path): the absolute path isn't
  // expressible in a static oracle, but its BASENAME is — the testdata
  // layout is one file per table named <table>.parquet (same at 10x/20x
  // soak: make_soak.py COPYies to single files), so extracting the path
  // suffix makes per-file row counts strictly hash-checkable.
  register("q19_file_metadata",
    """SELECT * FROM (
      |  SELECT 'lineitem.parquet' AS source_file, CAST(COUNT(*) AS BIGINT) AS row_count FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.parquet', CAST(COUNT(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'customer.parquet', CAST(COUNT(*) AS BIGINT) FROM customer
      |)""".stripMargin) { (s, d) =>
    // Aggregate on the RAW file path first (a per-file constant, so the
    // groupBy collapses to one row per file during the scan's partial
    // aggregation), then regexp the basename on the few-row result —
    // the extract runs O(files) times, not O(rows).
    Seq(lineitem(s, d), orders(s, d), customer(s, d))
      .map(_.select(col("_metadata.file_path").as("fp")))
      .reduce(_ unionAll _)
      .groupBy("fp")
      .agg(count(lit(1)).as("row_count"))
      .select(regexp_extract(col("fp"), "[^/]+$", 0).as("source_file"),
        col("row_count"))
      .groupBy("source_file")
      .agg(sum(col("row_count")).as("row_count"))
  }

  // ============================================================ top-k
  // global ORDER BY + LIMIT with unique tiebreak (TakeOrderedAndProject —
  // no full sort at scale)
  register("q18_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin) { (s, d) =>
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  // ============================================================ analytical
  // multi-join analytical queries (TPC-H Q3/Q5/Q10 shapes): selective
  // dimension filters + 3-6 way joins + aggregate + top-k. These are the
  // plans where join order, broadcast choice, and partial aggregation
  // decide 100 TB viability.
  register("q35_shipping_priority",
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${oDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1995-03-15'
       |  AND l_shipdate > TIMESTAMP '1995-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin) { (s, d) =>
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d).filter(
        col("o_orderdate") < lit("1995-03-15").cast(TimestampType)),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d).filter(
        col("l_shipdate") > lit("1995-03-15").cast(TimestampType)),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  register("q36_local_supplier_volume",
    s"""SELECT n_name AS nation,
       |  ${oDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM region
       |JOIN nation ON n_regionkey = r_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name""".stripMargin) { (s, d) =>
    broadcast(region(s, d).filter(col("r_name") === "ASIA"))
      .join(broadcast(nation(s, d)), col("n_regionkey") === col("r_regionkey"))
      .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d), col("s_suppkey") === col("l_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  register("q37_returned_items",
    s"""SELECT c_custkey, c_name, n_name AS nation,
       |  ${oDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS return_lines
       |FROM customer
       |JOIN nation ON n_nationkey = c_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("n_nationkey") === col("c_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("return_lines"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  // ============================================================ beyond-ref
  // completeness beyond the reference surface: full window-function
  // suite, set operations, ROLLUP subtotals, semi-join, exact median.

  register("q48_window_suite",
    s"""WITH ranked AS (
       |  SELECT c_custkey, c_mktsegment, c_acctbal,
       |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       |    RANK() OVER (PARTITION BY c_mktsegment
       |      ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT) DESC) AS band_rank,
       |    DENSE_RANK() OVER (PARTITION BY c_mktsegment
       |      ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT) DESC) AS band_dense_rank,
       |    NTILE(4) OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile,
       |    LEAD(c_custkey, 1) OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_custkey ASC) AS next_custkey,
       |    SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (
       |      PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_custkey ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_balance
       |  FROM customer)
       |SELECT c_custkey, c_mktsegment, bal_band, band_rank, band_dense_rank,
       |  quartile, next_custkey,
       |  CAST(running_balance AS DOUBLE) AS running_balance
       |FROM ranked""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val bandW = Window.partitionBy(col("c_mktsegment"))
      .orderBy(floor(col("c_acctbal") / 1000).cast(LongType).desc)
    val totalW = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"),
      rank().over(bandW).as("band_rank"),
      dense_rank().over(bandW).as("band_dense_rank"),
      ntile(4).over(totalW).as("quartile"),
      lead(col("c_custkey"), 1).over(totalW).as("next_custkey"),
      sum(col("c_acctbal").cast(DecimalType(18, 4)))
        .over(totalW.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast(DoubleType).as("running_balance"))
  }

  register("q49_set_ops",
    """SELECT 'both' AS op, c FROM (
      |  SELECT c_custkey AS c FROM customer WHERE c_acctbal > 5000
      |  INTERSECT
      |  SELECT o_custkey AS c FROM orders WHERE o_totalprice > 200000)
      |UNION ALL
      |SELECT 'rich_no_big_order' AS op, c FROM (
      |  SELECT c_custkey AS c FROM customer WHERE c_acctbal > 5000
      |  EXCEPT
      |  SELECT o_custkey AS c FROM orders WHERE o_totalprice > 200000)
      |UNION ALL
      |SELECT 'either' AS op, c FROM (
      |  SELECT c_custkey AS c FROM customer WHERE c_acctbal > 9900
      |  UNION
      |  SELECT o_custkey AS c FROM orders WHERE o_totalprice > 450000)""".stripMargin) { (s, d) =>
    val rich = customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("c"))
    val big = orders(s, d).filter(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("c"))
    val veryRich = customer(s, d).filter(col("c_acctbal") > 9900)
      .select(col("c_custkey").as("c"))
    val veryBig = orders(s, d).filter(col("o_totalprice") > 450000)
      .select(col("o_custkey").as("c"))
    rich.intersect(big).select(lit("both").as("op"), col("c"))
      .unionAll(rich.except(big).select(lit("rich_no_big_order").as("op"), col("c")))
      .unionAll(veryRich.union(veryBig).distinct()
        .select(lit("either").as("op"), col("c")))
  }

  register("q50_rollup",
    s"""SELECT o_orderpriority, o_orderstatus,
       |  COUNT(*) AS order_count,
       |  ${oDsum("o_totalprice")} AS revenue
       |FROM orders
       |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin) { (s, d) =>
    orders(s, d)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("revenue"))
  }

  // CUBE: all 2^k grouping combinations; GROUPING() flags disambiguate
  // real NULL keys from subtotal rows (both engines agree on the flags)
  register("q78_cube",
    s"""SELECT o_orderpriority, o_orderstatus,
       |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       |  COUNT(*) AS order_count,
       |  ${oDsum("o_totalprice")} AS revenue
       |FROM orders
       |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin) { (s, d) =>
    orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("revenue"))
  }

  // GROUPING SETS with disjoint sets — the case ROLLUP/CUBE can't spell:
  // two independent one-key summaries in a single pass (one shuffle of
  // the expanded rows instead of a union of two aggregates)
  register("q80_grouping_sets",
    s"""SELECT o_orderpriority, o_orderstatus,
       |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       |  COUNT(*) AS order_count,
       |  ${oDsum("o_totalprice")} AS revenue
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping(col("o_orderpriority")).cast(IntegerType).as("g_priority"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g_status"),
        count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("revenue"))
  }

  // distribution / navigation window family: PERCENT_RANK and CUME_DIST
  // are exact rationals computed identically in both engines; the
  // navigation trio pins frame semantics (LAST/NTH need the full frame —
  // the default frame ends at CURRENT ROW). Ordering fully tie-broken.
  register("q81_window_distribution",
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
      |  LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key,
      |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_cheapest_key
      |FROM orders
      |WHERE o_orderdate >= DATE '1997-01-01'
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d).filter(col("o_orderdate") >= lit("1997-01-01").cast(DateType))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first_value(col("o_orderkey")).over(w).as("cheapest_key"),
        last_value(col("o_orderkey")).over(full).as("priciest_key"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_cheapest_key"))
  }

  register("q51_semi_join",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey IN (
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  // ANTI join as a first-class operator (NOT EXISTS): customers with no
  // urgent order. Same physical family as q51's semi — a broadcast/hash
  // join that streams the probe side and emits non-matches; at scale the
  // build side is only the DISTINCT filtered keys.
  register("q95_anti_join",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  // RIGHT OUTER join — preserved-right parity row (J-family completion):
  // all customers, with their urgent orders where present. Spark plans
  // the same hash join as a left-outer with sides swapped; nulls on the
  // unpreserved side.
  register("q96_right_outer_join",
    """SELECT o.o_orderkey, o.o_orderdate, c.c_custkey, c.c_mktsegment
      |FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
      |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin) { (s, d) =>
    orders(s, d).filter(col("o_orderpriority") === "1-URGENT").alias("o")
      .join(customer(s, d).alias("c"),
        col("o.o_custkey") === col("c.c_custkey"), "right_outer")
      .select(col("o.o_orderkey").as("o_orderkey"),
        col("o.o_orderdate").as("o_orderdate"),
        col("c.c_custkey").as("c_custkey"),
        col("c.c_mktsegment").as("c_mktsegment"))
  }

  // HAVING — post-aggregation predicates (TPC-H Q18 flavor: large-volume
  // customers). Catalyst plans the filter ABOVE the aggregate, so the
  // groupBy still gets map-side partial aggregation.
  register("q82_having",
    s"""SELECT o_custkey,
       |  COUNT(*) AS order_count,
       |  ${oDsum("o_totalprice")} AS total_spend
       |FROM orders
       |GROUP BY o_custkey
       |HAVING COUNT(*) >= 15 AND ${oDsum("o_totalprice")} > 2000000""".stripMargin) { (s, d) =>
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("total_spend"))
      .filter(col("order_count") >= 15 && col("total_spend") > 2000000)
  }

  // UNPIVOT / melt — wide-to-long reshape (the inverse of q69's pivot).
  // Map-only: Expand replicates each row once per measure with no
  // shuffle. Oracle spells it as UNION ALL, which is the same algebra.
  register("q83_unpivot", {
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    metrics.map { m =>
      s"""SELECT l_orderkey, l_linenumber, '$m' AS metric,
         |  CAST($m AS DOUBLE) AS metric_value
         |FROM lineitem WHERE l_shipdate >= DATE '1998-11-01'""".stripMargin
    }.mkString("\nUNION ALL\n")
  }) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-11-01").cast(DateType))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(DoubleType),
        col("l_extendedprice").cast(DoubleType),
        col("l_discount").cast(DoubleType), col("l_tax").cast(DoubleType))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "metric_value")
  }

  // Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL keys match NULL
  // keys, unlike plain = which drops them. The canonical trap in
  // change-detection joins.
  register("q84_null_safe_join",
    """SELECT n.n_name, r.r_name
      |FROM (SELECT n_name, NULLIF(n_regionkey, 0) AS k FROM nation) n
      |JOIN (SELECT r_name, NULLIF(r_regionkey, 0) AS k FROM region) r
      |  ON n.k IS NOT DISTINCT FROM r.k""".stripMargin) { (s, d) =>
    val n = nation(s, d)
      .select(col("n_name"), nullif(col("n_regionkey"), lit(0)).as("nk"))
    val r = region(s, d)
      .select(col("r_name"), nullif(col("r_regionkey"), lit(0)).as("rk"))
    n.join(r, col("nk") <=> col("rk")).select(col("n_name"), col("r_name"))
  }

  register("q52_exact_median",
    """WITH ordered AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer)
      |SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS median_acctbal
      |FROM ordered
      |WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      |GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val cntW = Window.partitionBy(col("c_mktsegment"))
    customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"),
        row_number().over(w).as("rn"), count(lit(1)).over(cntW).as("n"))
      .filter(col("rn") === floor((col("n") + 1) / 2).cast(LongType) ||
        col("rn") === floor((col("n") + 2) / 2).cast(LongType))
      .groupBy("c_mktsegment")
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 4))).cast(DoubleType)
        / count(lit(1))).as("median_acctbal"))
  }

  // HyperLogLog++ approximate distinct. The sketch estimate itself is
  // engine-specific, so the gate hashes the GUARANTEE instead of the
  // value: Spark emits within_bound = |approx − exact| ≤ 10%·exact
  // (5× the requested 2% rsd — far outside any plausible estimator
  // wobble), the oracle emits literal TRUE next to DuckDB's exact
  // COUNT(DISTINCT). The hash matches iff the estimate honors its bound
  // on every group. (r2 verdict item 5: was rows-only.)
  register("q56_approx_distinct",
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS within_bound
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d).groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("approx") - col("exact_customers")) <=
          col("exact_customers") * 0.10).as("within_bound"))
  }

  // date spine — dbt_utils.date_spine semantics: a generated complete
  // month axis LEFT-joined to the observed series so empty months appear
  // as zeros (the executive-summary monthly series has gaps otherwise).
  // The spine derives from the data's own min/max (one tiny aggregate,
  // broadcast both ways); sequence() explodes on the 1-row frame, so the
  // generation is O(months), never O(rows).
  register("q86_date_spine",
    s"""WITH bounds AS (
       |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS mn,
       |         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS mx
       |  FROM orders),
       |spine AS (
       |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month
       |  FROM bounds),
       |monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       |    COUNT(*) AS order_count,
       |    ${oDsum("o_totalprice")} AS revenue
       |  FROM orders WHERE o_orderpriority = '1-URGENT'
       |  GROUP BY 1)
       |SELECT s.month, COALESCE(m.order_count, 0) AS order_count,
       |  COALESCE(m.revenue, 0) AS revenue
       |FROM spine s LEFT JOIN monthly m ON s.month = m.month""".stripMargin) { (s, d) =>
    val bounds = orders(s, d)
      .agg(trunc(min(col("o_orderdate")), "month").as("mn"),
        trunc(max(col("o_orderdate")), "month").as("mx"))
    val spine = bounds.select(explode(
      sequence(col("mn"), col("mx"), expr("interval 1 month"))).as("month"))
    val monthly = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("revenue"))
    spine.join(monthly, Seq("month"), "left")
      .select(col("month"),
        coalesce(col("order_count"), lit(0)).as("order_count"),
        coalesce(col("revenue"), lit(0)).as("revenue"))
  }

  // fuzzy matching: edit-distance pairing within a fixed blocking window
  // plus regex group extraction — the poor-man's entity-resolution pass.
  // The block (c_custkey < 200) is a FIXED-size candidate set at every
  // SF, so the quadratic pair generation is bounded by construction; at
  // scale the block key would be a phonetic/prefix bucket.
  register("q87_fuzzy_match",
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |  levenshtein(a.c_name, b.c_name) AS edit_distance,
      |  CAST(regexp_extract(a.c_name, '#(0*)([0-9]+)', 2) AS BIGINT) AS id_a,
      |  CAST(regexp_extract(b.c_name, '#(0*)([0-9]+)', 2) AS BIGINT) AS id_b
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 200) a
      |JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 200) b
      |  ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (s, d) =>
    val block = customer(s, d).filter(col("c_custkey") < 200)
      .select(col("c_custkey"), col("c_name"))
    val a = block.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"))
    val b = block.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"))
    a.join(b, col("key_a") < col("key_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("key_a"), col("key_b"),
        levenshtein(col("name_a"), col("name_b")).as("edit_distance"),
        regexp_extract(col("name_a"), "#(0*)([0-9]+)", 2).cast(LongType).as("id_a"),
        regexp_extract(col("name_b"), "#(0*)([0-9]+)", 2).cast(LongType).as("id_b"))
  }

  // exact second moments: variance / stddev / correlation from exact
  // decimal sums via the closed-form (n·Σx² − (Σx)²)/n². The engines'
  // own STDDEV/CORR use different accumulation orders (Welford vs
  // two-pass) and never hash-match; exact integer-grid sums feed
  // IDENTICAL double expressions on both sides, and IEEE-754 sqrt is
  // correctly rounded, so every derived value is bit-deterministic.
  // Still one shuffle with map-side partials — the sums are ordinary
  // SUM aggregates.
  // Grid trap (measured): x·x at 1e11+ magnitude has double ULP ~6e-5 —
  // LARGER than the 4-decimal grid's half-spacing — so casting the
  // product to DECIMAL lands on rounding midpoints where Spark HALF_UP
  // and DuckDB diverge. Squares must be taken in EXACT integer cents
  // (floor-snapped BEFORE multiplying), summed as DECIMAL(38,0).
  register("q91_exact_moments", {
    val cx = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    val cy = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"
    def dsq(a: String, b: String) =
      s"CAST(SUM(CAST($a * $b AS DECIMAL(38,0))) AS DOUBLE)"
    def dsm(a: String) = s"CAST(SUM(CAST($a AS DECIMAL(38,0))) AS DOUBLE)"
    s"""WITH sums AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${dsm(cx)} AS sx, ${dsq(cx, cx)} AS sxx,
       |    ${dsm(cy)} AS sy, ${dsq(cy, cy)} AS syy,
       |    ${dsq(cx, cy)} AS sxy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n) / 10000 AS var_price,
       |  sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n) / 10000) AS stddev_price,
       |  (n * sxy - sx * sy)
       |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_price_qty
       |FROM sums""".stripMargin
  }) { (s, d) =>
    val cx = floor(col("l_extendedprice") * 100 + 0.5)
    val cy = floor(col("l_quantity") * 100 + 0.5)
    def dsq(a: Column, b: Column): Column =
      sum((a * b).cast(DecimalType(38, 0))).cast(DoubleType)
    def dsm(a: Column): Column =
      sum(a.cast(DecimalType(38, 0))).cast(DoubleType)
    val g = lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        dsm(cx).as("sx"), dsq(cx, cx).as("sxx"),
        dsm(cy).as("sy"), dsq(cy, cy).as("syy"),
        dsq(cx, cy).as("sxy"))
    val n = col("n")
    val varPrice = (n * col("sxx") - col("sx") * col("sx")) /
      (n.cast(DoubleType) * n) / 10000
    g.select(col("l_returnflag"), n,
      varPrice.as("var_price"),
      sqrt(varPrice).as("stddev_price"),
      ((n * col("sxy") - col("sx") * col("sy")) /
        (sqrt(n * col("sxx") - col("sx") * col("sx")) *
          sqrt(n * col("syy") - col("sy") * col("sy"))))
        .as("corr_price_qty"))
  }

  // MAX_BY / MIN_BY (arg-max aggregation): "which row holds the
  // extreme", the lookup that otherwise costs a self-join or a window.
  // Determinism: the ordering value must be UNIQUE per group or both
  // engines free-pick among ties — encode (price_cents, orderkey) into
  // one BIGINT with identical floor arithmetic on both sides.
  register("q88_argmax",
    """SELECT o_orderpriority,
      |  arg_max(o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS priciest_order,
      |  arg_min(o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS cheapest_order,
      |  MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    val enc = floor(col("o_totalprice") * 100).cast(LongType) * 10000000L +
      col("o_orderkey")
    orders(s, d).groupBy(col("o_orderpriority"))
      .agg(max_by(col("o_orderkey"), enc).as("priciest_order"),
        min_by(col("o_orderkey"), enc).as("cheapest_order"),
        max(col("o_totalprice")).as("max_price"))
  }

  // approximate quantiles (Greenwald-Khanna sketch, the third member of
  // the sketch family next to Count-Min q55 and HLL q56): mergeable
  // partial sketches — one shuffle of O(accuracy) state per group
  // instead of the full column, the scale path when exact rank-and-pick
  // (q66) is too heavy. The returned VALUE is engine-specific, so the
  // gate hashes the GK guarantee: the value's rank interval
  // [#(<v)+1, #(≤v)] must come within ε·n (+1 rounding slack) of the
  // target rank p·n. Spark computes the rank check with one extra
  // broadcast join + map-side aggregate over the fact table (12 rows
  // broadcast — scale-safe); the oracle emits literal TRUE beside
  // DuckDB's exact group counts. (r2 verdict item 5: was rows-only.)
  register("q85_approx_quantiles", {
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
      .map(p => s"(CAST($p AS DOUBLE))").mkString(", ")
    s"""WITH grp AS (
       |  SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, p.p AS quantile, n, TRUE AS within_bound
       |FROM grp, (VALUES $ps) p(p)""".stripMargin
  }) { (s, d) =>
    val fracs = Seq(0.25, 0.5, 0.75, 0.95)
    val approx = lineitem(s, d).groupBy("l_returnflag")
      .agg(approx_percentile(col("l_extendedprice"),
          array(fracs.map(lit): _*), lit(10000)).as("qs"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), posexplode(col("qs")), col("n"))
      .select(col("l_returnflag"),
        element_at(array(fracs.map(lit): _*),
          (col("pos") + 1).cast(IntegerType)).as("quantile"),
        col("col").as("v"), col("n"))
    // rank interval of the returned value inside its group; ε = 1/accuracy
    val tol = col("n") / 10000.0 + 1.0
    val target = col("quantile") * col("n")
    lineitem(s, d).select("l_returnflag", "l_extendedprice")
      .join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("quantile"), col("n"))
      .agg(sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("cnt_le"))
      .select(col("l_returnflag"), col("quantile"), col("n"),
        (col("cnt_lt") <= target + tol && col("cnt_le") >= target - tol)
          .as("within_bound"))
  }

  // time-based RANGE frame: rolling 1-hour event count/value per user —
  // frame bounds in integer microseconds so both engines agree exactly
  register("q60_range_frame",
    """SELECT user_id, event_id, ts,
      |  COUNT(*) OVER w AS events_last_hour,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS value_last_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, Window.currentRow)
    events(s, d).select(col("user_id"), col("event_id"), col("ts"),
      count(lit(1)).over(w).as("events_last_hour"),
      sum(col("value").cast(DecimalType(18, 4))).over(w).cast(DoubleType)
        .as("value_last_hour"))
  }

  // exact multi-quantiles (p25/p50/p75/p90/p99) per group, linear
  // interpolation — the scalable formulation: window rank + per-group
  // count (ONE shuffle on the group key), pick the two bracketing ranks
  // per quantile, interpolate. Never collects a per-group array: at
  // 100 TB a group can exceed executor memory; rank-and-pick streams.
  // Both sides force p to DOUBLE: DuckDB VALUES literals are DECIMAL,
  // and (n-1)*DECIMAL('0.99') is exact where double 0.99 is not — the
  // FLOOR would disagree at integer boundaries.
  register("q66_exact_quantiles", {
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val vals = ps.map(p => s"(CAST($p AS DOUBLE))").mkString(", ")
    s"""WITH ranked AS (
       |  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v,
       |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey) AS rn,
       |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders),
       |picked AS (
       |  SELECT r.*, p.p FROM ranked r, (VALUES $vals) p(p)
       |  WHERE rn = FLOOR((n-1)*p) + 1 OR rn = LEAST(FLOOR((n-1)*p) + 2, n))
       |SELECT o_orderpriority, p,
       |  MAX(CASE WHEN rn = FLOOR((n-1)*p) + 1 THEN v END)
       |    + (MAX(CASE WHEN rn = LEAST(FLOOR((n-1)*p) + 2, n) THEN v END)
       |       - MAX(CASE WHEN rn = FLOOR((n-1)*p) + 1 THEN v END))
       |      * ((n-1)*p - FLOOR((n-1)*p)) AS quantile
       |FROM picked GROUP BY o_orderpriority, p, n""".stripMargin
  }) { (s, d) =>
    import s.implicits._
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99).toDF("p")
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    val ranked = orders(s, d)
      .select(col("o_orderpriority"),
        col("o_totalprice").cast(DoubleType).as("v"), col("o_orderkey"))
      .withColumn("rn",
        row_number().over(byPrio.orderBy(col("v"), col("o_orderkey"))))
      .withColumn("n", count(lit(1)).over(byPrio))
    val idx = (col("n") - 1) * col("p")
    val loRank = floor(idx) + 1
    val hiRank = least(floor(idx) + 2, col("n"))
    ranked.join(broadcast(ps), col("rn") === loRank || col("rn") === hiRank)
      .groupBy(col("o_orderpriority"), col("p"), col("n"))
      .agg(
        max(when(col("rn") === loRank, col("v"))).as("lo"),
        max(when(col("rn") === hiRank, col("v"))).as("hi"))
      .select(col("o_orderpriority"), col("p"),
        (col("lo") + (col("hi") - col("lo"))
          * ((col("n") - 1) * col("p") - floor((col("n") - 1) * col("p"))))
          .as("quantile"))
  }

  // array aggregation with deterministic ordering (collect_list is
  // partition-order-dependent; sorting restores determinism), emitted as
  // a joined string so the compare is representation-stable
  register("q61_array_agg",
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
      |  CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types
      |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    events(s, d).groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("event_types"),
        size(collect_set(col("event_type"))).cast(LongType).as("n_types"))
  }

  // exact least-squares regression (REGR_SLOPE/INTERCEPT/R2) in closed
  // form over exact integer-cent sums — same recipe as q91: snap to
  // cents FIRST, multiply exactly, sum as DECIMAL(38,0) (BIGINT would
  // overflow at n·Σxy scale), cast to DOUBLE only at the end where the
  // cast is correctly rounded in both engines. One partial-aggregated
  // shuffle; the engines' own REGR_* functions never hash-match (their
  // running-sum float order differs) — this formulation does.
  register("q109_regression", {
    val cx = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"
    val cy = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    def dsq(a: String, b: String) =
      s"CAST(SUM(CAST($a * $b AS DECIMAL(38,0))) AS DOUBLE)"
    def dsm(a: String) = s"CAST(SUM(CAST($a AS DECIMAL(38,0))) AS DOUBLE)"
    s"""WITH sums AS (
       |  SELECT l_linestatus, COUNT(*) AS n,
       |    ${dsm(cx)} AS sx, ${dsq(cx, cx)} AS sxx,
       |    ${dsm(cy)} AS sy, ${dsq(cy, cy)} AS syy,
       |    ${dsq(cx, cy)} AS sxy
       |  FROM lineitem GROUP BY l_linestatus),
       |guarded AS (
       |  -- zero x-variance (constant x) → undefined fit: NULL, not an
       |  -- engine-specific Inf/NaN/error (Spark ANSI throws on it)
       |  SELECT *, CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       |    ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
       |  FROM sums)
       |SELECT l_linestatus, n, slope,
       |  (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
       |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
       |    ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
       |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
       |FROM guarded""".stripMargin
  }) { (s, d) =>
    val cx = floor(col("l_quantity") * 100 + 0.5)
    val cy = floor(col("l_extendedprice") * 100 + 0.5)
    def dsq(a: Column, b: Column): Column =
      sum((a * b).cast(DecimalType(38, 0))).cast(DoubleType)
    def dsm(a: Column): Column =
      sum(a.cast(DecimalType(38, 0))).cast(DoubleType)
    val g = lineitem(s, d).groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        dsm(cx).as("sx"), dsq(cx, cx).as("sxx"),
        dsm(cy).as("sy"), dsq(cy, cy).as("syy"),
        dsq(cx, cy).as("sxy"))
    val n = col("n")
    val dxx = n * col("sxx") - col("sx") * col("sx")
    val dyy = n * col("syy") - col("sy") * col("sy")
    val cov = n * col("sxy") - col("sx") * col("sy")
    // zero x-variance → NULL (Spark ANSI throws on the raw division)
    val slope = when(dxx === 0, lit(null)).otherwise(cov / dxx)
    g.select(col("l_linestatus"), n,
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / n.cast(DoubleType)).as("intercept"),
      when(dxx * dyy === 0, lit(null))
        .otherwise((cov * cov) / (dxx * dyy)).as("r2"))
  }

  // MODE (most frequent value) per group — two partial-aggregated
  // shuffles (value counts, then per-group pick); the pick tie-breaks
  // on the value itself so both engines choose identically when counts
  // tie. Never collects per-group value lists.
  register("q110_mode",
    """WITH counts AS (
      |  SELECT l_returnflag, l_linenumber, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY l_returnflag, l_linenumber),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |    ORDER BY cnt DESC, l_linenumber ASC) AS rn
      |  FROM counts)
      |SELECT l_returnflag, l_linenumber AS mode_linenumber, cnt AS mode_cnt
      |FROM ranked WHERE rn = 1""".stripMargin) { (s, d) =>
    val counts = lineitem(s, d)
      .groupBy("l_returnflag", "l_linenumber")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_linenumber").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_linenumber").as("mode_linenumber"),
        col("cnt").as("mode_cnt"))
  }

  // MEDIAN ABSOLUTE DEVIATION — the robust dispersion statistic an
  // outlier-detection pass prefers over stddev (a single corrupt value
  // can't move it). Two rank-and-pick medians composed: median of the
  // cents values, then median of |x − med|; both are window shuffles on
  // the group key, never per-group arrays, so the operator scales like
  // q52/q66. All arithmetic stays on the integer-cent grid (deviations
  // are exact multiples of 0.5 cents) — bit-identical across engines.
  register("q112_mad",
    """WITH cents AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE) AS v
      |  FROM orders),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY v ASC, o_orderkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM cents),
      |med AS (
      |  SELECT o_orderpriority,
      |    CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS med
      |  FROM ranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      |  GROUP BY o_orderpriority),
      |dev AS (
      |  SELECT c.o_orderpriority, c.o_orderkey, m.med, ABS(c.v - m.med) AS dv
      |  FROM cents c JOIN med m ON c.o_orderpriority = m.o_orderpriority),
      |ranked2 AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY dv ASC, o_orderkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM dev)
      |SELECT o_orderpriority, n, MAX(med) AS median_cents,
      |  CAST(SUM(CAST(dv AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mad_cents
      |FROM ranked2 WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      |GROUP BY o_orderpriority, n""".stripMargin) { (s, d) =>
    val cents = orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast(LongType).cast(DoubleType)
        .as("v"))
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    def pickMedian(df: DataFrame, value: Column, out: String): DataFrame = {
      val ranked = df.select(col("*"),
        row_number().over(byPrio.orderBy(value.asc, col("o_orderkey").asc))
          .as("rn"),
        count(lit(1)).over(byPrio).as("n"))
      ranked.filter(col("rn") === floor((col("n") + 1) / 2).cast(LongType) ||
          col("rn") === floor((col("n") + 2) / 2).cast(LongType))
        .groupBy(col("o_orderpriority"), col("n"))
        .agg((sum(value.cast(DecimalType(18, 4))).cast(DoubleType)
          / count(lit(1))).as(out))
    }
    val med = pickMedian(cents, col("v"), "med")
      .select(col("o_orderpriority"), col("med"))
    val dev = cents.join(broadcast(med), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("med"),
        abs(col("v") - col("med")).as("dv"))
    pickMedian(dev, col("dv"), "mad_cents")
      .join(broadcast(med), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), col("med").as("median_cents"),
        col("mad_cents"))
  }

  // bitwise aggregates (BIT_AND / BIT_OR / BIT_XOR) — order-independent
  // by algebra, so they partial-aggregate freely; XOR-of-keys is the
  // classic set-reconciliation / checksum primitive (two replicas with
  // equal XOR + count very likely hold the same key set).
  register("q111_bitwise_agg",
    """SELECT l_returnflag,
      |  BIT_AND(l_orderkey) AS key_and,
      |  BIT_OR(l_orderkey) AS key_or,
      |  BIT_XOR(l_orderkey) AS key_xor,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d).groupBy("l_returnflag")
      .agg(bit_and(col("l_orderkey")).as("key_and"),
        bit_or(col("l_orderkey")).as("key_or"),
        bit_xor(col("l_orderkey")).as("key_xor"),
        count(lit(1)).as("n"))
  }

  // WEIGHTED MEDIAN — the quantity-weighted counterpart of q52's exact
  // median: the smallest value v whose cumulative weight reaches half
  // the group total (the estimator behind "median price per unit sold").
  // One window shuffle on the group key; the cumulative ROWS frame is
  // order-ambiguous among equal values, but the PICKED value is not:
  // the crossing row always lands inside the run of the answer value,
  // so MIN(v) over crossing rows is deterministic in both engines.
  // Integer cents × integer weights end to end.
  register("q129_weighted_median",
    """WITH base AS (
      |  SELECT l_returnflag AS g,
      |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS wgt
      |  FROM lineitem),
      |c AS (
      |  SELECT g, v, wgt,
      |    CAST(SUM(wgt) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(SUM(wgt) OVER (PARTITION BY g) AS BIGINT) AS tot
      |  FROM base)
      |SELECT g AS l_returnflag, MIN(v) AS weighted_median_cents,
      |  MAX(tot) AS total_weight
      |FROM c WHERE 2 * cum >= tot GROUP BY g""".stripMargin) { (s, d) =>
    val base = lineitem(s, d).select(col("l_returnflag").as("g"),
      floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("v"),
      col("l_quantity").cast(LongType).as("wgt"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    base
      .select(col("g"), col("v"), sum(col("wgt")).over(wCum).as("cum"),
        sum(col("wgt")).over(wTot).as("tot"))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("g")
      .agg(min(col("v")).as("weighted_median_cents"),
        max(col("tot")).as("total_weight"))
      .withColumnRenamed("g", "l_returnflag")
  }

  /** [[q133]] smoothing pseudo-count and fold count. */
  val EncodeSmoothK = 20
  val EncodeFolds = 5

  // LEAKAGE-SAFE TARGET ENCODING — the categorical-feature encoder an
  // ML feature pipeline runs before training: each (category, fold)
  // cell gets the smoothed mean of the target computed WITHOUT its own
  // fold (out-of-fold exclusion kills target leakage) and shrunk toward
  // the global prior by a pseudo-count (empirical-Bayes smoothing for
  // rare categories). Folds are the seeded portable hash (never
  // rand()). The encoding arithmetic is the same IEEE expression in
  // both engines: integer cent sums all the way, one double prior
  // division, one double encode division.
  //
  // Scale: one (category, fold) partial-aggregated shuffle; category
  // totals come from a window over the |folds|-row frame per category
  // (bounded by construction); the global prior is a 1-row broadcast.
  register("q133_target_encoding", {
    val h = graft.text.PortableHash
      .oHash60Seeded(97, "CAST(o_orderkey AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT o_orderpriority AS category,
       |    CAST($h % $EncodeFolds AS BIGINT) AS fold,
       |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
       |  FROM orders),
       |cells AS (
       |  SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n_f,
       |    CAST(SUM(c) AS BIGINT) AS s_f
       |  FROM base GROUP BY category, fold),
       |cat AS (
       |  SELECT *, CAST(SUM(n_f) OVER (PARTITION BY category) AS BIGINT)
       |      AS n_c,
       |    CAST(SUM(s_f) OVER (PARTITION BY category) AS BIGINT) AS s_c
       |  FROM cells),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n,
       |        CAST(SUM(c) AS BIGINT) AS big_s FROM base)
       |SELECT category, fold, n_c - n_f AS n_loo,
       |  (CAST(s_c - s_f AS DOUBLE)
       |     + $EncodeSmoothK * (CAST(big_s AS DOUBLE) / big_n))
       |    / (n_c - n_f + $EncodeSmoothK) AS encoding_cents
       |FROM cat, g""".stripMargin
  }) { (s, d) =>
    import graft.text.PortableHash.hash60Seeded
    val base = orders(s, d).select(
      col("o_orderpriority").as("category"),
      (hash60Seeded(97, col("o_orderkey").cast(StringType))
        % EncodeFolds).as("fold"),
      floor(col("o_totalprice") * 100 + 0.5).cast(LongType).as("c"))
    val cells = base.groupBy("category", "fold")
      .agg(count(lit(1)).as("n_f"), sum(col("c")).as("s_f"))
    val wCat = Window.partitionBy("category")
    val cat = cells
      .withColumn("n_c", sum(col("n_f")).over(wCat))
      .withColumn("s_c", sum(col("s_f")).over(wCat))
    val g = base.agg(count(lit(1)).as("big_n"), sum(col("c")).as("big_s"))
    cat.crossJoin(broadcast(g))
      .select(col("category"), col("fold"),
        (col("n_c") - col("n_f")).as("n_loo"),
        (((col("s_c") - col("s_f")).cast(DoubleType)
          + lit(EncodeSmoothK) * (col("big_s").cast(DoubleType) / col("big_n")))
          / (col("n_c") - col("n_f") + EncodeSmoothK)).as("encoding_cents"))
  }

  /** [[q138]] per-group k. */
  val GroupTopK = 5

  // GROUP-WISE TOP-K via the bounded-state [[TopKAgg]] Aggregator:
  // per-group aggregation state is k rows regardless of group size, and
  // only k-row partials cross the shuffle — the map-side-combinable
  // alternative to window-rank (which sorts every group's full row set).
  // The DuckDB oracle IS the window-rank formulation, so the gate proves
  // the two formulations equivalent. Duplicate (value, id) tuples are
  // interchangeable under ranking — output values are identical.
  register("q138_group_topk",
    s"""WITH base AS (
       |  SELECT l_returnflag AS g,
       |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
       |    l_orderkey, l_linenumber
       |  FROM lineitem),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
       |    ORDER BY cents DESC, l_orderkey ASC, l_linenumber ASC) AS rank
       |  FROM base)
       |SELECT g AS l_returnflag, CAST(rank AS INTEGER) AS rank, cents,
       |  l_orderkey, l_linenumber
       |FROM r WHERE rank <= $GroupTopK""".stripMargin) { (s, d) =>
    val topk = org.apache.spark.sql.functions.udaf(
      TopKAgg.aggregator(GroupTopK),
      org.apache.spark.sql.Encoders.product[TopKRow])
    val agged = lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"),
        col("l_orderkey"), col("l_linenumber"))
      .groupBy("g")
      .agg(topk(col("c"), col("l_orderkey"), col("l_linenumber")).as("tk"))
    // explode FIRST, read struct fields in the NEXT projection (the
    // same-select generator/getField trap — see the verify recipe)
    agged.select(col("g"), posexplode(col("tk.rows")))
      .select(col("g").as("l_returnflag"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.c").as("cents"),
        col("col.o").as("l_orderkey"),
        col("col.l").as("l_linenumber"))
  }

  // ======================================================== skyline
  // Per-customer Pareto frontier over (recency ↑, price ↓): an order is
  // on the frontier iff no other order of the same customer is at least
  // as recent AND strictly cheaper. Classic 2-D skyline via one sorted
  // scan — sort each partition by date DESC and keep rows that undercut
  // the running minimum price; no self-join, no quadratic dominance
  // test. Ties share a deterministic policy: equal-(date,price) rows
  // keep only the lowest orderkey, and an equal-price later-date order
  // wins (the earlier one is weakly dominated).
  //
  // Determinism: prices are compared raw (same parquet doubles in both
  // engines, no arithmetic); the scan order carries (price, orderkey)
  // as tie-breaks so the running minimum is unique by construction.
  //
  // Scale: ONE shuffle keyed by o_custkey; the window is a running MIN
  // (constant state), not a frame recompute. A global skyline (no
  // partition key) would instead range-partition on the sort dimension
  // and merge per-partition frontiers with each partition's prefix
  // minimum — same operator family, one extra bounded pass.
  register("q144_skyline",
    """WITH scanned AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
      |    MIN(o_totalprice) OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_totalprice ASC, o_orderkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM scanned
      |WHERE best_prev IS NULL OR o_totalprice < best_prev""".stripMargin) {
    (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_totalprice").asc,
        col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("o_orderdate"),
        col("o_totalprice"),
        min(col("o_totalprice")).over(w).as("best_prev"))
      .filter(col("best_prev").isNull ||
        col("o_totalprice") < col("best_prev"))
      .drop("best_prev")
  }

  // ==================================== scalable global sequence ids
  // Global ROW_NUMBER without a global window: range-partition on the
  // key, rank WITHIN each partition, then add per-partition offsets
  // (prefix sums of partition counts — a frame bounded by the shuffle
  // partition count, never the data). This is THE pattern for assigning
  // global sequence ids at 100 TB: the single-partition sort that
  // `ROW_NUMBER() OVER (ORDER BY …)` plans is the canonical scale
  // killer PlanLint exists to catch. The result is partition-layout-
  // independent: rn is the total rank of the (unique) key, wherever
  // the range boundaries land.
  register("q149_global_rownumber",
    """SELECT event_id,
      |  ROW_NUMBER() OVER (ORDER BY event_id) AS rn
      |FROM events WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    val base = events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"))
    val local = base.repartitionByRange(32, col("event_id"))
      .select(col("event_id"), spark_partition_id().as("pid"))
      .select(col("event_id"), col("pid"), row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("event_id")))
        .as("local_rn"))
    val offsets = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .select(col("pid"), coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("offset"))
    local.join(broadcast(offsets), Seq("pid"))
      .select(col("event_id"),
        (col("offset") + col("local_rn")).as("rn"))
  }

  // =========================================== mergeable HLL sketches
  // Sketch RE-AGGREGATION — the property that makes approximate
  // distinct counting work at 100 TB: per-source HyperLogLog sketches
  // (DataSketches HLL, lgK=[[HllLgK]]) are built in one pass, then
  // UNIONED into a corpus-wide estimate without touching the data
  // again. That union is exactly what a 1000-executor rollup, an
  // incremental daily pipeline, or a cube over sketch columns relies
  // on — a COUNT(DISTINCT) can't re-aggregate, a sketch column can.
  //
  // Gate (q55/q56/q85 within_bound pattern): the sketch estimate is
  // engine-specific, so the hash covers the EXACT per-source and
  // merged distinct counts plus a within_bound boolean. lgK=12 gives
  // rse ≈ 1.04/√4096 ≈ 1.6%; the 5% bound is >3σ, and the sketch is
  // deterministic — a pass at one SF is a pass forever on that data.
  val HllLgK = 12
  val HllRelBound = 0.05

  register("q146_hll_union",
    """WITH sv AS (
      |  SELECT DISTINCT source, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_tokens,
      |  TRUE AS within_bound
      |FROM sv GROUP BY source
      |UNION ALL
      |SELECT 'ALL' AS source,
      |  CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_tokens,
      |  TRUE AS within_bound
      |FROM sv""".stripMargin) { (s, d) =>
    val sv = documents(s, d)
      .select(col("source"),
        explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .distinct()
    val perSource = sv.groupBy("source")
      .agg(count(lit(1)).as("exact_tokens"),
        hll_sketch_agg(col("w"), lit(HllLgK)).as("sk"))
    val global = perSource
      .agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(
        sv.agg(count_distinct(col("w")).as("exact_tokens"))))
      .select(lit("ALL").as("source"), col("exact_tokens"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_tokens"))
          <= col("exact_tokens") * HllRelBound).as("within_bound"))
    perSource
      .select(col("source"), col("exact_tokens"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_tokens"))
          <= col("exact_tokens") * HllRelBound).as("within_bound"))
      .union(global)
  }

  // ================================ sketch set algebra: intersection
  // HLL sketches union natively but do NOT intersect — the standard
  // estimator is inclusion–exclusion over three unions:
  // |A∩B| ≈ est(A) + est(B) − est(A∪B). That algebra is what powers
  // audience-overlap / retention-overlap dashboards over sketch columns
  // at 100 TB: two single-pass sketches and a driver-free merge replace
  // a distinct-pair self-join. Error compounds across the three
  // estimates, so the bound is relative to the UNION size (each term's
  // rse ≈ 1.04/√2^lgK ≈ 1.6% at lgK=12; √3·1.6% ≈ 2.8% 1σ —
  // [[HllIeBound]] = 10% is >3σ). The sketch is deterministic: the
  // exact counts hash-gate the relational side, and the boolean is a
  // pass-forever property of this data.
  val HllIeBound = 0.10

  register("q176_hll_intersection",
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate < DATE '1995-01-01'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |      WHERE o_orderdate >= DATE '1995-01-01')
      |SELECT
      |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
      |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
      |  CAST((SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS BIGINT)
      |    AS exact_both,
      |  TRUE AS within_bound""".stripMargin) { (s, d) =>
    val split = lit(java.sql.Date.valueOf("1995-01-01"))
    val o = orders(s, d).select(col("o_custkey"),
      col("o_orderdate").cast(DateType).as("dt"))
    val a = o.filter(col("dt") < split).select("o_custkey")
    val b = o.filter(col("dt") >= split).select("o_custkey")
    val sk = a.agg(hll_sketch_agg(col("o_custkey"), lit(HllLgK)).as("ska"),
        count_distinct(col("o_custkey")).as("exact_a"))
      .crossJoin(b.agg(hll_sketch_agg(col("o_custkey"), lit(HllLgK)).as("skb"),
        count_distinct(col("o_custkey")).as("exact_b")))
      .crossJoin(a.join(b, Seq("o_custkey"), "left_semi")
        .agg(count_distinct(col("o_custkey")).as("exact_both")))
    sk.select(col("exact_a"), col("exact_b"), col("exact_both"),
        (hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
          - hll_sketch_estimate(hll_union(col("ska"), col("skb"))))
          .as("est_both"),
        (col("exact_a") + col("exact_b") - col("exact_both")).as("exact_union"))
      .select(col("exact_a"), col("exact_b"), col("exact_both"),
        (abs(col("est_both") - col("exact_both"))
          <= col("exact_union") * HllIeBound).as("within_bound"))
  }

  // ==================================== bitmap exact-distinct
  /** [[q162]] key domain: covers custkey through sf1 (150k). */
  val BitmapDomain = 1 << 18

  // EXACT distinct counting via [[BitmapAgg]]: one standard aggregation
  // whose per-group state is a fixed 32 KiB bitset, map-side OR-combined —
  // no Expand, no second shuffle keyed on (group, key), and the exchange
  // carries |groups| × 32 KiB regardless of fact row count. The oracle is
  // Spark's own semantics (COUNT(DISTINCT)) computed by DuckDB, so the
  // gate proves the bitmap path exactly equivalent; BitmapAggSpec pins
  // partitioning invariance and the out-of-domain failure contract.
  register("q162_bitmap_distinct",
    """SELECT o_orderpriority AS priority,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
    val bd = org.apache.spark.sql.functions.udaf(
      BitmapAgg.aggregator(BitmapDomain),
      org.apache.spark.sql.Encoders.scalaLong)
    orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(bd(col("o_custkey").cast(LongType)).as("n_cust"),
        count(lit(1)).as("n_orders"))
  }

  // ================================= distinct-over-window (trailing N)
  // Rolling 3-month distinct part count per supplier. Spark has no
  // COUNT(DISTINCT) OVER — the idiomatic encoding is collect_set over a
  // RANGE frame on an integer month index, then size(). State per frame
  // is the distinct set itself, so the pattern is only safe when the
  // frame's distinct cardinality is bounded (parts-per-supplier-per-
  // quarter here; for unbounded domains use the HLL-over-window
  // estimator instead). The oracle is the independent month-band
  // self-join formulation — proving the window encoding against
  // relational semantics, not against itself.
  register("q166_window_distinct",
    """WITH mp AS (
      |  SELECT DISTINCT l_suppkey AS s,
      |    YEAR(l_shipdate) * 12 + MONTH(l_shipdate) - 1 AS m,
      |    l_partkey AS p
      |  FROM lineitem),
      |mm AS (SELECT DISTINCT s, m FROM mp)
      |SELECT mm.s AS suppkey, CAST(mm.m AS BIGINT) AS month_idx,
      |  CAST(COUNT(DISTINCT mp.p) AS BIGINT) AS parts_3mo
      |FROM mm JOIN mp ON mp.s = mm.s AND mp.m BETWEEN mm.m - 2 AND mm.m
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val mp = lineitem(s, d)
      .select(col("l_suppkey").as("s"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast(LongType).as("m"),
        col("l_partkey").as("p"))
      .distinct()
    val w = Window.partitionBy(col("s")).orderBy(col("m"))
      .rangeBetween(-2, 0)
    mp.select(col("s"), col("m"),
        size(collect_set(col("p")).over(w)).cast(LongType).as("parts_3mo"))
      .groupBy(col("s").as("suppkey"), col("m").as("month_idx"))
      .agg(max(col("parts_3mo")).as("parts_3mo"))
  }

  // ============================== distinct-over-window, sketch-grade
  // The unbounded-domain path q166's scaladoc points to: per-(supplier,
  // month) HLL sketches built once, then UNIONED over the trailing
  // RANGE frame — window state is a fixed-size sketch per cell instead
  // of the distinct set itself, so the pattern survives frames whose
  // distinct cardinality is unbounded. Gate = q55/q56 shape: the exact
  // trailing counts (independent band-join formulation, the same oracle
  // as q166) hash-gate the relational side; within_bound checks the
  // estimate against [[HllRelBound]] with a small absolute slack for
  // the near-exact sparse range (deterministic sketch — a pass is a
  // pass forever on this data).
  //
  // Scale: sketches aggregate with map-side combine on (s, m); the
  // window moves |cells| × sketch-size, never fact rows; the exactness
  // check's band join is the oracle's own formulation and would be
  // dropped in production (est-only path is sketch-sized end to end).
  register("q181_hll_window_distinct",
    """WITH mp AS (
      |  SELECT DISTINCT l_suppkey AS s,
      |    YEAR(l_shipdate) * 12 + MONTH(l_shipdate) - 1 AS m,
      |    l_partkey AS p
      |  FROM lineitem),
      |mm AS (SELECT DISTINCT s, m FROM mp)
      |SELECT mm.s AS suppkey, CAST(mm.m AS BIGINT) AS month_idx,
      |  CAST(COUNT(DISTINCT mp.p) AS BIGINT) AS exact_3mo,
      |  TRUE AS within_bound
      |FROM mm JOIN mp ON mp.s = mm.s AND mp.m BETWEEN mm.m - 2 AND mm.m
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val mp = lineitem(s, d)
      .select(col("l_suppkey").as("s"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast(LongType).as("m"),
        col("l_partkey").as("p"))
      .distinct()
    val w = Window.partitionBy(col("s")).orderBy(col("m"))
      .rangeBetween(-2, 0)
    val est = mp.groupBy("s", "m")
      .agg(hll_sketch_agg(col("p"), lit(HllLgK)).as("sk"))
      .select(col("s"), col("m"),
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w)).as("est"))
    val mm = mp.select("s", "m").distinct()
    val exact = mm.select(col("s"), col("m").as("m0"))
      .join(mp.select(col("s"), col("m").as("mb"), col("p")), Seq("s"))
      .filter(col("mb").between(col("m0") - 2, col("m0")))
      .groupBy(col("s"), col("m0").as("m"))
      .agg(count_distinct(col("p")).as("exact_3mo"))
    est.join(exact, Seq("s", "m"))
      .select(col("s").as("suppkey"), col("m").as("month_idx"),
        col("exact_3mo"),
        (abs(col("est") - col("exact_3mo"))
          <= greatest(col("exact_3mo") * HllRelBound, lit(3.0)))
          .as("within_bound"))
  }

  // ============================ exact global median, selection-style
  // The distributed-selection classic: an EXACT global quantile with no
  // global sort and no data-sized window. Pass 1 bins the column into
  // [[MedianBuckets]] equal-width integer ranges and prefix-sums the
  // 1024-row histogram to locate the bucket holding rank k; pass 2
  // scans ONLY that bucket, builds its value census (distinct values ≤
  // the bucket's integer width, bounded by construction), and walks the
  // prefix to the residual rank. Every pass is a map-side-combinable
  // aggregation; the windows ride the histogram/census frames, never
  // rows. This is how a 100 TB exact median actually gets computed —
  // q52's window formulation is the per-group mart-scale shape, this is
  // the global fact-scale shape.
  //
  // All arithmetic is exact: cents are integers, the bucket map
  // ((v−mn)·B) div (mx−mn+1) is BIGINT-exact, and rank k = (n+1) div 2
  // (lower median — value-rank semantics, ties collapse in the census).
  val MedianBuckets = 1024

  register("q187_global_median",
    s"""WITH base AS (
       |  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem),
       |b AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx,
       |             CAST(COUNT(*) AS BIGINT) AS n FROM base),
       |hist AS (
       |  SELECT ((cents - mn) * $MedianBuckets) // (mx - mn + 1) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM base, b GROUP BY 1),
       |cum AS (
       |  SELECT bucket, cnt,
       |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM hist),
       |win AS (
       |  SELECT c.bucket, c.cnt AS bucket_rows, c.cum_before, b.n,
       |    (b.n + 1) // 2 AS k
       |  FROM cum c, b
       |  WHERE c.cum_before < (b.n + 1) // 2
       |    AND (b.n + 1) // 2 <= c.cum_before + c.cnt),
       |census AS (
       |  SELECT base.cents, CAST(COUNT(*) AS BIGINT) AS vc
       |  FROM base, b, win
       |  WHERE ((cents - mn) * $MedianBuckets) // (mx - mn + 1) = win.bucket
       |  GROUP BY base.cents),
       |walk AS (
       |  SELECT cents,
       |    CAST(SUM(vc) OVER (ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM census)
       |SELECT w.n, w.k, CAST(w.bucket AS BIGINT) AS bucket, w.bucket_rows,
       |  (SELECT MIN(cents) FROM walk
       |   WHERE cum >= w.k - w.cum_before) AS median_cents
       |FROM win w""".stripMargin) { (s, d) =>
    val base = lineitem(s, d)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
        .as("cents"))
    val b = base.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"),
      count(lit(1)).as("n"))
    val binned = base.crossJoin(broadcast(b))
      .select(col("cents"),
        expr(s"((cents - mn) * $MedianBuckets) div (mx - mn + 1)")
          .as("bucket"))
    val hist = binned.groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val cum = hist.select(col("bucket"), col("cnt"),
      coalesce(sum(col("cnt")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("cum_before"))
    val win = cum.crossJoin(broadcast(b))
      .filter(col("cum_before") < expr("(n + 1) div 2") &&
        expr("(n + 1) div 2") <= col("cum_before") + col("cnt"))
      .select(col("bucket"), col("cnt").as("bucket_rows"),
        col("cum_before"), col("n"), expr("(n + 1) div 2").as("k"))
    val census = binned
      .join(broadcast(win.select(col("bucket"))), Seq("bucket"))
      .groupBy("cents").agg(count(lit(1)).as("vc"))
    val walk = census.select(col("cents"),
      sum(col("vc")).over(Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum"))
    val median = walk.crossJoin(broadcast(win.select(
        col("k").as("k2"), col("cum_before").as("cb2"))))
      .filter(col("cum") >= col("k2") - col("cb2"))
      .agg(min(col("cents")).as("median_cents"))
    win.select(col("n"), col("k"), col("bucket").cast(LongType).as("bucket"),
        col("bucket_rows"))
      .crossJoin(broadcast(median))
  }

  // ================================= rendezvous-hash shard assignment
  // Highest-random-weight (rendezvous) hashing: each key lands on the
  // shard maximizing h(key, shard). The property that matters for a
  // 100 TB re-shard is MINIMAL MOVEMENT — growing 8 → 10 shards moves
  // only the keys whose new shards win (≈ 2/10 of keys), where mod-N
  // assignment reshuffles nearly everything. The gate computes both
  // assignments and the per-key moved flag, measuring that property on
  // real keys. Determinism: h is pure BIGINT modular arithmetic; the
  // argmax is encoded as MAX(h·16 + shard) so ties (impossible by
  // h-injectivity mod 16, but still) break identically in both engines.
  register("q167_rendezvous_shards",
    """WITH k AS (SELECT c_custkey AS key FROM customer),
      |h8 AS (
      |  SELECT key, ((key * 2654435761 + (s.x + 1) * 40503 + 12345)
      |    % 1000000007) * 16 + s.x AS hw
      |  FROM k CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) s),
      |h10 AS (
      |  SELECT key, ((key * 2654435761 + (s.x + 1) * 40503 + 12345)
      |    % 1000000007) * 16 + s.x AS hw
      |  FROM k CROSS JOIN (SELECT UNNEST(range(0, 10)) AS x) s),
      |a8 AS (SELECT key, MAX(hw) % 16 AS shard8 FROM h8 GROUP BY key),
      |a10 AS (SELECT key, MAX(hw) % 16 AS shard10 FROM h10 GROUP BY key)
      |SELECT a8.key AS key, CAST(shard8 AS BIGINT) AS shard8,
      |  CAST(shard10 AS BIGINT) AS shard10,
      |  CAST(shard8 <> shard10 AS INTEGER) AS moved
      |FROM a8 JOIN a10 ON a8.key = a10.key""".stripMargin) { (s, d) =>
    val k = customer(s, d).select(col("c_custkey").cast(LongType).as("key"))
    def assign(shards: Int, out: String) = k
      .select(col("key"), explode(sequence(lit(0), lit(shards - 1))).as("x"))
      .select(col("key"),
        (((col("key") * 2654435761L + (col("x") + 1) * 40503L + 12345L)
          % 1000000007L) * 16 + col("x")).as("hw"))
      .groupBy("key")
      .agg((max(col("hw")) % 16).cast(LongType).as(out))
    assign(8, "shard8").join(assign(10, "shard10"), Seq("key"))
      .select(col("key"), col("shard8"), col("shard10"),
        (col("shard8") =!= col("shard10")).cast(IntegerType).as("moved"))
  }

  // ================================= frequent pairs (market basket)
  /** [[q171]] support floor / result cap. */
  val PairMinSupport = 3
  val PairTopK = 100

  // Frequent-itemset mining at pair granularity: co-occurrence support
  // from the per-order basket self-join, per-item supports joined back,
  // lift on the integer 1e6 grid via GridMath's exact staged division
  // (r7, the q179 identity): the naive sup_ab·N·10⁶ product overflows
  // BIGINT once sup_ab·N passes ~9.2e12; the staged form is
  // bit-identical (GridMathSpec proves the identity) and holds to
  // sup_ab·N ≤ 9.2e18 with sup_a·sup_b ≤ 9.2e15 — past 10¹² orders at
  // realistic supports. The support floor prunes the long
  // tail BEFORE the item joins, and the basket self-join inherits
  // q163's per-order bound (baskets are small by construction; a
  // hot-basket cap would bolt on exactly like MaxBucketSize). TopK by
  // (support, pair) is TakeOrdered — no global sort.
  register("q171_frequent_pairs",
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li),
       |item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM li GROUP BY 1),
       |pair AS (
       |  SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS sup_ab
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT a, b, sup_ab, ia.sup AS sup_a, ib.sup AS sup_b,
       |    ${GridMath.ppmDuck("sup_ab * n.n_orders", "ia.sup * ib.sup")}
       |      AS lift_grid
       |  FROM pair JOIN item ia ON ia.p = pair.a
       |            JOIN item ib ON ib.p = pair.b
       |            CROSS JOIN n
       |  WHERE sup_ab >= $PairMinSupport)
       |SELECT a, b, sup_ab, sup_a, sup_b, lift_grid
       |FROM scored
       |ORDER BY sup_ab DESC, a ASC, b ASC LIMIT $PairTopK""".stripMargin) {
    (s, d) =>
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val n = li.agg(count_distinct(col("o")).as("n_orders"))
    val item = li.groupBy("p").agg(count(lit(1)).as("sup"))
    val pair = li.select(col("o"), col("p").as("pa"))
      .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= PairMinSupport)
    pair
      .join(broadcast(item.select(col("p").as("a"), col("sup").as("sup_a"))), Seq("a"))
      .join(broadcast(item.select(col("p").as("b"), col("sup").as("sup_b"))), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("sup_ab"), col("sup_a"), col("sup_b"),
        expr(GridMath.ppmSpark("sup_ab * n_orders", "sup_a * sup_b"))
          .as("lift_grid"))
      .orderBy(col("sup_ab").desc, col("a").asc, col("b").asc)
      .limit(PairTopK)
  }

  // ======================================================= global skyline
  // The GLOBAL Pareto frontier q144's scaladoc promises: same dominance
  // semantics with no partition key, WITHOUT the single-partition sort a
  // naive `MIN(...) OVER (ORDER BY ... )` plans. Range-partition on the
  // scan dimension (date desc, then the q144 tie order), compute each
  // partition's running previous-minimum locally, and merge with the
  // EXCLUSIVE prefix-min of per-partition minimum prices — a
  // ≤32-row frame. best_prev = least(partition prefix, local running
  // min) reproduces the global scan's running minimum exactly, because
  // range partitioning preserves the scan order across partitions. The
  // oracle runs the global-window formulation directly — the gate proves
  // the two-pass decomposition (the q149 pattern with MIN as the monoid).
  register("q174_global_skyline",
    """WITH scanned AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |    o_totalprice,
      |    MIN(o_totalprice) OVER (
      |      ORDER BY o_orderdate DESC, o_totalprice ASC, o_orderkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
      |  FROM orders)
      |SELECT o_orderkey, o_orderdate, o_totalprice
      |FROM scanned
      |WHERE best_prev IS NULL OR o_totalprice < best_prev""".stripMargin) {
    (s, d) =>
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("o_orderdate"),
        col("o_totalprice"))
      .repartitionByRange(32, col("o_orderdate").desc, col("o_totalprice").asc,
        col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        spark_partition_id().as("pid"))
    val wloc = Window.partitionBy(col("pid"))
      .orderBy(col("o_orderdate").desc, col("o_totalprice").asc,
        col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.select(col("o_orderkey"), col("o_orderdate"),
      col("o_totalprice"), col("pid"),
      min(col("o_totalprice")).over(wloc).as("local_prev"))
    val woff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("pid")
      .agg(min(col("o_totalprice")).as("pmin"))
      .select(col("pid"), min(col("pmin")).over(woff).as("prefix_min"))
    local.join(broadcast(offsets), Seq("pid"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        least(col("prefix_min"), col("local_prev")).as("best_prev"))
      .filter(col("best_prev").isNull ||
        col("o_totalprice") < col("best_prev"))
      .drop("best_prev")
  }

  // ================================================ data-quality audit
  // The dbt generic-test family (not_null / accepted_values / range /
  // unique / relationships) evaluated as DATA — one summary row per
  // expectation with checked/failed counts, the artifact a pipeline
  // persists per run to trend quality over time. Complements
  // `engine.Checks` (which throws): this is the reporting shape.
  //
  // Three bounded probes, all map-side-combinable: the five scan-wide
  // expectations share ONE pass (conditional counts); uniqueness is one
  // keyed aggregation (rows in duplicated key groups — and testdata's
  // (l_orderkey, l_linenumber) really is non-unique, so the check
  // exercises a real failure); referential integrity is one anti-join
  // count. The three 1-row frames cross-assemble and unpivot to six
  // rows. At 100 TB: two shuffles (unique key, anti-join) + one scan.
  register("q192_dq_audit",
    """WITH a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
      |      AS f_null,
      |    CAST(COUNT(CASE WHEN l_returnflag IS NULL
      |      OR l_returnflag NOT IN ('A','N','R') THEN 1 END) AS BIGINT)
      |      AS f_acc,
      |    CAST(COUNT(CASE WHEN l_quantity IS NULL OR l_quantity < 1
      |      OR l_quantity > 50 THEN 1 END) AS BIGINT) AS f_qty,
      |    CAST(COUNT(CASE WHEN l_discount IS NULL OR l_discount < 0
      |      OR l_discount > 0.1 THEN 1 END) AS BIGINT) AS f_disc
      |  FROM lineitem),
      |u AS (
      |  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS f_uniq FROM (
      |    SELECT COUNT(*) AS c FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
      |r AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS f_rel FROM lineitem l
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |SELECT check_name, n_checked, n_failed, n_failed = 0 AS passed
      |FROM (
      |  SELECT 'not_null:l_shipdate' AS check_name, n AS n_checked,
      |    f_null AS n_failed FROM a
      |  UNION ALL SELECT 'accepted_values:l_returnflag', n, f_acc FROM a
      |  UNION ALL SELECT 'range:l_quantity:1-50', n, f_qty FROM a
      |  UNION ALL SELECT 'range:l_discount:0-0.1', n, f_disc FROM a
      |  UNION ALL SELECT 'unique:l_orderkey+l_linenumber', a.n, u.f_uniq
      |    FROM a, u
      |  UNION ALL SELECT 'relationships:l_orderkey->orders', a.n, r.f_rel
      |    FROM a, r)""".stripMargin) { (s, d) =>
    val li = lineitem(s, d)
    val a = li.agg(count(lit(1)).as("n"),
      count(when(col("l_shipdate").isNull, 1)).as("f_null"),
      count(when(col("l_returnflag").isNull ||
        !col("l_returnflag").isin("A", "N", "R"), 1)).as("f_acc"),
      count(when(col("l_quantity").isNull || col("l_quantity") < 1 ||
        col("l_quantity") > 50, 1)).as("f_qty"),
      count(when(col("l_discount").isNull || col("l_discount") < 0 ||
        col("l_discount") > 0.1, 1)).as("f_disc"))
    val u = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as("f_uniq"))
    val r = li.select(col("l_orderkey"))
      .join(orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("f_rel"))
    def chk(name: String, failed: Column) =
      struct(lit(name).as("check_name"), col("n").as("n_checked"),
        failed.as("n_failed"))
    a.crossJoin(broadcast(u)).crossJoin(broadcast(r))
      .select(explode(array(
        chk("not_null:l_shipdate", col("f_null")),
        chk("accepted_values:l_returnflag", col("f_acc")),
        chk("range:l_quantity:1-50", col("f_qty")),
        chk("range:l_discount:0-0.1", col("f_disc")),
        chk("unique:l_orderkey+l_linenumber", col("f_uniq")),
        chk("relationships:l_orderkey->orders", col("f_rel")))).as("c"))
      .select(col("c.check_name").as("check_name"),
        col("c.n_checked").as("n_checked"),
        col("c.n_failed").as("n_failed"),
        (col("c.n_failed") === 0).as("passed"))
  }

  // ========================== blocked record linkage (Jaro–Winkler argmax)
  // Entity resolution, the q87 family upgraded from edit-distance-≤-1 to
  // a real linkage scorer: candidate pairs form ONLY within a blocking
  // key (here substr(name, 1, 16) — a 100-key block at every SF since
  // names are prefix+9 digits; real pipelines block on phonetic/prefix
  // buckets exactly like this), each pair is scored with the native
  // [[graft.catalyst.JaroWinkler]] codegen kernel, and each record keeps
  // its argmax candidate. The argmax is a groupBy max-of-struct — one
  // shuffle with map-side partials, NOT a window rank (no per-block sort
  // materializes the pair set). Scores land on the ppm micro-grid
  // (q141 pattern) before any comparison so the argmax tie-break —
  // (sim_ppm DESC, key ASC), encoded as max(struct(sim, -key)) — is
  // exact in both engines. A skewed block would need a MaxBucketSize
  // cap exactly like DedupOps; this block key is uniform-100 by
  // construction.
  register("q197_jw_linkage",
    """WITH c AS (SELECT c_custkey AS key, c_name AS name,
      |             substr(c_name, 1, 16) AS blk FROM customer),
      |p AS (SELECT a.key AS key_a, b.key AS key_b,
      |        CAST(ROUND(jaro_winkler_similarity(a.name, b.name) * 1e6)
      |          AS BIGINT) AS sim_ppm
      |      FROM c a JOIN c b ON a.blk = b.blk AND a.key <> b.key),
      |r AS (SELECT key_a, key_b, sim_ppm, ROW_NUMBER() OVER (
      |        PARTITION BY key_a ORDER BY sim_ppm DESC, key_b ASC) AS rn
      |      FROM p)
      |SELECT key_a AS c_custkey, key_b AS best_match, sim_ppm
      |FROM r WHERE rn = 1 AND sim_ppm >= 900000""".stripMargin) { (s, d) =>
    val c = customer(s, d).select(col("c_custkey").as("key"),
      col("c_name").as("name"), substring(col("c_name"), 1, 16).as("blk"))
    val a = c.select(col("blk"), col("key").as("key_a"), col("name").as("name_a"))
    val b = c.select(col("blk"), col("key").as("key_b"), col("name").as("name_b"))
    a.join(b, Seq("blk")).filter(col("key_a") =!= col("key_b"))
      .select(col("key_a"), col("key_b"),
        round(graft.catalyst.GraftFunctions
          .jaroWinkler(col("name_a"), col("name_b")) * lit(1e6))
          .cast(LongType).as("sim_ppm"))
      .groupBy("key_a")
      .agg(max(struct(col("sim_ppm"), (-col("key_b")).as("neg_key"))).as("best"))
      .filter(col("best.sim_ppm") >= 900000L)
      .select(col("key_a").as("c_custkey"),
        (-col("best.neg_key")).as("best_match"),
        col("best.sim_ppm").as("sim_ppm"))
  }

  // ==================================== KMV distinct estimation
  /** [[q203]] sketch size: k smallest distinct hashes kept per group. */
  val KmvK = 64

  // KMV ("k minimum values") distinct-count estimation via the
  // [[graft.ml.KmvSketch]] bounded-state Aggregator — the third sketch
  // family next to HLL (q56/q146/q176) and Count-Min (q55), wired per
  // r10 ADVICE. Per-group aggregation state is ≤ k longs REGARDLESS of
  // group size and partials merge by sorted-merge-dedupe-truncate, so
  // only k-row buffers cross the shuffle (map-side combine, no
  // pre-distinct pass over the fact table).
  //
  // Determinism (the DuckDB mirror): the hash is a Knuth multiplicative
  // hash kept inside non-overflowing BIGINT arithmetic so BOTH engines
  // compute it with plain integer ops —
  //   hv = ((key & (2^31-1)) * 2654435761) & (2^31-1)
  // (max product 2^31 * 2.66e9 < 2^63: ANSI-safe in Spark, no HUGEINT
  // needed in DuckDB). The LOW 31 product bits, not the high ones: the
  // r11 version shifted the product right (>> 15), which for small keys
  // preserves magnitude ordering — the "hash" of dense custkeys was a
  // scaled identity and the order-statistic estimator read ~17× high
  // (measured r12: kmv_est ≈ 22–24k vs exact ≈ 1.3k at sf0.01, both
  // engines faithfully agreeing on the biased number). key·c mod 2^31
  // with c odd is a golden-ratio-step bijection — equidistributed even
  // on dense key ranges. Estimator, all-integer: with fewer than k
  // distinct hashes the sketch IS the value set (estimate exact);
  // otherwise est = (k-1)·2^31 div h_k (truncating BIGINT division in
  // both engines; h_k ≥ k-1 > 0 since hashes are distinct and
  // non-negative). exact_nd rides along so the artifact shows the
  // estimate against truth.
  register("q203_kmv_distinct",
    s"""WITH h AS (
       |  SELECT o_orderpriority AS prio, o_custkey AS k,
       |    ((o_custkey & 2147483647) * 2654435761) & 2147483647
       |      AS hv
       |  FROM orders),
       |ex AS (SELECT prio, COUNT(DISTINCT k) AS exact_nd
       |       FROM h GROUP BY prio),
       |d AS (SELECT DISTINCT prio, hv FROM h),
       |r AS (SELECT prio, hv,
       |        ROW_NUMBER() OVER (PARTITION BY prio ORDER BY hv) AS rn,
       |        COUNT(*) OVER (PARTITION BY prio) AS nd
       |      FROM d),
       |est AS (SELECT prio,
       |    CASE WHEN MAX(nd) < $KmvK THEN MAX(nd)
       |         ELSE (${(KmvK - 1).toLong * 2147483648L})
       |              // MAX(CASE WHEN rn = $KmvK THEN hv END) END AS kmv_est
       |  FROM r WHERE rn <= $KmvK GROUP BY prio)
       |SELECT ex.prio AS o_orderpriority,
       |  CAST(est.kmv_est AS BIGINT) AS kmv_est,
       |  CAST(ex.exact_nd AS BIGINT) AS exact_nd,
       |  TRUE AS within_bound
       |FROM ex JOIN est ON ex.prio = est.prio""".stripMargin) { (s, d) =>
    val kmv = org.apache.spark.sql.functions.udaf(
      graft.ml.KmvSketch.aggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    orders(s, d)
      .select(col("o_orderpriority").as("prio"), col("o_custkey").as("k"),
        (col("o_custkey").bitwiseAND(lit(2147483647L))
          * lit(2654435761L)).bitwiseAND(lit(2147483647L)).as("hv"))
      .groupBy("prio")
      .agg(kmv(col("hv")).as("vs"), count_distinct(col("k")).as("exact_nd"))
      .select(col("prio").as("o_orderpriority"),
        when(size(col("vs")) < KmvK, size(col("vs")).cast(LongType))
          .otherwise(expr(
            s"${(KmvK - 1).toLong * 2147483648L} div element_at(vs, $KmvK)"))
          .as("kmv_est"),
        col("exact_nd"))
      // error-bound gate (the q56 pattern, now that the estimator is
      // unbiased): the oracle pins TRUE, so an estimator drifting past
      // 4σ (rse ≈ 1/√(k−2) ≈ 12.7% at k=64 → 51%) breaks the hash
      .withColumn("within_bound",
        abs(col("kmv_est") - col("exact_nd")) * 100 <= col("exact_nd") * 51)
  }

  // ==================================== KMV set algebra
  // The reason KMV exists next to HLL (KmvSketch scaladoc): UNION and
  // INTERSECTION estimation from the sketches ALONE, without HLL
  // inclusion-exclusion's compounding error (q176's construction, on the
  // same kind of truth columns so the two families are comparable).
  //
  // Sets: customers ordering at priorities A = {1-URGENT, 2-HIGH} vs
  // B = {2-HIGH, 3-MEDIUM} (the shared tier guarantees real overlap).
  // Theory made exact-arithmetic: with S_A, S_B the k smallest distinct
  // hashes of each side, the k smallest of S_A ∪ S_B ARE the k smallest
  // of A ∪ B (membership of a union-sketch element in each input sketch
  // is exact), so
  //   union_est = (k-1)·2^31 div h_k           (q203's estimator)
  //   inter_est = matches · union_est div m    (ρ = matches/m)
  // where m = |union sketch|, matches = elements of it in BOTH input
  // sketches. All-integer: matches ≤ k and union_est ≤ 63·2^31, so the
  // product stays far under 2^63. When both sides are small (m < k) the
  // union sketch IS the hashed union and both estimates are exact over
  // the hash domain. Exact truths ride along via a per-customer flag
  // frame (one map-side-combinable aggregation).
  //
  // Scale shape: two bounded-state sketch aggregations + one keyed flag
  // aggregation over the fact table; the assembly is 1×1 broadcast cross
  // joins of three 1-row frames (the q09/q176 pattern). At 100 TB the
  // sketches are the only new bytes a coordinator ever sees (≤ k longs
  // each), which is the point of sketch set algebra.
  register("q204_kmv_set_algebra", {
    val prA = "('1-URGENT', '2-HIGH')"
    val prB = "('2-HIGH', '3-MEDIUM')"
    s"""WITH h AS (
       |  SELECT o_custkey AS k, o_orderpriority AS prio,
       |    ((o_custkey & 2147483647) * 2654435761) & 2147483647
       |      AS hv
       |  FROM orders),
       |fa AS (SELECT DISTINCT hv FROM h WHERE prio IN $prA),
       |fb AS (SELECT DISTINCT hv FROM h WHERE prio IN $prB),
       |sa AS (SELECT hv FROM
       |  (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM fa)
       |  WHERE rn <= $KmvK),
       |sb AS (SELECT hv FROM
       |  (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM fb)
       |  WHERE rn <= $KmvK),
       |su AS (SELECT hv, rn FROM
       |  (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM
       |    (SELECT DISTINCT hv FROM
       |      (SELECT hv FROM sa UNION ALL SELECT hv FROM sb)))
       |  WHERE rn <= $KmvK),
       |stats AS (SELECT COUNT(*) AS m,
       |    MAX(CASE WHEN rn = $KmvK THEN hv END) AS hk,
       |    SUM(CASE WHEN hv IN (SELECT hv FROM sa)
       |              AND hv IN (SELECT hv FROM sb) THEN 1 ELSE 0 END)
       |      AS matches
       |  FROM su),
       |flags AS (SELECT k,
       |    MAX(CASE WHEN prio IN $prA THEN 1 ELSE 0 END) AS fla,
       |    MAX(CASE WHEN prio IN $prB THEN 1 ELSE 0 END) AS flb
       |  FROM h GROUP BY k),
       |ex AS (SELECT
       |    SUM(CASE WHEN fla = 1 OR flb = 1 THEN 1 ELSE 0 END) AS exact_union,
       |    SUM(CASE WHEN fla = 1 AND flb = 1 THEN 1 ELSE 0 END) AS exact_inter
       |  FROM flags WHERE fla = 1 OR flb = 1),
       |est AS (SELECT m, matches,
       |    CASE WHEN m < $KmvK THEN m
       |         ELSE ${(KmvK - 1).toLong * 2147483648L} // hk END AS union_est
       |  FROM stats)
       |SELECT CAST(est.union_est AS BIGINT) AS kmv_union_est,
       |  CAST(CASE WHEN est.m = 0 THEN 0
       |       ELSE (est.matches * est.union_est) // est.m END AS BIGINT)
       |    AS kmv_inter_est,
       |  CAST(est.matches AS BIGINT) AS sketch_overlap,
       |  CAST(ex.exact_union AS BIGINT) AS exact_union,
       |  CAST(ex.exact_inter AS BIGINT) AS exact_inter,
       |  TRUE AS union_within_bound,
       |  TRUE AS inter_within_bound
       |FROM est, ex""".stripMargin
  }) { (s, d) =>
    val kmv = org.apache.spark.sql.functions.udaf(
      graft.ml.KmvSketch.aggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val prA = Seq("1-URGENT", "2-HIGH")
    val prB = Seq("2-HIGH", "3-MEDIUM")
    val base = orders(s, d)
      .select(col("o_custkey").as("k"), col("o_orderpriority").as("prio"),
        (col("o_custkey").bitwiseAND(lit(2147483647L))
          * lit(2654435761L)).bitwiseAND(lit(2147483647L)).as("hv"))
    val sa = base.filter(col("prio").isin(prA: _*))
      .agg(kmv(col("hv")).as("vsa"))
    val sb = base.filter(col("prio").isin(prB: _*))
      .agg(kmv(col("hv")).as("vsb"))
    val ex = base
      .groupBy("k")
      .agg(max(when(col("prio").isin(prA: _*), 1).otherwise(0)).as("fla"),
        max(when(col("prio").isin(prB: _*), 1).otherwise(0)).as("flb"))
      .filter(col("fla") === 1 || col("flb") === 1)
      .agg(
        sum(when(col("fla") === 1 || col("flb") === 1, 1L).otherwise(0L))
          .as("exact_union"),
        sum(when(col("fla") === 1 && col("flb") === 1, 1L).otherwise(0L))
          .as("exact_inter"))
    broadcast(sa).crossJoin(broadcast(sb)).crossJoin(ex)
      // union sketch: k smallest of the merged input sketches (each
      // already sorted distinct ≤ k)
      .select(
        slice(array_sort(array_distinct(concat(col("vsa"), col("vsb")))),
          1, KmvK).as("su"),
        col("vsa"), col("vsb"), col("exact_union"), col("exact_inter"))
      .select(
        size(col("su")).as("m"),
        // conditional: element_at past the end throws under ANSI; only
        // a saturated sketch has an h_k
        when(size(col("su")) >= KmvK, element_at(col("su"), KmvK)).as("hk"),
        size(array_intersect(array_intersect(col("su"), col("vsa")),
          col("vsb"))).as("matches"),
        col("exact_union"), col("exact_inter"))
      .select(
        when(col("m") < KmvK, col("m").cast(LongType))
          .otherwise(expr(s"${(KmvK - 1).toLong * 2147483648L} div hk"))
          .as("kmv_union_est"),
        col("m"), col("matches"), col("exact_union"), col("exact_inter"))
      .select(
        col("kmv_union_est"),
        when(col("m") === 0, lit(0L))
          .otherwise(expr("(matches * kmv_union_est) div m"))
          .as("kmv_inter_est"),
        col("matches").cast(LongType).as("sketch_overlap"),
        col("exact_union"), col("exact_inter"))
      // error-bound gate (q56/q203 pattern): union at the KMV 4σ bound;
      // intersection bound stated relative to the UNION (the standard
      // theta-sketch guarantee — a tiny overlap of two big sets has
      // union-scale absolute error)
      .withColumn("union_within_bound",
        abs(col("kmv_union_est") - col("exact_union")) * 100 <=
          col("exact_union") * 51)
      .withColumn("inter_within_bound",
        abs(col("kmv_inter_est") - col("exact_inter")) * 100 <=
          col("exact_union") * 51)
  }
}
