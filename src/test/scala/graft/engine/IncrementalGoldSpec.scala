package graft.engine

import graft.SparkSpec
import graft.ops.RelationalOps.dsum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** q218's contract, checked at every intermediate point — not just the
  * final state the oracle gates: after EACH of the four CDC batches
  * (insert-only load, late-insert + premium update with flag flips,
  * delete + claims update, delete-then-resurrect + claims delete), the
  * delta-maintained mart must equal a FULL REFRESH over the table
  * state at that point.
  *
  * The reference table state is reconstructed independently of the
  * maintenance algebra: the same signed CDC rows replayed as a
  * row-level multiset (group by every column, keep net multiplicity
  * > 0), then aggregated from scratch with q45's monthly aggregates.
  * Agreement therefore proves the signed partial-aggregate state and
  * the auxiliary (month, customer) multiplicity table track inserts,
  * updates, deletes, AND filter transitions exactly.
  */
class IncrementalGoldSpec extends SparkSpec {
  import IncrementalGold.{ClaimsOpsState, Customer360State, ExecState,
    PolicyPerfState}
  import IncrementalGoldSpec.{messages, pinned}
  private val sf = "/root/testdata/sf0.001"

  /** Row-level multiset replay of signed deltas — the reference state. */
  private def replay(ds: Seq[DataFrame]): DataFrame = {
    val u = ds.reduce(_ unionByName _)
    val cols = u.columns.filterNot(_ == "__sign").toSeq
    u.groupBy(cols.map(col): _*).agg(sum(col("__sign")).as("__n"))
      .filter(col("__n") > 0).drop("__n")
  }

  /** q45's full-refresh aggregation over explicit silver frames. */
  private def fullRefresh(pol: DataFrame, cl: DataFrame): DataFrame = {
    val mf = pol.filter(col("invalid_premium_amount_flag") === 0)
      .groupBy(date_trunc("month", col("start_date")).cast(DateType)
        .as("report_period"))
      .agg(count(col("policy_id")).as("new_policies"),
        countDistinct(col("customer_id")).as("active_customers"),
        dsum(col("premium_amount")).as("gross_written_premium"))
    val mc = cl.filter(col("missing_policy_flag") === 0)
      .groupBy(date_trunc("month", col("claim_date")).cast(DateType)
        .as("report_period"))
      .agg(count(col("claim_id")).as("total_claims"),
        dsum(col("settled_amount")).as("total_paid_claims"),
        count(when(col("fraud_indicator") === 1, 1)).as("fraud_claims"))
    InsuranceGate.execSummaryFromMonthly(mf, mc)
  }

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).count() === 0, s"$what: maintained has extra rows")
    assert(b.exceptAll(a).count() === 0, s"$what: maintained misses rows")
  }

  test("delta-maintained mart == full refresh after every CDC batch prefix") {
    val deltas = InsuranceGate.cdcBatches(spark, sf).map { case (p, c) =>
      (IncrementalGold.signedDelta(p).localCheckpoint(true),
        IncrementalGold.signedDelta(c).localCheckpoint(true))
    }
    var st = ExecState.of(pinned(
      IncrementalGold.init(deltas.head._1, deltas.head._2).tables))
    assertSame(IncrementalGold.mart(st),
      fullRefresh(replay(Seq(deltas.head._1)), replay(Seq(deltas.head._2))),
      "prefix 1 (initial load)")
    deltas.tail.zipWithIndex.foreach { case ((p, c), i) =>
      st = ExecState.of(pinned(IncrementalGold.applyDelta(st, p, c).tables))
      val upTo = deltas.take(i + 2)
      assertSame(IncrementalGold.mart(st),
        fullRefresh(replay(upTo.map(_._1)), replay(upTo.map(_._2))),
        s"prefix ${i + 2}")
    }
  }

  /** q44's full-refresh aggregation over explicit silver frames. */
  private def fullRefreshPerf(pol: DataFrame, cl: DataFrame): DataFrame = {
    val policyBase = pol
      .filter(col("invalid_premium_amount_flag") === 0 &&
        col("invalid_coverage_amount_flag") === 0 &&
        col("invalid_date_range_flag") === 0)
      .groupBy(col("policy_type"),
        date_trunc("month", col("start_date")).cast(DateType)
          .as("policy_month"))
      .agg(count(lit(1)).as("policy_count"),
        dsum(col("premium_amount")).as("total_premium_revenue"),
        dsum(col("coverage_amount")).as("total_coverage_exposure"))
    val claimsByType = cl.alias("cl")
      .filter(col("missing_policy_flag") === 0)
      .join(pol.select(col("policy_id"), col("policy_type")).alias("p"),
        Seq("policy_id"))
      .groupBy(col("p.policy_type").as("policy_type"),
        date_trunc("month", col("cl.claim_date")).cast(DateType)
          .as("claim_month"))
      .agg(count(lit(1)).as("total_claims"),
        dsum(col("cl.settled_amount")).as("total_settled_amount"),
        count(when(col("cl.fraud_indicator") === 1, 1)).as("fraud_claims"))
    InsuranceGate.policyPerfFromMonthly(policyBase, claimsByType)
  }

  test("join-IVM: policy-performance mart == full refresh after every prefix") {
    val deltas = InsuranceGate.cdcBatches(spark, sf).map { case (p, c) =>
      (IncrementalGold.signedDelta(p).localCheckpoint(true),
        IncrementalGold.signedDelta(c).localCheckpoint(true))
    }
    var st = PolicyPerfState.of(pinned(
      IncrementalGold.initPolicyPerf(deltas.head._1, deltas.head._2).tables))
    assertSame(IncrementalGold.policyPerfMart(st),
      fullRefreshPerf(replay(Seq(deltas.head._1)),
        replay(Seq(deltas.head._2))),
      "perf prefix 1 (initial load)")
    deltas.tail.zipWithIndex.foreach { case ((p, c), i) =>
      st = PolicyPerfState.of(pinned(
        IncrementalGold.applyPolicyPerfDelta(st, p, c).tables))
      val upTo = deltas.take(i + 2)
      assertSame(IncrementalGold.policyPerfMart(st),
        fullRefreshPerf(replay(upTo.map(_._1)), replay(upTo.map(_._2))),
        s"perf prefix ${i + 2}")
    }
    // non-vacuity of the join-IVM cases: the final state must hold
    // claims for policies no longer in the dimension (deleted, not
    // resurrected) — the rows whose retraction the prefix-3 equality
    // above just verified happened WITHOUT a claims rescan
    val orphaned = st.cpm.alias("c").join(st.pt.alias("p"),
      col("c.policy_id") === col("p.policy_id"), "left_anti").count()
    assert(orphaned > 0, "vacuous: no deleted-policy claims in the feed")
  }

  test("an unknown CDC op fails loudly instead of silently dropping") {
    val (p, _) = InsuranceGate.cdcBatches(spark, sf).head
    val poisoned = p.withColumn("op",
      when(col("op") === "I", "X").otherwise(col("op")))
    val e = intercept[Exception] {
      IncrementalGold.signedDelta(poisoned).count()
    }
    assert(e.getMessage.contains("unknown CDC op") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown CDC op")),
      s"expected a loud unknown-op error, got: ${e.getMessage}")
  }

  /** q46's full-refresh part construction over explicit tables. */
  private def fullRefresh360(cu: DataFrame, pol: DataFrame,
      cl: DataFrame): DataFrame = {
    val cd = cu.filter(col("invalid_email_flag") === 0)
      .select("customer_id", "age", "state")
    val pm = pol.filter(col("missing_customer_id_flag") === 0 &&
        col("invalid_premium_amount_flag") === 0)
      .groupBy("customer_id")
      .agg(count(col("policy_id")).as("total_policies"),
        dsum(col("premium_amount")).as("total_annual_premium"),
        count(when(col("status") === "ACTIVE", 1)).as("active_policies"),
        count(when(col("status") === "CANCELLED", 1)).as("cancelled_policies"),
        min(col("start_date")).as("first_policy_date"))
      .select("customer_id", "total_policies", "total_annual_premium",
        "active_policies", "cancelled_policies", "first_policy_date")
    val cm = cl.alias("cl").filter(col("missing_policy_flag") === 0)
      .join(pol.select(col("policy_id"), col("customer_id")).alias("p"),
        Seq("policy_id"))
      .groupBy(col("p.customer_id").as("customer_id"))
      .agg(count(lit(1)).as("total_claims"),
        dsum(col("cl.claim_amount")).as("total_claimed"),
        dsum(col("cl.settled_amount")).as("total_settled"),
        count(when(col("cl.fraud_indicator") === 1, 1))
          .as("potential_fraud_claims"))
    InsuranceGate.customer360FromParts(cd, pm, cm)
  }

  test("customer-360 IVM: mart == full refresh after every prefix") {
    val pc = InsuranceGate.cdcBatches(spark, sf)
    val cu = InsuranceGate.cdcCustomerBatches(spark, sf)
    val deltas = cu.zip(pc).map { case (c, (p, cl)) =>
      (IncrementalGold.signedDelta(c).localCheckpoint(true),
        IncrementalGold.signedDelta(p).localCheckpoint(true),
        IncrementalGold.signedDelta(cl).localCheckpoint(true)) }
    var st = Customer360State.of(pinned(IncrementalGold.initCustomer360(
      deltas.head._1, deltas.head._2, deltas.head._3).tables))
    assertSame(IncrementalGold.customer360Mart(st),
      fullRefresh360(replay(Seq(deltas.head._1)),
        replay(Seq(deltas.head._2)), replay(Seq(deltas.head._3))),
      "c360 prefix 1 (initial load)")
    deltas.tail.zipWithIndex.foreach { case ((c, p, cl), i) =>
      st = Customer360State.of(pinned(
        IncrementalGold.applyCustomer360Delta(st, c, p, cl).tables))
      val upTo = deltas.take(i + 2)
      assertSame(IncrementalGold.customer360Mart(st),
        fullRefresh360(replay(upTo.map(_._1)), replay(upTo.map(_._2)),
          replay(upTo.map(_._3))),
        s"c360 prefix ${i + 2}")
    }
    // non-vacuity of the hard cases this mart adds:
    // (a) the dimension churned: customers whose live attribute tuple
    // differs from their batch-1 insert (age bump or state move)
    val moved = st.custDim.filter(col("state").isin("XX", "ZZ")).count()
    assert(moved > 0, "vacuous: no attribute-moved customers survive")
    // (b) min-under-deletes: some customer must have LOST their minimal
    // start_date row along the way (deleted policy was the min), which
    // only the polDates multiplicity table can recover
    val perCust = st.polDates.groupBy("customer_id")
      .agg(min(col("start_date")).as("live_min"))
    val b1Min = IncrementalGold.c360PolDatePartials(deltas.head._2)
      .groupBy("customer_id").agg(min(col("start_date")).as("b1_min"))
    val minLost = perCust.alias("a").join(b1Min.alias("b"),
        col("a.customer_id") === col("b.customer_id"))
      .filter(col("a.live_min") > col("b.b1_min")).count()
    assert(minLost > 0, "vacuous: no customer lost their minimal policy date")
  }

  /** q47's full-refresh part construction over explicit tables. */
  private def fullRefreshOps(cu: DataFrame, pol: DataFrame,
      cl: DataFrame): DataFrame = {
    def srN(c: DataFrame => DataFrame = identity) = ()
    val att = cl.alias("cl").filter(col("missing_policy_flag") === 0)
      .join(pol.select(col("policy_id"), col("customer_id"),
        col("policy_type")).alias("p"), Seq("policy_id"))
      .join(cu.select(col("customer_id").as("cust_id"), col("state"),
        col("age")).alias("c"), col("p.customer_id") === col("cust_id"))
      .groupBy(col("cl.claim_type").as("claim_type"),
        col("cl.severity").as("severity"),
        col("cl.status").as("status"),
        col("cl.adjuster_id").as("adjuster_id"),
        date_trunc("month", col("cl.claim_date")).cast(DateType)
          .as("claim_month"),
        col("p.policy_type").as("policy_type"),
        col("c.state").as("customer_state"),
        col("c.age").as("customer_age"))
      .agg(count(lit(1)).as("claim_count"),
        dsum(col("cl.claim_amount")).as("total_claim_amount"),
        dsum(col("cl.settled_amount")).as("total_settled_amount"),
        when(count(col("cl.reporting_delay_days")) === 0, lit(null))
          .otherwise(sum(col("cl.reporting_delay_days")).cast("double")
            / count(col("cl.reporting_delay_days")))
          .as("avg_reporting_delay"),
        when(count(col("cl.settlement_ratio")) === 0, lit(null))
          .otherwise(dsum(col("cl.settlement_ratio"))
            / count(col("cl.settlement_ratio")))
          .as("avg_settlement_ratio"),
        count(when(col("cl.fraud_indicator") === 1, 1))
          .as("potential_fraud_cases"))
    val adj = cl.filter(col("adjuster_id").isNotNull)
      .groupBy(col("adjuster_id"))
      .agg(count(lit(1)).as("adjuster_total_claims"),
        when(count(col("settlement_ratio")) === 0, lit(null))
          .otherwise(dsum(col("settlement_ratio"))
            / count(col("settlement_ratio")))
          .as("adjuster_avg_settlement_ratio"),
        when(count(col("reporting_delay_days")) === 0, lit(null))
          .otherwise(sum(col("reporting_delay_days")).cast("double")
            / count(col("reporting_delay_days")))
          .as("adjuster_avg_processing_time"),
        count(when(col("fraud_indicator") === 1, 1))
          .as("adjuster_fraud_detected"))
    InsuranceGate.claimsOpsFromParts(att, adj)
  }

  test("claims-ops trilinear IVM: mart == full refresh after every prefix") {
    val pc = InsuranceGate.cdcBatches(spark, sf)
    val cu = InsuranceGate.cdcCustomerBatches(spark, sf)
    val deltas = cu.zip(pc).map { case (c, (p, cl)) =>
      (IncrementalGold.signedDelta(c).localCheckpoint(true),
        IncrementalGold.signedDelta(p).localCheckpoint(true),
        IncrementalGold.signedDelta(cl).localCheckpoint(true)) }
    var st = ClaimsOpsState.of(pinned(IncrementalGold.initClaimsOps(
      deltas.head._1, deltas.head._2, deltas.head._3).tables))
    assertSame(IncrementalGold.claimsOpsMart(st),
      fullRefreshOps(replay(Seq(deltas.head._1)),
        replay(Seq(deltas.head._2)), replay(Seq(deltas.head._3))),
      "claims-ops prefix 1 (initial load)")
    deltas.tail.zipWithIndex.foreach { case ((c, p, cl), i) =>
      st = ClaimsOpsState.of(pinned(
        IncrementalGold.applyClaimsOpsDelta(st, c, p, cl).tables))
      val upTo = deltas.take(i + 2)
      assertSame(IncrementalGold.claimsOpsMart(st),
        fullRefreshOps(replay(upTo.map(_._1)), replay(upTo.map(_._2)),
          replay(upTo.map(_._3))),
        s"claims-ops prefix ${i + 2}")
    }
    // non-vacuity: every trilinear term must have fired — claims whose
    // policy was deleted (CL probe via ΔP), claims re-attributed by a
    // customer attribute move (probe via ΔC), and a settled-amount
    // update that changed measures with zero multiplicity churn
    val orphanedP = st.cl.alias("f").join(st.p.alias("p"),
      col("f.policy_id") === col("p.policy_id"), "left_anti").count()
    assert(orphanedP > 0, "vacuous: no claims on deleted policies")
    val movedC = st.att.filter(col("customer_state").isin("XX", "ZZ")).count()
    assert(movedC > 0, "vacuous: no attribute-moved customers in the view")
  }

  test("a multiset-inconsistent feed (delete of an absent row) fails loudly") {
    val deltas = InsuranceGate.cdcBatches(spark, sf).map { case (p, c) =>
      (IncrementalGold.signedDelta(p), IncrementalGold.signedDelta(c)) }
    var st = IncrementalGold.init(deltas(0)._1, deltas(0)._2)
    st = IncrementalGold.applyDelta(st, deltas(1)._1, deltas(1)._2)
    st = IncrementalGold.applyDelta(st, deltas(2)._1, deltas(2)._2)
    // replay batch 3's policy DELETE a second time: those rows are
    // already gone, so the (month, customer) multiplicity nets negative
    // — the fold guard must fail the job, not let the mart drift. The
    // state stays LAZY (as every maintainer folds it), and the mart
    // reads polCusts only as count(1) per month — a consumer that never
    // reads the count column the guard checks.
    val bad = IncrementalGold.applyDelta(st, deltas(2)._1, deltas(2)._2)
    Seq[() => Any](() => IncrementalGold.mart(bad).collect(),
      () => bad.polCusts.count()).foreach { consume =>
      val e = intercept[Exception](consume())
      assert(messages(e).exists(_.contains("negative multiplicity")),
        s"expected the negative-multiplicity guard, got: ${e.getMessage}")
    }
  }

  test("deletes retire customers and months from the auxiliary state") {
    val deltas = InsuranceGate.cdcBatches(spark, sf).map { case (p, c) =>
      (IncrementalGold.signedDelta(p), IncrementalGold.signedDelta(c)) }
    val st2 = IncrementalGold.applyDelta(
      IncrementalGold.init(deltas(0)._1, deltas(0)._2),
      deltas(1)._1, deltas(1)._2)
    val st3 = IncrementalGold.applyDelta(st2, deltas(2)._1, deltas(2)._2)
    // batch 3 deletes pk%7==0 — multiplicity rows must shrink, never
    // linger at n=0 (state size tracks the live table, not history)
    val n2 = st2.polCusts.count()
    val n3 = st3.polCusts.count()
    assert(n3 < n2, s"aux rows did not shrink on delete: $n2 -> $n3")
    assert(st3.polCusts.filter(col("n") <= 0).count() === 0)
    assert(st3.polMonths.filter(col("n_pol") <= 0).count() === 0)
    assert(st3.clMonths.filter(col("n_claims") <= 0).count() === 0)
  }
}

object IncrementalGoldSpec {
  /** Every message along a throwable's cause chain. */
  def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
      messages(x.getCause))

  /** State pinned between batches: the folds are lazy, and a spec that
    * reads every intermediate state would otherwise re-derive the whole
    * prior chain per read. */
  def pinned(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    tables.map { case (t, df) => t -> df.localCheckpoint(true) }
}
