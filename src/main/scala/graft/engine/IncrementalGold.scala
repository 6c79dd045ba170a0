package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental maintenance of the executive-summary gold mart over CDC
  * deltas of the silver tables — the capability a 100 TB deployment
  * layers on top of the reference's full-refresh materializations
  * (`dbt_project.yml:33,38,43` rebuilds every gold table per run; at
  * lake scale a day's CDC batch must maintain the mart without
  * rescanning history).
  *
  * Design — classic incremental view maintenance (count algebra):
  *
  *   - A CDC batch is op-coded (I/U/D) with full before/after row
  *     images (the Debezium shape). [[signedDelta]] turns it into
  *     signed row deltas: I → +after, D → −before, U → −before +after.
  *   - The maintained state is per-month PARTIAL aggregates: policy
  *     side (row count, decimal premium sum), claims side (count,
  *     decimal settled sum, fraud count) — all group-homomorphic, so
  *     folding a batch is one |batch|-sized aggregation plus a
  *     |months|-sized keyed merge. COUNT(DISTINCT customer_id) is NOT
  *     a homomorphism under deletes, so it gets the standard auxiliary
  *     multiplicity table: (month, customer) → row count; a customer
  *     is active while the count is positive. State size is
  *     |months| + |month × active customers|, never |facts|.
  *   - Aggregate state lives on the exact decimal grid
  *     (DECIMAL(38,4) running sums of the DECIMAL(18,4)-cast inputs —
  *     the [[graft.ops.RelationalOps.dsum]] grid), so signed folding
  *     is order-free and delta-maintained == full-refresh EXACTLY, not
  *     approximately. Doubles appear only in the final mart
  *     projection, cast from the same decimals the full refresh sums.
  *   - The derived mart tail (ratios, YoY lag, categories) is
  *     recomputed per refresh from the ≤|months| state — that layer is
  *     cheap; incrementality matters for the fact scans only.
  *
  * The oracle gate is `q218_incremental_gold` (InsuranceGate): four
  * deterministic CDC batches (insert / update / delete / re-insert)
  * maintained through this module must hash-match DuckDB computing the
  * full-refresh mart directly on the final table state.
  * IncrementalGoldSpec additionally proves state == full recompute
  * after EVERY batch prefix.
  */
object IncrementalGold {

  /** Merge algebra of one state table: grouping keys + the column
    * whose zero witnesses an empty (droppable) group. Every non-key
    * column must be a signed-additive measure. */
  final case class MergeSpec(keys: Seq[String], countCol: String)

  /** THE signed-fold kernel — every piece of maintained state (state ⊕
    * Δ, the replay gates' k-way state views, the state store's
    * base+delta reads and compactions) is folded here, and nowhere
    * else. `frames` share one column set (by name): `spec.keys`, the
    * count column, and signed-additive measures; each frame carries at
    * most one row per key (states and partials are aggregates).
    *
    *   - Keyed signed sum over null-safe keys: a NULL key component
    *     (null start_date rows → a NULL month) is a real group.
    *   - Zero-drop: a group whose count nets to 0 is dropped.
    *   - Guard: a count that nets NEGATIVE is the witness of a
    *     multiset-inconsistent CDC feed (a delete of an absent row, a
    *     duplicated insert); dropping zero-count groups is only sound
    *     without one, so the job fails LOUDLY instead of letting the
    *     mart drift from the full refresh. The guard lives INSIDE the
    *     zero-drop filter predicate: as a projection on the count
    *     column, column pruning removed it whenever a consumer did not
    *     read the count (the exec mart's `polCusts` is read only as
    *     `count(1)` per month). A codegen'd `when`, free on valid feeds.
    *   - NULL measures: SQL SUM semantics in every form — a measure is
    *     NULL only when every contribution to it is NULL, what the full
    *     refresh computes. A signed sum cannot tell a retracted non-NULL
    *     contribution from a live one, so a producer whose mart must
    *     distinguish "every live value is NULL" carries an explicit
    *     non-null count (the claims-ops `sr_n`/`delay_n`).
    *   - One frame is returned as is (bootstrap state: no fold, no
    *     zero-drop).
    *
    * REQUIREMENT on delta producers (zero-cancel): a group whose count
    * nets to zero must have every measure net to zero too. It is what
    * makes dropping zero groups once at the end of a k-way fold equal
    * dropping them at every level of the pairwise chain. The one
    * residual difference: a group cancelled and then reborn with only
    * NULL contributions reads 0 in the k-way form (its cancelled
    * contributions summed to 0) and NULL in the pairwise chain.
    *
    * The physical form follows from the number of frames — both
    * measured in r19 on q224's replay:
    *   - two frames (state ⊕ one Δ): a full-outer join adding matched
    *     keys. Rewriting it as union + groupBy raised q224's summed task
    *     time 367 → 561 s — at near-unique state grains the hash
    *     aggregate's map-side partial pass reduces nothing and its
    *     per-row buffer updates cost more than the join's one add per
    *     matched key;
    *   - k > 2 frames (a chain): ONE union + ONE groupBy. Replacing the
    *     nested pairwise cascade with it cut q224's SortMergeJoin nodes
    *     92 → 40 (and its shuffle budget 150 → 96). */
  def fold(frames: Seq[DataFrame], spec: MergeSpec): DataFrame = {
    require(frames.nonEmpty, "IncrementalGold.fold: no frames")
    val MergeSpec(keys, countCol) = spec
    val head = frames.head
    val measures = head.columns.toSeq.filterNot(keys.contains)
    def typed(c: Column, m: String): Column =
      c.cast(head.schema(m).dataType).as(m)
    def guarded(summed: DataFrame): DataFrame = {
      val n = col(countCol)
      summed.filter(when(n < 0, raise_error(concat(
          lit(s"IncrementalGold: negative multiplicity in '$countCol' ("),
          n.cast(StringType), lit(") — multiset-inconsistent CDC feed"))))
        .otherwise(n =!= 0))
    }
    frames match {
      case Seq(only) => only
      case Seq(a, b) =>
        val on = keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
        guarded(a.alias("a").join(b.alias("b"), on, "full_outer")
          .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
            measures.map { m =>
              val (x, y) = (col(s"a.$m"), col(s"b.$m"))
              typed(coalesce(x + y, x, y), m)
            }: _*))
      case _ =>
        guarded(frames.reduce(_ unionByName _)
          .groupBy(keys.map(col): _*)
          .agg(typed(sum(col(measures.head)), measures.head),
            measures.tail.map(m => typed(sum(col(m)), m)): _*))
    }
  }

  /** Fold each table's delta frame into its state table (state ⊕ Δ). */
  private def foldTables(state: Map[String, DataFrame],
      deltas: Map[String, DataFrame],
      specs: Map[String, MergeSpec]): Map[String, DataFrame] =
    specs.map { case (t, spec) => t -> fold(Seq(state(t), deltas(t)), spec) }

  /** Maintained state: per-month policy partials, the (month, customer)
    * multiplicity table, per-month claims partials. */
  final case class ExecState(polMonths: DataFrame, polCusts: DataFrame,
      clMonths: DataFrame) {
    def tables: Map[String, DataFrame] = Map("polMonths" -> polMonths,
      "polCusts" -> polCusts, "clMonths" -> clMonths)
  }
  object ExecState {
    def of(t: Map[String, DataFrame]): ExecState =
      ExecState(t("polMonths"), t("polCusts"), t("clMonths"))
  }

  private[graft] val ExecSpecs = Map(
    "polMonths" -> MergeSpec(Seq("report_period"), "n_pol"),
    "polCusts" -> MergeSpec(Seq("report_period", "customer_id"), "n"),
    "clMonths" -> MergeSpec(Seq("report_period"), "n_claims"))

  private val D4 = DecimalType(18, 4)
  private val D38 = DecimalType(38, 4)

  /** Op-coded CDC batch (op ∈ I/U/D, `before`/`after` full-row structs)
    * → signed row deltas (`__sign` = ±1). An op outside I/U/D fails the
    * job LOUDLY (lazy per-row raise_error — free on valid feeds): a
    * silently dropped unknown op would make the maintained mart drift
    * from the full refresh with no error anywhere. */
  def signedDelta(batch: DataFrame): DataFrame = {
    val checked = batch.withColumn("op",
      when(col("op").isin("I", "U", "D"), col("op"))
        .otherwise(raise_error(concat(
          lit("IncrementalGold: unknown CDC op '"), col("op"), lit("'")))))
    val minus = checked.filter(col("op").isin("U", "D"))
      .select(col("before.*")).withColumn("__sign", lit(-1L))
    val plus = checked.filter(col("op").isin("I", "U"))
      .select(col("after.*")).withColumn("__sign", lit(1L))
    minus.unionByName(plus)
  }

  private def month(c: Column): Column =
    date_trunc("month", c).cast(DateType)

  /** IVM column pruning: the subset of a policy-side signed delta the
    * maintained aggregates actually read. Call before materializing a
    * batch — full-width CDC images are the FEED's shape, not the
    * maintainer's. */
  def narrowPolDelta(delta: DataFrame): DataFrame =
    delta.select("start_date", "premium_amount", "customer_id",
      "invalid_premium_amount_flag", "policy_id", "__sign")

  /** Claims-side IVM column pruning. */
  def narrowClDelta(delta: DataFrame): DataFrame =
    delta.select("claim_date", "settled_amount", "fraud_indicator",
      "missing_policy_flag", "claim_id", "__sign")

  /** Per-month signed partials of the policy side (the q45
    * monthly_financials aggregate, made signed). */
  def polMonthPartials(delta: DataFrame): DataFrame =
    delta.filter(col("invalid_premium_amount_flag") === 0)
      .groupBy(month(col("start_date")).as("report_period"))
      .agg(sum(col("__sign")).as("n_pol"),
        sum(col("__sign") * col("premium_amount").cast(D4))
          .cast(D38).as("gwp"))

  /** Signed multiplicity deltas of the (month, customer) table backing
    * COUNT(DISTINCT customer_id). NULL customers are skipped — exactly
    * COUNT(DISTINCT)'s null semantics. */
  def polCustPartials(delta: DataFrame): DataFrame =
    delta.filter(col("invalid_premium_amount_flag") === 0 &&
        col("customer_id").isNotNull)
      .groupBy(month(col("start_date")).as("report_period"),
        col("customer_id"))
      .agg(sum(col("__sign")).as("n"))

  /** Per-month signed partials of the claims side (the q45
    * monthly_claims aggregate, made signed). */
  def clMonthPartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_policy_flag") === 0)
      .groupBy(month(col("claim_date")).as("report_period"))
      .agg(sum(col("__sign")).as("n_claims"),
        sum(col("__sign") * col("settled_amount").cast(D4))
          .cast(D38).as("paid"),
        sum(when(col("fraud_indicator") === 1, col("__sign"))
          .otherwise(0L)).as("fraud"))

  /** The exec-summary batch partials — aggregate-only IVM, so the
    * delta frames read no state. */
  def execDeltaFrames(polDelta: DataFrame,
      clDelta: DataFrame): Map[String, DataFrame] =
    Map("polMonths" -> polMonthPartials(polDelta),
      "polCusts" -> polCustPartials(polDelta),
      "clMonths" -> clMonthPartials(clDelta))

  /** Fold one pair of signed silver deltas into the state. The fold is
    * lazy: a caller that keeps state across batches materializes it
    * (the streaming maintainers' version write, or a localCheckpoint). */
  def applyDelta(st: ExecState, polDelta: DataFrame,
      clDelta: DataFrame): ExecState =
    ExecState.of(foldTables(st.tables, execDeltaFrames(polDelta, clDelta),
      ExecSpecs))

  /** Bootstrap state from the first batch (no fold — the partials ARE
    * the state). */
  def init(polDelta: DataFrame, clDelta: DataFrame): ExecState =
    ExecState.of(execDeltaFrames(polDelta, clDelta))

  // ===================== JOIN-IVM: gold_policy_performance (q44/q221)
  // The executive-summary mart above is aggregate-only IVM; the policy
  // -performance mart contains a JOIN (claims ⋈ policies on policy_id,
  // attributing each claim to its policy's TYPE), which is the case
  // where naive delta folding breaks: a policy delete/re-insert must
  // re-attribute claims it never touched. The standard solution is
  // auxiliary state + the bilinear delta rule
  //
  //   Δ(PT ⊗ CPM) = ΔPT ⊗ CPM_old  +  PT_new ⊗ ΔCPM
  //
  // with state:
  //   PT  — the join dimension (policy_id → policy_type, signed
  //         multiplicity): delta-maintained from policy batches;
  //   CPM — per-(policy_id, claim_month) partial claim aggregates:
  //         delta-maintained from claims batches; this is what makes
  //         re-attribution a ΔPT-sized keyed PROBE instead of a claims
  //         rescan (at 100 TB the difference between touching the
  //         changed policies' rows and touching the fact table);
  //   CBT — the attributed (policy_type, claim_month) view partials,
  //         updated by the two delta streams above;
  //   polBase — the no-join policy aggregate (q218's pattern).
  // Everything per batch is |batch|-sized except the two keyed probes.

  final case class PolicyPerfState(polBase: DataFrame, pt: DataFrame,
      cpm: DataFrame, cbt: DataFrame) {
    def tables: Map[String, DataFrame] = Map("polBase" -> polBase,
      "pt" -> pt, "cpm" -> cpm, "cbt" -> cbt)
  }
  object PolicyPerfState {
    def of(t: Map[String, DataFrame]): PolicyPerfState =
      PolicyPerfState(t("polBase"), t("pt"), t("cpm"), t("cbt"))
  }

  private[graft] val PerfSpecs = Map(
    "polBase" -> MergeSpec(Seq("policy_type", "policy_month"), "n_pol"),
    "pt" -> MergeSpec(Seq("policy_id", "policy_type"), "n"),
    "cpm" -> MergeSpec(Seq("policy_id", "claim_month"), "n_claims"),
    "cbt" -> MergeSpec(Seq("policy_type", "claim_month"), "n_claims"))

  /** q44 policy_base partials, signed (type × start-month grid). */
  def ppPolBasePartials(delta: DataFrame): DataFrame =
    delta.filter(col("invalid_premium_amount_flag") === 0 &&
        col("invalid_coverage_amount_flag") === 0 &&
        col("invalid_date_range_flag") === 0)
      .groupBy(col("policy_type"),
        month(col("start_date")).as("policy_month"))
      .agg(sum(col("__sign")).as("n_pol"),
        sum(col("__sign") * col("premium_amount").cast(D4))
          .cast(D38).as("prem"),
        sum(col("__sign") * col("coverage_amount").cast(D4))
          .cast(D38).as("cov"))

  /** Signed multiplicity deltas of the join dimension. A premium-only
    * update nets to zero here (−old +new same type) and is dropped —
    * no attribution churn for deltas that cannot move the join. */
  def ptPartials(delta: DataFrame): DataFrame =
    delta.groupBy(col("policy_id"), col("policy_type"))
      .agg(sum(col("__sign")).as("n"))
      .filter(col("n") =!= 0)

  /** Per-(policy, claim-month) signed claim partials — the auxiliary
    * state that makes dimension-side re-attribution probe-sized. */
  def cpmPartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_policy_flag") === 0)
      .groupBy(col("policy_id"), month(col("claim_date")).as("claim_month"))
      .agg(sum(col("__sign")).as("n_claims"),
        sum(col("__sign") * col("settled_amount").cast(D4))
          .cast(D38).as("settled"),
        sum(when(col("fraud_indicator") === 1, col("__sign"))
          .otherwise(0L)).as("fraud"))

  private def attributed(dim: DataFrame, facts: DataFrame): DataFrame =
    dim.alias("dp").join(facts.alias("cp"),
        col("dp.policy_id") === col("cp.policy_id"))
      .select(col("dp.policy_type"), col("cp.claim_month"),
        (col("dp.n") * col("cp.n_claims")).as("n_claims"),
        (col("dp.n") * col("cp.settled")).cast(D38).as("settled"),
        (col("dp.n") * col("cp.fraud")).as("fraud"))

  private def cbtDelta(reattr: DataFrame, attr: DataFrame): DataFrame =
    reattr.unionByName(attr)
      .groupBy(col("policy_type"), col("claim_month"))
      .agg(sum(col("n_claims")).as("n_claims"),
        sum(col("settled")).cast(D38).as("settled"),
        sum(col("fraud")).as("fraud"))

  /** Fold one batch pair into the policy-performance state: its delta
    * frames ([[policyPerfDeltaFrames]], the bilinear rule) folded into
    * the state table by table. */
  def applyPolicyPerfDelta(st: PolicyPerfState, polDelta: DataFrame,
      clDelta: DataFrame): PolicyPerfState =
    PolicyPerfState.of(foldTables(st.tables,
      policyPerfDeltaFrames(st, polDelta, clDelta), PerfSpecs))

  /** Bootstrap from the first batch: the delta rule against empty state
    * (re-attribution vacuous, fact attribution against the batch's own
    * dimension). */
  def initPolicyPerf(polDelta: DataFrame,
      clDelta: DataFrame): PolicyPerfState = {
    val pt = ptPartials(polDelta)
    val cpm = cpmPartials(clDelta)
    PolicyPerfState(ppPolBasePartials(polDelta), pt, cpm,
      cbtDelta(attributed(pt, cpm).limit(0), attributed(pt, cpm)))
  }

  /** The policy-performance mart from maintained state: reassemble
    * q44's monthly frames (decimal sums cast to double exactly where
    * the full refresh casts them) and run the SAME derived tail. */
  def policyPerfMart(st: PolicyPerfState): DataFrame =
    policyPerfMartFrom(st.polBase, st.cbt)

  /** [[policyPerfMart]] from just the tables it actually reads — the
    * mart is (type × month)-grain, so a maintainer that loads ONLY
    * polBase and cbt never folds the fact-adjacent pt/cpm state on the
    * mart path (r18: the keyed read path's mart read is mart-grain). */
  def policyPerfMartFrom(polBase: DataFrame, cbtT: DataFrame): DataFrame = {
    val pb = polBase.select(col("policy_type"), col("policy_month"),
      col("n_pol").as("policy_count"),
      col("prem").cast(DoubleType).as("total_premium_revenue"),
      col("cov").cast(DoubleType).as("total_coverage_exposure"))
    val cbt = cbtT.select(col("policy_type"), col("claim_month"),
      col("n_claims").as("total_claims"),
      col("settled").cast(DoubleType).as("total_settled_amount"),
      col("fraud").as("fraud_claims"))
    InsuranceGate.policyPerfFromMonthly(pb, cbt)
  }

  /** IVM column pruning for the policy-performance maintainer. */
  def narrowPpPol(delta: DataFrame): DataFrame =
    delta.select("policy_id", "policy_type", "start_date",
      "premium_amount", "coverage_amount", "invalid_premium_amount_flag",
      "invalid_coverage_amount_flag", "invalid_date_range_flag", "__sign")
  def narrowPpCl(delta: DataFrame): DataFrame =
    delta.select("policy_id", "claim_date", "settled_amount",
      "fraud_indicator", "missing_policy_flag", "__sign")

  // ===================== customer-360 IVM (q223): dimension attributes
  // + two aggregate sides + a claims JOIN through the policy dimension.
  // New mechanics beyond q218/q221:
  //   - custDim: the mart's driving side is a DIMENSION whose attributes
  //     (age, state) and filter (invalid_email_flag) both mutate under
  //     CDC. Multiplicity is keyed on the FULL attribute tuple: an
  //     attribute update nets −old-tuple +new-tuple, a filter flip nets
  //     a bare −old (the after-image falls out of the partials' filter).
  //   - polDates: MIN(start_date) is not a group homomorphism under
  //     deletes (deleting the minimum row needs the runner-up), so it
  //     carries the standard auxiliary multiplicity table
  //     (customer, start_date) → live row count; the mart takes MIN over
  //     positive rows. Same remedy COUNT(DISTINCT) uses in q218.
  //   - pc/cpc/cm: the q221 bilinear rule with the dimension keyed
  //     policy_id → customer_id (claims attribute to their policy's
  //     CUSTOMER here, not its type). pc is maintained from UNfiltered
  //     policy deltas — q46's claims join reads all policies — so a
  //     premium-only update nets zero and causes no re-attribution.

  final case class Customer360State(custDim: DataFrame, polMetrics: DataFrame,
      polDates: DataFrame, pc: DataFrame, cpc: DataFrame, cm: DataFrame) {
    def tables: Map[String, DataFrame] = Map("custDim" -> custDim,
      "polMetrics" -> polMetrics, "polDates" -> polDates, "pc" -> pc,
      "cpc" -> cpc, "cm" -> cm)
  }
  object Customer360State {
    def of(t: Map[String, DataFrame]): Customer360State =
      Customer360State(t("custDim"), t("polMetrics"), t("polDates"),
        t("pc"), t("cpc"), t("cm"))
  }

  private[graft] val C360Specs = Map(
    "custDim" -> MergeSpec(Seq("customer_id", "age", "state"), "n"),
    "polMetrics" -> MergeSpec(Seq("customer_id"), "n_pol"),
    "polDates" -> MergeSpec(Seq("customer_id", "start_date"), "n"),
    "pc" -> MergeSpec(Seq("policy_id", "customer_id"), "n"),
    "cpc" -> MergeSpec(Seq("policy_id"), "n_claims"),
    "cm" -> MergeSpec(Seq("customer_id"), "n_claims"))

  /** Signed multiplicity of the customer-base attribute tuples. */
  def c360CustDimPartials(delta: DataFrame): DataFrame =
    delta.filter(col("invalid_email_flag") === 0)
      .groupBy(col("customer_id"), col("age"), col("state"))
      .agg(sum(col("__sign")).as("n"))

  /** Per-customer signed policy partials (q46 policy_metrics, signed). */
  def c360PolMetricPartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_customer_id_flag") === 0 &&
        col("invalid_premium_amount_flag") === 0)
      .groupBy(col("customer_id"))
      .agg(sum(col("__sign")).as("n_pol"),
        sum(col("__sign") * col("premium_amount").cast(D4))
          .cast(D38).as("prem"),
        sum(when(col("status") === "ACTIVE", col("__sign")).otherwise(0L))
          .as("n_active"),
        sum(when(col("status") === "CANCELLED", col("__sign")).otherwise(0L))
          .as("n_cancelled"))

  /** (customer, start_date) multiplicity — the auxiliary state that
    * makes MIN(start_date) maintainable under deletes. */
  def c360PolDatePartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_customer_id_flag") === 0 &&
        col("invalid_premium_amount_flag") === 0)
      .groupBy(col("customer_id"), col("start_date"))
      .agg(sum(col("__sign")).as("n"))

  /** Join dimension policy_id → customer_id, signed, UNfiltered. */
  def c360PcPartials(delta: DataFrame): DataFrame =
    delta.groupBy(col("policy_id"), col("customer_id"))
      .agg(sum(col("__sign")).as("n"))
      .filter(col("n") =!= 0)

  /** Per-policy signed claim partials (auxiliary join state). */
  def c360CpcPartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_policy_flag") === 0)
      .groupBy(col("policy_id"))
      .agg(sum(col("__sign")).as("n_claims"),
        sum(col("__sign") * col("claim_amount").cast(D4))
          .cast(D38).as("claimed"),
        sum(col("__sign") * col("settled_amount").cast(D4))
          .cast(D38).as("settled"),
        sum(when(col("fraud_indicator") === 1, col("__sign"))
          .otherwise(0L)).as("fraud"))

  private def attributedCust(dim: DataFrame, facts: DataFrame): DataFrame =
    dim.alias("dp").join(facts.alias("cp"),
        col("dp.policy_id") === col("cp.policy_id"))
      .select(col("dp.customer_id"),
        (col("dp.n") * col("cp.n_claims")).as("n_claims"),
        (col("dp.n") * col("cp.claimed")).cast(D38).as("claimed"),
        (col("dp.n") * col("cp.settled")).cast(D38).as("settled"),
        (col("dp.n") * col("cp.fraud")).as("fraud"))

  private def cmDelta(reattr: DataFrame, attr: DataFrame): DataFrame =
    reattr.unionByName(attr)
      .groupBy(col("customer_id"))
      .agg(sum(col("n_claims")).as("n_claims"),
        sum(col("claimed")).cast(D38).as("claimed"),
        sum(col("settled")).cast(D38).as("settled"),
        sum(col("fraud")).as("fraud"))

  /** Fold one CDC batch triple (customers, policies, claims) into the
    * customer-360 state: [[customer360DeltaFrames]] (join side
    * ΔPC⊗CPC_old + PC_new⊗ΔCPC, [[applyPolicyPerfDelta]]'s rule with the
    * customer-keyed dimension) folded in table by table. */
  def applyCustomer360Delta(st: Customer360State, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): Customer360State =
    Customer360State.of(foldTables(st.tables,
      customer360DeltaFrames(st, custDelta, polDelta, clDelta), C360Specs))

  /** Bootstrap from the first batch triple. */
  def initCustomer360(custDelta: DataFrame, polDelta: DataFrame,
      clDelta: DataFrame): Customer360State = {
    val pc = c360PcPartials(polDelta)
    val cpc = c360CpcPartials(clDelta)
    Customer360State(c360CustDimPartials(custDelta),
      c360PolMetricPartials(polDelta), c360PolDatePartials(polDelta), pc,
      cpc, cmDelta(attributedCust(pc, cpc).limit(0), attributedCust(pc, cpc)))
  }

  /** The customer-360 mart from maintained state: reassemble q46's
    * three part frames (decimal sums cast to double exactly where the
    * full refresh casts them; MIN over the live date multiplicity) and
    * run the SAME derived tail the full refresh runs. */
  def customer360Mart(st: Customer360State): DataFrame =
    customer360MartFrom(st.custDim, st.polMetrics, st.polDates, st.cm)

  /** [[customer360Mart]] from just the tables it reads — all four are
    * customer-grain; the policy-fact-adjacent pc/cpc join state never
    * rides the mart path (r18 keyed read path). */
  def customer360MartFrom(custDim: DataFrame, polMetrics: DataFrame,
      polDates: DataFrame, cmT: DataFrame): DataFrame = {
    val cd = custDim.select(col("customer_id"), col("age"), col("state"))
    val fp = polDates.groupBy(col("customer_id"))
      .agg(min(col("start_date")).as("first_policy_date"))
    val pm = polMetrics.alias("m")
      .join(fp.alias("f"), col("m.customer_id") <=> col("f.customer_id"), "left")
      .select(col("m.customer_id").as("customer_id"),
        col("m.n_pol").as("total_policies"),
        col("m.prem").cast(DoubleType).as("total_annual_premium"),
        col("m.n_active").as("active_policies"),
        col("m.n_cancelled").as("cancelled_policies"),
        col("f.first_policy_date").as("first_policy_date"))
    val cm = cmT.select(col("customer_id"),
      col("n_claims").as("total_claims"),
      col("claimed").cast(DoubleType).as("total_claimed"),
      col("settled").cast(DoubleType).as("total_settled"),
      col("fraud").as("potential_fraud_claims"))
    InsuranceGate.customer360FromParts(cd, pm, cm)
  }

  /** IVM column pruning for the customer-360 maintainer. */
  def narrowC360Cust(delta: DataFrame): DataFrame =
    delta.select("customer_id", "age", "state", "invalid_email_flag", "__sign")
  def narrowC360Pol(delta: DataFrame): DataFrame =
    delta.select("policy_id", "customer_id", "start_date", "premium_amount",
      "status", "missing_customer_id_flag", "invalid_premium_amount_flag",
      "__sign")
  def narrowC360Cl(delta: DataFrame): DataFrame =
    delta.select("policy_id", "claim_amount", "settled_amount",
      "fraud_indicator", "missing_policy_flag", "__sign")

  // ===================== claims-operations IVM (q224): the TRILINEAR
  // case. q47 is claims ⋈ policies ⋈ customers grouped on an 8-key
  // grain drawn from all three tables — the first mart where the join
  // delta rule has three factors:
  //
  //   Δ(CL⊗P⊗C) = ΔCL⊗P₀⊗C₀ + CL₁⊗ΔP⊗C₀ + CL₁⊗P₁⊗ΔC
  //
  // (subscript 0 = pre-batch state, 1 = post-batch; the identity
  // telescopes exactly — each factor's update is applied once, against
  // the states the formula names). State:
  //   cl  — claim partials at (policy_id × claim-attr) grain: the
  //         auxiliary view that makes dimension churn a probe;
  //   p   — policy_id → (customer_id, policy_type) multiplicity;
  //   c   — customer_id → (state, age) multiplicity;
  //   att — the attributed 8-key view partials;
  //   adj — the per-adjuster rollup (aggregate-only IVM; avgs carried
  //         as sum+count pairs so null-skipping AVG semantics survive).
  // Every term is Δ-sized: the Δ factor is joined FIRST against the
  // other dimension, then the result probes the fact-partial state —
  // never a P⊗C materialization, never a fact rescan.

  final case class ClaimsOpsState(cl: DataFrame, p: DataFrame, c: DataFrame,
      att: DataFrame, adj: DataFrame) {
    def tables: Map[String, DataFrame] = Map("cl" -> cl, "p" -> p, "c" -> c,
      "att" -> att, "adj" -> adj)
  }
  object ClaimsOpsState {
    def of(t: Map[String, DataFrame]): ClaimsOpsState =
      ClaimsOpsState(t("cl"), t("p"), t("c"), t("att"), t("adj"))
  }

  private val CoAttKeys = Seq("claim_type", "severity", "status",
    "adjuster_id", "claim_month", "policy_type", "customer_state",
    "customer_age")
  private[graft] val OpsSpecs = Map(
    "cl" -> MergeSpec(Seq("policy_id", "claim_type", "severity", "status",
      "adjuster_id", "claim_month"), "n"),
    "p" -> MergeSpec(Seq("policy_id", "customer_id", "policy_type"), "n"),
    "c" -> MergeSpec(Seq("customer_id", "state", "age"), "n"),
    "att" -> MergeSpec(CoAttKeys, "n"),
    "adj" -> MergeSpec(Seq("adjuster_id"), "n_handled"))

  /** Signed claim partials at (policy, claim-attrs, month) grain. */
  def coClPartials(delta: DataFrame): DataFrame =
    delta.filter(col("missing_policy_flag") === 0)
      .groupBy(col("policy_id"), col("claim_type"), col("severity"),
        col("status"), col("adjuster_id"),
        month(col("claim_date")).as("claim_month"))
      .agg(sum(col("__sign")).as("n"),
        sum(col("__sign") * col("claim_amount").cast(D4))
          .cast(D38).as("amt"),
        sum(col("__sign") * col("settled_amount").cast(D4))
          .cast(D38).as("settled"),
        sum(when(col("fraud_indicator") === 1, col("__sign"))
          .otherwise(0L)).as("fraud"),
        sum(col("__sign") * coalesce(col("settlement_ratio").cast(D4),
          lit(0).cast(D4))).cast(D38).as("sr_sum"),
        sum(when(col("settlement_ratio").isNotNull, col("__sign"))
          .otherwise(0L)).as("sr_n"),
        sum(col("__sign") * coalesce(col("reporting_delay_days")
          .cast(LongType), lit(0L))).as("delay_sum"),
        sum(when(col("reporting_delay_days").isNotNull, col("__sign"))
          .otherwise(0L)).as("delay_n"))

  /** Signed policy-dimension multiplicity (unfiltered — q47 joins all
    * policies). A premium-only update nets zero and vanishes. */
  def coPPartials(delta: DataFrame): DataFrame =
    delta.groupBy(col("policy_id"), col("customer_id"), col("policy_type"))
      .agg(sum(col("__sign")).as("n"))
      .filter(col("n") =!= 0)

  /** Signed customer-dimension multiplicity (unfiltered — q47 joins all
    * customers; the email flag plays no role here). */
  def coCPartials(delta: DataFrame): DataFrame =
    delta.groupBy(col("customer_id"), col("state"), col("age"))
      .agg(sum(col("__sign")).as("n"))
      .filter(col("n") =!= 0)

  /** Per-adjuster signed rollup partials (q47 adjuster_performance). */
  def coAdjPartials(delta: DataFrame): DataFrame =
    delta.filter(col("adjuster_id").isNotNull)
      .groupBy(col("adjuster_id"))
      .agg(sum(col("__sign")).as("n_handled"),
        sum(col("__sign") * coalesce(col("settlement_ratio").cast(D4),
          lit(0).cast(D4))).cast(D38).as("sr_sum"),
        sum(when(col("settlement_ratio").isNotNull, col("__sign"))
          .otherwise(0L)).as("sr_n"),
        sum(col("__sign") * coalesce(col("reporting_delay_days")
          .cast(LongType), lit(0L))).as("delay_sum"),
        sum(when(col("reporting_delay_days").isNotNull, col("__sign"))
          .otherwise(0L)).as("delay_n"),
        sum(when(col("fraud_indicator") === 1, col("__sign"))
          .otherwise(0L)).as("fraud"))

  /** claim-partial rows × a (policy_id, dims, dn) frame → attributed
    * 8-key rows with measures scaled by the dimension multiplicity. */
  private def coScale(clF: DataFrame, dims: DataFrame): DataFrame =
    clF.alias("f").join(dims.alias("d"),
        col("f.policy_id") === col("d.policy_id"))
      .select(col("f.claim_type"), col("f.severity"), col("f.status"),
        col("f.adjuster_id"), col("f.claim_month"), col("d.policy_type"),
        col("d.customer_state"), col("d.customer_age"),
        (col("f.n") * col("d.dn")).as("n"),
        (col("f.amt") * col("d.dn")).cast(D38).as("amt"),
        (col("f.settled") * col("d.dn")).cast(D38).as("settled"),
        (col("f.fraud") * col("d.dn")).as("fraud"),
        (col("f.sr_sum") * col("d.dn")).cast(D38).as("sr_sum"),
        (col("f.sr_n") * col("d.dn")).as("sr_n"),
        (col("f.delay_sum") * col("d.dn")).as("delay_sum"),
        (col("f.delay_n") * col("d.dn")).as("delay_n"))

  /** ΔCL term: fact-delta probes both dimensions in sequence. */
  private def coT1(dCl: DataFrame, p: DataFrame, c: DataFrame): DataFrame =
    coScale(dCl,
      p.alias("p").join(c.alias("c"),
          col("p.customer_id") === col("c.customer_id"))
        .select(col("p.policy_id"), col("p.policy_type"),
          col("c.state").as("customer_state"),
          col("c.age").as("customer_age"),
          (col("p.n") * col("c.n")).as("dn")))

  /** ΔP/ΔC terms: the dimension delta joins the OTHER dimension first
    * (Δ-sized), then probes the fact-partial state. `byCustomer` flips
    * which side is the delta. */
  private def coDimDims(dDim: DataFrame, other: DataFrame,
      byCustomer: Boolean): DataFrame =
    if (!byCustomer) // dDim = policy-dim delta, other = customers
      dDim.alias("p").join(other.alias("c"),
          col("p.customer_id") === col("c.customer_id"))
        .select(col("p.policy_id"), col("p.policy_type"),
          col("c.state").as("customer_state"),
          col("c.age").as("customer_age"),
          (col("p.n") * col("c.n")).as("dn"))
    else // dDim = customer-dim delta, other = policies
      dDim.alias("c").join(other.alias("p"),
          col("p.customer_id") === col("c.customer_id"))
        .select(col("p.policy_id"), col("p.policy_type"),
          col("c.state").as("customer_state"),
          col("c.age").as("customer_age"),
          (col("p.n") * col("c.n")).as("dn"))

  private def coAttDelta(ts: Seq[DataFrame]): DataFrame =
    ts.reduce(_ unionByName _)
      .groupBy(CoAttKeys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("amt")).cast(D38).as("amt"),
        sum(col("settled")).cast(D38).as("settled"),
        sum(col("fraud")).as("fraud"),
        sum(col("sr_sum")).cast(D38).as("sr_sum"),
        sum(col("sr_n")).as("sr_n"),
        sum(col("delay_sum")).as("delay_sum"),
        sum(col("delay_n")).as("delay_n"))

  /** Fold one CDC batch triple into the claims-operations state:
    * [[claimsOpsDeltaFrames]] (the trilinear rule — see the block
    * comment for which state version each term reads) folded in table
    * by table. */
  def applyClaimsOpsDelta(st: ClaimsOpsState, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): ClaimsOpsState =
    ClaimsOpsState.of(foldTables(st.tables,
      claimsOpsDeltaFrames(st, custDelta, polDelta, clDelta), OpsSpecs))

  /** Bootstrap from the first batch triple: against empty state the
    * trilinear rule collapses to CL₁⊗P₁⊗ΔC with every factor the
    * batch's own partials. */
  def initClaimsOps(custDelta: DataFrame, polDelta: DataFrame,
      clDelta: DataFrame): ClaimsOpsState = {
    val cl = coClPartials(clDelta)
    val p = coPPartials(polDelta)
    val c = coCPartials(custDelta)
    ClaimsOpsState(cl, p, c,
      coAttDelta(Seq(coScale(cl, coDimDims(c, p, byCustomer = true)))),
      coAdjPartials(clDelta))
  }

  /** The claims-operations mart from maintained state: q47's maintained
    * column subset with the SAME derived tail (averages reassembled
    * from sum+count pairs, division guarded like the full refresh). */
  def claimsOpsMart(st: ClaimsOpsState): DataFrame =
    claimsOpsMartFrom(st.att, st.adj)

  /** [[claimsOpsMart]] from just the tables it reads — att is the
    * attributed 8-key view, adj the per-adjuster rollup; the fact-grain
    * cl/p/c probe state never rides the mart path (r18). */
  def claimsOpsMartFrom(attT: DataFrame, adjT: DataFrame): DataFrame = {
    val att = attT.select(
      col("claim_type"), col("severity"), col("status"),
      col("adjuster_id"), col("claim_month"), col("policy_type"),
      col("customer_state"), col("customer_age"),
      col("n").as("claim_count"),
      col("amt").cast(DoubleType).as("total_claim_amount"),
      col("settled").cast(DoubleType).as("total_settled_amount"),
      when(col("delay_n") === 0, lit(null))
        .otherwise(col("delay_sum").cast(DoubleType) / col("delay_n"))
        .as("avg_reporting_delay"),
      when(col("sr_n") === 0, lit(null))
        .otherwise(col("sr_sum").cast(DoubleType) / col("sr_n"))
        .as("avg_settlement_ratio"),
      col("fraud").as("potential_fraud_cases"))
    val adj = adjT.select(col("adjuster_id"),
      col("n_handled").as("adjuster_total_claims"),
      when(col("sr_n") === 0, lit(null))
        .otherwise(col("sr_sum").cast(DoubleType) / col("sr_n"))
        .as("adjuster_avg_settlement_ratio"),
      when(col("delay_n") === 0, lit(null))
        .otherwise(col("delay_sum").cast(DoubleType) / col("delay_n"))
        .as("adjuster_avg_processing_time"),
      col("fraud").as("adjuster_fraud_detected"))
    InsuranceGate.claimsOpsFromParts(att, adj)
  }

  // =============== per-batch DELTA FRAMES for the LSM state store
  // (r16, SCALE.md: full-copy state versions put a |state|-sized write
  // floor under every micro-batch — fact-grain auxiliary state made
  // per-batch maintenance lose to a full refresh at 10×). These
  // producers return the BATCH PARTIALS per state table — what
  // [[graft.streaming.VersionedStateStore.saveDelta]] persists (write
  // ∝ |Δ|); the store folds base+deltas on read through the same
  // [[fold]], so reconstruction is value-exact. The in-memory
  // maintainers (apply*Delta) fold the same frames into their state, so
  // each delta rule exists once. The probe terms still read current
  // state lazily (ptNew etc. are computed for the bilinear/trilinear
  // attribution but never persisted).

  def policyPerfDeltaFrames(st: PolicyPerfState, polDelta: DataFrame,
      clDelta: DataFrame): Map[String, DataFrame] = {
    val dPt = ptPartials(polDelta)
    val reattr = attributed(dPt.select(col("policy_id"), col("policy_type"),
      col("n")), st.cpm)
    val ptNew = fold(Seq(st.pt, dPt), PerfSpecs("pt"))
    val dCpm = cpmPartials(clDelta)
    val attr = attributed(ptNew, dCpm)
    Map("polBase" -> ppPolBasePartials(polDelta), "pt" -> dPt,
      "cpm" -> dCpm, "cbt" -> cbtDelta(reattr, attr))
  }

  def customer360DeltaFrames(st: Customer360State, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): Map[String, DataFrame] = {
    val dPc = c360PcPartials(polDelta)
    val reattr = attributedCust(dPc, st.cpc)
    val pcNew = fold(Seq(st.pc, dPc), C360Specs("pc"))
    val dCpc = c360CpcPartials(clDelta)
    val attr = attributedCust(pcNew, dCpc)
    Map("custDim" -> c360CustDimPartials(custDelta),
      "polMetrics" -> c360PolMetricPartials(polDelta),
      "polDates" -> c360PolDatePartials(polDelta),
      "pc" -> dPc, "cpc" -> dCpc, "cm" -> cmDelta(reattr, attr))
  }

  def claimsOpsDeltaFrames(st: ClaimsOpsState, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): Map[String, DataFrame] = {
    val dCl = coClPartials(clDelta)
    val dP = coPPartials(polDelta)
    val dC = coCPartials(custDelta)
    val t1 = coT1(dCl, st.p, st.c)
    val clNew = fold(Seq(st.cl, dCl), OpsSpecs("cl"))
    val t2 = coScale(clNew, coDimDims(dP, st.c, byCustomer = false))
    val pNew = fold(Seq(st.p, dP), OpsSpecs("p"))
    val t3 = coScale(clNew, coDimDims(dC, pNew, byCustomer = true))
    Map("cl" -> dCl, "p" -> dP, "c" -> dC,
      "att" -> coAttDelta(Seq(t1, t2, t3)),
      "adj" -> coAdjPartials(clDelta))
  }

  // =============== Δ-KEYED delta frames (r17 verdict task 1): the
  // producers above read the FULL folded state (st.*) for their probe
  // terms, which at 10× makes a 4k-record batch cost about what a full
  // refresh does — the measured read floor (SCALE.md r16 part 2). The
  // keyed variants never touch state except through [[StateProbe]]
  // SLICES restricted to the Δ's key set. Soundness: every probe term
  // is an EQUALITY join on a column that is part of the state table's
  // merge keys, so (a) slicing the state by those keys before the
  // base+delta fold commutes with the fold (the fold groups by the
  // merge keys, and the slice predicate is a function of them), and
  // (b) rows outside the slice could never have matched the join.
  // Post-batch probe factors (e.g. ptNew = fold(pt, dPt)) are built
  // from SLICED inputs: fold(pt, dPt) ⋉ K = fold(pt ⋉ K, dPt ⋉ K)
  // for any key set K over merge-key columns. KeyedIvmSpec pins each
  // producer's output against its full-state twin on the 4-batch CDC
  // fixture.

  /** Keyed access to one version of maintained state. `keys.columns`
    * must be a subset of the table's merge keys; rows with a NULL key
    * column may be dropped (every probe term joins on equality, so
    * null-key state rows never contribute). */
  trait StateProbe {
    def slice(table: String, keys: DataFrame): DataFrame
  }

  /** [[StateProbe]] over in-memory full-state frames — the reference
    * semantics (specs, non-durable replay gates). */
  final case class FrameProbe(frames: Map[String, DataFrame])
      extends StateProbe {
    def slice(table: String, keys: DataFrame): DataFrame =
      sliceOf(frames(table), keys)
  }

  /** Left-semi restriction of `state` to the key tuples in `keys`. */
  def sliceOf(state: DataFrame, keys: DataFrame): DataFrame =
    state.join(keys.na.drop().dropDuplicates(),
      keys.columns.toSeq, "left_semi")

  /** [[policyPerfDeltaFrames]] reading state only through Δ-keyed
    * probes: cpm sliced by the policy-dim delta's policies, pt by the
    * claim delta's policies. */
  def policyPerfDeltaFramesKeyed(probe: StateProbe, polDelta: DataFrame,
      clDelta: DataFrame): Map[String, DataFrame] = {
    // the two Δ-partial checkpoints are independent small jobs —
    // overlap them (guide §2.6)
    val Seq(dPt, dCpm) = graft.util.Parallel.inParallel(Seq(
      () => ptPartials(polDelta).localCheckpoint(true),
      () => cpmPartials(clDelta).localCheckpoint(true)))
    val cpmSlice = probe.slice("cpm", dPt.select("policy_id"))
    val reattr = attributed(dPt.select(col("policy_id"),
      col("policy_type"), col("n")), cpmSlice)
    val kCl = dCpm.select("policy_id")
    val ptNewSlice = fold(Seq(probe.slice("pt", kCl), sliceOf(dPt, kCl)),
      PerfSpecs("pt"))
    val attr = attributed(ptNewSlice, dCpm)
    Map("polBase" -> ppPolBasePartials(polDelta), "pt" -> dPt,
      "cpm" -> dCpm, "cbt" -> cbtDelta(reattr, attr))
  }

  /** [[customer360DeltaFrames]] through Δ-keyed probes (bilinear rule,
    * policy-keyed join state). */
  def customer360DeltaFramesKeyed(probe: StateProbe, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): Map[String, DataFrame] = {
    // independent Δ-partial checkpoints — overlap them (guide §2.6)
    val Seq(dPc, dCpc) = graft.util.Parallel.inParallel(Seq(
      () => c360PcPartials(polDelta).localCheckpoint(true),
      () => c360CpcPartials(clDelta).localCheckpoint(true)))
    val reattr = attributedCust(dPc,
      probe.slice("cpc", dPc.select("policy_id")))
    val kCl = dCpc.select("policy_id")
    val pcNewSlice = fold(Seq(probe.slice("pc", kCl), sliceOf(dPc, kCl)),
      C360Specs("pc"))
    val attr = attributedCust(pcNewSlice, dCpc)
    Map("custDim" -> c360CustDimPartials(custDelta),
      "polMetrics" -> c360PolMetricPartials(polDelta),
      "polDates" -> c360PolDatePartials(polDelta),
      "pc" -> dPc, "cpc" -> dCpc, "cm" -> cmDelta(reattr, attr))
  }

  /** [[claimsOpsDeltaFrames]] through Δ-keyed probes (trilinear rule).
    * The ΔCL term's customer slice is a DEPENDENT probe: its key set is
    * the customer ids named by the policy slice's rows, so the slice is
    * still Δ-sized (≤ |ΔCL| policies' customers). Both CL₁ probes slice
    * the fact-partial state by the term's own Δ-derived policy ids. */
  def claimsOpsDeltaFramesKeyed(probe: StateProbe, custDelta: DataFrame,
      polDelta: DataFrame, clDelta: DataFrame): Map[String, DataFrame] = {
    // the three Δ-partial checkpoints are independent small jobs, and
    // so are the three term-dimension checkpoints below them — overlap
    // each group (guide §2.6; serial they left local[N] mostly idle)
    val Seq(dCl, dP, dC) = graft.util.Parallel.inParallel(Seq(
      () => coClPartials(clDelta).localCheckpoint(true),
      () => coPPartials(polDelta).localCheckpoint(true),
      () => coCPartials(custDelta).localCheckpoint(true)))
    def clNewSlice(keys: DataFrame): DataFrame =
      fold(Seq(probe.slice("cl", keys), sliceOf(dCl, keys)), OpsSpecs("cl"))
    val Seq(pSlice1, dims2, dims3) =
      graft.util.Parallel.inParallel(Seq(
        // ΔCL ⊗ P₀ ⊗ C₀
        () => probe.slice("p", dCl.select("policy_id"))
          .localCheckpoint(true),
        // CL₁ ⊗ ΔP ⊗ C₀ — CL₁ sliced to the term's policies
        () => coDimDims(dP, probe.slice("c", dP.select("customer_id")),
          byCustomer = false).localCheckpoint(true),
        // CL₁ ⊗ P₁ ⊗ ΔC — P₁ sliced to the customer delta's customers
        () => { val kC = dC.select("customer_id")
          val pNewSlice = fold(Seq(probe.slice("p", kC), sliceOf(dP, kC)),
            OpsSpecs("p"))
          coDimDims(dC, pNewSlice, byCustomer = true)
            .localCheckpoint(true) }))
    val cSlice1 = probe.slice("c", pSlice1.select("customer_id"))
    val t1 = coScale(dCl, pSlice1.alias("p").join(cSlice1.alias("c"),
        col("p.customer_id") === col("c.customer_id"))
      .select(col("p.policy_id"), col("p.policy_type"),
        col("c.state").as("customer_state"),
        col("c.age").as("customer_age"),
        (col("p.n") * col("c.n")).as("dn")))
    val t2 = coScale(clNewSlice(dims2.select("policy_id")), dims2)
    val t3 = coScale(clNewSlice(dims3.select("policy_id")), dims3)
    Map("cl" -> dCl, "p" -> dP, "c" -> dC,
      "att" -> coAttDelta(Seq(t1, t2, t3)),
      "adj" -> coAdjPartials(clDelta))
  }

  /** IVM column pruning for the claims-operations maintainer. */
  def narrowCoCust(delta: DataFrame): DataFrame =
    delta.select("customer_id", "state", "age", "__sign")
  def narrowCoPol(delta: DataFrame): DataFrame =
    delta.select("policy_id", "customer_id", "policy_type", "__sign")
  def narrowCoCl(delta: DataFrame): DataFrame =
    delta.select("policy_id", "claim_type", "severity", "status",
      "adjuster_id", "claim_date", "claim_amount", "settled_amount",
      "fraud_indicator", "missing_policy_flag", "settlement_ratio",
      "reporting_delay_days", "__sign")

  /** The executive-summary mart from maintained state: reassemble the
    * q45 monthly frames (distinct customers = positive-multiplicity
    * rows; decimal sums cast to double exactly where the full refresh
    * casts them) and run the SAME derived tail q45 runs. */
  def mart(st: ExecState): DataFrame = {
    val active = st.polCusts.groupBy("report_period")
      .agg(count(lit(1)).as("active_customers"))
    val mf = st.polMonths.alias("m").join(active.alias("a"),
        col("m.report_period") <=> col("a.report_period"), "left")
      .select(col("m.report_period").as("report_period"),
        col("m.n_pol").as("new_policies"),
        coalesce(col("a.active_customers"), lit(0L)).as("active_customers"),
        col("m.gwp").cast(DoubleType).as("gross_written_premium"))
    val mc = st.clMonths.select(col("report_period"),
      col("n_claims").as("total_claims"),
      col("paid").cast(DoubleType).as("total_paid_claims"),
      col("fraud").as("fraud_claims"))
    InsuranceGate.execSummaryFromMonthly(mf, mc)
  }
}
