package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Δ-KEYED delta-frame producers (r17 verdict task 1) against
  * their full-state twins, per CDC batch, per state table: the keyed
  * variants read state only through [[IncrementalGold.StateProbe]]
  * slices (the probe's key set), so any broken commute — a slice that
  * drops a contributing row, a post-batch factor built from the wrong
  * side — shows up as a frame diff here long before a gate hash. The
  * 4-batch fixture covers inserts, premium updates with flag flips,
  * deletes, delete-then-resurrect, and claims deletes, so the probes
  * see retractions and re-attributions, not just appends. */
class KeyedIvmSpec extends SparkSpec {
  import IncrementalGold.{ClaimsOpsState, Customer360State, PolicyPerfState}
  import IncrementalGoldSpec.pinned
  private val sf = "/root/testdata/sf0.001"

  private lazy val pc = InsuranceGate.cdcBatches(spark, sf).map {
    case (p, c) => (IncrementalGold.signedDelta(p).localCheckpoint(true),
      IncrementalGold.signedDelta(c).localCheckpoint(true))
  }
  private lazy val cu = InsuranceGate.cdcCustomerBatches(spark, sf)
    .map(b => IncrementalGold.signedDelta(b).localCheckpoint(true))

  private def assertFrames(full: Map[String, DataFrame],
      keyed: Map[String, DataFrame], what: String): Unit = {
    assert(full.keySet === keyed.keySet, s"$what: table set drift")
    full.keys.foreach { t =>
      val (a, b) = (full(t), keyed(t))
      assert(a.schema.fieldNames.toSeq === b.schema.fieldNames.toSeq,
        s"$what/$t: column drift")
      assert(a.exceptAll(b).count() === 0, s"$what/$t: keyed missing rows")
      assert(b.exceptAll(a).count() === 0, s"$what/$t: keyed extra rows")
    }
  }

  test("policy-perf: keyed delta frames == full-state delta frames " +
      "after every batch") {
    var st = PolicyPerfState.of(pinned(
      IncrementalGold.initPolicyPerf(pc.head._1, pc.head._2).tables))
    pc.tail.zipWithIndex.foreach { case ((p, c), i) =>
      val probe = IncrementalGold.FrameProbe(
        Map("pt" -> st.pt, "cpm" -> st.cpm))
      assertFrames(
        IncrementalGold.policyPerfDeltaFrames(st, p, c),
        IncrementalGold.policyPerfDeltaFramesKeyed(probe, p, c),
        s"perf batch ${i + 2}")
      st = PolicyPerfState.of(pinned(
        IncrementalGold.applyPolicyPerfDelta(st, p, c).tables))
    }
  }

  test("customer-360: keyed delta frames == full-state delta frames " +
      "after every batch") {
    var st = Customer360State.of(pinned(IncrementalGold.initCustomer360(
      cu.head, pc.head._1, pc.head._2).tables))
    pc.tail.zipWithIndex.foreach { case ((p, c), i) =>
      val probe = IncrementalGold.FrameProbe(
        Map("pc" -> st.pc, "cpc" -> st.cpc))
      assertFrames(
        IncrementalGold.customer360DeltaFrames(st, cu(i + 1), p, c),
        IncrementalGold.customer360DeltaFramesKeyed(probe, cu(i + 1), p, c),
        s"c360 batch ${i + 2}")
      st = Customer360State.of(pinned(
        IncrementalGold.applyCustomer360Delta(st, cu(i + 1), p, c).tables))
    }
  }

  test("claims-ops (trilinear): keyed delta frames == full-state delta " +
      "frames after every batch, dependent customer probe included") {
    var st = ClaimsOpsState.of(pinned(IncrementalGold.initClaimsOps(
      cu.head, pc.head._1, pc.head._2).tables))
    pc.tail.zipWithIndex.foreach { case ((p, c), i) =>
      val probe = IncrementalGold.FrameProbe(
        Map("cl" -> st.cl, "p" -> st.p, "c" -> st.c))
      assertFrames(
        IncrementalGold.claimsOpsDeltaFrames(st, cu(i + 1), p, c),
        IncrementalGold.claimsOpsDeltaFramesKeyed(probe, cu(i + 1), p, c),
        s"ops batch ${i + 2}")
      st = ClaimsOpsState.of(pinned(
        IncrementalGold.applyClaimsOpsDelta(st, cu(i + 1), p, c).tables))
    }
    // non-vacuity: at least one later batch's probes must have hit a
    // STRICT subset of the state (otherwise "keyed" degenerated to a
    // full read and the test proves nothing about the slice algebra)
    val lastClaimPids = pc.last._2.filter(col("missing_policy_flag") === 0)
      .select("policy_id").distinct().count()
    val statePids = st.cl.select("policy_id").distinct().count()
    assert(lastClaimPids < statePids,
      s"vacuous fixture: final batch touches $lastClaimPids of " +
        s"$statePids state policies — slices equal full reads")
  }
}
