package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** [[IncrementalGold.fold]], the one signed-fold kernel: its k-way form
  * (one union + one groupBy, the replay gates' state views and the
  * store's chain reads) must equal the pairwise state ⊕ Δ chain (the
  * full-outer-join form) row for row — same groups, same sums, same
  * zero-count drops, same NULLs — including the cases that make the
  * equivalence non-obvious: NULL group keys (real groups under the
  * null-safe keys), groups that cancel to zero mid-chain and reappear
  * later, and measures that are NULL in every contribution. Every form
  * must also fail loudly on a negative multiplicity, even when the
  * consumer never reads the count column. */
class FoldPartialsSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IncrementalGold.MergeSpec(Seq("k1", "k2"), "n")

  private def frame(rows: Seq[(String, Integer, Long, java.lang.Double)])
      : DataFrame =
    rows.toDF("k1", "k2", "n", "m")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("flat fold equals the nested merge cascade (null keys, zero-cancel, null measures)") {
    val b1 = frame(Seq(
      ("a", 1, 1L, 1.5),
      ("a", null, 1L, null), // NULL key component: a real group
      ("v", 3, 1L, null), // NULL here, a value later
      (null, 2, 2L, 4.0),
      ("z", 9, 1L, 2.0)))
    val b2 = frame(Seq(
      ("a", 1, 1L, 2.5),
      ("z", 9, -1L, -2.0), // cancels z's group to zero mid-chain
      ("v", 3, 1L, 6.0),
      ("a", null, 1L, null))) // NULL in every contribution: stays NULL
    val b3 = frame(Seq(
      ("z", 9, 2L, 7.0), // zero-cancelled group reappears
      (null, 2, -1L, -1.0)))
    val pairwise = IncrementalGold.fold(
      Seq(IncrementalGold.fold(Seq(b1, b2), spec), b3), spec)
    val flat = IncrementalGold.fold(Seq(b1, b2, b3), spec)
    assert(sorted(flat) === sorted(pairwise))
    // the same two frames through both physical forms (an empty third
    // frame only switches the kernel to its k-way form)
    assert(sorted(IncrementalGold.fold(Seq(b1, b2, b2.limit(0)), spec)) ===
      sorted(IncrementalGold.fold(Seq(b1, b2), spec)))
    // SQL SUM semantics: NULL only where every contribution is NULL
    val m = flat.collect().map(r => (r.getString(0), r.get(1)) -> r.get(3))
      .toMap
    assert(m(("a", null)) === null)
    assert(m(("v", 3)) === 6.0)
    // the zero-cancelled-then-reborn group carries ONLY the rebirth values
    val z = flat.filter(col("k1") === "z").collect()
    assert(z.length === 1 && z.head.getLong(2) === 2L &&
      z.head.getDouble(3) === 7.0)
  }

  test("single-partial fold is the identity (no spurious zero-drop)") {
    val b1 = frame(Seq(("a", 1, 0L, 0.0), ("b", 2, 1L, 1.0)))
    // one frame: returned as-is (state bootstrapping keeps init
    // partials unfiltered)
    assert(IncrementalGold.fold(Seq(b1), spec).collect().length === 2)
  }

  test("a negative multiplicity fails loudly in the pairwise and the " +
      "k-way form, also under a consumer that never reads the count") {
    val st = frame(Seq(("a", 1, 1L, 1.0), ("b", 2, 1L, 1.0)))
    val bad = frame(Seq(("a", 1, -2L, -1.0))) // nets a's count to -1
    val ok = frame(Seq(("b", 2, 1L, 1.0)))
    for (frames <- Seq(Seq(st, bad), Seq(st, ok, bad))) {
      val folded = IncrementalGold.fold(frames, spec)
      // count-only consumers: column pruning drops every measure AND
      // the count column from what they read
      Seq[DataFrame => Any](
        _.groupBy("k1").agg(count(lit(1))).collect(),
        _.count()).foreach { consume =>
        val e = intercept[Exception](consume(folded))
        assert(IncrementalGoldSpec.messages(e)
            .exists(_.contains("negative multiplicity")),
          s"${frames.size} frames: expected the guard, got ${e.getMessage}")
      }
    }
  }
}
