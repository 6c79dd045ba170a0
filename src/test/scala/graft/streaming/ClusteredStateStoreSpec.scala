package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The key-clustered state store surface (r17 verdict task 1):
  * BASE versions of cluster-spec'd tables land in the engine's own
  * clustered format (graft-sink, parquet payload, file-per-bucket),
  * and [[VersionedStateStore.sliceKeyed]] reads a Δ-keyed slice of the
  * folded view with the probe's bucket set pruning base files EXACTLY
  * (the single-key manifest matcher). The codec boundary (DATE ↔
  * epoch-day, DECIMAL ↔ plain string) must round-trip losslessly —
  * one corrupted sum would drift every downstream mart. */
class ClusteredStateStoreSpec extends SparkSpec {
  import spark.implicits._
  import VersionedStateStore.ClusterSpec
  import graft.engine.IncrementalGold.MergeSpec

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def rows(n: Int): DataFrame =
    spark.range(n).select(
      concat(lit("k"), col("id")).as("k"),
      date_add(lit("2024-01-01").cast(DateType),
        (col("id") % 37).cast("int")).as("d"),
      (col("id") % 5 + 1).as("n"),
      (col("id") * 7).cast(DecimalType(38, 4)).as("amt"),
      (col("id") * 0.25).as("x"))

  private def store(dir: String, buckets: Int = 8,
      compactEvery: Int = 4): VersionedStateStore =
    new VersionedStateStore(spark, dir, Seq("t"),
      retain = 3,
      mergeSpecs = Map("t" -> MergeSpec(Seq("k", "d"), "n")),
      compactEvery = compactEvery,
      clusterSpecs = Map("t" -> ClusterSpec(Seq("k"), buckets)))

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    // nullability is NOT compared: both the plain-parquet and the
    // clustered read paths surface everything nullable
    assert(a.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      b.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$what: schema drift")
    assert(a.exceptAll(b).count() === 0, s"$what: extra rows")
    assert(b.exceptAll(a).count() === 0, s"$what: missing rows")
  }

  test("clustered base round-trips losslessly through the codec " +
      "(DATE, DECIMAL(38,4), DOUBLE, STRING, LONG)") {
    val dir = tmp("cst_rt")
    val df = rows(500).localCheckpoint(true)
    store(dir).save(1L, Map("t" -> df))
    val back = store(dir).load(1L)("t")
    assertSame(back, df, "clustered roundtrip")
    // and it really IS the clustered format on disk
    assert(new java.io.File(s"$dir/1/t/_manifest.jsonl").exists(),
      "base was not written through the clustered sink")
  }

  test("sliceKeyed == full fold ⋉ keys across a base+delta chain, " +
      "and the base scan prunes to the probe's bucket set") {
    val dir = tmp("cst_slice")
    val st = store(dir)
    val base = rows(500).localCheckpoint(true)
    st.save(1L, Map("t" -> base))
    // delta touches 30 keys: updates (n +2), one full retraction, and
    // a brand-new key (present only in the delta)
    val delta = rows(30).select(col("k"), col("d"), lit(2L).as("n"),
        lit(BigDecimal(1.5)).cast(DecimalType(38, 4)).as("amt"),
        lit(0.5).as("x"))
      .unionByName(rows(500).filter(col("k") === "k400")
        .select(col("k"), col("d"), (col("n") * -1).as("n"),
          (col("amt") * -1).cast(DecimalType(38, 4)).as("amt"),
          (col("x") * -1).as("x")))
      .unionByName(Seq(("brandnew", java.sql.Date.valueOf("2030-01-01"),
        9L, BigDecimal(9.9), 0.1))
        .toDF("k", "d", "n", "amt", "x")
        .select(col("k"), col("d"), col("n"),
          col("amt").cast(DecimalType(38, 4)).as("amt"), col("x")))
      .localCheckpoint(true)
    st.saveDelta(2L, Map("t" -> delta))

    val keys = Seq("k1", "k5", "k400", "brandnew", "absent")
      .toDF("k").localCheckpoint(true)
    val slice = st.sliceKeyed(2L, "t", keys)
    val full = st.load(2L)("t")
    assertSame(slice,
      full.join(keys, Seq("k"), "left_semi"), "sliceKeyed vs full⋉keys")
    // the retracted key is gone, the new key present
    assert(slice.filter(col("k") === "k400").count() === 0)
    assert(slice.filter(col("k") === "brandnew").count() === 1)

    // pruning: the pushed In-set must keep STRICTLY fewer base files
    // than the total (single-key manifest matcher — the r18
    // fileOutsideRegion refinement; a bounds-only check would keep
    // every file between min and max bucket)
    val pruned = VersionedStateStore.readClustered(spark, s"$dir/1/t",
      buckets = Some(Seq(0L)))
    val plan = pruned.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"scan description missing files=k/n: $plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"expected bucket pruning, got ${m.get.matched}")
  }

  test("In-set bucket pruning skips GAP files between min and max " +
      "(single-key exact matcher, not just bounds)") {
    val dir = tmp("cst_gap")
    val st = store(dir)
    st.save(1L, Map("t" -> rows(500).localCheckpoint(true)))
    // scattered bucket set {0, 7} of 8: a bounds-only prune would keep
    // every file; the exact matcher keeps exactly the named buckets
    val pruned = VersionedStateStore.readClustered(spark, s"$dir/1/t",
      buckets = Some(Seq(0L, 7L)))
    val plan = pruned.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"scan description missing files=k/n: $plan")
    assert(m.get.group(2).toInt >= 6, "fixture too small to prove gaps")
    assert(m.get.group(1).toInt <= 2,
      s"gap files not pruned: ${m.get.matched}")
    // and the pruned read is still value-exact for those buckets
    val expect = st.load(1L)("t").filter(
      pmod(xxhash64(col("k")), lit(8L)).isin(0L, 7L))
    assertSame(pruned, expect, "gap-pruned read")
  }

  test("sliceKeyed on a NON-cluster merge key falls back to a " +
      "semi-joined scan with the same result") {
    val dir = tmp("cst_fb")
    val st = store(dir)
    st.save(1L, Map("t" -> rows(200).localCheckpoint(true)))
    st.saveDelta(2L, Map("t" -> rows(10).select(col("k"), col("d"),
      lit(1L).as("n"), lit(BigDecimal(0)).cast(DecimalType(38, 4)).as("amt"),
      lit(0.0).as("x")).localCheckpoint(true)))
    // probe by d (a merge key, NOT the cluster key). The USING-join
    // reorders the expected frame's columns — realign before comparing.
    val keys = Seq(java.sql.Date.valueOf("2024-01-03")).toDF("d")
    val slice = st.sliceKeyed(2L, "t", keys)
    assertSame(slice,
      st.load(2L)("t").join(keys, Seq("d"), "left_semi")
        .select(slice.columns.map(col).toSeq: _*),
      "fallback slice")
    // a non-merge-key probe is refused loudly
    val e = intercept[Exception] {
      st.sliceKeyed(2L, "t", Seq(1.0).toDF("x"))
    }
    assert(e.getMessage.contains("merge keys"), e.getMessage)
  }

  test("sliceKeyed with an empty key set is empty; compaction keeps " +
      "the clustered layout on the new base") {
    val dir = tmp("cst_cmp")
    val st = store(dir, compactEvery = 2)
    st.save(1L, Map("t" -> rows(100).localCheckpoint(true)))
    assert(st.sliceKeyed(1L, "t",
      spark.emptyDataset[String].toDF("k")).count() === 0)
    st.saveDelta(2L, Map("t" -> rows(5).localCheckpoint(true)))
    st.saveDelta(3L, Map("t" -> rows(5).localCheckpoint(true)))
    // version 3 hit compactEvery → it is a BASE and must be clustered
    assert(new java.io.File(s"$dir/3/t/_manifest.jsonl").exists(),
      "compacted base lost the clustered layout")
    val expect = st.load(3L)("t")
    // k1 carries n = 2 in the base and in each delta → folds to 6
    assert(expect.filter(col("k") === "k1").select("n").as[Long]
      .collect().toSeq === Seq(6L), "compacted fold drifted")
    assertSame(st.sliceKeyed(3L, "t", Seq("k1").toDF("k")),
      expect.filter(col("k") === "k1"), "slice over compacted base")
  }

  test("a negative multiplicity in a store chain fails loudly through " +
      "load and sliceKeyed, in the pairwise and the k-way fold") {
    val dir = tmp("cst_neg")
    val st = store(dir)
    st.save(1L, Map("t" -> rows(20).localCheckpoint(true)))
    // k0 holds n = 1 in the base: retracting it twice nets it to -1
    st.saveDelta(2L, Map("t" -> rows(1).withColumn("n", lit(-2L))))
    st.saveDelta(3L, Map("t" -> rows(3).filter(col("k") === "k2")))
    val k0 = Seq("k0").toDF("k")
    // version 2 = base + one delta (pairwise form), version 3 = base +
    // two deltas (k-way form); every read below skips the count column
    for (v <- Seq(2L, 3L)) {
      Seq[(String, () => Any)](
        "load" -> (() => st.load(v)("t").select("k").collect()),
        "lazy load" -> (() =>
          st.loadTables(v, Seq("t"), materialize = false)("t").count()),
        "sliceKeyed" -> (() => st.sliceKeyed(v, "t", k0).count())
      ).foreach { case (what, read) =>
        val e = intercept[Exception](read())
        assert(graft.engine.IncrementalGoldSpec.messages(e)
            .exists(_.contains("negative multiplicity")),
          s"version $v $what: expected the guard, got ${e.getMessage}")
      }
    }
  }
}
