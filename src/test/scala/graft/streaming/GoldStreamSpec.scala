package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** [[GoldMaintenanceStream]] — the q218 maintainer as a CDC stream.
  * Pins:
  *
  *   1. the four q218 CDC batches, serialized as Debezium-style JSON
  *      records and replayed through a checkpointed file stream WITH A
  *      RESTART between batches 2 and 3, leave the maintained mart
  *      exactly equal to the q218 batch gate (which the DuckDB oracle
  *      hash-verifies against the full refresh) — state recovery from
  *      the committed version is therefore value-exact;
  *   2. idempotent replay: re-folding an already-committed batch id is
  *      a no-op on the durable state (the exactly-once foreachBatch
  *      sink contract);
  *   3. state versions become visible only through their _COMMIT
  *      marker (lastCommitted ignores torn versions).
  */
class GoldStreamSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def cdcJson(pol: DataFrame, cl: DataFrame): DataFrame =
    pol.select(lit("policy").as("entity"), col("op"),
        to_json(col("before")).as("before"), to_json(col("after")).as("after"))
      .unionByName(cl.select(lit("claim").as("entity"), col("op"),
        to_json(col("before")).as("before"), to_json(col("after")).as("after")))

  test("stream == q218 across micro-batches and a checkpointed restart; " +
      "replays are idempotent") {
    import spark.implicits._
    val batches = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val polT = batches.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = batches.head._2.schema("before").dataType.asInstanceOf[StructType]
    val inDir = java.nio.file.Files.createTempDirectory("gold_in").toString
    val stateDir = java.nio.file.Files.createTempDirectory("gold_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gold_ckpt").toString
    val refreshes = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    @volatile var lastMart: Array[org.apache.spark.sql.Row] = Array.empty

    def start() = GoldMaintenanceStream.start(
      spark.readStream
        .schema("entity STRING, op STRING, before STRING, after STRING")
        .option("maxFilesPerTrigger", "1")
        .json(s"$inDir/*").as[GoldMaintenanceStream.GoldCdc],
      polT, clT, stateDir, ckpt,
      (id, mart) => {
        val rows = mart.collect()
        refreshes.synchronized { refreshes += ((id, rows.length.toLong)) }
        lastMart = rows
      })

    def feed(name: String, i: Int): Unit =
      cdcJson(batches(i)._1, batches(i)._2)
        .coalesce(1).write.mode("append").json(s"$inDir/$name")

    val q1 = start()
    try {
      feed("b1", 0); q1.processAllAvailable()
      feed("b2", 1); q1.processAllAvailable()
    } finally q1.stop()
    assert(GoldMaintenanceStream.lastCommitted(stateDir).nonEmpty,
      "no committed state after two batches")

    // restart: batches 3 (deletes) and 4 (delete-then-resurrect) fold
    // onto state RELOADED from the committed version
    val q2 = start()
    try {
      feed("b3", 2); q2.processAllAvailable()
      feed("b4", 3); q2.processAllAvailable()
    } finally q2.stop()

    val expected = graft.SparkEntry
      .queries("q218_incremental_gold")(spark, sf).collect()
    assert(lastMart.length === expected.length)
    assert(lastMart.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
      "streamed maintenance diverged from the q218 gate")
    assert(refreshes.count(_._2 > 0) >= 4, s"refreshes: $refreshes")

    // idempotent replay of the last committed batch id: state untouched
    val last = GoldMaintenanceStream.lastCommitted(stateDir).get
    def stateSig(): Seq[(String, Long)] = {
      def all(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(all)
        else Seq(f)
      all(new java.io.File(stateDir))
        .map(f => (f.getAbsolutePath, f.lastModified)).sortBy(_._1)
    }
    val sig = stateSig()
    val replayed = GoldMaintenanceStream.foldBatch(
      cdcJson(batches(3)._1, batches(3)._2), last, polT, clT, stateDir)
    assert(replayed.nonEmpty)
    assert(stateSig() === sig, "replaying a committed batch rewrote state")
    assert(replayed.get.collect().map(_.toSeq).toSet ===
      expected.map(_.toSeq).toSet)

    // a torn (uncommitted) version is invisible
    val torn = java.nio.file.Paths.get(stateDir, (last + 100).toString)
    java.nio.file.Files.createDirectories(torn)
    assert(GoldMaintenanceStream.lastCommitted(stateDir).contains(last),
      "uncommitted state version must stay invisible")

    // an EMPTY batch with a new id must not mint a state version
    val emptyBatch = cdcJson(batches(0)._1, batches(0)._2).limit(0)
    val r = GoldMaintenanceStream.foldBatch(
      emptyBatch, last + 1000, polT, clT, stateDir)
    assert(r.nonEmpty, "empty batch should still surface the current mart")
    assert(GoldMaintenanceStream.lastCommitted(stateDir).contains(last),
      "empty batch minted a state version")
  }

  test("at-least-once CDC stream (cross-batch redelivery + in-batch " +
      "duplicates) maintains exactly through the committed ledger") {
    import spark.implicits._
    val batches = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val polT = batches.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = batches.head._2.schema("before").dataType.asInstanceOf[StructType]
    val inDir = java.nio.file.Files.createTempDirectory("alo_in").toString
    val stateDir = java.nio.file.Files.createTempDirectory("alo_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("alo_ckpt").toString
    @volatile var lastMart: Array[org.apache.spark.sql.Row] = Array.empty

    // seq = batch index (per key: one op per batch, so (key, seq) is a
    // valid per-record sequence); DAMAGE: every batch i > 0 redelivers
    // ALL of batch i-1 under its old seq, and 1/3 of its own records
    // are duplicated — the at-least-once shapes CdcIngest must absorb
    def cdcSeqJson(i: Int): DataFrame = {
      def stamped(pol: DataFrame, cl: DataFrame, s: Int): DataFrame =
        pol.select(lit("policy").as("entity"), col("op"),
            to_json(col("before")).as("before"),
            to_json(col("after")).as("after"), lit(s.toLong).as("seq"))
          .unionByName(cl.select(lit("claim").as("entity"), col("op"),
            to_json(col("before")).as("before"),
            to_json(col("after")).as("after"), lit(s.toLong).as("seq")))
      val own = stamped(batches(i)._1, batches(i)._2, i)
      val dups = own.filter(pmod(abs(hash(col("before"), col("after"))),
        lit(3)) === 0)
      val redelivered =
        if (i == 0) own.limit(0)
        else stamped(batches(i - 1)._1, batches(i - 1)._2, i - 1)
      own.unionByName(dups).unionByName(redelivered).orderBy(rand(7 + i))
    }

    def start() = GoldMaintenanceStream.startAtLeastOnce(
      spark.readStream
        .schema("entity STRING, op STRING, before STRING, after STRING, seq BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$inDir/*").as[GoldMaintenanceStream.GoldCdcSeq],
      polT, clT, stateDir, ckpt,
      (_, mart) => lastMart = mart.collect())

    def feed(name: String, i: Int): Unit =
      cdcSeqJson(i).coalesce(1).write.mode("append").json(s"$inDir/$name")

    val q1 = start()
    try {
      feed("b1", 0); q1.processAllAvailable()
      feed("b2", 1); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      feed("b3", 2); q2.processAllAvailable()
      feed("b4", 3); q2.processAllAvailable()
    } finally q2.stop()

    val expected = graft.SparkEntry
      .queries("q218_incremental_gold")(spark, sf).collect()
    assert(lastMart.length === expected.length)
    assert(lastMart.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
      "at-least-once maintenance diverged from the q218 gate")
  }

  test("policy-perf join-IVM streams with the same commit discipline " +
      "across a restart") {
    import spark.implicits._
    val batches = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val polT = batches.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = batches.head._2.schema("before").dataType.asInstanceOf[StructType]
    val inDir = java.nio.file.Files.createTempDirectory("perf_in").toString
    val stateDir = java.nio.file.Files.createTempDirectory("perf_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("perf_ckpt").toString
    @volatile var lastMart: Array[org.apache.spark.sql.Row] = Array.empty

    def start() = GoldMaintenanceStream.startPerf(
      spark.readStream
        .schema("entity STRING, op STRING, before STRING, after STRING")
        .option("maxFilesPerTrigger", "1")
        .json(s"$inDir/*").as[GoldMaintenanceStream.GoldCdc],
      polT, clT, stateDir, ckpt,
      (_, mart) => lastMart = mart.collect())

    def feed(name: String, i: Int): Unit =
      cdcJson(batches(i)._1, batches(i)._2)
        .coalesce(1).write.mode("append").json(s"$inDir/$name")

    val q1 = start()
    try {
      feed("b1", 0); q1.processAllAvailable()
      feed("b2", 1); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      feed("b3", 2); q2.processAllAvailable()
      feed("b4", 3); q2.processAllAvailable()
    } finally q2.stop()

    val expected = graft.SparkEntry
      .queries("q221_incremental_policy_perf")(spark, sf).collect()
    assert(lastMart.length === expected.length)
    assert(lastMart.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
      "streamed join-IVM maintenance diverged from the q221 gate")
  }

  test("ONE 3-entity CDC topic maintains ALL FOUR gold marts " +
      "concurrently across a restart, each matching its batch gate") {
    import spark.implicits._
    val pc = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val cu = graft.engine.InsuranceGate.cdcCustomerBatches(spark, sf)
    val polT = pc.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = pc.head._2.schema("before").dataType.asInstanceOf[StructType]
    val cuT = cu.head.schema("before").dataType.asInstanceOf[StructType]
    val inDir = java.nio.file.Files.createTempDirectory("all_in").toString
    val stateRoot = java.nio.file.Files.createTempDirectory("all_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("all_ckpt").toString
    @volatile var marts: Map[String, Array[org.apache.spark.sql.Row]] = Map.empty

    def topic(i: Int): DataFrame =
      cdcJson(pc(i)._1, pc(i)._2).unionByName(
        cu(i).select(lit("customer").as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after")))

    def start() = GoldMaintenanceStream.startAllMarts(
      spark.readStream
        .schema("entity STRING, op STRING, before STRING, after STRING")
        .option("maxFilesPerTrigger", "1")
        .json(s"$inDir/*").as[GoldMaintenanceStream.GoldCdc],
      cuT, polT, clT, stateRoot, ckpt,
      (_, ms) => marts = ms.map { case (n, m) => n -> m.collect() })

    def feed(name: String, i: Int): Unit =
      topic(i).coalesce(1).write.mode("append").json(s"$inDir/$name")

    val q1 = start()
    try {
      feed("b1", 0); q1.processAllAvailable()
      feed("b2", 1); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      feed("b3", 2); q2.processAllAvailable()
      feed("b4", 3); q2.processAllAvailable()
    } finally q2.stop()

    val gates = Map(
      "exec" -> "q218_incremental_gold",
      "perf" -> "q221_incremental_policy_perf",
      "c360" -> "q223_incremental_customer_360",
      "ops" -> "q224_incremental_claims_ops")
    gates.foreach { case (name, gate) =>
      val expected = graft.SparkEntry.queries(gate)(spark, sf).collect()
      val got = marts(name)
      assert(got.length === expected.length, s"$name row count")
      assert(got.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
        s"streamed $name mart diverged from the $gate gate")
    }
  }


  test("at-least-once 3-entity topic maintains ALL FOUR marts through " +
      "the shared ingest ledger (r17 verdict task 4): duplicates + " +
      "cross-batch redelivery + scrambled order, across a checkpointed " +
      "restart, equals the four batch gates") {
    import spark.implicits._
    val pc = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val cu = graft.engine.InsuranceGate.cdcCustomerBatches(spark, sf)
    val polT = pc.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = pc.head._2.schema("before").dataType.asInstanceOf[StructType]
    val cuT = cu.head.schema("before").dataType.asInstanceOf[StructType]
    val inDir = java.nio.file.Files.createTempDirectory("aloall_in").toString
    val stateRoot =
      java.nio.file.Files.createTempDirectory("aloall_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("aloall_ckpt").toString
    @volatile var marts: Map[String, Array[org.apache.spark.sql.Row]] =
      Map.empty

    // seq = 2×batch + (0 for I, 1 for U/D): the CUSTOMER fixture's
    // batch 2 gives uk%10==6 keys BOTH an I and a U (uk≡6 mod 10 ⇒
    // uk≡1 mod 5), so a per-batch-constant seq would collide them in
    // CdcIngest.keyed's (key, seq) redelivery dedupe; the op offset
    // restores a valid per-record sequence (I precedes the U that
    // mutates it) while staying monotone per key across batches.
    // DAMAGE: batch i > 0 redelivers ALL of batch i-1 under its old
    // seqs, 1/3 of its own records duplicate, and the batch file is
    // written in random order
    def topicSeq(i: Int): DataFrame = {
      def stamped(df: DataFrame, entity: String, base: Int): DataFrame =
        df.select(lit(entity).as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after"),
          (lit(base.toLong * 2) + when(col("op") === "I", 0L)
            .otherwise(1L)).as("seq"))
      def whole(j: Int): DataFrame =
        stamped(pc(j)._1, "policy", j)
          .unionByName(stamped(pc(j)._2, "claim", j))
          .unionByName(stamped(cu(j), "customer", j))
      val own = whole(i)
      val dups = own.filter(pmod(abs(hash(col("before"), col("after"))),
        lit(3)) === 0)
      val redelivered = if (i == 0) own.limit(0) else whole(i - 1)
      own.unionByName(dups).unionByName(redelivered).orderBy(rand(17 + i))
    }

    def start() = GoldMaintenanceStream.startAllMartsAtLeastOnce(
      spark.readStream
        .schema("entity STRING, op STRING, before STRING, after STRING, seq BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$inDir/*").as[GoldMaintenanceStream.GoldCdcSeq],
      cuT, polT, clT, stateRoot, ckpt,
      (_, ms) => marts = ms.map { case (n, m) => n -> m.collect() })

    def feed(name: String, i: Int): Unit =
      topicSeq(i).coalesce(1).write.mode("append").json(s"$inDir/$name")

    val q1 = start()
    try {
      feed("b1", 0); q1.processAllAvailable()
      feed("b2", 1); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      feed("b3", 2); q2.processAllAvailable()
      feed("b4", 3); q2.processAllAvailable()
    } finally q2.stop()

    val gates = Map(
      "exec" -> "q218_incremental_gold",
      "perf" -> "q221_incremental_policy_perf",
      "c360" -> "q223_incremental_customer_360",
      "ops" -> "q224_incremental_claims_ops")
    gates.foreach { case (name, gate) =>
      val expected = graft.SparkEntry.queries(gate)(spark, sf).collect()
      val got = marts(name)
      assert(got.length === expected.length, s"$name row count")
      assert(got.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
        s"at-least-once streamed $name mart diverged from the $gate gate")
    }
    // non-vacuity: the ingest ledger committed alongside the marts
    val ledgerVs = new VersionedStateStore(spark, s"$stateRoot/ingest",
      Seq("ledgerPolicy", "ledgerClaim", "ledgerCustomer"))
      .committedVersions
    assert(ledgerVs.nonEmpty, "ingest ledger never committed")
  }


  test("foldAllMarts (one parse, CONCURRENT folds) equals the four " +
      "batch gates; a partial-commit replay folds only the uncommitted " +
      "marts") {
    import scala.jdk.CollectionConverters._
    val pc = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val cu = graft.engine.InsuranceGate.cdcCustomerBatches(spark, sf)
    val polT = pc.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = pc.head._2.schema("before").dataType.asInstanceOf[StructType]
    val cuT = cu.head.schema("before").dataType.asInstanceOf[StructType]
    val stateRoot =
      java.nio.file.Files.createTempDirectory("shared_state").toString
    def sub(n: String) = s"$stateRoot/$n"
    def topic(i: Int): DataFrame =
      cdcJson(pc(i)._1, pc(i)._2).unionByName(
        cu(i).select(lit("customer").as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after")))
    // (path, mtime) of every file of one mart's version: a re-fold
    // rewrites the parquet parts under fresh names and the _COMMIT
    def files(mart: String, v: Long): Set[(String, Long)] = {
      val root = java.nio.file.Paths.get(sub(mart), v.toString)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toSet
      finally walk.close()
    }
    def foldAll(batch: DataFrame, i: Int): Map[String, DataFrame] =
      GoldMaintenanceStream.foldAllMarts(batch, i.toLong, cuT, polT, clT,
        stateRoot)
    var marts: Map[String, DataFrame] = Map.empty
    (0 until 4).foreach { i =>
      val batch = topic(i).localCheckpoint(true)
      if (i != 2) marts = foldAll(batch, i)
      else {
        // a crash after exec and c360 committed batch 2 alone: the
        // replay must skip those two and fold only perf and ops
        GoldMaintenanceStream.foldBatch(batch, 2L, polT, clT, sub("exec"))
        GoldMaintenanceStream.foldC360Batch(batch, 2L, cuT, polT, clT,
          sub("c360"))
        val committed = Seq("exec", "c360").map(m => m -> files(m, 2L)).toMap
        Seq("perf", "ops").foreach(m =>
          assert(GoldMaintenanceStream.lastCommitted(sub(m)) === Some(1L)))
        marts = foldAll(batch, i)
        assert(marts.keySet === Set("exec", "perf", "c360", "ops"))
        committed.foreach { case (m, fs) =>
          assert(files(m, 2L) === fs, s"$m re-folded its committed batch 2")
        }
        Seq("perf", "ops").foreach(m =>
          assert(GoldMaintenanceStream.lastCommitted(sub(m)) === Some(2L),
            s"$m did not fold the replayed batch 2"))
      }
    }
    val gates = Map(
      "exec" -> "q218_incremental_gold",
      "perf" -> "q221_incremental_policy_perf",
      "c360" -> "q223_incremental_customer_360",
      "ops" -> "q224_incremental_claims_ops")
    gates.foreach { case (name, gate) =>
      val expected = graft.SparkEntry.queries(gate)(spark, sf).collect()
      val got = marts(name).collect()
      assert(got.length === expected.length, s"$name row count")
      assert(got.map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
        s"shared-parse concurrent $name mart diverged from $gate")
    }
  }

  test("version retention keeps the newest K committed versions and " +
      "restart still resumes") {
    val batches = graft.engine.InsuranceGate.cdcBatches(spark, sf)
    val polT = batches.head._1.schema("before").dataType.asInstanceOf[StructType]
    val clT = batches.head._2.schema("before").dataType.asInstanceOf[StructType]
    val stateDir = java.nio.file.Files.createTempDirectory("ret_state").toString
    // drive the fold directly (ids 10,20,30,40), retain = 2
    batches.zipWithIndex.foreach { case ((p, c), i) =>
      val r = GoldMaintenanceStream.foldBatch(
        cdcJson(p, c), 10L * (i + 1), polT, clT, stateDir, retain = 2)
      assert(r.nonEmpty)
    }
    val store = new VersionedStateStore(spark, stateDir,
      Seq("polMonths", "polCusts", "clMonths"), retain = 2)
    assert(store.committedVersions === Seq(30L, 40L),
      s"expected only the newest 2 versions, got ${store.committedVersions}")
    // old version directories are actually GONE from storage
    val dirs = new java.io.File(stateDir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs === Array("30", "40"), s"on disk: ${dirs.mkString(",")}")
    // resume from the retained newest version: mart == the q218 gate
    val mart = graft.engine.IncrementalGold.mart(
      GoldMaintenanceStream.loadState(spark, stateDir, 40L))
    val expected = graft.SparkEntry
      .queries("q218_incremental_gold")(spark, sf).collect()
    assert(mart.collect().map(_.toSeq).toSet === expected.map(_.toSeq).toSet,
      "resume from retained state diverged from the gate")
  }

  test("delta (LSM) GC honors retain (r16 ADVICE): the newest K " +
      "committed versions stay READABLE — their anchoring base and " +
      "intermediate deltas survive compaction; only versions below " +
      "the K-th newest version's base are deleted") {
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("lsm_gc_state").toString
    val spec =
      Map("t" -> graft.engine.IncrementalGold.MergeSpec(Seq("k"), "n"))
    val store = new VersionedStateStore(spark, stateDir, Seq("t"),
      retain = 2, mergeSpecs = spec, compactEvery = 2)
    def d(rows: (Long, Long)*): Map[String, DataFrame] =
      Map("t" -> rows.toSeq.toDF("k", "n"))

    store.save(1L, d(1L -> 5L))               // base 1
    store.saveDelta(2L, d(1L -> 2L))          // delta 2 (chain len 1)
    store.saveDelta(3L, d(2L -> 7L))          // hits compactEvery → base 3
    // pre-fix delta GC deleted everything below the NEWEST base (1 and
    // 2 here). Contract: newest retain=2 versions are (2, 3); version
    // 2 reads through base 1, so 1 and 2 must both survive.
    assert(store.committedVersions === Seq(1L, 2L, 3L),
      s"got ${store.committedVersions}")
    assert(store.load(2L)("t").as[(Long, Long)].collect().toSet ===
      Set(1L -> 7L), "version 2 must still fold base 1 + delta 2")
    assert(store.load(3L)("t").as[(Long, Long)].collect().toSet ===
      Set(1L -> 7L, 2L -> 7L))

    store.saveDelta(4L, d(2L -> -7L))         // delta 4 over base 3
    // newest 2 = (3, 4); 3 is its own base → 1 and 2 now GC
    assert(store.committedVersions === Seq(3L, 4L),
      s"got ${store.committedVersions}")
    assert(store.load(4L)("t").as[(Long, Long)].collect().toSet ===
      Set(1L -> 7L), "zero-count group must drop after the signed fold")
  }

  test("lastCommitted(stateDir) works WITHOUT an active SparkSession " +
      "(r16 ADVICE): pure FileSystem listing for driver-side tooling") {
    import org.apache.spark.sql.SparkSession
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("nosess_state").toString
    new VersionedStateStore(spark, stateDir, Seq("t"))
      .save(7L, Map("t" -> Seq(1L -> 1L).toDF("k", "n")))
    val act = SparkSession.getActiveSession
    val dfl = SparkSession.getDefaultSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      assert(GoldMaintenanceStream.lastCommitted(stateDir) === Some(7L))
      assert(GoldMaintenanceStream.lastCommitted(
        stateDir + "/does_not_exist") === None)
    } finally {
      act.foreach(SparkSession.setActiveSession)
      dfl.foreach(SparkSession.setDefaultSession)
    }
  }
}
