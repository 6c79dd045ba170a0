package graft.streaming

import graft.engine.IncrementalGold
import graft.util.Parallel
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Durable, versioned, atomically-visible parquet state for
  * foreachBatch maintainers — the part `foreachBatch` makes the caller
  * own, implemented on the Hadoop FileSystem API so `stateDir` can
  * live on HDFS/S3/local-FS alike (r15 verdict task 2; the r15 version
  * used `java.nio.file`, which binds state to the driver's local disk).
  *
  * Layout: `stateDir/<batchId>/<table>/` parquet per state table, then
  * an empty `_COMMIT` marker makes the version visible — readers and
  * restarts only ever see fully written state. After each commit,
  * committed versions older than the newest `retain` are deleted:
  * without GC every non-empty micro-batch would leak a full state copy
  * and durable storage would grow with stream lifetime instead of
  * state size (r15 advice). In-flight (uncommitted) directories are
  * never touched — a torn write is invisible and will be overwritten
  * when its batch id replays.
  */
final class VersionedStateStore(spark: SparkSession, stateDir: String,
    tables: Seq[String], retain: Int = VersionedStateStore.DefaultRetain,
    mergeSpecs: Map[String, IncrementalGold.MergeSpec] = Map.empty,
    compactEvery: Int = VersionedStateStore.DefaultCompactEvery,
    clusterSpecs: Map[String, VersionedStateStore.ClusterSpec] = Map.empty) {
  require(retain >= 1, s"retain must keep at least the newest version")
  clusterSpecs.foreach { case (t, cs) =>
    val ms = mergeSpecs.getOrElse(t, sys.error(
      s"graft state: clustered table $t needs a MergeSpec"))
    require(cs.keyCols.forall(ms.keys.contains),
      s"graft state: $t cluster keys ${cs.keyCols} must be merge keys")
  }
  private val root = new Path(stateDir)
  private def fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  def committedVersions: Seq[Long] =
    VersionedStateStore.listCommitted(fs, root)

  def lastCommitted: Option[Long] = committedVersions.lastOption

  private def isDelta(id: Long): Boolean =
    fs.exists(new Path(new Path(root, id.toString), "_DELTA"))

  /** Newest committed BASE (full-copy) version at or below `id`. */
  private def baseFor(id: Long): Long =
    committedVersions.filter(v => v <= id && !isDelta(v)).lastOption
      .getOrElse(sys.error(
        s"graft state: no base version at or below $id under $stateDir"))

  private def tableDir(id: Long, t: String): Path =
    new Path(new Path(root, id.toString), t)

  /** Read one version's table. BASE versions of cluster-spec'd tables
    * are stored in the engine's own clustered format (graft-sink,
    * parquet payload, file-per-bucket — see [[save]]); everything else
    * is plain parquet. Routing is by what is ON DISK (the sink's
    * manifest), not by this instance's specs, so a store constructed
    * without clusterSpecs still reads a clustered history. */
  private def read(id: Long, t: String): DataFrame = {
    val dir = tableDir(id, t)
    if (fs.exists(new Path(dir, "_manifest.jsonl")))
      VersionedStateStore.readClustered(spark, dir.toString)
    else spark.read.parquet(dir.toString)
  }

  /** [[read]] of a clustered BASE with the probe's bucket set pushed
    * into the scan — the manifest prunes non-matching files EXACTLY
    * (file-per-bucket ⇒ single-key files ⇒ the In-set matcher decides
    * each file). Falls back to the plain read when the table is not
    * clustered on `keyCols`. */
  private def readPruned(id: Long, t: String,
      keyCols: Seq[String], keys: DataFrame): DataFrame =
    clusterSpecs.get(t) match {
      case Some(cs) if cs.keyCols == keyCols &&
          fs.exists(new Path(tableDir(id, t), "_manifest.jsonl")) =>
        // bucket ids of the probe's key set: bounded by cs.buckets (a
        // config constant), so this driver sync is bounded the way the
        // ANN codebook syncs are — and loud if a spec ever breaks that
        val bs = keys.select(VersionedStateStore
            .bucketCol(cs.keyCols, cs.buckets).as("__bucket"))
          .distinct().collect().map(_.getLong(0)).toSeq
        require(bs.size <= cs.buckets,
          s"graft state: $t probe bucket set ${bs.size} > ${cs.buckets}")
        VersionedStateStore.readClustered(spark, tableDir(id, t).toString,
          buckets = Some(bs))
      case _ => read(id, t)
    }

  /** State view at version `id`: every table's [[chain]] folded by
    * [[graft.engine.IncrementalGold.fold]] under its MergeSpec, so the
    * reconstruction is value-exact (zero-count groups dropped, negative
    * multiplicities fail loudly). */
  def load(id: Long): Map[String, DataFrame] = loadTables(id, tables)

  /** [[load]] restricted to `wanted` tables — mart reads fold ONLY the
    * mart-grain tables (r17 verdict task 1: the full load's eager fold
    * + checkpoint of every fact-adjacent table per batch was the
    * measured read floor). */
  def loadTables(id: Long, wanted: Seq[String],
      materialize: Boolean = true): Map[String, DataFrame] = {
    // per-table fold+checkpoint jobs are independent — overlap them
    // (guide §2.6: small jobs leave the cluster idle serially)
    Parallel.inParallel(wanted.map { t => () =>
      val frames = chain(id, t)
      if (frames.lengthCompare(1) == 0) t -> frames.head
      // eager checkpoint (default): the folded view is consumed several
      // times per fold on the legacy full-load path (the bilinear/
      // trilinear probes read each state table 1–3 times, plus the
      // mart) — without it the base+delta aggregation recomputes per
      // consumer (read-side shared-subtree trap, measured at the 10×
      // IVM soak). Callers whose tables each have exactly ONE consumer
      // (the keyed mart reads) pass materialize=false and inline the
      // fold into the consumer's plan instead of paying a write+read-
      // back of the folded view (guide §1.2: don't compute things you
      // throw away).
      else {
        val spec = mergeSpecs.getOrElse(t, sys.error(
          s"graft state: table $t has delta versions but no MergeSpec"))
        val folded = IncrementalGold.fold(frames, spec)
        t -> (if (materialize) folded.localCheckpoint(true) else folded)
      }
    }).toMap
  }

  /** The frames whose fold is table `t` at version `id`: the newest
    * base at or below it, then every committed delta in between, oldest
    * first. A caller folding one more Δ over a version folds
    * `chain(id, t) :+ Δ` in ONE kernel call, not a fold of a fold. */
  def chain(id: Long, t: String): Seq[DataFrame] = {
    val (base, deltaIds) = chainFor(id)
    (base +: deltaIds).map(read(_, t))
  }

  private def chainFor(id: Long): (Long, Seq[Long]) = {
    val base = baseFor(id)
    val deltaIds = committedVersions.filter(v => v > base && v <= id)
    require(deltaIds.forall(isDelta),
      s"graft state: non-delta version inside the delta chain ($deltaIds)")
    (base, deltaIds)
  }

  /** Δ-KEYED state read (r17 verdict task 1): the folded view of table
    * `t` at version `id`, restricted to rows whose `keys.columns`
    * values appear in `keys`. The restriction commutes with the fold
    * (keys.columns ⊆ merge keys, enforced), so this equals
    * `load(id)(t) ⋉ keys` — WITHOUT folding or materializing the full
    * table: the base scan is file-pruned to the probe's bucket set
    * when the table is clustered on exactly these key columns, and
    * every frame is semi-joined to the (Δ-sized) key set before the
    * fold, so per-probe cost tracks |Δ|, not |state|. */
  def sliceKeyed(id: Long, t: String, keys: DataFrame): DataFrame = {
    val spec = mergeSpecs.getOrElse(t, sys.error(
      s"graft state: sliceKeyed($t) needs a MergeSpec"))
    val keyCols = keys.columns.toSeq
    require(keyCols.forall(spec.keys.contains),
      s"graft state: sliceKeyed($t) keys $keyCols must be merge keys " +
        s"${spec.keys} (the restriction must commute with the fold)")
    // NO eager checkpoint here: probe key frames derive from the
    // producers' already-checkpointed delta partials, so the 2-3 reads
    // below (bucket collect + per-version semi-joins) recompute a cheap
    // in-memory projection — a checkpoint would add a job per probe
    // (6 probes/batch in the trilinear fold) for nothing.
    val k = keys.na.drop().dropDuplicates()
    val (base, deltaIds) = chainFor(id)
    val baseSlice = readPruned(base, t, keyCols, k)
      .join(k, keyCols, "left_semi")
    val frames = baseSlice +: deltaIds.map(
      read(_, t).join(k, keyCols, "left_semi"))
    // the slice stays LAZY: every store probe has exactly one consumer
    // (multi-consumer probe factors checkpoint in the producer layer —
    // pSlice1/dims2/dims3 in claimsOpsDeltaFramesKeyed), so an eager
    // checkpoint here would materialize each slice once for nothing
    // (measured at the 10× soak: it put the big-batch fold above the
    // r17 full-load path; lazy slices removed that regression)
    IncrementalGold.fold(frames, spec)
  }

  private def gc(): Unit = {
    // Contract: the newest `retain` committed versions stay readable.
    // A delta version is readable only through its anchoring base, so
    // the GC floor is the BASE of the retain-th newest version — in
    // full-copy mode baseFor is the identity and this degenerates to
    // plain keep-newest-retain. (r16 advice: the previous delta-mode
    // rule kept only versions >= the newest base, deleting
    // just-superseded versions a concurrent reader may still hold.)
    val vs = committedVersions
    if (vs.isEmpty) return
    val keepFrom = baseFor(vs.takeRight(retain).head)
    vs.filter(_ < keepFrom)
      .foreach(v => fs.delete(new Path(root, v.toString), true))
  }

  /** Write every state table IN FULL under version `id` (a BASE),
    * commit, GC. The parquet writes ARE the state materialization —
    * the caller folds lazily. */
  def save(id: Long, frames: Map[String, DataFrame]): Unit = {
    val dir = new Path(root, id.toString)
    // per-table writes are independent jobs on disjoint directories —
    // overlap them (guide §2.6); the commit marker still lands only
    // after EVERY write returned, so the atomicity contract is intact
    Parallel.inParallel(tables.map { t => () =>
      val out = new Path(dir, t)
      clusterSpecs.get(t) match {
        case Some(cs) =>
          VersionedStateStore.writeClustered(spark, frames(t), out.toString,
            cs, fs)
        case None =>
          frames(t).write.mode("overwrite").parquet(out.toString)
      }
    })
    fs.create(new Path(dir, "_COMMIT"), true).close()
    gc()
  }

  /** Write only the batch's DELTA partials under version `id` — the
    * LSM mode that makes per-batch write cost ∝ |Δ| instead of |state|
    * (SCALE.md round-16: full-copy versions put a |state|-sized floor
    * under every micro-batch, which is what caps IVM's win at scale).
    * Every `compactEvery` deltas the chain is folded into a fresh base
    * instead (one |state| write amortized over the window), which also
    * bounds the read-side fold. Falls back to a base write when no
    * base exists yet. */
  def saveDelta(id: Long, deltas: Map[String, DataFrame]): Unit = {
    require(mergeSpecs.keySet == tables.toSet,
      "saveDelta needs a MergeSpec for every table")
    val vs = committedVersions
    val bases = vs.filterNot(isDelta)
    val deltasSinceBase = bases.lastOption
      .map(b => vs.count(_ > b)).getOrElse(0)
    if (bases.isEmpty || deltasSinceBase + 1 >= compactEvery) {
      // compact: fold the chain + this delta into a new base — one
      // lazy kernel call per table, whose only consumer is the
      // compacted write. Built BEFORE writing (chain reads committed
      // versions only).
      save(id, if (bases.isEmpty) deltas else tables.map { t =>
        t -> IncrementalGold.fold(chain(vs.last, t) :+ deltas(t),
          mergeSpecs(t))
      }.toMap)
    } else {
      val dir = new Path(root, id.toString)
      // independent |Δ|-sized writes — overlap them (guide §2.6)
      Parallel.inParallel(tables.map { t => () =>
        deltas(t).write.mode("overwrite").parquet(new Path(dir, t).toString)
      })
      fs.create(new Path(dir, "_DELTA"), true).close()
      fs.create(new Path(dir, "_COMMIT"), true).close()
      gc()
    }
  }
}

object VersionedStateStore {
  val DefaultRetain = 3
  val DefaultCompactEvery = 4

  /** Committed version ids under `root`, ascending — the ONE place
    * that knows the directory layout and the `_COMMIT` marker name
    * (r17 advice: the sessionless recovery probe re-implemented this
    * listing inline, so a marker rename would silently diverge them).
    * Parameterized by FileSystem so it serves both the store instance
    * and driver-side tooling with no SparkSession. */
  def listCommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Long] = {
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .filter(id => fs.exists(new Path(new Path(root, id.toString), "_COMMIT")))
      .toSeq.sorted
  }

  /** Key-clustered storage of a state table's BASE versions (r17
    * verdict task 1): rows land hash-bucketed by `keyCols` into
    * `buckets` buckets, one file per bucket, through the engine's own
    * clustered table format ([[graft.sources.v2.ClusteredSink]],
    * parquet payload, manifest-planned reads). A Δ-keyed probe then
    * reads ONLY the buckets its key set hashes into — the manifest's
    * single-key files are pruned exactly by the pushed In-set — so
    * probe IO scales with |Δ| × (state size / buckets), and `buckets`
    * scales with the table (it is a layout constant like a shuffle
    * partition count, not a data-dependent collect). keyCols must be a
    * subset of the table's merge keys. */
  final case class ClusterSpec(keyCols: Seq[String], buckets: Int) {
    require(buckets >= 1 && buckets <= (1 << 20),
      s"ClusterSpec.buckets out of range: $buckets")
  }

  /** The bucket id of a key tuple: stable hash, non-negative mod. */
  def bucketCol(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong))

  // --- type codec at the store boundary: the sink's payload types are
  // LONG/INT/DOUBLE/BOOLEAN/STRING, while state tables carry DATE
  // (months) and DECIMAL(38,4) (exact signed sums). Encode is
  // LOSSLESS: DATE ↔ epoch-day INT, DECIMAL ↔ its plain string (cast
  // round-trips exactly in both directions); anything else unsupported
  // fails LOUDLY at write time rather than corrupting state.
  private def encodeCol(f: StructField): Column = f.dataType match {
    case DateType => unix_date(col(f.name)).as(f.name)
    case _: DecimalType => col(f.name).cast(StringType).as(f.name)
    case LongType | IntegerType | DoubleType | BooleanType | StringType =>
      col(f.name)
    case other => sys.error(
      s"graft state: no clustered encoding for column ${f.name}: $other")
  }
  private def decodeCol(f: StructField): Column = f.dataType match {
    case DateType => date_from_unix_date(col(f.name)).as(f.name)
    case dt: DecimalType => col(f.name).cast(dt).as(f.name)
    case _ => col(f.name)
  }

  private val SchemaSidecar = "_types.json"

  /** Write one BASE state table through the clustered sink: encoded
    * payload + `__bucket`, file-per-bucket, plus a schema sidecar the
    * reader decodes through. */
  private[streaming] def writeClustered(spark: SparkSession, df: DataFrame,
      dir: String, cs: ClusterSpec,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val enc = df.select(df.schema.fields.map(encodeCol).toSeq: _*)
      .withColumn("__bucket", bucketCol(cs.keyCols, cs.buckets))
    enc.write.format("graft-sink")
      .option("path", dir)
      .option("clusterBy", "__bucket").option("sortBy", "__bucket")
      .option("filePerKey", "true")
      .option("partitions",
        math.min(cs.buckets, spark.sessionState.conf.numShufflePartitions)
          .toString)
      .mode("overwrite").save()
    val out = fs.create(new Path(dir, SchemaSidecar), true)
    try out.write(df.schema.json.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Manifest-planned read of a clustered state table, decoded back to
    * its original schema. `buckets` pushes the probe's bucket set into
    * the scan (exact file pruning on the single-key files). */
  private[streaming] def readClustered(spark: SparkSession, dir: String,
      buckets: Option[Seq[Long]] = None): DataFrame = {
    val p = new Path(dir, SchemaSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
      bos.toString("UTF-8")
    } finally in.close()
    val orig = DataType.fromJson(json).asInstanceOf[StructType]
    val encSchema = StructType(orig.fields.map { f =>
      f.dataType match {
        case DateType => f.copy(dataType = IntegerType)
        case _: DecimalType => f.copy(dataType = StringType)
        case _ => f
      }
    } :+ StructField("__bucket", LongType))
    val raw = spark.read.format("graft-sink").schema(encSchema)
      .option("path", dir).option("clusterBy", "__bucket").load()
    val pruned = buckets match {
      case Some(bs) => raw.filter(col("__bucket").isin(bs: _*))
      case None => raw
    }
    pruned.select(orig.fields.map(decodeCol).toSeq: _*)
  }
}

/** The incremental-gold maintainers bolted onto Structured Streaming —
  * the production deployment shape: an op-coded CDC stream
  * (Debezium-style JSON before/after images, both entities on one
  * topic) folds into the maintained state ONE MICRO-BATCH AT A TIME
  * via `foreachBatch`, and the refreshed mart is handed to the caller
  * after every commit. Durability/visibility/GC live in
  * [[VersionedStateStore]]; recovery composes with the streaming
  * checkpoint:
  *
  *   - on (re)start the maintainer resumes from the highest committed
  *     version — combined with the checkpoint this recovers a
  *     stop/kill mid-stream;
  *   - `foreachBatch` REPLAYS the in-flight batch after recovery; a
  *     batch whose id is already committed is skipped, which is
  *     exactly the idempotent-sink contract exactly-once foreachBatch
  *     pipelines rely on (GoldStreamSpec pins the double-fold no-op).
  *
  * All four gold marts stream: the executive summary (q218's aggregate
  * IVM), policy performance (q221's join IVM), customer 360 (q223) and
  * claims operations (q224) — same store, same commit discipline,
  * different fold. [[foldAllMarts]] maintains all four from one topic.
  *
  * At scale the state tables are dimension/month-sized (see
  * IncrementalGold) — the parquet round-trip per batch is
  * metadata-sized next to the CDC batch itself.
  */
object GoldMaintenanceStream {

  /** One CDC record: `entity` ∈ policy/claim, `op` ∈ I/U/D, full
    * before/after row images as JSON (null where the op has no image). */
  final case class GoldCdc(entity: String, op: String, before: String,
      after: String)

  private[graft] val ExecTables = Seq("polMonths", "polCusts", "clMonths")
  private[graft] val PerfTables = Seq("polBase", "pt", "cpm", "cbt")

  private def signedOf(df: DataFrame, entity: String,
      schema: StructType): DataFrame =
    IncrementalGold.signedDelta(
      df.filter(col("entity") === entity)
        .select(col("op"),
          from_json(col("before"), schema).as("before"),
          from_json(col("after"), schema).as("after")))

  /** Highest committed state version under `stateDir`, if any.
    * Usable without an active SparkSession (driver-side tooling,
    * pre-session recovery probes — r16 advice): version discovery is
    * pure FileSystem listing, so a bare Hadoop Configuration serves
    * when no session exists. */
  def lastCommitted(stateDir: String): Option[Long] = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val root = new Path(stateDir)
    val fs = root.getFileSystem(conf)
    VersionedStateStore.listCommitted(fs, root).lastOption
  }

  def loadState(spark: SparkSession, stateDir: String,
      id: Long): IncrementalGold.ExecState = {
    IncrementalGold.ExecState.of(
      execStoreD(spark, stateDir, VersionedStateStore.DefaultRetain).load(id))
  }

  // delta-capable stores (LSM mode needs the merge algebra at read
  // time); fact-adjacent probe tables are KEY-CLUSTERED on their
  // dominant probe key (r17 verdict task 1). The exec store holds no
  // clustered table, and its streaming maintainer saves full copies,
  // which never read the merge specs.
  private[graft] def execStoreD(spark: SparkSession, stateDir: String,
      retain: Int): VersionedStateStore =
    new VersionedStateStore(spark, stateDir, ExecTables, retain,
      IncrementalGold.ExecSpecs)
  private[graft] def perfStoreD(spark: SparkSession, stateDir: String,
      retain: Int): VersionedStateStore =
    new VersionedStateStore(spark, stateDir, PerfTables, retain,
      IncrementalGold.PerfSpecs, clusterSpecs = PerfClusters)
  private[graft] def c360StoreD(spark: SparkSession, stateDir: String,
      retain: Int): VersionedStateStore =
    new VersionedStateStore(spark, stateDir, C360Tables, retain,
      IncrementalGold.C360Specs, clusterSpecs = C360Clusters)
  private[graft] def opsStoreD(spark: SparkSession, stateDir: String,
      retain: Int): VersionedStateStore =
    new VersionedStateStore(spark, stateDir, OpsTables, retain,
      IncrementalGold.OpsSpecs, clusterSpecs = OpsClusters)

  /** Shared skip/fold/commit skeleton (full-copy versions). */
  private def foldWith[S](df: DataFrame, id: Long, store: VersionedStateStore,
      load: Long => S, foldInto: (Option[S], DataFrame) => S,
      framesOf: S => Map[String, DataFrame], martOf: S => DataFrame)
      : Option[DataFrame] = {
    val last = store.lastCommitted
    if (last.exists(_ >= id)) Some(martOf(load(last.get)))
    else if (df.isEmpty)
      // a no-data micro-batch must not mint a new state version (the
      // fold would copy every state table for nothing); the mart is
      // whatever the last committed state says — or absent before any
      last.map(l => martOf(load(l)))
    else {
      // lazy fold; the parquet write below IS the materialization
      val st = foldInto(last.map(load), df)
      store.save(id, framesOf(st))
      Some(martOf(load(id)))
    }
  }

  /** [[StateProbe]] over one committed store version — each probe term
    * reads a Δ-keyed, bucket-pruned slice instead of the folded full
    * table. */
  private final class StoreProbe(store: VersionedStateStore, id: Long)
      extends IncrementalGold.StateProbe {
    def slice(table: String, keys: DataFrame): DataFrame =
      store.sliceKeyed(id, table, keys)
  }

  /** Public keyed probe over one committed version — the production-
    * shape one-batch gates drive the keyed fold path outside the
    * streaming skeleton (r17 verdict task 2). */
  def probeAt(store: VersionedStateStore,
      id: Long): IncrementalGold.StateProbe = new StoreProbe(store, id)

  /** [[foldWith]]'s LSM twin for fact-grain state: the bootstrap batch
    * saves a full BASE; every later batch persists only its Δ-KEYED
    * delta frames (write cost ∝ |Δ|), and [[VersionedStateStore]] folds
    * base+deltas on read. The steady state never folds or materializes
    * a full fact-adjacent table:
    *   - delta frames read state only through [[StoreProbe]] slices
    *     (Δ-keyed semi-joins over bucket-pruned base scans);
    *   - the mart read folds ONLY the mart-grain tables;
    * so per-batch cost tracks |Δ| + |mart-grain state|, not |state|.
    * Compaction (inside [[VersionedStateStore.saveDelta]]) still folds
    * the full chain — one |state| read+write amortized over the
    * compaction window.
    *
    * CONSUMPTION WINDOW (r18 advice): the returned mart is a LAZY fold
    * over version files (`materialize = false`) — it re-reads them at
    * execution time instead of pinning a snapshot. Consume (or
    * checkpoint) it before `retain` further batches commit, or the
    * re-read can hit GC-deleted version directories. Every engine
    * consumer executes the mart within its own batch; callers holding
    * marts across batches must checkpoint them. */
  private def foldDeltaKeyed(df: DataFrame, id: Long,
      store: VersionedStateStore,
      initFrames: DataFrame => Map[String, DataFrame],
      deltasKeyed: (IncrementalGold.StateProbe, DataFrame) => Map[String, DataFrame],
      martTables: Seq[String],
      martOf: Map[String, DataFrame] => DataFrame): Option[DataFrame] = {
    // lazy mart-grain fold: every mart assembly reads each table once
    def mart(v: Long): DataFrame =
      martOf(store.loadTables(v, martTables, materialize = false))
    val last = store.lastCommitted
    if (last.exists(_ >= id)) Some(mart(last.get))
    else if (df.isEmpty) last.map(mart)
    else {
      last match {
        case None => store.save(id, initFrames(df))
        case Some(l) =>
          store.saveDelta(id, deltasKeyed(new StoreProbe(store, l), df))
      }
      Some(mart(id))
    }
  }

  import VersionedStateStore.ClusterSpec

  /** Bucket count of the key-clustered state tables. A LAYOUT constant
    * (like a shuffle partition count): probe bucket-set syncs are
    * bounded by it, and at deployment it scales with state size so a
    * bucket stays file-sized (`-Dgraft.state.buckets`). The default is
    * sized for the gate/soak scales — 256 was measured FILE-COUNT
    * bound there (q228's two base writes × 4 tables × 256 files put
    * ~17 s of open/commit overhead on the gate; 64 keeps file-per-
    * bucket pruning demonstrable while the file count tracks the
    * actual state size). */
  private def stateBuckets: Int =
    Integer.getInteger("graft.state.buckets", 64)

  // Fact-adjacent probe tables, clustered on their DOMINANT probe key.
  // Mart-grain tables (polBase/cbt/att/adj, the customer-grain c360
  // rollups) stay plain parquet: the mart fold reads them whole anyway.
  // ops "p" is probed by policy_id (ΔCL term) AND customer_id (ΔC
  // term); it is clustered on policy_id — the claim side churns hardest
  // — and the customer-keyed probe falls back to a semi-joined scan of
  // a dimension-sized table (documented in SCALE.md r18).
  private def PerfClusters = Map(
    "pt" -> ClusterSpec(Seq("policy_id"), stateBuckets),
    "cpm" -> ClusterSpec(Seq("policy_id"), stateBuckets))
  private def C360Clusters = Map(
    "pc" -> ClusterSpec(Seq("policy_id"), stateBuckets),
    "cpc" -> ClusterSpec(Seq("policy_id"), stateBuckets))
  private def OpsClusters = Map(
    "cl" -> ClusterSpec(Seq("policy_id"), stateBuckets),
    "p" -> ClusterSpec(Seq("policy_id"), stateBuckets),
    "c" -> ClusterSpec(Seq("customer_id"), stateBuckets))

  /** Fold one CDC micro-batch into the durable exec-summary state;
    * no-op when `id` is already committed (foreachBatch replay after
    * recovery). Returns the mart refreshed from the state the batch
    * left behind. */
  def foldBatch(df: DataFrame, id: Long, polSchema: StructType,
      clSchema: StructType, stateDir: String,
      retain: Int = VersionedStateStore.DefaultRetain): Option[DataFrame] =
    foldExecFrom(df, (signedOf(df, "policy", polSchema),
      signedOf(df, "claim", clSchema)), id, stateDir, retain)

  /** [[foldBatch]] over pre-parsed signed deltas (the shared-parse
    * topology, r17 verdict task 5). `signed` is by-name: it is only
    * evaluated when the batch actually folds. */
  private def foldExecFrom(df: DataFrame,
      signed: => (DataFrame, DataFrame), id: Long, stateDir: String,
      retain: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    foldWith[IncrementalGold.ExecState](df, id,
      execStoreD(spark, stateDir, retain),
      loadState(spark, stateDir, _),
      (prev, _) => {
        val (p, c) = signed
        val pol = IncrementalGold.narrowPolDelta(p)
        val cl = IncrementalGold.narrowClDelta(c)
        prev match {
          case Some(st) => IncrementalGold.applyDelta(st, pol, cl)
          case None => IncrementalGold.init(pol, cl)
        }
      },
      _.tables, IncrementalGold.mart)
  }

  /** One CDC record of an AT-LEAST-ONCE feed: [[GoldCdc]] plus the
    * per-record sequence number that makes exactly-once reduction
    * possible ([[graft.engine.CdcIngest]]). */
  final case class GoldCdcSeq(entity: String, op: String, before: String,
      after: String, seq: Long)

  private val ExecIngestTables =
    ExecTables ++ Seq("ledgerPolicy", "ledgerClaim")

  /** [[foldBatch]]'s AT-LEAST-ONCE twin (r15 verdict minor (c), closed
    * in deployment shape): records may be DUPLICATED anywhere — within
    * a batch, across batches — and reordered within a batch. The
    * [[graft.engine.CdcIngest]] stages run in front of the fold:
    * (key, seq) dedupe, per-key high-water LEDGER filter, sequence-
    * ordered collapse to one net op per key. The advanced ledgers
    * commit in the SAME state version as the mart state, so a crash or
    * foreachBatch replay can never split "records applied" from
    * "records remembered" — together with the batch-id skip this makes
    * the whole pipeline exactly-once over an at-least-once transport.
    * (A batch that is entirely redelivery still mints a version — a
    * byte-copy of the previous one; retention GC bounds the cost.) */
  def foldBatchAtLeastOnce(df: DataFrame, id: Long, polSchema: StructType,
      clSchema: StructType, stateDir: String,
      retain: Int = VersionedStateStore.DefaultRetain): Option[DataFrame] = {
    import graft.engine.CdcIngest
    val spark = df.sparkSession
    type S = (IncrementalGold.ExecState, DataFrame, DataFrame)
    val store = new VersionedStateStore(spark, stateDir, ExecIngestTables,
      retain)
    def load(v: Long): S = {
      val t = store.load(v)
      (IncrementalGold.ExecState.of(t), t("ledgerPolicy"), t("ledgerClaim"))
    }
    def parsed(batch: DataFrame, entity: String,
        schema: StructType): DataFrame =
      batch.filter(col("entity") === entity)
        .select(col("op"),
          from_json(col("before"), schema).as("before"),
          from_json(col("after"), schema).as("after"),
          col("seq"))
    foldWith[S](df, id, store, load,
      (prev, batch) => {
        val polRaw = CdcIngest.keyed(parsed(batch, "policy", polSchema),
          coalesce(col("after.policy_id"), col("before.policy_id")),
          col("seq"))
        val clRaw = CdcIngest.keyed(parsed(batch, "claim", clSchema),
          coalesce(col("after.claim_id"), col("before.claim_id")),
          col("seq"))
        val polLedger0 = prev.map(_._2)
          .getOrElse(CdcIngest.emptyLedgerLike(polRaw))
        val clLedger0 = prev.map(_._3)
          .getOrElse(CdcIngest.emptyLedgerLike(clRaw))
        val polFresh = CdcIngest.freshAgainstLedger(polRaw, polLedger0)
        val clFresh = CdcIngest.freshAgainstLedger(clRaw, clLedger0)
        val pol = IncrementalGold.narrowPolDelta(IncrementalGold.signedDelta(
          CdcIngest.collapse(polFresh).select("op", "before", "after")))
        val cl = IncrementalGold.narrowClDelta(IncrementalGold.signedDelta(
          CdcIngest.collapse(clFresh).select("op", "before", "after")))
        val st = prev match {
          case Some((s, _, _)) => IncrementalGold.applyDelta(s, pol, cl)
          case None => IncrementalGold.init(pol, cl)
        }
        (st, CdcIngest.advanceLedger(polLedger0, polFresh),
          CdcIngest.advanceLedger(clLedger0, clFresh))
      },
      { case (st, pl, cll) =>
        st.tables ++ Map("ledgerPolicy" -> pl, "ledgerClaim" -> cll) },
      s => IncrementalGold.mart(s._1))
  }

  /** Wire the at-least-once maintainer to a seq-stamped CDC stream. */
  def startAtLeastOnce(changes: Dataset[GoldCdcSeq], polSchema: StructType,
      clSchema: StructType, stateDir: String, checkpoint: String,
      onRefresh: (Long, DataFrame) => Unit,
      retain: Int = VersionedStateStore.DefaultRetain)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[GoldCdcSeq], id: Long) =>
        foldBatchAtLeastOnce(df.toDF(), id, polSchema, clSchema, stateDir,
          retain).foreach(onRefresh(id, _))
      }
      .start()

  /** [[foldBatch]]'s twin for the JOIN-IVM policy-performance mart —
    * LSM mode: only the batch's delta frames persist per version. */
  def foldPerfBatch(df: DataFrame, id: Long, polSchema: StructType,
      clSchema: StructType, stateDir: String,
      retain: Int = VersionedStateStore.DefaultRetain): Option[DataFrame] =
    foldPerfFrom(df, (signedOf(df, "policy", polSchema),
      signedOf(df, "claim", clSchema)), id, stateDir, retain)

  private def foldPerfFrom(df: DataFrame,
      signed: => (DataFrame, DataFrame), id: Long, stateDir: String,
      retain: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    def deltas = { val (p, c) = signed
      (IncrementalGold.narrowPpPol(p), IncrementalGold.narrowPpCl(c)) }
    foldDeltaKeyed(df, id, perfStoreD(spark, stateDir, retain),
      _ => { val (pol, cl) = deltas
        IncrementalGold.initPolicyPerf(pol, cl).tables },
      (probe, _) => { val (pol, cl) = deltas
        IncrementalGold.policyPerfDeltaFramesKeyed(probe, pol, cl) },
      Seq("polBase", "cbt"),
      m => IncrementalGold.policyPerfMartFrom(m("polBase"), m("cbt")))
  }

  /** q228 gate driver: fold pre-built policy-perf (pol, cl) delta
    * pairs through a DELTA-mode store with a forced mid-chain
    * compaction, then return the mart read back from the final
    * version. With `compactEvery` = 2 and four batches the chain is
    * base(1) → delta(2) → COMPACTED base(3) → delta(4), so the read
    * exercises both a compaction product and a delta stacked on it;
    * the caller's oracle (the full-refresh twin) hash-gates the
    * round-trip. The compaction is REQUIRED to have happened — if the
    * cadence ever stops producing one, the gate fails loudly instead
    * of silently testing nothing. */
  def compactedPerfMart(spark: SparkSession,
      deltas: Seq[(DataFrame, DataFrame)], stateDir: String,
      compactEvery: Int = 2): DataFrame = {
    require(deltas.size >= 3, "need a base + enough deltas to compact")
    val store = new VersionedStateStore(spark, stateDir, PerfTables,
      VersionedStateStore.DefaultRetain, IncrementalGold.PerfSpecs,
      compactEvery, clusterSpecs = PerfClusters)
    store.save(1L,
      IncrementalGold.initPolicyPerf(deltas.head._1, deltas.head._2).tables)
    deltas.tail.zipWithIndex.foreach { case ((pol, cl), i) =>
      // each batch folds against the DURABLE state read back from the
      // store — the production shape (r18: through Δ-KEYED bucket-
      // pruned probes of the clustered bases, so this gate also
      // hash-gates the keyed read path + the clustered state format
      // end-to-end). The r17 measurement stands: a lazy in-memory
      // running state re-derives the whole prior chain per delta-frame
      // probe (shared-subtree trap; 38.7 s vs ~21 s at sf0.1).
      val probe = new StoreProbe(store, store.lastCommitted.get)
      store.saveDelta(i + 2L,
        IncrementalGold.policyPerfDeltaFramesKeyed(probe, pol, cl))
    }
    val fs = new Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val compacted = store.committedVersions.exists(v =>
      v > 1L && !fs.exists(
        new Path(new Path(stateDir, v.toString), "_DELTA")))
    require(compacted,
      s"q228 expected a mid-chain compaction under $stateDir; " +
        s"versions=${store.committedVersions}")
    val m = store.loadTables(store.lastCommitted.get, Seq("polBase", "cbt"),
      materialize = false)
    IncrementalGold.policyPerfMartFrom(m("polBase"), m("cbt"))
  }

  private[graft] val C360Tables =
    Seq("custDim", "polMetrics", "polDates", "pc", "cpc", "cm")
  private[graft] val OpsTables = Seq("cl", "p", "c", "att", "adj")

  /** [[foldBatch]]'s twin for the customer-360 mart (three entities on
    * the topic: customer attribute churn folds the dimension side) —
    * LSM mode. */
  def foldC360Batch(df: DataFrame, id: Long, custSchema: StructType,
      polSchema: StructType, clSchema: StructType, stateDir: String,
      retain: Int = VersionedStateStore.DefaultRetain): Option[DataFrame] =
    foldC360From(df, (signedOf(df, "customer", custSchema),
      signedOf(df, "policy", polSchema), signedOf(df, "claim", clSchema)),
      id, stateDir, retain)

  private def foldC360From(df: DataFrame,
      signed: => (DataFrame, DataFrame, DataFrame), id: Long,
      stateDir: String, retain: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    def deltas = { val (cu, p, c) = signed
      (IncrementalGold.narrowC360Cust(cu),
        IncrementalGold.narrowC360Pol(p),
        IncrementalGold.narrowC360Cl(c)) }
    foldDeltaKeyed(df, id, c360StoreD(spark, stateDir, retain),
      _ => { val (cu, pol, cl) = deltas
        IncrementalGold.initCustomer360(cu, pol, cl).tables },
      (probe, _) => { val (cu, pol, cl) = deltas
        IncrementalGold.customer360DeltaFramesKeyed(probe, cu, pol, cl) },
      Seq("custDim", "polMetrics", "polDates", "cm"),
      m => IncrementalGold.customer360MartFrom(m("custDim"),
        m("polMetrics"), m("polDates"), m("cm")))
  }

  /** [[foldBatch]]'s twin for the claims-operations (trilinear) mart —
    * LSM mode. */
  def foldOpsBatch(df: DataFrame, id: Long, custSchema: StructType,
      polSchema: StructType, clSchema: StructType, stateDir: String,
      retain: Int = VersionedStateStore.DefaultRetain): Option[DataFrame] =
    foldOpsFrom(df, (signedOf(df, "customer", custSchema),
      signedOf(df, "policy", polSchema), signedOf(df, "claim", clSchema)),
      id, stateDir, retain)

  private def foldOpsFrom(df: DataFrame,
      signed: => (DataFrame, DataFrame, DataFrame), id: Long,
      stateDir: String, retain: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    def deltas = { val (cu, p, c) = signed
      (IncrementalGold.narrowCoCust(cu),
        IncrementalGold.narrowCoPol(p),
        IncrementalGold.narrowCoCl(c)) }
    foldDeltaKeyed(df, id, opsStoreD(spark, stateDir, retain),
      _ => { val (cu, pol, cl) = deltas
        IncrementalGold.initClaimsOps(cu, pol, cl).tables },
      (probe, _) => { val (cu, pol, cl) = deltas
        IncrementalGold.claimsOpsDeltaFramesKeyed(probe, cu, pol, cl) },
      Seq("att", "adj"),
      m => IncrementalGold.claimsOpsMartFrom(m("att"), m("adj")))
  }

  /** THE production topology: ONE 3-entity CDC topic maintains ALL FOUR
    * gold marts. Each entity's signed delta is parsed ONCE per batch,
    * projected to the union of the columns any maintainer reads and
    * checkpointed (r17 verdict task 5), and the four folds share those
    * immutable frames. The parse is lazy: it runs only when some mart
    * folds, so an empty batch or a replay every mart already committed
    * parses nothing.
    *
    * The four folds run concurrently through [[Parallel.inParallel]]:
    * each is its own chain of Spark jobs, and the scheduler interleaves
    * their stages over the shared cores (SCALE.md r18: faster than the
    * serial fold at every batch size). A failing fold surfaces only
    * after its siblings finished.
    *
    * Each mart folds into its own versioned state dir under `stateRoot`
    * (exec/perf/c360/ops) with its own _COMMIT + batch-id skip, so a
    * crash between mart commits replays the batch and only the not-yet-
    * committed marts fold it (per-mart exactly-once). Returns the
    * refreshed marts keyed by name. */
  def foldAllMarts(df: DataFrame, id: Long, custSchema: StructType,
      polSchema: StructType, clSchema: StructType, stateRoot: String,
      retain: Int = VersionedStateStore.DefaultRetain)
      : Map[String, DataFrame] = {
    import graft.engine.InsuranceGate
    def parsed(entity: String, schema: StructType,
        cols: Seq[String]): DataFrame =
      signedOf(df, entity, schema).select(cols.map(col): _*)
        .localCheckpoint(true)
    // thread-safe: the first fold to need an entity parses it, the
    // others wait for and share that frame
    lazy val cu = parsed("customer", custSchema, InsuranceGate.CustDeltaCols)
    lazy val pol = parsed("policy", polSchema, InsuranceGate.PolDeltaCols)
    lazy val cl = parsed("claim", clSchema, InsuranceGate.ClDeltaCols)
    def sub(n: String) = s"$stateRoot/$n"
    val folds: Seq[(String, () => Option[DataFrame])] = Seq(
      "exec" -> (() => foldExecFrom(df, (pol, cl), id, sub("exec"), retain)),
      "perf" -> (() => foldPerfFrom(df, (pol, cl), id, sub("perf"), retain)),
      "c360" -> (() => foldC360From(df, (cu, pol, cl), id, sub("c360"),
        retain)),
      "ops" -> (() => foldOpsFrom(df, (cu, pol, cl), id, sub("ops"),
        retain)))
    folds.map(_._1).zip(Parallel.inParallel(folds.map(_._2)))
      .collect { case (n, Some(m)) => n -> m }.toMap
  }

  /** [[foldAllMarts]] over an AT-LEAST-ONCE seq-stamped feed (r17
    * verdict task 4): ONE [[graft.engine.CdcIngest]] reduction per
    * micro-batch feeds all four maintainers, and the per-key high-water
    * LEDGER is itself versioned state — committed in a dedicated
    * `ingest` [[VersionedStateStore]] keyed by the SAME batch id the
    * marts commit under.
    *
    * Exactly-once across a crash ANYWHERE between the five commits:
    * the batch's cleaned deltas are a DETERMINISTIC function of (batch
    * records, ledger at the newest ingest version BELOW this batch id)
    * — both immutable once written — so a replay recomputes byte-equal
    * cleaned deltas no matter which subset of {ingest, exec, perf,
    * c360, ops} already committed; each store's batch-id skip then
    * folds the batch exactly once. (A per-mart ledger copy would give
    * the same guarantee at 4× the ledger writes; the preceding-version
    * read is what makes the shared ledger safe.) */
  def foldAllMartsAtLeastOnce(df: DataFrame, id: Long,
      custSchema: StructType, polSchema: StructType, clSchema: StructType,
      stateRoot: String, retain: Int = VersionedStateStore.DefaultRetain)
      : Map[String, DataFrame] = {
    import graft.engine.CdcIngest
    val spark = df.sparkSession
    val ingest = new VersionedStateStore(spark, s"$stateRoot/ingest",
      IngestTables, retain)
    if (df.isEmpty)
      return foldAllMarts(df.drop("seq"), id, custSchema, polSchema,
        clSchema, stateRoot, retain)
    // the ledger PRECEDING this batch id — on replay this is the same
    // version the original attempt read, committed or not downstream
    val prevV = ingest.committedVersions.filter(_ < id).lastOption
    val prevL = prevV.map(v => ingest.load(v))
    def reduce(entity: String, schema: StructType, pk: String,
        ledgerTable: String): (DataFrame, DataFrame) = {
      val parsed = df.filter(col("entity") === entity)
        .select(col("op"),
          from_json(col("before"), schema).as("before"),
          from_json(col("after"), schema).as("after"),
          col("seq"))
      val raw = CdcIngest.keyed(parsed,
        coalesce(col(s"after.$pk"), col(s"before.$pk")), col("seq"))
      val led0 = prevL.map(_(ledgerTable))
        .getOrElse(CdcIngest.emptyLedgerLike(raw))
      val fresh = CdcIngest.freshAgainstLedger(raw, led0)
      val clean = CdcIngest.collapse(fresh)
        .select(lit(entity).as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after"))
      (clean, CdcIngest.advanceLedger(led0, fresh))
    }
    val (cu, cuL) = reduce("customer", custSchema, "customer_id",
      "ledgerCustomer")
    val (pol, polL) = reduce("policy", polSchema, "policy_id",
      "ledgerPolicy")
    val (cl, clL) = reduce("claim", clSchema, "claim_id", "ledgerClaim")
    // one cleaned wire-shape batch, materialized once for the four folds
    val cleaned = cu.unionByName(pol).unionByName(cl).localCheckpoint(true)
    if (!ingest.lastCommitted.exists(_ >= id))
      ingest.save(id, Map("ledgerPolicy" -> polL, "ledgerClaim" -> clL,
        "ledgerCustomer" -> cuL))
    foldAllMarts(cleaned, id, custSchema, polSchema, clSchema, stateRoot,
      retain)
  }

  private val IngestTables =
    Seq("ledgerPolicy", "ledgerClaim", "ledgerCustomer")

  /** Wire the four-mart maintainer to an at-least-once seq-stamped CDC
    * stream — [[startAllMarts]] with the ingest ledger in front. */
  def startAllMartsAtLeastOnce(changes: Dataset[GoldCdcSeq],
      custSchema: StructType, polSchema: StructType, clSchema: StructType,
      stateRoot: String, checkpoint: String,
      onRefresh: (Long, Map[String, DataFrame]) => Unit,
      retain: Int = VersionedStateStore.DefaultRetain)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[GoldCdcSeq], id: Long) =>
        onRefresh(id, foldAllMartsAtLeastOnce(df.toDF(), id, custSchema,
          polSchema, clSchema, stateRoot, retain))
      }
      .start()

  /** Wire all four maintainers to one CDC stream. */
  def startAllMarts(changes: Dataset[GoldCdc], custSchema: StructType,
      polSchema: StructType, clSchema: StructType, stateRoot: String,
      checkpoint: String, onRefresh: (Long, Map[String, DataFrame]) => Unit,
      retain: Int = VersionedStateStore.DefaultRetain)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[GoldCdc], id: Long) =>
        onRefresh(id, foldAllMarts(df.toDF(), id, custSchema, polSchema,
          clSchema, stateRoot, retain))
      }
      .start()

  /** Wire the exec-summary maintainer to a CDC stream. `onRefresh`
    * receives the refreshed mart after every committed batch. */
  def start(changes: Dataset[GoldCdc], polSchema: StructType,
      clSchema: StructType, stateDir: String, checkpoint: String,
      onRefresh: (Long, DataFrame) => Unit,
      retain: Int = VersionedStateStore.DefaultRetain)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[GoldCdc], id: Long) =>
        foldBatch(df.toDF(), id, polSchema, clSchema, stateDir, retain)
          .foreach(onRefresh(id, _))
      }
      .start()

  /** Wire the policy-performance (join-IVM) maintainer to a CDC
    * stream — q221's maintainer in the same streaming deployment shape
    * the exec summary already had. */
  def startPerf(changes: Dataset[GoldCdc], polSchema: StructType,
      clSchema: StructType, stateDir: String, checkpoint: String,
      onRefresh: (Long, DataFrame) => Unit,
      retain: Int = VersionedStateStore.DefaultRetain)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[GoldCdc], id: Long) =>
        foldPerfBatch(df.toDF(), id, polSchema, clSchema, stateDir, retain)
          .foreach(onRefresh(id, _))
      }
      .start()
}
