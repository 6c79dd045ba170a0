package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path: a clustered, sorted, manifest-tracked sink
  * ("graft-sink").
  *
  * The read-side connector ([[RangeDocSource]]) covers the source half of
  * the reference's declared-table contract (`models/sources/sources.yml`);
  * this sink covers the materialization half (`dbt_project.yml:28-38` —
  * every model lands as a table) at engine grade: the part Spark's built-in
  * `DataFrameWriter.parquet` does NOT let a connector express is
  * WRITE-TIME LAYOUT, and that is exactly what matters at 100 TB.
  *
  *   - `RequiresDistributionAndOrdering` — the sink DECLARES that incoming
  *     data must be clustered by the `clusterBy` column and sorted by
  *     (`clusterBy`, `sortBy`) within each task. Catalyst inserts the
  *     shuffle + sort below the write automatically (the Iceberg/Delta
  *     `WRITE ORDERED BY` pattern): every cluster key lands in exactly one
  *     output file and files are internally sorted, so a later reader can
  *     min/max-prune files without any post-write OPTIMIZE pass.
  *   - Two-phase commit — tasks write to `_tmp/<uuid>`, the driver's
  *     `BatchWrite.commit` atomically renames winners into `data/` and
  *     writes a `_manifest.jsonl` of per-file statistics (rows, cluster-key
  *     and sort-key min/max) plus `_SUCCESS`. Speculative / failed task
  *     attempts are fenced by Spark's commit coordinator
  *     (`useCommitCoordinator = true`) and swept by `abort`. This is the
  *     OutputCommitter protocol connectors must implement to be
  *     exactly-once under retries; on a cluster the `Files.move` would be
  *     a `FileSystem.rename` against HDFS/S3 — the protocol is identical.
  *   - The manifest is the footer-statistics story: per-file min/max of
  *     the cluster key gives a reader the same file-skipping information
  *     parquet footers give a file source (ClusteredSinkSpec checks the
  *     manifest against actual file contents).
  *
  * Each committed file is a parquet segment ([[ClusteredSinkFormat]]),
  * readable back with `spark.read.schema(...).parquet(dir + "/data")` or,
  * through the manifest, with [[ClusteredSinkScan]]. Supported column
  * types: LONG/INT/DOUBLE/BOOLEAN/STRING; `clusterBy`/`sortBy` must be
  * integral.
  *
  * Options: `path` (output directory), `clusterBy`, `sortBy`,
  * `partitions` (exact shuffle partition count for the write, 0 = let
  * Spark choose), `filePerKey`. A `format` option other than `parquet`
  * fails the write before any task runs. Modes: `append`, `overwrite`
  * (truncates via `SupportsTruncate`).
  *
  * SINGLE-WRITER CONTRACT (r10 ADVICE): at most one writer — batch OR
  * streaming — may target a path at a time. The overwrite commit's
  * orphan sweep treats `_manifest.jsonl` as the sole source of truth and
  * deletes unreferenced `part-*.parquet` files from `data/`; a concurrent
  * append or streaming epoch whose files land before its manifest line
  * is readable would lose committed data to the sweep. This is the same
  * contract HDFS-committer tables have (no table-level lock service
  * here); a deployment needing concurrent writers fronts the path with a
  * catalog that serializes commits ([[GraftCatalog]] does exactly that
  * for its managed tables). The sweep only ever touches files matching
  * this sink's own `part-*.parquet` naming, so foreign files a user drops
  * into `data/` are never deleted.
  */
final class ClusteredSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sink"

  // the write schema is the query's schema, passed through because
  // supportsExternalMetadata = true; inferSchema is only a read-side hook
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ClusteredSink.defaultSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ClusteredSinkTable(schema, properties)
}

object ClusteredSink {
  val defaultSchema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("bucket", LongType),
    StructField("payload", StringType)))

  /** Committed segment file extension. */
  val Ext = ".parquet"
}

final class ClusteredSinkTable(
    writeSchema: StructType, tblProps: util.Map[String, String],
    tableName: String = "graft_sink")
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** Surface the catalog-provided map as the table's properties — the
    * `Table` default is an EMPTY map, which silently hides persisted
    * graft.* metadata from SHOW TBLPROPERTIES (and from any reader of
    * `loadTable(...).properties()`, e.g. the ANN codebook reload). */
  override def properties(): util.Map[String, String] = tblProps

  /** Manifest-planned read (see [[ClusteredSinkScanBuilder]]): SELECTs
    * against the table go through the manifest — crash garbage is
    * invisible, cluster-key predicates skip files by manifest min/max. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    def opt(k: String): Option[String] =
      Option(options.get(k)).orElse(Option(tblProps.get(k)))
    val path = opt("path").getOrElse(
      sys.error("graft-sink read requires a 'path' option"))
    new ClusteredSinkScanBuilder(path, writeSchema,
      opt("clusterBy").getOrElse("bucket"),
      GraftCatalog.decodeAliases(tblProps))
  }

  /** `TRUNCATE TABLE` (TruncateTableExec): drop every committed data
    * file and the manifest, keep the table definition. Only meaningful
    * where the table knows its own path (catalog-resolved tables). */
  override def truncateTable(): Boolean = {
    val path = Option(tblProps.get("path")).getOrElse(
      sys.error("TRUNCATE TABLE requires a catalog-resolved graft-sink table"))
    val dataDir = Paths.get(path, "data")
    if (Files.isDirectory(dataDir)) {
      val ls = Files.list(dataDir)
      try {
        val it = ls.iterator()
        val files = Seq.newBuilder[Path]
        while (it.hasNext) files += it.next()
        files.result().foreach(Files.deleteIfExists(_))
      } finally ls.close()
    }
    Files.deleteIfExists(Paths.get(path, "_manifest.jsonl"))
    true
  }
  override def name(): String = tableName
  override def schema(): StructType = writeSchema

  // clusterBy is AUTHORITATIVE only when the table came through
  // GraftCatalog.loadTable (which stamps it into `properties`); on the
  // path-based DataFrameWriter.save() route the properties map is empty
  // and write options are not visible here.
  private def catalogClusterBy: Option[String] =
    Option(tblProps.get("clusterBy"))

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // dynamic overwrite keys on the DECLARED partitioning; advertise it
    // only where clusterBy is authoritative (catalog-resolved tables), so
    // a global spark.sql.sources.partitionOverwriteMode=dynamic cannot
    // silently flip a path-based mode("overwrite") from truncate to
    // key-granular dynamic overwrite on a guessed partition column
    if (catalogClusterBy.isDefined) caps.add(TableCapability.OVERWRITE_DYNAMIC)
    caps
  }

  // the cluster key IS the table's partitioning: cataloged tables
  // declare it so Catalyst routes INSERT OVERWRITE through the dynamic
  // path when spark.sql.sources.partitionOverwriteMode=dynamic. The
  // `bucket` fallback applies only if the write schema actually has that
  // column — never a phantom partition column.
  override def partitioning(): Array[Transform] =
    catalogClusterBy.orElse(Some("bucket"))
      .filter(writeSchema.fieldNames.contains)
      .map(c => Expressions.identity(c)).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // options arrive on the write info (the getTable `properties` map is
    // empty on the DataFrameWriter save() path)
    def opt(k: String): Option[String] =
      Option(info.options.get(k)).orElse(Option(tblProps.get(k)))
    val path = opt("path").getOrElse(
      sys.error("graft-sink requires a 'path' option"))
    ClusteredSinkFormat.requireParquet(opt("format"))
    new ClusteredSinkWriteBuilder(info.schema(), path,
      opt("clusterBy").getOrElse("bucket"),
      opt("sortBy").getOrElse("key"),
      opt("partitions").getOrElse("0").toInt,
      opt("filePerKey").exists(_.toBoolean),
      GraftCatalog.decodeAliases(tblProps))
  }
}

/** What the commit must do to PRE-EXISTING committed files. */
sealed trait SinkWriteMode
object SinkWriteMode {
  /** keep everything, add new files */
  case object Append extends SinkWriteMode
  /** drop everything, then add */
  case object Truncate extends SinkWriteMode
  /** drop the rows matching the filters (Iceberg-style overwrite-by-
    * filter: fully-matched files are dropped from the manifest,
    * partially-matched files are copy-on-write rewritten) */
  final case class OverwriteFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]) extends SinkWriteMode
  /** drop the rows whose cluster key appears in the incoming data
    * (dynamic partition overwrite at cluster-key granularity) */
  case object DynamicOverwrite extends SinkWriteMode
}

final class ClusteredSinkWriteBuilder(
    schema: StructType, path: String, clusterBy: String, sortBy: String,
    partitions: Int, filePerKey: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty) extends WriteBuilder
    with SupportsOverwrite with SupportsDynamicOverwrite {
  private var mode: SinkWriteMode = SinkWriteMode.Append
  override def truncate(): WriteBuilder = {
    mode = SinkWriteMode.Truncate; this
  }
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    // validate NOW (analysis time), not at commit: an unsupported
    // predicate must fail the query before any task runs
    ClusteredSinkOverwrite.compile(filters, clusterBy)
    mode = SinkWriteMode.OverwriteFilters(filters); this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = SinkWriteMode.DynamicOverwrite; this
  }
  override def build(): Write =
    new ClusteredSinkWrite(schema, path, clusterBy, sortBy, partitions, mode,
      filePerKey, aliases)
}

final class ClusteredSinkWrite(
    schema: StructType, path: String, clusterBy: String, sortBy: String,
    partitions: Int, mode: SinkWriteMode, filePerKey: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends Write with RequiresDistributionAndOrdering {

  private def idx(col: String): Int = {
    val i = schema.fieldIndex(col)
    require(schema.fields(i).dataType == LongType ||
      schema.fields(i).dataType == IntegerType,
      s"graft-sink clusterBy/sortBy must be integral; $col is ${schema.fields(i).dataType}")
    i
  }

  // Catalyst reads these during write planning (V2Writes /
  // DistributionAndOrderingUtils) and inserts RepartitionByExpression +
  // Sort under the write node — the sink never sees unclustered data.
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column(clusterBy)))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(clusterBy), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column(sortBy), SortDirection.ASCENDING))
  override def requiredNumPartitions(): Int = partitions

  override def toBatch: BatchWrite =
    new ClusteredSinkBatchWrite(schema, path, idx(clusterBy), idx(sortBy),
      clusterBy, sortBy, mode, filePerKey, aliases)

  override def toStreaming: StreamingWrite =
    new ClusteredSinkStreamingWrite(schema, path, idx(clusterBy), idx(sortBy))
}

/** Structured Streaming write path: same files, same manifest, same
  * required distribution — commits are PER-EPOCH and idempotent. File
  * names are keyed by (epoch, partition) and each epoch rewrites its own
  * `_manifest-<epoch>.jsonl` wholesale, so a replayed epoch (failure
  * recovery re-runs the last uncommitted batch) lands byte-identical
  * instead of duplicating — the exactly-once contract a streaming sink
  * must provide OVER an at-least-once execution engine. */
final class ClusteredSinkStreamingWrite(
    schema: StructType, path: String, clusterIdx: Int, sortIdx: Int)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path, "_tmp"))
    ClusteredSinkStreamingFactory(schema, Paths.get(path, "_tmp").toString,
      clusterIdx, sortIdx)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dataDir = Paths.get(path, "data")
    Files.createDirectories(dataDir)
    val manifest = new StringBuilder
    messages.collect { case m: ClusteredSinkCommit if m.rows > 0 =>
      val name = f"part-$epochId%05d-${m.partitionId}%05d" + ClusteredSink.Ext
      Files.move(Paths.get(m.tmpPath), dataDir.resolve(name),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ClusteredSinkCommit.sweepSidecar(Paths.get(m.tmpPath))
      manifest.append(ClusteredSinkCommit.manifestLine(name, m))
    }
    Files.write(Paths.get(path, f"_manifest-$epochId%05d.jsonl"),
      manifest.toString.getBytes(StandardCharsets.UTF_8))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ClusteredSinkCommit =>
        ClusteredSinkCommit.removeStaged(Paths.get(m.tmpPath))
      case _                      =>
    }
}

/** Top-level (serializable) streaming factory — epoch id joins the temp
  * name so concurrent epoch attempts never collide. */
final case class ClusteredSinkStreamingFactory(
    schema: StructType, tmpDir: String, clusterIdx: Int, sortIdx: Int)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ClusteredSinkDataWriter(schema, tmpDir, partitionId, s"$taskId-e$epochId",
      clusterIdx, sortIdx, filePerKey = false)
}

final class ClusteredSinkBatchWrite(
    schema: StructType, path: String, clusterIdx: Int, sortIdx: Int,
    clusterBy: String, sortBy: String, mode: SinkWriteMode,
    filePerKey: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends BatchWrite {

  // Per-JOB commit id: committed file names are namespaced by it, so a
  // second append to the same path can never collide with (and silently
  // REPLACE) a prior job's part files — append is genuinely append.
  // The manifest is appended to (not rewritten) for the same reason.
  private val jobId: String =
    java.util.UUID.randomUUID().toString.take(8)

  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val tmp = Paths.get(path, "_tmp")
    Files.createDirectories(tmp)
    ClusteredSinkWriterFactory(schema, tmp.toString, clusterIdx, sortIdx,
      filePerKey)
  }

  /** Flatten commit messages: a filePerKey task reports one
    * [[ClusteredSinkCommit]] PER CLUSTER KEY (wrapped in a
    * [[ClusteredSinkMultiCommit]]); the default writer reports one per
    * task. Either way each entry is one file-to-be with its stats. */
  private def flatten(messages: Array[WriterCommitMessage]): Seq[ClusteredSinkCommit] =
    messages.toSeq.flatMap {
      case m: ClusteredSinkCommit      => Seq(m)
      case mm: ClusteredSinkMultiCommit => mm.parts
      case _                            => Seq.empty
    }.filter(_.rows > 0)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dataDir = Paths.get(path, "data")
    val manifestPath = Paths.get(path, "_manifest.jsonl")
    val news = flatten(messages)

    mode match {
      case SinkWriteMode.Append | SinkWriteMode.Truncate =>
        if (mode == SinkWriteMode.Truncate && Files.exists(dataDir)) {
          Files.list(dataDir).forEach(f => Files.delete(f))
          Files.deleteIfExists(manifestPath)
        }
        Files.createDirectories(dataDir)
        val manifest = new StringBuilder
        // committed names are indexed by position, not partitionId: a
        // filePerKey task contributes several entries under one
        // partition id and names must stay unique
        news.zipWithIndex.foreach { case (m, i) =>
          val name = f"part-$jobId-$i%05d" + ClusteredSink.Ext
          Files.move(Paths.get(m.tmpPath), dataDir.resolve(name),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          ClusteredSinkCommit.sweepSidecar(Paths.get(m.tmpPath))
          manifest.append(ClusteredSinkCommit.manifestLine(name, m))
        }
        Files.write(manifestPath,
          manifest.toString.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)

      case SinkWriteMode.OverwriteFilters(filters) =>
        val region = ClusteredSinkOverwrite.compile(filters, clusterBy)
        commitReplacing(dataDir, manifestPath, news, region)

      case SinkWriteMode.DynamicOverwrite =>
        // "partition" = cluster key: replace exactly the keys the
        // incoming data carries, leave every other key untouched — the
        // v2 dynamic-partition-overwrite contract at key granularity
        val keys = news.iterator.flatMap(_.keys).toSet
        val hasNull = news.exists(_.hasNullKey)
        // an EMPTY incoming commit (no keys, no null key) replaces
        // nothing: give the region the AlwaysFalse [0,-1] envelope so
        // manifest pruning keeps every committed file instead of
        // pointlessly copy-on-write rewriting all of them against a
        // lo=hi=None (unbounded) region
        val region =
          if (keys.isEmpty)
            ClusteredSinkOverwrite.Region(_ => false, Some(0L), Some(-1L),
              nullEval = Some(hasNull), matchesAll = false)
          else ClusteredSinkOverwrite.Region(
            matches = keys.contains, lo = keys.minOption, hi = keys.maxOption,
            nullEval = Some(hasNull), matchesAll = false)
        commitReplacing(dataDir, manifestPath, news, region)
    }
    Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
  }

  /** Overwrite commit protocol (both filter and dynamic modes). Mirrors
    * Iceberg's overwrite-by-filter at file granularity:
    *
    *   1. PRUNE from the manifest: a committed file whose cluster-key
    *      [min,max] cannot intersect the replaced region is KEPT without
    *      being opened — at scale this is the metadata-only planning
    *      step; only files overlapping the region are touched at all.
    *   2. COPY-ON-WRITE the overlapping files: surviving rows (those NOT
    *      in the region) land in a new file with recomputed stats; a
    *      file with zero survivors is dropped. (Driver-side here —
    *      bounded by the files actually overlapping the region; a
    *      cluster deployment runs the same rewrite as a distributed job.
    *      The PROTOCOL — manifest pruning, copy-on-write, atomic
    *      metadata swap — is identical.)
    *   3. ATOMIC COMMIT: the new manifest (kept + rewritten + new
    *      entries) is staged and ATOMIC_MOVEd over _manifest.jsonl —
    *      that move is the commit point. Replaced files are deleted only
    *      AFTER it, so a MANIFEST reader never observes a missing file;
    *      a crash before the move leaves data/ files the manifest does
    *      not reference (invisible to manifest readers).
    *
    * Crash recovery for RAW-DIRECTORY readers (spark.read.schema(...)
    * .parquet(dir + "/data") without the manifest): every overwrite
    * commit begins with an ORPHAN SWEEP — any data/ file the committed
    * manifest does not reference is garbage from a crashed prior commit
    * (new files landed before the manifest move, or replaced originals
    * whose delete-after-commit didn't finish) and is deleted before
    * planning.
    * Rewrite temps are staged under _tmp/ (never inside data/), so a
    * crash mid-rewrite can never leave a half-written file where a raw
    * reader would see it. Net guarantee: manifest readers get atomic
    * visibility at every instant; raw-directory readers are correct
    * after any COMPLETED commit, and a crashed overwrite is healed by
    * the next one. (The sweep treats _manifest.jsonl as the sole source
    * of truth — mixing streaming epoch manifests and batch overwrites on
    * one path is unsupported.) A raw-directory reader also reads each
    * segment under its PHYSICAL column names: it does not see
    * [[GraftCatalog]]'s metadata-only renames (a renamed column reads
    * as null in pre-rename segments), drops, or ADD COLUMN defaults —
    * read catalog tables through the catalog.
    */
  private def commitReplacing(
      dataDir: Path, manifestPath: Path,
      news: Seq[ClusteredSinkCommit],
      region: ClusteredSinkOverwrite.Region): Unit = {
    Files.createDirectories(dataDir)
    val tmpDir = Paths.get(path, "_tmp")
    Files.createDirectories(tmpDir)
    val old = ClusteredSinkOverwrite.readManifest(manifestPath)
    // orphan sweep (see scaladoc): data/ minus manifest = crash garbage.
    // Guarded to THIS sink's part-file naming (r10 ADVICE) so a foreign
    // file in data/ is never collateral damage; concurrent writers are
    // excluded by the sink-level single-writer contract, not by the
    // sweep.
    val referenced = old.map(_.file).toSet
    locally {
      val ls = Files.list(dataDir)
      try {
        val it = ls.iterator()
        val orphans = Seq.newBuilder[Path]
        while (it.hasNext) {
          val f = it.next()
          val n = f.getFileName.toString
          if (!referenced(n) && n.startsWith("part-") &&
              n.endsWith(ClusteredSink.Ext))
            orphans += f
        }
        orphans.result().foreach(Files.deleteIfExists(_))
      } finally ls.close()
    }
    val manifest = new StringBuilder
    val toDelete = Seq.newBuilder[Path]
    var rw = 0
    old.foreach { e =>
      if (ClusteredSinkOverwrite.fileOutsideRegion(e, region))
        manifest.append(e.line)
      else {
        val oldFile = dataDir.resolve(e.file)
        val (survivors, stats) = ClusteredSinkOverwrite.rewriteParquet(
          oldFile, tmpDir, schema, clusterBy, sortBy, region, aliases)
        toDelete += oldFile
        if (survivors > 0) {
          val name = f"part-$jobId-rw-$rw%05d" + ClusteredSink.Ext
          rw += 1
          Files.move(Paths.get(stats.tmpPath), dataDir.resolve(name),
            StandardCopyOption.ATOMIC_MOVE)
          manifest.append(ClusteredSinkCommit.manifestLine(name, stats))
        } else Files.deleteIfExists(Paths.get(stats.tmpPath))
      }
    }
    news.zipWithIndex.foreach { case (m, i) =>
      val name = f"part-$jobId-$i%05d" + ClusteredSink.Ext
      Files.move(Paths.get(m.tmpPath), dataDir.resolve(name),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ClusteredSinkCommit.sweepSidecar(Paths.get(m.tmpPath))
      manifest.append(ClusteredSinkCommit.manifestLine(name, m))
    }
    val staged = manifestPath.resolveSibling("_manifest.jsonl.staged")
    Files.write(staged, manifest.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(staged, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING) // <- the commit point
    toDelete.result().foreach(Files.deleteIfExists(_))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    flatten(messages).foreach(m =>
      ClusteredSinkCommit.removeStaged(Paths.get(m.tmpPath)))
}

/** Top-level (serializable) factory — an anonymous one would capture the
  * non-serializable BatchWrite in the task closure (same trap as the
  * read-side RangeDocAggReaderFactory). */
final case class ClusteredSinkWriterFactory(
    schema: StructType, tmpDir: String, clusterIdx: Int, sortIdx: Int,
    filePerKey: Boolean = false)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ClusteredSinkDataWriter(schema, tmpDir, partitionId, taskId.toString,
      clusterIdx, sortIdx, filePerKey)
}

final class ClusteredSinkDataWriter(
    schema: StructType, tmpDir: String, partitionId: Int, attempt: String,
    clusterIdx: Int, sortIdx: Int, filePerKey: Boolean = false)
    extends DataWriter[InternalRow] {

  private var pq: ClusteredSinkFormat.ParquetSegment = _

  // filePerKey mode (the SPJ layout): input arrives sorted by
  // (clusterBy, sortBy) — RequiresDistributionAndOrdering — so rolling
  // to a fresh file on every cluster-key TRANSITION yields one file per
  // key per task, and (clustered distribution: one key → one task) one
  // file per key per job. Every committed file then has
  // min_cluster == max_cluster, which is what lets the read side report
  // KeyGroupedPartitioning and feed storage-partitioned joins.
  private var segIdx = 0
  private def segPath: Path = Paths.get(tmpDir,
    s"attempt-$partitionId-$attempt" + (if (filePerKey) s"-s$segIdx" else ""))
  private var tmpPath: Path = segPath
  private val segments = scala.collection.mutable.ArrayBuffer[ClusteredSinkCommit]()
  private var rows = 0L
  private var minCluster = Long.MaxValue
  private var maxCluster = Long.MinValue
  private var minSort = Long.MaxValue
  private var maxSort = Long.MinValue
  // distinct cluster keys, for dynamic partition overwrite. Input is
  // sorted by (clusterBy, sortBy) (RequiresDistributionAndOrdering), so
  // distinct keys are key TRANSITIONS — one append per key, not per row
  private val distinctKeys = scala.collection.mutable.ArrayBuffer[Long]()
  private var hasNullKey = false

  private def longAt(row: InternalRow, i: Int): Long =
    schema.fields(i).dataType match {
      case LongType => row.getLong(i)
      case _        => row.getInt(i).toLong
    }

  private def snapshot(): ClusteredSinkCommit =
    ClusteredSinkCommit(partitionId, tmpPath.toString, rows,
      minCluster, maxCluster, minSort, maxSort,
      distinctKeys.toArray, hasNullKey)

  /** Close the current segment file, record its stats, reset for the
    * next cluster key. */
  private def rollSegment(): Unit = {
    closeCurrent()
    segments += snapshot()
    segIdx += 1
    tmpPath = segPath
    rows = 0L
    minCluster = Long.MaxValue; maxCluster = Long.MinValue
    minSort = Long.MaxValue; maxSort = Long.MinValue
    distinctKeys.clear(); hasNullKey = false
  }

  /** True when `row`'s cluster key differs from the current segment's
    * (only called with rows > 0, so the segment has a key or a null). */
  private def keyChanged(row: InternalRow): Boolean = {
    if (row.isNullAt(clusterIdx)) !hasNullKey || distinctKeys.nonEmpty
    else hasNullKey && distinctKeys.isEmpty ||
      (distinctKeys.nonEmpty && distinctKeys.last != longAt(row, clusterIdx))
  }

  private def isOpen: Boolean = pq != null

  private def closeCurrent(): Unit =
    if (pq != null) { pq.close(); pq = null }

  override def write(row: InternalRow): Unit = {
    if (filePerKey && isOpen && rows > 0 && keyChanged(row)) rollSegment()
    if (!isOpen) // lazy open: empty partitions produce no file
      pq = new ClusteredSinkFormat.ParquetSegment(tmpPath.toString, schema)
    pq.write(row)
    rows += 1
    // null keys contribute NO bound: an InternalRow getter on a null slot
    // returns an arbitrary value (0), which would falsely tighten the
    // manifest's file-skipping range
    if (!row.isNullAt(clusterIdx)) {
      val c = longAt(row, clusterIdx)
      if (c < minCluster) minCluster = c
      if (c > maxCluster) maxCluster = c
      if (distinctKeys.isEmpty || distinctKeys.last != c) {
        distinctKeys += c
        require(distinctKeys.size <= 1000000,
          "graft-sink: >1M distinct cluster keys in one task — cluster " +
            "keys are partition-grained; use a coarser clusterBy column")
      }
    } else hasNullKey = true
    if (!row.isNullAt(sortIdx)) {
      val s = longAt(row, sortIdx)
      if (s < minSort) minSort = s
      if (s > maxSort) maxSort = s
    }
  }

  override def commit(): WriterCommitMessage = {
    if (filePerKey) {
      if (isOpen) rollSegment()
      ClusteredSinkMultiCommit(segments.toSeq)
    } else {
      closeCurrent()
      snapshot()
    }
  }

  override def abort(): Unit = {
    closeCurrent()
    Files.deleteIfExists(tmpPath)
    segments.foreach(s => Files.deleteIfExists(Paths.get(s.tmpPath)))
  }

  override def close(): Unit = closeCurrent()
}

final case class ClusteredSinkCommit(
    partitionId: Int, tmpPath: String, rows: Long,
    minCluster: Long, maxCluster: Long, minSort: Long, maxSort: Long,
    keys: Array[Long] = Array.empty, hasNullKey: Boolean = false)
    extends WriterCommitMessage

/** Commit message of a filePerKey task: one [[ClusteredSinkCommit]] per
  * cluster-key segment file it wrote. */
final case class ClusteredSinkMultiCommit(parts: Seq[ClusteredSinkCommit])
    extends WriterCommitMessage

object ClusteredSinkCommit {
  /** Remove a staged temp file AND any Hadoop checksum sidecar
    * (`.name.crc`) a checksummed LocalFileSystem may have left beside
    * it. New parquet segments write through RawLocalFileSystem
    * ([[ClusteredSinkFormat.rawFsConf]]) so no sidecar is created, but
    * tables written before that fix carry litter in `_tmp/` — the
    * commit/abort paths sweep it (r14 ADVICE). */
  def removeStaged(tmpPath: java.nio.file.Path): Unit = {
    Files.deleteIfExists(tmpPath)
    val parent = tmpPath.getParent
    if (parent != null)
      Files.deleteIfExists(
        parent.resolve("." + tmpPath.getFileName.toString + ".crc"))
  }

  /** Sweep the checksum sidecar after a staged temp was MOVED to its
    * committed name (the move leaves the sidecar behind in `_tmp/`). */
  def sweepSidecar(tmpPath: java.nio.file.Path): Unit = {
    val parent = tmpPath.getParent
    if (parent != null)
      Files.deleteIfExists(
        parent.resolve("." + tmpPath.getFileName.toString + ".crc"))
  }

  /** One manifest JSONL line. A file whose keys were all null carries
    * `null` bounds (untouched MaxValue/MinValue sentinels) — a reader
    * must treat null as "no bound, cannot skip", never as a real range.
    */
  def manifestLine(name: String, m: ClusteredSinkCommit): String = {
    def bound(lo: Long, hi: Long, v: Long): String =
      if (lo > hi) "null" else v.toString
    s"""{"file":"$name","rows":${m.rows},""" +
      s""""min_cluster":${bound(m.minCluster, m.maxCluster, m.minCluster)},""" +
      s""""max_cluster":${bound(m.minCluster, m.maxCluster, m.maxCluster)},""" +
      s""""min_sort":${bound(m.minSort, m.maxSort, m.minSort)},""" +
      s""""max_sort":${bound(m.minSort, m.maxSort, m.maxSort)}}""" + "\n"
  }
}

/** Overwrite-region compilation and the copy-on-write file rewrite.
  *
  * A Region is the set of cluster-key values being REPLACED: a row
  * predicate (exact), a conservative [lo,hi] envelope (for manifest
  * pruning — None = unbounded on that side), and whether null keys are
  * in the region. SQL three-valued logic applies: a NULL key never
  * matches a value predicate, only IsNull / AlwaysTrue reach it.
  */
object ClusteredSinkOverwrite {
  import org.apache.spark.sql.sources._

  /** nullEval is the KLEENE three-valued result of the predicate on a
    * null key: Some(true)/Some(false)/None(=UNKNOWN). A null-key row is
    * replaced only when the result is definitely TRUE — Not(UNKNOWN)
    * stays UNKNOWN, so Not(EqualTo) never matches null, but
    * Not(IsNotNull) does (caught by OverwriteRegionPropertySpec). */
  final case class Region(
      matches: Long => Boolean,
      lo: Option[Long], hi: Option[Long],
      nullEval: Option[Boolean], matchesAll: Boolean) {
    def matchesNull: Boolean = nullEval.contains(true)
  }

  /** Compile v1 Filters into a Region. Only predicates over the cluster
    * key are accepted — the sink's files are pruned/rewritten by that
    * key alone; arbitrary-column overwrite would make every file a
    * rewrite candidate and belongs to a row-level-delete connector,
    * not a clustered sink. Unsupported filters fail ANALYSIS, loudly. */
  def compile(filters: Array[Filter], clusterBy: String): Region = {
    def long(v: Any): Long = v match {
      case l: Long => l
      case i: Int  => i.toLong
      case o => throw new IllegalArgumentException(
        s"graft-sink overwrite: non-integral literal $o")
    }
    // Kleene conjunction/disjunction over Some(true)/Some(false)/None
    def kAnd(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      (a, b) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
    def kOr(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      (a, b) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
    def one(f: Filter): Region = f match {
      case AlwaysTrue() => Region(_ => true, None, None,
        nullEval = Some(true), matchesAll = true)
      case AlwaysFalse() => Region(_ => false, Some(0L), Some(-1L),
        nullEval = Some(false), matchesAll = false)
      case EqualTo(c, v) if c == clusterBy =>
        val k = long(v); Region(_ == k, Some(k), Some(k), None, false)
      case In(c, vs) if c == clusterBy =>
        val ks = vs.map(long).toSet
        Region(ks.contains, ks.minOption, ks.maxOption, None, false)
      case GreaterThan(c, v) if c == clusterBy =>
        val k = long(v); Region(_ > k, Some(k), None, None, false)
      case GreaterThanOrEqual(c, v) if c == clusterBy =>
        val k = long(v); Region(_ >= k, Some(k), None, None, false)
      case LessThan(c, v) if c == clusterBy =>
        val k = long(v); Region(_ < k, None, Some(k), None, false)
      case LessThanOrEqual(c, v) if c == clusterBy =>
        val k = long(v); Region(_ <= k, None, Some(k), None, false)
      case IsNull(c) if c == clusterBy =>
        Region(_ => false, Some(0L), Some(-1L), nullEval = Some(true),
          matchesAll = false)
      case IsNotNull(c) if c == clusterBy =>
        Region(_ => true, None, None, Some(false), false)
      case And(l, r) =>
        val (a, b) = (one(l), one(r))
        Region(k => a.matches(k) && b.matches(k),
          Seq(a.lo, b.lo).flatten.maxOption, // intersect: tightest bounds
          Seq(a.hi, b.hi).flatten.minOption,
          kAnd(a.nullEval, b.nullEval), a.matchesAll && b.matchesAll)
      case Or(l, r) =>
        val (a, b) = (one(l), one(r))
        Region(k => a.matches(k) || b.matches(k),
          for (x <- a.lo; y <- b.lo) yield math.min(x, y), // union hull
          for (x <- a.hi; y <- b.hi) yield math.max(x, y),
          kOr(a.nullEval, b.nullEval), a.matchesAll || b.matchesAll)
      case Not(c) =>
        val a = one(c)
        // envelope of a complement is unbounded (conservative);
        // Not(UNKNOWN) stays UNKNOWN
        Region(k => !a.matches(k), None, None, a.nullEval.map(!_),
          matchesAll = false)
      case other => throw new IllegalArgumentException(
        s"graft-sink overwrite supports only cluster-key ('$clusterBy') " +
          s"predicates (=, IN, <, <=, >, >=, IS NULL, AND/OR/NOT); got: $other")
    }
    // Spark passes the overwrite condition as a conjunction of filters
    filters.map(one).foldLeft(Region(_ => true, None, None,
      nullEval = Some(true), matchesAll = true)) { (acc, r) =>
      Region(k => acc.matches(k) && r.matches(k),
        Seq(acc.lo, r.lo).flatten.maxOption,
        Seq(acc.hi, r.hi).flatten.minOption,
        kAnd(acc.nullEval, r.nullEval), acc.matchesAll && r.matchesAll)
    }
  }

  final case class ManifestEntry(
      file: String, rows: Long,
      minCluster: java.lang.Long, maxCluster: java.lang.Long, line: String)

  /** True iff the file's manifest stats PROVE no row in it can be inside
    * the region — the shared file-skipping test for overwrite pruning
    * (skip = keep without rewriting) and the read path (skip = don't
    * open). Three-valued rules: a file of all-null keys has null bounds
    * (outside any region that doesn't match null); a region matching
    * null could hit null rows hiding in ANY file, so nothing with
    * non-null bounds can be skipped then. */
  def fileOutsideRegion(e: ManifestEntry, region: Region): Boolean =
    if (region.matchesAll) false
    else if (e.minCluster == null || e.maxCluster == null)
      !region.matchesNull
    else if (region.matchesNull) false
    else if (e.minCluster.longValue == e.maxCluster.longValue)
      // single-key file (the filePerKey layout): the compiled matcher
      // decides membership EXACTLY (it is the overwrite path's replace
      // region, which must be exact), so an IN-set probe over scattered
      // keys prunes the gaps between min and max too — the keyed-state
      // read path (r18) lives on this. Multi-key files keep the
      // conservative bounds check below.
      !region.matches(e.minCluster.longValue)
    else region.lo.exists(lo => e.maxCluster < lo) ||
      region.hi.exists(hi => e.minCluster > hi)

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readManifest(manifestPath: Path): Seq[ManifestEntry] =
    if (!Files.exists(manifestPath)) Seq.empty
    else {
      val m = mapper
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(manifestPath, StandardCharsets.UTF_8)).asScala
        .filter(_.nonEmpty).map { ln =>
          val n = m.readTree(ln)
          def bound(f: String): java.lang.Long =
            if (n.get(f).isNull) null else java.lang.Long.valueOf(n.get(f).asLong)
          ManifestEntry(n.get("file").asText, n.get("rows").asLong,
            bound("min_cluster"), bound("max_cluster"), ln + "\n")
        }.toSeq
    }

  /** Copy-on-write of one segment: decode the full rows through the
    * sink's own reader, keep rows OUTSIDE the region, re-encode
    * survivors through the segment writer, recompute stats. The temp is
    * staged under `tmpDir` (i.e. `_tmp/`), NEVER inside `data/` — a
    * crash mid-rewrite must not leave a half-written file visible to
    * raw-directory readers. Returns (survivorCount, stats-with-tmpPath). */
  def rewriteParquet(oldFile: Path, tmpDir: Path, schema: StructType,
      clusterBy: String, sortBy: String, region: Region,
      aliases: Map[String, Seq[String]] = Map.empty)
      : (Long, ClusteredSinkCommit) = {
    val cIdx = schema.fieldIndex(clusterBy)
    val sIdx = schema.fieldIndex(sortBy)
    def longAt(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Long =
      schema.fields(i).dataType match {
        case org.apache.spark.sql.types.LongType => row.getLong(i)
        case _ => row.getInt(i).toLong
      }
    val tmp = tmpDir.resolve(oldFile.getFileName.toString + ".rw")
    Files.deleteIfExists(tmp)
    val seg = new ClusteredSinkFormat.ParquetSegment(tmp.toString, schema)
    var rows = 0L
    var minC = Long.MaxValue; var maxC = Long.MinValue
    var minS = Long.MaxValue; var maxS = Long.MinValue
    // alias-aware: a pre-rename segment's columns resolve through the
    // rename log, and the rewrite re-encodes under the CURRENT names —
    // copy-on-write naturally upgrades old files to the new schema
    val in = new ClusteredSinkFormat.ParquetRows(oldFile.toString, schema,
      aliases)
    try {
      while (in.next()) {
        val row = in.get()
        val dropped =
          if (row.isNullAt(cIdx)) region.matchesNull
          else region.matches(longAt(row, cIdx))
        if (!dropped) {
          seg.write(row)
          rows += 1
          if (!row.isNullAt(cIdx)) {
            val c = longAt(row, cIdx)
            if (c < minC) minC = c
            if (c > maxC) maxC = c
          }
          if (!row.isNullAt(sIdx)) {
            val s = longAt(row, sIdx)
            if (s < minS) minS = s
            if (s > maxS) maxS = s
          }
        }
      }
    } finally { in.close(); seg.close() }
    ClusteredSinkCommit.sweepSidecar(tmp)
    (rows, ClusteredSinkCommit(0, tmp.toString, rows, minC, maxC, minS, maxS))
  }
}
