package graft.sources.v2

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** Manifest-driven READ path for [[ClusteredSink]] tables — the half that
  * turns sink + catalog into a complete (if deliberately small) TABLE
  * FORMAT: writes commit through the manifest, and reads now PLAN through
  * it too, so the manifest's per-file cluster-key min/max becomes real
  * file skipping instead of documentation.
  *
  *   - PLANNING: one [[InputPartition]] per manifest entry; cluster-key
  *     predicates are compiled into a [[ClusteredSinkOverwrite.Region]]
  *     (the same three-valued compiler the overwrite path uses) and
  *     files whose [min,max] cannot intersect the region are skipped
  *     WITHOUT being opened — `Scan.description()` reports
  *     `files=kept/total` so `.explain` shows the skipping.
  *   - CORRECTNESS: pruning is file-granular and conservative; every
  *     pushed filter is also RETURNED as residual, so Spark re-evaluates
  *     rows above the scan — pruning can only remove whole files the
  *     region provably cannot match (incl. null-key three-valued rules).
  *   - VISIBILITY: a reader plans from `_manifest.jsonl` ONLY — files a
  *     crashed commit left behind are invisible, which is the atomic-
  *     visibility guarantee raw-directory readers don't get.
  *
  * Every segment is parquet, so every scan is COLUMNAR
  * ([[ClusteredSinkFormat.ParquetBatches]]); column pruning reaches the
  * decoder. Supported types mirror the writer: LONG/INT/DOUBLE/BOOLEAN/
  * STRING; a column added by ALTER TABLE after a segment was written
  * reads as its default, or null. A read schema outside those types, or
  * a manifest naming a non-parquet segment (a table from the deleted
  * JSON-lines payload), fails at planning.
  */
final class ClusteredSinkScanBuilder(
    path: String, schema: StructType, clusterBy: String,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  private var prunable: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the subset the Region compiler understands (cluster-key
    // predicates) for FILE pruning; everything — including that subset —
    // stays residual, because file-level min/max cannot decide rows
    prunable = filters.filter { f =>
      try { ClusteredSinkOverwrite.compile(Array(f), clusterBy); true }
      catch { case _: IllegalArgumentException => false }
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = prunable

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ClusteredSinkScan(path, schema, required, clusterBy, prunable,
      aliases)
}

final class ClusteredSinkScan(
    path: String, tableSchema: StructType, required: StructType,
    clusterBy: String, prunable: Array[Filter],
    aliases: Map[String, Seq[String]] = Map.empty) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  required.fields.foreach { f =>
    f.dataType match {
      case LongType | IntegerType | DoubleType | BooleanType | StringType =>
      case dt => sys.error(s"graft-sink read: unsupported type $dt")
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // planned once, cached: description() and planInputPartitions() agree
  private lazy val (kept, total): (Seq[ClusteredSinkOverwrite.ManifestEntry], Int) = {
    val all = ClusteredSinkOverwrite.readManifest(Paths.get(path, "_manifest.jsonl"))
    all.find(!_.file.endsWith(ClusteredSink.Ext)).foreach { e =>
      sys.error(s"graft-sink: $path holds segment ${e.file}, written with " +
        "the deleted JSON-lines payload; drop the table and rebuild it")
    }
    val region =
      if (prunable.isEmpty) null
      else ClusteredSinkOverwrite.compile(prunable, clusterBy)
    val k = if (region == null) all
      else all.filterNot(e => ClusteredSinkOverwrite.fileOutsideRegion(e, region))
    (k, all.size)
  }

  private def clusterByIsInt: Boolean =
    tableSchema.fields(tableSchema.fieldIndex(clusterBy)).dataType == IntegerType

  /** Storage-partitioned-join eligibility: every kept file carries
    * exactly ONE cluster key (min == max, non-null) — the layout a
    * filePerKey write produces — and the query still reads the cluster
    * column. Then each file IS a key group, reported to Catalyst as a
    * KeyGroupedPartitioning over identity(clusterBy): two such tables
    * joined on the cluster key plan with NO exchange on either side
    * (Spark groups splits per key and zips matching keys — the
    * RangeDocBucketedScan contract, now on the engine's OWN storage).
    * Any multi-key or null-bounded file makes the report Unknown —
    * correctness never depends on the layout claim. */
  private lazy val spjEligible: Boolean =
    kept.nonEmpty &&
      required.fieldNames.contains(clusterBy) &&
      kept.forall(e => e.minCluster != null && e.maxCluster != null &&
        e.minCluster.longValue == e.maxCluster.longValue)

  override def outputPartitioning(): Partitioning =
    if (spjEligible)
      new KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity(clusterBy)),
        kept.map(_.minCluster.longValue).distinct.size)
    else new UnknownPartitioning(kept.size)

  override def description(): String =
    s"graft-sink path=$path files=${kept.size}/$total " +
      s"keyGrouped=$spjEligible prunedBy=[${prunable.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    kept.map(e => ClusteredSinkFilePartition(
      Paths.get(path, "data", e.file).toString,
      if (spjEligible) e.minCluster else null,
      clusterByIsInt)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    ClusteredSinkReaderFactory(required, aliases)
}

/** `keyValue` is non-null only when the scan reported key-grouped
  * partitioning (then Spark groups splits by this key and may call
  * [[org.apache.spark.sql.connector.read.HasPartitionKey#partitionKey]]);
  * the key row's value type must match the cluster column's type. */
final case class ClusteredSinkFilePartition(
    file: String, keyValue: java.lang.Long = null, keyIsInt: Boolean = false)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = {
    require(keyValue != null,
      "partitionKey() called on a split without a single cluster key")
    new GenericInternalRow(Array[Any](
      if (keyIsInt) keyValue.intValue else keyValue.longValue))
  }
}

/** Top-level (serializable) — an anonymous factory would capture the Scan. */
final case class ClusteredSinkReaderFactory(
    required: StructType,
    aliases: Map[String, Seq[String]] = Map.empty) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ClusteredSinkFormat.ParquetBatches(
      p.asInstanceOf[ClusteredSinkFilePartition].file, required,
      aliases = aliases)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-sink scans are columnar")
}
