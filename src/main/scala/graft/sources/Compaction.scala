package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the housekeeping operator every long-lived
  * 100 TB lake needs: streaming ingestion and per-model full refreshes
  * leave thousands of KB-sized parquet files whose open/footer overhead
  * dominates scan time and whose count explodes driver-side listings.
  *
  * `compact` rewrites a parquet dataset into ~`targetBytes` output
  * files: input size comes from the filesystem listing (cheap, exact),
  * the output file count is `ceil(bytes / target)`, and the rewrite is
  * either a shuffle-free coalesce (when only merging), a hash
  * `repartition` (even sizes, no ordering), or a `repartitionByRange` +
  * in-partition sort when `sortBy` is given — the poor-man's Z-order:
  * range-partitioned, sorted files give parquet row-group min/max
  * statistics that let later scans skip whole files/row-groups on the
  * sort key.
  */
object Compaction {
  /** @param sortBy  cluster-by columns; empty = size-only compaction
    * @param targetBytes desired output file size (pre-compression input
    *                    bytes as the proxy; parquet re-compresses)
    * @return number of output files written */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 512L << 20, sortBy: Seq[String] = Nil): Int = {
    require(targetBytes > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(conf)
    val bytes = fs.getContentSummary(in).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inPath)
    val shaped =
      if (sortBy.nonEmpty)
        df.repartitionByRange(files, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(files) // merge-only: no shuffle
    shaped.write.mode("overwrite").parquet(outPath)
    files
  }

  /** Z-order compaction: cluster files on a Morton (bit-interleaved)
    * curve over TWO numeric columns, so parquet min/max stats prune
    * files for predicates on EITHER dimension (a single-column sort
    * prunes one dimension and leaves the other covering the full range
    * per file — the classic reason lakes Z-order instead of sort).
    *
    * Each column is rank-bucketed into 2^bits quantile buckets (rank,
    * not equi-width, so a skewed dimension still spreads across codes),
    * the bucket bits are interleaved into the curve value, and the
    * rewrite is a `repartitionByRange` + in-partition sort on the curve
    * — one shuffle, same as sorted compaction. The quantile boundaries
    * are 2·2^bits doubles collected driver-side (bounded by `bits`, not
    * by data volume), embedded as literals so bucketing is map-only.
    */
  def zorderCompact(spark: SparkSession, inPath: String, outPath: String,
      zCols: (String, String), targetBytes: Long = 512L << 20,
      bits: Int = 8): Int = {
    require(targetBytes > 0 && bits >= 1 && bits <= 16)
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(conf)
    val bytes = fs.getContentSummary(in).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inPath)

    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    // rank bucket = #boundaries ≤ x, over the literal boundary array
    def bucket(c: Column, bounds: Array[Double]): Column =
      aggregate(array(bounds.map(lit): _*), lit(0),
        (acc, b) => acc + when(c.cast("double") >= b, 1).otherwise(0))
    def bit(c: Column, k: Int): Column = shiftright(c, k).bitwiseAND(lit(1))

    val b0 = df.stat.approxQuantile(zCols._1, probs, 0.001).distinct.sorted
    val b1 = df.stat.approxQuantile(zCols._2, probs, 0.001).distinct.sorted
    val z = (0 until bits).map { k =>
      shiftleft(bit(bucket(col(zCols._1), b0), k).cast("long"), 2 * k + 1) +
        shiftleft(bit(bucket(col(zCols._2), b1), k).cast("long"), 2 * k)
    }.reduce(_ + _)

    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)
    files
  }
}
