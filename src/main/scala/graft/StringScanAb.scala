package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B harness for the r17-verdict "dictionary-aware decode" question:
  * does the sink's vectorized reader ([[graft.sources.v2
  * .ClusteredSinkFormat.ParquetBatches]], which decodes dictionary
  * pages eagerly to values through parquet-mr's accessors) actually
  * trail native parquet on a STRING-HEAVY, dictionary-friendly table —
  * the one workload where lazy dictionary-id decoding should pay?
  *
  * Fixture: orders projected to (key, bucket, payload) where payload =
  * status|priority — ~15 distinct values over millions of rows, the
  * dictionary-encoding sweet spot — plus a second high-cardinality
  * string (comment-sized) where dictionaries are OFF, isolating the
  * dictionary effect from general string decode. Both backends hold
  * byte-identical content in the same bucket layout; the measured loop
  * is a full-decode aggregate (groupBy payload + length sums) repeated
  * `Reps` times, min taken.
  *
  * Prints one JSON line per backend. The decision rule (SCALE.md r18):
  * implement the dictionary-id path only if graft trails native by
  * more than run noise on the dictionary-friendly column.
  */
object StringScanAb {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession(GraftSession.cpus(32))

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val content = graft.ops.Tables.orders(spark, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 32).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("payload"),
        // high-cardinality string (dictionary OFF): synthesize a
        // comment-sized unique text from the key — the testdata orders
        // table carries no comment column
        concat(lit("order-"), col("o_orderkey"), lit("-"),
          md5(col("o_orderkey").cast("string")), lit("-"),
          col("o_orderdate").cast("string")).as("hi_card"))
      .localCheckpoint(true)
    val n = content.count()

    // backend A: the engine's own catalog table (parquet payload,
    // filePerKey, manifest-planned columnar scan)
    val cat = "graft_cat_ssab"
    val wh = java.nio.file.Files.createTempDirectory("ssab_wh").toString
    graft.util.TmpReaper.track(wh)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    val t = s"$cat.g.orders_strings"
    spark.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT, " +
      "payload STRING, hi_card STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true')")
    val (_, etlG) = timed { content.writeTo(t).append() }

    // backend B: native parquet, same content, same bucket layout
    val nat = java.nio.file.Files.createTempDirectory("ssab_nat").toString
    graft.util.TmpReaper.track(nat)
    val (_, etlN) = timed {
      content.repartition(32, col("bucket"))
        .sortWithinPartitions("bucket", "key")
        .write.mode("overwrite").parquet(nat)
    }

    def scanAgg(df: DataFrame): Unit = {
      // full decode of BOTH string columns: group on the dictionary
      // column, sum lengths of both
      df.groupBy("payload")
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("lp"),
          sum(length(col("hi_card"))).as("lh"),
          sum(col("key")).as("sk"))
        .write.format("noop").mode("overwrite").save()
    }
    def dictOnly(df: DataFrame): Unit =
      df.groupBy("payload").agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()

    for ((name, frame, etl) <- Seq(
        ("graft_parquet", spark.table(t), etlG),
        ("native_parquet", spark.read.parquet(nat), etlN))) {
      val full = (1 to reps).map { _ =>
        spark.sqlContext.clearCache()
        timed(scanAgg(frame))._2
      }.min
      val dict = (1 to reps).map { _ =>
        spark.sqlContext.clearCache()
        timed(dictOnly(frame))._2
      }.min
      println(f"""{"metric":"$name","rows":$n,"etl_sec":$etl%.2f,""" +
        f""""full_scan_sec":$full%.3f,"dict_col_scan_sec":$dict%.3f}""")
    }
    spark.stop()
  }
}
