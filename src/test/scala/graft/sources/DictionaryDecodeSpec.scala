package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The vectorized sink reader's DICTIONARY-AWARE string decode (r17
  * verdict task 6): values on dictionary-encoded pages ride as 4-byte
  * ids with the decoded dictionary installed on the vector. The three
  * regimes must all read back value-exact:
  *   1. low-cardinality column — whole chunk dictionary-encoded;
  *   2. high-cardinality column big enough to OVERFLOW the writer's
  *      dictionary page — parquet falls back to plain pages mid-chunk,
  *      which must flip the batch to direct storage and re-materialize
  *      the rows already id-encoded;
  *   3. nulls interleaved in both.
  */
class DictionaryDecodeSpec extends SparkSpec {
  import spark.implicits._

  test("dictionary, mid-chunk fallback, and null rows all read back " +
      "value-exact through the clustered reader") {
    val wh = java.nio.file.Files.createTempDirectory("dict_wh").toString
    val cat = "graft_cat_dict"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    val t = s"$cat.g.dict_strings"
    spark.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT, " +
      "low_card STRING, high_card STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true')")
    // ONE bucket → one file → one column chunk; 120k × ~45-char unique
    // strings ≈ 5.4 MB of distinct values, far past the 1 MB dictionary
    // page default → guaranteed mid-chunk fallback on high_card
    val n = 120000L
    val rows = spark.range(n).select(
      col("id").as("key"),
      lit(0L).as("bucket"),
      when(col("id") % 97 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id") % 7)).as("low_card"),
      when(col("id") % 89 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("id"), lit("-"),
          md5(col("id").cast("string")))).as("high_card"))
      .localCheckpoint(true)
    rows.writeTo(t).append()

    val back = spark.table(t)
    assert(back.count() === n)
    // exact multiset equality, nulls included
    assert(back.exceptAll(rows).count() === 0, "reader invented rows")
    assert(rows.exceptAll(back).count() === 0, "reader lost rows")
    // aggregate over the dictionary column exercises the id lane
    val agg = back.groupBy("low_card").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val expect = rows.groupBy("low_card").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(agg === expect)
    // and the fallback column survives a full-length checksum
    val h = back.agg(sum(length(col("high_card")))).head.getLong(0)
    val he = rows.agg(sum(length(col("high_card")))).head.getLong(0)
    assert(h === he)
  }
}
