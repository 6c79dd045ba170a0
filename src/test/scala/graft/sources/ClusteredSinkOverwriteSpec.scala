package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSv2 write-side completion: filter overwrite (SupportsOverwrite) and
  * dynamic partition overwrite (SupportsDynamicOverwrite) on graft-sink,
  * exercised END-TO-END through Catalyst — SQL DDL/DML against a
  * [[graft.sources.v2.GraftCatalog]] table and the DataFrameWriterV2
  * `overwrite(condition)` API — not by poking connector internals.
  *
  * What the tests pin beyond row-level results:
  *   - file-granular pruning: an overwrite of one cluster key must leave
  *     files whose manifest range excludes the key UNTOUCHED on disk
  *     (same names) — the metadata-only planning step that matters at
  *     100 TB;
  *   - copy-on-write: a file holding replaced AND surviving keys is
  *     rewritten, survivors intact;
  *   - manifest consistency after every commit: sum(manifest rows) ==
  *     readable rows, every manifest file exists, no stray data files.
  */
class ClusteredSinkOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private val warehouse = Files.createTempDirectory("graft_cat_spec").toString
  private val cat = "graft_cat_test"

  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
  }

  private def freshTable(name: String): String = {
    ensureCatalog()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.$name")
    spark.sql(s"""CREATE TABLE $cat.db.$name
      (key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket)""")
    s"$cat.db.$name"
  }

  private def tableDir(name: String): String =
    Paths.get(warehouse, "db", name).toString

  private def rows(pairs: (Long, Long, String)*): DataFrame =
    pairs.toDF("key", "bucket", "payload")

  private def readBack(name: String): DataFrame =
    spark.read.schema("key LONG, bucket LONG, payload STRING")
      .parquet(tableDir(name) + "/data")

  /** Plant a genuine segment holding one row straight into `data/`, the
    * way a crashed commit leaves one: no manifest entry references it. */
  private def plantSegment(name: String, file: String,
      key: Long, bucket: Long, payload: String): java.nio.file.Path = {
    val f = Paths.get(tableDir(name), "data", file)
    val seg = new graft.sources.v2.ClusteredSinkFormat.ParquetSegment(
      f.toString, graft.sources.v2.ClusteredSink.defaultSchema)
    seg.write(org.apache.spark.sql.catalyst.InternalRow(key, bucket,
      org.apache.spark.unsafe.types.UTF8String.fromString(payload)))
    seg.close()
    f
  }

  private def manifest(name: String): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(tableDir(name), "_manifest.jsonl")).asScala
      .filter(_.nonEmpty).map { ln =>
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ln)
        (n.get("file").asText, n.get("rows").asLong)
      }.toSeq

  private def dataFiles(name: String): Set[String] =
    Files.list(Paths.get(tableDir(name), "data")).iterator.asScala
      .map(_.getFileName.toString).toSet

  private def checkManifestConsistent(name: String): Unit = {
    val m = manifest(name)
    assert(m.map(_._2).sum === readBack(name).count(),
      "manifest row total != readable rows")
    assert(m.map(_._1).toSet === dataFiles(name),
      "manifest files != files on disk")
  }

  test("SQL INSERT INTO appends; INSERT OVERWRITE (static) truncates") {
    val t = freshTable("t_static")
    spark.sql(s"INSERT INTO $t VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (3, 30, 'c')")
    assert(readBack("t_static").count() === 3)
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 90, 'z')")
    val back = readBack("t_static").as[(Long, Long, String)].collect().toSet
    assert(back === Set((9L, 90L, "z")))
    checkManifestConsistent("t_static")
  }

  test("writeTo.overwrite(condition) replaces only the matching keys and " +
    "leaves non-overlapping files untouched on disk") {
    val t = freshTable("t_filter")
    // two appends => two file generations with disjoint key ranges
    rows((1, 1, "a"), (2, 1, "b"), (3, 2, "c")).writeTo(t).append()
    rows((4, 50, "d"), (5, 60, "e")).writeTo(t).append()
    val filesBefore = dataFiles("t_filter")
    rows((10, 1, "A"), (11, 2, "B")).writeTo(t).overwrite(col("bucket") <= 2)
    val back = readBack("t_filter").as[(Long, Long, String)].collect().toSet
    assert(back === Set((10L, 1L, "A"), (11L, 2L, "B"),
      (4L, 50L, "d"), (5L, 60L, "e")))
    // the bucket-50/60 file(s) from the second append must still be the
    // SAME files — pruned by manifest range, never opened or rewritten
    val survivors = dataFiles("t_filter")
    val highBucketFiles = filesBefore.intersect(survivors)
    assert(highBucketFiles.nonEmpty,
      s"expected untouched high-bucket files; before=$filesBefore after=$survivors")
    checkManifestConsistent("t_filter")
  }

  test("copy-on-write: a file holding replaced AND surviving buckets keeps " +
    "the survivors") {
    val t = freshTable("t_cow")
    // partitions=1 => ONE file holding buckets 1,2,3
    rows((1, 1, "a"), (2, 2, "b"), (3, 3, "c"))
      .coalesce(1).writeTo(t).append()
    rows((20, 2, "B2")).writeTo(t).overwrite(col("bucket") === 2)
    val back = readBack("t_cow").as[(Long, Long, String)].collect().toSet
    assert(back === Set((1L, 1L, "a"), (20L, 2L, "B2"), (3L, 3L, "c")))
    checkManifestConsistent("t_cow")
  }

  test("SQL INSERT OVERWRITE under dynamic partitionOverwriteMode replaces " +
    "exactly the incoming buckets") {
    val t = freshTable("t_dyn")
    rows((1, 1, "a"), (2, 2, "b"), (3, 3, "c"), (4, 4, "d")).writeTo(t).append()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE $t VALUES " +
        "(20, 2, 'B'), (21, 2, 'BB'), (40, 4, 'D')")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val back = readBack("t_dyn").as[(Long, Long, String)].collect().toSet
    assert(back === Set((1L, 1L, "a"), (3L, 3L, "c"),
      (20L, 2L, "B"), (21L, 2L, "BB"), (40L, 4L, "D")))
    checkManifestConsistent("t_dyn")
  }

  test("overwrite on a non-cluster column fails analysis loudly") {
    val t = freshTable("t_bad")
    rows((1, 1, "a")).writeTo(t).append()
    val e = intercept[Exception] {
      rows((2, 1, "b")).writeTo(t).overwrite(col("key") === 1)
    }
    assert(e.getMessage.contains("cluster-key") ||
      Option(e.getCause).exists(_.getMessage.contains("cluster-key")),
      s"unexpected error: ${e.getMessage}")
  }

  test("null cluster keys survive a value-predicate overwrite (3-valued " +
    "logic) and IS NULL overwrite removes exactly them") {
    val t = freshTable("t_null")
    Seq((1L, Some(1L), "a"), (2L, None: Option[Long], "n1"),
      (3L, Some(2L), "c"))
      .toDF("key", "bucket", "payload").coalesce(1).writeTo(t).append()
    // bucket=1 overwrite must NOT touch the null-bucket row
    rows((10, 1, "A")).writeTo(t).overwrite(col("bucket") === 1)
    val back1 = readBack("t_null").select("key").as[Long].collect().toSet
    assert(back1 === Set(10L, 2L, 3L))
    // IS NULL overwrite removes only the null-key row
    Seq((20L, Some(5L), "nn")).toDF("key", "bucket", "payload")
      .writeTo(t).overwrite(col("bucket").isNull)
    val back2 = readBack("t_null").select("key").as[Long].collect().toSet
    assert(back2 === Set(10L, 3L, 20L))
    checkManifestConsistent("t_null")
  }

  test("orphan sweep: crash garbage in data/ (files the manifest does not " +
    "reference) is deleted by the next overwrite commit") {
    val t = freshTable("t_orphan")
    rows((1, 1, "a"), (2, 50, "b")).writeTo(t).append()
    // simulate a crashed prior overwrite: a data file that no manifest
    // references (landed before the manifest ATOMIC_MOVE commit point)
    val garbage = plantSegment("t_orphan", "part-dead-00000.parquet",
      999L, 1L, "ghost")
    assert(readBack("t_orphan").count() === 3) // raw reader sees the ghost...
    rows((10, 1, "A")).writeTo(t).overwrite(col("bucket") === 1)
    // ...until the next overwrite heals the directory
    assert(!Files.exists(garbage), "orphan not swept")
    val back = readBack("t_orphan").as[(Long, Long, String)].collect().toSet
    assert(back === Set((10L, 1L, "A"), (2L, 50L, "b")))
    checkManifestConsistent("t_orphan")
    // rewrite temps live under _tmp/, never inside data/
    assert(!dataFiles("t_orphan").exists(_.endsWith(".rw")))
  }

  test("empty dynamic overwrite replaces nothing and leaves every " +
    "committed file untouched (no pointless copy-on-write)") {
    val t = freshTable("t_dyn_empty")
    rows((1, 1, "a"), (2, 2, "b")).writeTo(t).append()
    val before = dataFiles("t_dyn_empty")
    spark.emptyDataset[(Long, Long, String)]
      .toDF("key", "bucket", "payload").writeTo(t).overwritePartitions()
    assert(dataFiles("t_dyn_empty") === before,
      "empty dynamic overwrite must not rewrite any file")
    assert(readBack("t_dyn_empty").count() === 2)
    checkManifestConsistent("t_dyn_empty")
  }

  test("path-based mode(overwrite) stays TRUNCATE under a global dynamic " +
    "partitionOverwriteMode (OVERWRITE_DYNAMIC is catalog-gated)") {
    val out = Files.createTempDirectory("graft_sink_pathdyn").toString
    def save(df: DataFrame): Unit = df.write.format("graft-sink")
      .option("path", out).option("clusterBy", "bucket")
      .option("sortBy", "key").mode("overwrite").save()
    save(rows((1, 1, "a"), (2, 2, "b")))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try save(rows((30, 3, "c")))
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // dynamic key-granular semantics would have kept buckets 1 and 2;
    // the path route must truncate (clusterBy is not authoritative there)
    val back = spark.read.schema("key LONG, bucket LONG, payload STRING")
      .parquet(out + "/data").as[(Long, Long, String)].collect().toSet
    assert(back === Set((30L, 3L, "c")))
  }

  test("ALTER TABLE ADD COLUMN is metadata-only (old rows read as null); " +
    "DROP COLUMN hides the column; RENAME COLUMN is metadata-only too") {
    val t = freshTable("t_alter")
    rows((1, 1, "a"), (2, 2, "b")).writeTo(t).append()
    // ADD: nullable column appended; existing files untouched
    val filesBefore = dataFiles("t_alter")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score BIGINT")
    assert(dataFiles("t_alter") === filesBefore, "ADD COLUMN must not touch data")
    val afterAdd = spark.table(t)
    assert(afterAdd.columns.toSeq === Seq("key", "bucket", "payload", "score"))
    // read raw (file index is captured at read time, so re-read per check)
    def raw = spark.read
      .schema("key LONG, bucket LONG, payload STRING, score LONG")
      .parquet(tableDir("t_alter") + "/data")
    assert(raw.filter(col("score").isNull).count() === 2)
    // new writes carry the column
    Seq((3L, 3L, "c", 7L)).toDF("key", "bucket", "payload", "score")
      .writeTo(t).append()
    assert(raw.filter(col("score") === 7L).count() === 1)
    val filesAfterAppend = dataFiles("t_alter")
    // RENAME: metadata-only, so data files keep their physical names
    // and only the catalog resolves the new one — read through it
    spark.sql(s"ALTER TABLE $t RENAME COLUMN payload TO note")
    assert(dataFiles("t_alter") === filesAfterAppend,
      "RENAME COLUMN must not touch data")
    val renamed = spark.table(t)
    assert(renamed.select("note").as[String].collect().toSet === Set("a", "b", "c"))
    checkManifestConsistent2("t_alter", renamed.count())
    // DROP: metadata-only; layout columns protected
    spark.sql(s"ALTER TABLE $t DROP COLUMN score")
    assert(spark.table(t).columns.toSeq === Seq("key", "bucket", "note"))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN bucket")
    }
    assert(e.getMessage.contains("layout column") ||
      Option(e.getCause).exists(_.getMessage.contains("layout column")))
  }

  test("manifest-planned read: SELECT sees only manifest-committed files " +
    "(crash garbage invisible) and cluster-key predicates skip files") {
    val t = freshTable("t_read")
    rows((1, 1, "a"), (2, 2, "b")).writeTo(t).append()
    rows((3, 50, "c"), (4, 60, "d")).writeTo(t).append()
    // crash garbage is INVISIBLE to the manifest-planned read
    plantSegment("t_read", "part-dead-0.parquet", 999L, 1L, "ghost")
    assert(spark.table(t).count() === 4)
    // a cluster-key predicate prunes whole files by manifest min/max:
    // the bucket-50/60 file is never opened (files=.../NN in description)
    val q = spark.table(t).filter(col("bucket") <= 2)
    assert(q.select("key", "bucket", "payload").as[(Long, Long, String)]
      .collect().toSet === Set((1L, 1L, "a"), (2L, 2L, "b")))
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"scan description missing files=k/n: $plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"expected file skipping, got ${m.get.matched}")
  }

  test("TRUNCATE TABLE drops all data and the manifest, keeps the table") {
    val t = freshTable("t_trunc")
    rows((1, 1, "a"), (2, 2, "b")).writeTo(t).append()
    spark.sql(s"TRUNCATE TABLE $t")
    assert(readBack("t_trunc").count() === 0)
    assert(!Files.exists(Paths.get(tableDir("t_trunc"), "_manifest.jsonl")))
    // table still exists and accepts writes
    rows((9, 9, "z")).writeTo(t).append()
    assert(readBack("t_trunc").count() === 1)
    checkManifestConsistent("t_trunc")
  }

  test("CREATE OR REPLACE TABLE swaps definition and clears data") {
    ensureCatalog()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.t_replace")
    spark.sql(s"CREATE TABLE $cat.db.t_replace (key BIGINT, bucket BIGINT, " +
      "payload STRING) PARTITIONED BY (bucket)")
    rows((1, 1, "a")).writeTo(s"$cat.db.t_replace").append()
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.t_replace " +
      "(key BIGINT, bucket BIGINT, label STRING) PARTITIONED BY (bucket)")
    assert(spark.table(s"$cat.db.t_replace").columns.toSeq ===
      Seq("key", "bucket", "label"))
    assert(spark.table(s"$cat.db.t_replace").count() === 0)
  }

  /** manifest-vs-disk check for tables whose schema diverged from the
    * fixed readBack schema */
  private def checkManifestConsistent2(name: String, readable: Long): Unit = {
    val m = manifest(name)
    assert(m.map(_._2).sum === readable, "manifest row total != readable rows")
    assert(m.map(_._1).toSet === dataFiles(name),
      "manifest files != files on disk")
  }

  test("catalog surface: list/drop/rename/exists behave") {
    ensureCatalog()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.meta")
    spark.sql(s"DROP TABLE IF EXISTS $cat.meta.t1")
    spark.sql(s"DROP TABLE IF EXISTS $cat.meta.t2")
    spark.sql(s"CREATE TABLE $cat.meta.t1 (key BIGINT, bucket BIGINT, " +
      "payload STRING) PARTITIONED BY (bucket)")
    spark.sql(s"ALTER TABLE $cat.meta.t1 RENAME TO meta.t2")
    val listed = spark.sql(s"SHOW TABLES IN $cat.meta").collect()
      .map(_.getString(1)).toSet
    assert(listed === Set("t2"))
    spark.sql(s"DROP TABLE $cat.meta.t2")
    assert(spark.sql(s"SHOW TABLES IN $cat.meta").collect().isEmpty)
  }
}
