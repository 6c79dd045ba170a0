package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.v2.ClusteredSinkOverwrite
import org.apache.spark.sql.functions._

/** The ClusteredSink payload: every segment is parquet (r14; the only
  * payload since the JSON-lines one was deleted). Pins:
  *
  *   1. roundtrip fidelity: a table reads back row-identical to the
  *      frame written into it, including nulls in every supported type
  *      and quote/backslash strings;
  *   2. the filePerKey manifest is single-key and the committed files
  *      actually carry the parquet magic;
  *   3. (r15 — the format matrix closes) overwrite-by-filter and
  *      dynamic overwrite copy-on-write parquet segments through the
  *      sink's own reader/writer, and streaming epochs commit parquet
  *      files; (r16) ALTER RENAME on parquet tables is METADATA-ONLY
  *      through the alias log — data files untouched, historical names
  *      resolve per file, COW upgrades names, reuse refused;
  *   4. TRUNCATE + re-append works;
  *   5. tables left by the deleted JSON-lines payload, and requests for
  *      any payload but parquet, fail loudly instead of being misread.
  */
class ParquetSinkSpec extends SparkSpec {
  private lazy val warehouse =
    Files.createTempDirectory("graft_cat_pq_spec").toString
  private val cat = "graft_cat_pq"

  private def init(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
  }

  private def sample = {
    import spark.implicits._
    (0L until 1000L).map { i =>
      (i,
        i % 16,
        if (i % 7 == 0) None else Some(i * 2),
        if (i % 5 == 0) None else Some(i / 3.0),
        if (i % 3 == 0) None else Some(i % 2 == 0),
        if (i % 11 == 0) None else Some(s"v$i|quote\"and\\slash"))
    }.toDF("key", "bucket", "lval", "dval", "bval", "sval")
  }

  test("parquet payload roundtrips row-identical to the written frame") {
    init()
    spark.sql(s"DROP TABLE IF EXISTS $cat.g.rt_pq")
    spark.sql(s"CREATE TABLE $cat.g.rt_pq " +
      "(key BIGINT, bucket BIGINT, lval BIGINT, dval DOUBLE, " +
      "bval BOOLEAN, sval STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='key')")
    sample.writeTo(s"$cat.g.rt_pq").append()
    val pq = spark.table(s"$cat.g.rt_pq")
    assert(pq.count() === 1000)
    assert(pq.exceptAll(sample).count() === 0)
    assert(sample.exceptAll(pq).count() === 0)
    // column projection decodes only what is asked
    assert(pq.select(sum(col("lval"))).head.getLong(0) ===
      sample.select(sum(col("lval"))).head.getLong(0))
  }

  test("all-parquet tables execute COLUMNAR (r16): vectorized batch scan " +
      "in the plan, values identical to the row path incl. nulls") {
    init()
    spark.sql(s"DROP TABLE IF EXISTS $cat.g.rt_pq")
    spark.sql(s"CREATE TABLE $cat.g.rt_pq " +
      "(key BIGINT, bucket BIGINT, lval BIGINT, dval DOUBLE, " +
      "bval BOOLEAN, sval STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='key')")
    sample.writeTo(s"$cat.g.rt_pq").append()
    val pq = spark.table(s"$cat.g.rt_pq")
    // the executed plan must contain a COLUMNAR BatchScan (witnessed by
    // the ColumnarToRow bridge feeding codegen; string-matched because
    // AQE stage nodes hide their subtrees from a children() walk)
    val agg = pq.select(sum(col("lval")), sum(col("dval")))
    agg.collect()
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("ColumnarToRow") &&
      planStr.contains("graft-sink"),
      s"expected a columnar graft-sink scan:\n$planStr")
    // value equality with the written frame across every type, null
    // patterns included (sample nulls each column on its own cycle)
    assert(pq.exceptAll(sample).count() === 0)
    assert(sample.exceptAll(pq).count() === 0)
    // batches span multiple emit cycles (1000 rows / 16 buckets) and a
    // narrow projection still decodes correctly
    assert(pq.select(col("sval")).filter(col("sval").isNull).count() ===
      sample.select(col("sval")).filter(col("sval").isNull).count())
  }

  test("filePerKey manifest is single-key and files carry parquet magic") {
    init()
    val entries = ClusteredSinkOverwrite.readManifest(
      Paths.get(warehouse, "g", "rt_pq", "_manifest.jsonl"))
    assert(entries.size === 16)
    entries.foreach { e =>
      assert(e.minCluster != null && e.minCluster == e.maxCluster)
      assert(e.file.endsWith(".parquet"))
      val bytes = Files.readAllBytes(
        Paths.get(warehouse, "g", "rt_pq", "data", e.file))
      assert(new String(bytes.take(4), "US-ASCII") === "PAR1",
        s"${e.file} is not a parquet file")
    }
  }

  test("overwrite-by-filter copy-on-writes parquet segments (r15: the " +
      "format matrix closes)") {
    init()
    val t = s"$cat.g.ow_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t " +
      "(key BIGINT, bucket BIGINT, lval BIGINT, dval DOUBLE, " +
      "bval BOOLEAN, sval STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('sortBy'='key')")
    sample.writeTo(t).append()
    // replace bucket 3 with a marker slice; every other bucket intact
    import spark.implicits._
    val repl = Seq((9001L, 3L, Some(1L), Some(1.5), Some(true),
      Some("replaced"))).toDF("key", "bucket", "lval", "dval", "bval", "sval")
    repl.writeTo(t).overwrite(col("bucket") === 3)
    val back = spark.table(t)
    assert(back.filter(col("bucket") === 3).count() === 1)
    assert(back.filter(col("bucket") === 3).head.getLong(0) === 9001L)
    assert(back.filter(col("bucket") =!= 3).count() ===
      sample.filter(col("bucket") =!= 3).count())
    // survivors still read with full fidelity (nulls included)
    assert(back.filter(col("bucket") =!= 3)
      .exceptAll(sample.filter(col("bucket") =!= 3)).count() === 0)
    // and every committed file is still genuine parquet
    ClusteredSinkOverwrite.readManifest(
        Paths.get(warehouse, "g", "ow_pq", "_manifest.jsonl"))
      .foreach { e =>
        assert(e.file.endsWith(".parquet"), e.file)
        val bytes = Files.readAllBytes(
          Paths.get(warehouse, "g", "ow_pq", "data", e.file))
        assert(new String(bytes.take(4), "US-ASCII") === "PAR1", e.file)
      }
    // dynamic overwrite: replace exactly the incoming keys
    val dyn = Seq((9002L, 5L, Option.empty[Long], Option.empty[Double],
      Option.empty[Boolean], Some("dyn"))).toDF(
      "key", "bucket", "lval", "dval", "bval", "sval")
    dyn.writeTo(t).overwritePartitions()
    val after = spark.table(t)
    assert(after.filter(col("bucket") === 5).count() === 1)
    assert(after.filter(col("bucket") === 3).count() === 1) // untouched
  }

  test("streaming epochs commit parquet segments") {
    init()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("pq_stream").toString
    val ckpt = Files.createTempDirectory("pq_stream_ck").toString
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("key", "bucket", "payload")
      .writeStream.format("graft-sink")
      .option("path", dir).option("clusterBy", "bucket").option("sortBy", "key")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData((1L, 0L, "a"), (2L, 1L, "b"))
      q.processAllAvailable()
      input.addData((3L, 0L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val files = Files.list(Paths.get(dir, "data")).iterator().asScala.toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.getFileName.toString.matches("part-\\d{5}-\\d{5}\\.parquet"),
        f.toString)
      val bytes = Files.readAllBytes(f)
      assert(new String(bytes.take(4), "US-ASCII") === "PAR1", f.toString)
    }
    // per-epoch manifests are a raw-directory surface (the batch scan
    // plans from _manifest.jsonl only); the files themselves are
    // standard parquet and read back through any parquet reader
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() === 3)
    assert(back.select("key").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("ALTER RENAME on a parquet table is METADATA-ONLY (r16): files " +
      "untouched, old and new segments read consistently through the " +
      "alias log, COW upgrades names, historical names cannot be reused") {
    init()
    spark.sql(s"DROP TABLE IF EXISTS $cat.g.rn_pq")
    spark.sql(s"CREATE TABLE $cat.g.rn_pq " +
      "(key BIGINT, bucket BIGINT, amount DOUBLE, label STRING) " +
      "PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='key')")
    import spark.implicits._
    val first = (0L until 400L).map(i => (i, i % 8,
      if (i % 5 == 0) None else Some(i * 1.5),
      if (i % 7 == 0) None else Some(s"l$i")))
      .toDF("key", "bucket", "amount", "label")
    first.writeTo(s"$cat.g.rn_pq").append()
    val sumBefore = spark.table(s"$cat.g.rn_pq")
      .agg(sum(col("amount"))).head.getDouble(0)
    val dataDir = new java.io.File(warehouse, "g/rn_pq/data")
    def sig(): Seq[(String, Long)] = dataDir.listFiles().toSeq
      .map(f => (f.getName, f.lastModified)).sortBy(_._1)
    val before = sig()

    spark.sql(s"ALTER TABLE $cat.g.rn_pq RENAME COLUMN amount TO amt")
    assert(sig() === before,
      "parquet rename must not touch a single data file")
    val t = spark.table(s"$cat.g.rn_pq")
    assert(t.columns.contains("amt") && !t.columns.contains("amount"))
    assert(t.agg(sum(col("amt"))).head.getDouble(0) === sumBefore,
      "old segments must read through the alias log")
    assert(t.filter(col("amt").isNull).count() === 80)

    // new segments write under the NEW name; mixed history reads whole
    val second = (400L until 600L).map(i => (i, i % 8,
      Some(i * 1.5), Some(s"l$i")))
      .toDF("key", "bucket", "amt", "label")
    second.writeTo(s"$cat.g.rn_pq").append()
    val sumSecond = second.agg(sum(col("amt"))).head.getDouble(0)
    assert(spark.table(s"$cat.g.rn_pq").agg(sum(col("amt")))
      .head.getDouble(0) === sumBefore + sumSecond)

    // rename CHAIN: amt -> amount2 still resolves the oldest files
    spark.sql(s"ALTER TABLE $cat.g.rn_pq RENAME COLUMN amt TO amount2")
    assert(spark.table(s"$cat.g.rn_pq").agg(sum(col("amount2")))
      .head.getDouble(0) === sumBefore + sumSecond)

    // reusing a historical name for a NEW column would resurrect old
    // data under it — refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.g.rn_pq ADD COLUMN amount DOUBLE")
    }
    assert(e.getMessage.contains("historical"), e.getMessage)

    // copy-on-write (overwrite-by-filter) decodes old names through the
    // alias log and re-encodes under CURRENT names
    val replacement = Seq((9999L, 3L, Some(42.0), Some("x")))
      .toDF("key", "bucket", "amount2", "label")
    replacement.writeTo(s"$cat.g.rn_pq").overwrite(col("bucket") === 3)
    val after = spark.table(s"$cat.g.rn_pq")
    assert(after.filter(col("bucket") === 3).count() === 1)
    val expectOther = (first.filter(col("bucket") =!= 3)
      .agg(sum(col("amount"))).head.getDouble(0)
      + second.filter(col("bucket") =!= 3)
        .agg(sum(col("amt"))).head.getDouble(0))
    assert(after.filter(col("bucket") =!= 3).agg(sum(col("amount2")))
      .head.getDouble(0) === expectOther,
      "COW rewrite must preserve renamed-column data from old segments")
  }

  test("ALTER RENAME rejects a target that is ANOTHER column's " +
      "historical name (r16 ADVICE): after RENAME a->c, RENAME b->a " +
      "would resolve pre-rename segments' old-a data under b; " +
      "renaming a column BACK to its own historical name stays legal") {
    init()
    import spark.implicits._
    val t = s"$cat.g.rn_guard_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t " +
      "(key BIGINT, bucket BIGINT, a DOUBLE, b DOUBLE) " +
      "PARTITIONED BY (bucket)")
    (0L until 100L).map(i => (i, i % 4, i * 1.0, i * 100.0))
      .toDF("key", "bucket", "a", "b").writeTo(t).append()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN a TO c")

    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN b TO a")
    }
    assert(e.getMessage.contains("historical"), e.getMessage)
    // the refused rename changed nothing: b still reads b's data
    assert(spark.table(t).agg(sum(col("b"))).head.getDouble(0) ===
      (0L until 100L).map(_ * 100.0).sum)

    // rename BACK to a name in the column's OWN history: the physical
    // column in old segments is the same logical column — legal + exact
    spark.sql(s"ALTER TABLE $t RENAME COLUMN c TO a")
    assert(spark.table(t).agg(sum(col("a"))).head.getDouble(0) ===
      (0L until 100L).map(_ * 1.0).sum)
    // and b->c is now free again after a's history moved with it? No:
    // 'c' is in a's history — still refused, one rule everywhere
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN b TO c")
    }
    assert(e2.getMessage.contains("historical"), e2.getMessage)
  }

  test("column-evolution matrix (r16 verdict): ADD COLUMN DEFAULT and " +
      "DROP COLUMN are both METADATA-ONLY on parquet tables — files " +
      "untouched, pre-alter segments read the default, explicit nulls " +
      "stay null, dropped names are tombstoned against re-ADD") {
    init()
    import spark.implicits._
    val t = s"$cat.g.evolve_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket)")
    (0L until 100L).map(i => (i, i % 4, i * 1.5))
      .toDF("key", "bucket", "v").writeTo(t).append()
    val dataDir = new java.io.File(warehouse, "g/evolve_pq/data")
    def sig(): Seq[(String, Long)] = dataDir.listFiles().toSeq
      .map(f => (f.getName, f.lastModified)).sortBy(_._1)
    val before = sig()

    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING DEFAULT 'legacy'")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score BIGINT DEFAULT 7")
    assert(sig() === before, "ADD COLUMN DEFAULT must not touch files")
    // pre-alter segments read the DEFAULT, not null
    assert(spark.table(t).filter(col("tag") === "legacy").count() === 100)
    assert(spark.table(t).agg(sum(col("score"))).head.getLong(0) === 700L)

    // post-alter segments carry explicit values; explicit null STAYS
    // null (the default applies only to segments lacking the column)
    (100L until 140L).map(i =>
        (i, i % 4, i * 1.5, if (i % 2 == 0) None else Some(s"t$i"), i))
      .toDF("key", "bucket", "v", "tag", "score").writeTo(t).append()
    assert(spark.table(t).filter(col("tag").isNull).count() === 20)
    assert(spark.table(t).filter(col("tag") === "legacy").count() === 100)
    assert(spark.table(t).agg(sum(col("score"))).head.getLong(0) ===
      700L + (100L until 140L).sum)

    // DROP COLUMN v: metadata-only, then re-ADD of the name is refused
    val preDrop = sig()
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(sig() === preDrop, "DROP COLUMN must not touch files")
    assert(!spark.table(t).columns.contains("v"))
    assert(spark.table(t).count() === 140)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMN v DOUBLE")
    }
    assert(e.getMessage.contains("dropped"), e.getMessage)
    // a FRESH name with a default still lands after the drop
    spark.sql(s"ALTER TABLE $t ADD COLUMN w DOUBLE DEFAULT 2.5")
    assert(spark.table(t).agg(sum(col("w"))).head.getDouble(0) === 350.0)
  }

  test("ALTER RENAME rejects a DROPPED column's tombstoned name " +
      "(r17 ADVICE): DROP removes the name from the alias map, so the " +
      "other-column-historical-name guard alone would let a rename " +
      "adopt it — and readers resolve current names first, so pre-drop " +
      "segments would serve the dropped column's stale bytes") {
    init()
    import spark.implicits._
    val t = s"$cat.g.rn_drop_guard_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t " +
      "(key BIGINT, bucket BIGINT, a DOUBLE, b DOUBLE) " +
      "PARTITIONED BY (bucket)")
    (0L until 100L).map(i => (i, i % 4, i * 1.0, i * 100.0))
      .toDF("key", "bucket", "a", "b").writeTo(t).append()
    // give the doomed column an alias history too: both its current
    // AND historical physical names must tombstone on drop
    spark.sql(s"ALTER TABLE $t RENAME COLUMN a TO a2")
    spark.sql(s"ALTER TABLE $t DROP COLUMN a2")

    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN b TO a2")
    }
    assert(e.getMessage.contains("dropped"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN b TO a")
    }
    assert(e2.getMessage.contains("dropped"), e2.getMessage)
    // the refused renames changed nothing: b still reads b's own data
    assert(spark.table(t).agg(sum(col("b"))).head.getDouble(0) ===
      (0L until 100L).map(_ * 100.0).sum)
    // a genuinely fresh target still works
    spark.sql(s"ALTER TABLE $t RENAME COLUMN b TO c")
    assert(spark.table(t).agg(sum(col("c"))).head.getDouble(0) ===
      (0L until 100L).map(_ * 100.0).sum)
  }

  test("JSON-era tables and non-parquet payload requests fail loudly") {
    init()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("bucket", LongType), StructField("payload", StringType)))
    val rows = Seq("""{"key":1,"bucket":0,"payload":"a"}""")
    // a table the JSON-lines payload left behind: no format entry
    // (pre-r14 metadata) or an explicit "json" one. Loading refuses it,
    // naming the table and the fix.
    for ((t, fmt) <- Seq(("legacy_nofmt", None), ("legacy_json", Some("json")))) {
      LegacyJsonTable.plant(Paths.get(warehouse, "g", t), schema, "bucket",
        "key", rows, format = fmt)
      val e = intercept[Exception](spark.table(s"$cat.g.$t").collect())
      assert(e.getMessage.contains(t) &&
        e.getMessage.contains("drop the table and rebuild it"), e.getMessage)
      // the catalog's own DROP still works, and the name is free again
      spark.sql(s"DROP TABLE $cat.g.$t")
      assert(!spark.catalog.tableExists(s"$cat.g.$t"))
    }
    // a path-based scan whose manifest names a .json segment fails at
    // planning: the segment is never decoded as parquet
    val raw = Files.createTempDirectory("legacy_raw")
    LegacyJsonTable.plant(raw, schema, "bucket", "key", rows)
    val df = spark.read.format("graft-sink").schema(schema)
      .option("path", raw.toString).load()
    val e = intercept[Exception](df.queryExecution.executedPlan)
    assert(e.getMessage.contains("part-legacy-00000.json") &&
      e.getMessage.contains("drop the table and rebuild it"), e.getMessage)
    // a read schema outside the type contract fails at planning too
    val dir = Files.createTempDirectory("typed_raw").toString
    sample.select("key", "bucket").write.format("graft-sink")
      .option("path", dir).option("clusterBy", "bucket").mode("append").save()
    val e2 = intercept[Exception](spark.read.format("graft-sink")
      .schema("key BIGINT, bucket BIGINT, d DATE").option("path", dir).load()
      .queryExecution.executedPlan)
    assert(e2.getMessage.contains("unsupported type"), e2.getMessage)
    // asking for any payload but parquet fails before any task runs
    val e3 = intercept[Exception](spark.sql(s"CREATE TABLE $cat.g.want_json " +
      "(key BIGINT, bucket BIGINT) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('format'='json')"))
    assert(e3.getMessage.contains("unsupported format 'json'"), e3.getMessage)
    assert(!spark.catalog.tableExists(s"$cat.g.want_json"))
    val out = Files.createTempDirectory("want_json").toString
    val e4 = intercept[Exception](sample.select("key", "bucket")
      .write.format("graft-sink").option("path", out)
      .option("clusterBy", "bucket").option("format", "json")
      .mode("append").save())
    assert(e4.getMessage.contains("unsupported format 'json'"), e4.getMessage)
    assert(!Files.exists(Paths.get(out, "data")))
  }

  test("TRUNCATE + re-append works on the parquet payload") {
    init()
    spark.sql(s"TRUNCATE TABLE $cat.g.rt_pq")
    assert(spark.table(s"$cat.g.rt_pq").count() === 0)
    sample.limit(100).writeTo(s"$cat.g.rt_pq").append()
    assert(spark.table(s"$cat.g.rt_pq").count() === 100)
  }

  test("ALTER TABLE ADD COLUMN: pre-alter parquet segments read the new " +
      "column as null (r14 ADVICE)") {
    init()
    val t = s"$cat.g.addcol_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT, sval STRING) " +
      "PARTITIONED BY (bucket)")
    import spark.implicits._
    (0L until 100L).map(i => (i, i % 4, s"v$i")).toDF("key", "bucket", "sval")
      .writeTo(t).append()
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")
    // reads of PRE-ALTER files must not fail and must yield null
    val afterAlter = spark.table(t)
    assert(afterAlter.count() === 100)
    assert(afterAlter.filter(col("extra").isNull).count() === 100)
    // post-alter appends carry the column; old files still read null
    (100L until 150L).map(i => (i, i % 4, s"v$i", i * 10))
      .toDF("key", "bucket", "sval", "extra").writeTo(t).append()
    val all = spark.table(t)
    assert(all.count() === 150)
    assert(all.filter(col("extra").isNull).count() === 100)
    assert(all.filter(col("extra") === col("key") * 10).count() === 50)
    // projection that touches ONLY the new column also survives old files
    assert(all.select(sum(col("extra"))).head.getLong(0) ===
      (100L until 150L).map(_ * 10).sum)
  }

  test("parquet segment writes leave no Hadoop .crc sidecars behind " +
      "(r14 ADVICE)") {
    init()
    val t = s"$cat.g.crc_pq"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT) " +
      "PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true')")
    import spark.implicits._
    (0L until 200L).map(i => (i, i % 8)).toDF("key", "bucket")
      .writeTo(t).append()
    assert(spark.table(t).count() === 200)
    val tmp = Paths.get(warehouse, "g", "crc_pq", "_tmp")
    val leftovers =
      if (Files.isDirectory(tmp)) {
        val ls = Files.list(tmp)
        try {
          val it = ls.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().getFileName.toString
          b.result()
        } finally ls.close()
      } else Seq.empty
    assert(leftovers.isEmpty,
      s"_tmp must be empty after commit; found: $leftovers")
    // and the data dir carries only committed parquet parts
    val dataLs = Files.list(Paths.get(warehouse, "g", "crc_pq", "data"))
    try {
      val it = dataLs.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        assert(!n.endsWith(".crc"), s"checksum sidecar leaked: $n")
      }
    } finally dataLs.close()
  }

  test("SPJ over two parquet-payload tables is exchange-free") {
    init()
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    for (t <- Seq("spj_a", "spj_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $cat.g.$t")
      spark.sql(s"CREATE TABLE $cat.g.$t " +
        "(key BIGINT, bucket BIGINT, lval BIGINT, dval DOUBLE, " +
        "bval BOOLEAN, sval STRING) PARTITIONED BY (bucket) " +
        "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='key')")
      sample.writeTo(s"$cat.g.$t").append()
    }
    val iso = spark.newSession()
    iso.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    iso.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val a = iso.table(s"$cat.g.spj_a")
    val b = iso.table(s"$cat.g.spj_b")
    val j = a.join(b, a("bucket") === b("bucket") && a("key") === b("key"))
      .groupBy(a("bucket")).agg(count(lit(1)).as("n"))
    assert(j.collect().map(_.getLong(1)).sum === 1000)
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case x: AdaptiveSparkPlanExec => walk(x.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case o => o.children.flatMap(walk)
      })
    assert(!walk(j.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeExec]),
      "the parquet-payload SPJ must plan with zero exchanges")
  }
}
