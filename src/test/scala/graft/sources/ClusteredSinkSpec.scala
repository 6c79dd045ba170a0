package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layout + protocol invariants of the graft-sink DSv2 write path.
  *
  * The oracle gate (q157) proves data fidelity; these tests pin what the
  * oracle cannot see: that RequiresDistributionAndOrdering actually shaped
  * the files (clustered: every bucket in exactly one file; sorted within
  * file), that the manifest statistics match the committed bytes, that
  * overwrite truncates, and that hostile strings survive the payload.
  */
class ClusteredSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_sink_spec").toString

  private def sample(n: Int): DataFrame =
    spark.range(n.toLong)
      .select(col("id").as("key"), (col("id") % 7).as("bucket"),
        concat(lit("p"), col("id")).as("payload"))

  private def readBack(dir: String): DataFrame =
    spark.read.schema("key LONG, bucket LONG, payload STRING").parquet(dir + "/data")

  private def write(df: DataFrame, dir: String, mode: String = "append",
      partitions: Int = 4): Unit =
    df.write.format("graft-sink")
      .option("path", dir).option("clusterBy", "bucket").option("sortBy", "key")
      .option("partitions", partitions.toString).mode(mode).save()

  test("round-trip preserves every row exactly") {
    val dir = freshDir()
    write(sample(1000), dir)
    val back = readBack(dir)
    assert(back.count() === 1000L)
    assert(back.except(sample(1000)).isEmpty && sample(1000).except(back).isEmpty)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
  }

  test("clustered distribution: every bucket lands in exactly one file") {
    val dir = freshDir()
    write(sample(1000), dir)
    val spread = readBack(dir)
      .select(col("bucket"), input_file_name().as("f"))
      .groupBy("bucket").agg(countDistinct("f").as("nf"))
      .agg(max("nf")).as[Long].head()
    assert(spread === 1L, "a bucket was split across files")
  }

  test("required ordering: files are sorted by (bucket, key)") {
    val dir = freshDir()
    write(sample(1000), dir)
    val files = Files.list(Paths.get(dir, "data")).iterator().asScala.toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      // one small file is one split: rows come back in file order
      val keys = spark.read.parquet(f.toString).select("bucket", "key")
        .as[(Long, Long)].collect().toSeq
      assert(keys == keys.sorted, s"$f is not sorted by (bucket, key)")
    }
  }

  test("manifest statistics match committed file contents") {
    val dir = freshDir()
    write(sample(1000), dir)
    // note: spark.read skips `_`-prefixed files (hidden-file convention),
    // which is exactly why data and metadata can share the directory —
    // parse the manifest directly
    val mre = ("""\{"file":"([^"]+)","rows":(\d+),"min_cluster":(-?\d+),""" +
      """"max_cluster":(-?\d+),"min_sort":(-?\d+),"max_sort":(-?\d+)\}""").r
    val manifest = Files.readAllLines(Paths.get(dir, "_manifest.jsonl")).asScala
      .map { case mre(f, r, mnc, mxc, mns, mxs) =>
        (f, r.toLong, mnc.toLong, mxc.toLong, mns.toLong, mxs.toLong)
      }.toSet
    val actual = readBack(dir)
      .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"),
        col("bucket"), col("key"))
      .groupBy("file")
      .agg(count(lit(1)).as("rows"),
        min("bucket").as("min_cluster"), max("bucket").as("max_cluster"),
        min("key").as("min_sort"), max("key").as("max_sort"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(manifest.nonEmpty)
    assert(manifest === actual)
  }

  test("overwrite truncates previous committed data") {
    val dir = freshDir()
    write(sample(1000), dir)
    val second = spark.range(50L)
      .select((col("id") + 10000).as("key"), lit(3L).as("bucket"),
        lit("v2").as("payload"))
    write(second, dir, mode = "overwrite")
    val back = readBack(dir)
    assert(back.count() === 50L)
    assert(back.agg(min("key")).as[Long].head() === 10000L)
    // a single bucket under 4 required partitions commits exactly one file
    assert(Files.list(Paths.get(dir, "data")).count() === 1L)
  }

  test("hostile strings survive the payload encoding round-trip") {
    val dir = freshDir()
    val nasty = Seq(
      (1L, 0L, "tab\there"), (2L, 0L, "quote\"back\\slash"),
      (3L, 1L, "new\nline\rret"), (4L, 1L, "ctrl"),
      (5L, 2L, "unicode é中文"))
      .toDF("key", "bucket", "payload")
    write(nasty, dir)
    val back = readBack(dir).orderBy("key").as[(Long, Long, String)].collect()
    assert(back.map(_._3).toSeq ===
      Seq("tab\there", "quote\"back\\slash", "new\nline\rret",
        "ctrl", "unicode é中文"))
  }

  test("empty input commits a manifest with no data files") {
    val dir = freshDir()
    write(sample(1000).filter(col("key") < 0), dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    assert(!Files.exists(Paths.get(dir, "data")) ||
      Files.list(Paths.get(dir, "data")).count() === 0L)
  }

  test("requiredNumPartitions bounds the file count") {
    val dir = freshDir()
    write(sample(10000), dir, partitions = 2)
    assert(Files.list(Paths.get(dir, "data")).count() <= 2L)
  }

  test("append is append: a second job never clobbers the first") {
    val dir = freshDir()
    write(sample(1000), dir)
    val second = spark.range(50L)
      .select((col("id") + 10000).as("key"), (col("id") % 7).as("bucket"),
        lit("v2").as("payload"))
    write(second, dir, mode = "append")
    val back = readBack(dir)
    // both jobs' rows survive — colliding partition ids must not REPLACE
    assert(back.count() === 1050L)
    assert(back.filter(col("payload") === "v2").count() === 50L)
    // and the manifest accumulates entries for BOTH jobs' files
    val manifestFiles = Files.readAllLines(Paths.get(dir, "_manifest.jsonl"))
      .asScala.map(l => """"file":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1))
    assert(manifestFiles.toSet.size === manifestFiles.size, "duplicate manifest entry")
    val onDisk = Files.list(Paths.get(dir, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(manifestFiles.toSet === onDisk, "manifest out of sync with data dir")
  }

  test("null cluster keys contribute no manifest bound (null, not 0)") {
    val dir = freshDir()
    val df = spark.range(10L)
      .select((col("id") + 100).as("key"),
        lit(null).cast("long").as("bucket"), lit("n").as("payload"))
    write(df, dir, partitions = 1)
    val lines = Files.readAllLines(Paths.get(dir, "_manifest.jsonl")).asScala
    assert(lines.nonEmpty)
    // all-null cluster keys: the skipping range must be "no bound", never
    // a fabricated min_cluster=0 that would let a reader skip the file
    assert(lines.forall(_.contains(""""min_cluster":null""")), lines.mkString)
    assert(lines.forall(_.contains(""""max_cluster":null""")), lines.mkString)
    // sort key is real: bounds present
    assert(lines.forall(_.contains(""""min_sort":100""")), lines.mkString)
    assert(readBack(dir).count() === 10L)
  }

  // ------------------------------------------------- streaming write path

  test("streaming write commits per-epoch files and manifests") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir()
    val ckpt = freshDir()
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDF().toDF("key", "bucket", "payload")
      .writeStream.format("graft-sink")
      .option("path", dir).option("clusterBy", "bucket").option("sortBy", "key")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c"))
      q.processAllAvailable()
      input.addData((4L, 1L, "d"), (5L, 2L, "e"))
      q.processAllAvailable()
    } finally q.stop()
    val back = readBack(dir)
    assert(back.count() === 5L)
    assert(back.as[(Long, Long, String)].collect().toSet ===
      Set((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c"), (4L, 1L, "d"), (5L, 2L, "e")))
    // one manifest per non-empty epoch
    val manifests = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.startsWith("_manifest-"))
    assert(manifests >= 2, s"expected per-epoch manifests, saw $manifests")
    // epoch id is part of every committed file name
    Files.list(Paths.get(dir, "data")).iterator().asScala.foreach { f =>
      assert(f.getFileName.toString.matches("part-\\d{5}-\\d{5}\\.parquet"), f.toString)
    }
  }

  test("streaming epoch replay is idempotent (same names, rewritten manifest)") {
    // drive the StreamingWrite surface directly: committing the same
    // epoch twice with equivalent task output must not duplicate data
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir()
    val schema = graft.sources.v2.ClusteredSink.defaultSchema
    val sw = new graft.sources.v2.ClusteredSinkStreamingWrite(schema, dir, 1, 0)
    def runEpoch(): Unit = {
      val factory = sw.createStreamingWriterFactory(null)
      val w = factory.createWriter(0, 7L, 3L)
      w.write(InternalRow(10L, 2L, UTF8String.fromString("x")))
      w.write(InternalRow(11L, 2L, UTF8String.fromString("y")))
      val msg = w.commit()
      sw.commit(3L, Array(msg))
    }
    runEpoch()
    runEpoch() // replay
    assert(Files.list(Paths.get(dir, "data")).count() === 1L)
    assert(readBack(dir).count() === 2L)
    assert(Files.readAllLines(Paths.get(dir, "_manifest-00003.jsonl")).size === 1)
  }
}
