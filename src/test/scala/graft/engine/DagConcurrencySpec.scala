package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.SparkSpec
import graft.util.Parallel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The concurrent level-by-level DAG: the session catalog takes
  * overlapping CTAS writes, a failing model stops its level cleanly, and
  * the audit counts observed during the writes are exact on every sink
  * without re-count jobs. */
class DagConcurrencySpec extends SparkSpec {
  import Fixtures.clock

  private def dropDb(db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")

  test("the session catalog takes concurrent overwriting saveAsTable into one database") {
    val db = "dag_ctas_race"
    val writers = 6
    dropDb(db)
    try {
      (1 to 3).foreach { round =>
        val go = new CountDownLatch(1)
        Parallel.inParallel((0 until writers).map { i => () =>
          go.await()
          // every writer races the database DDL too; it must never throw
          spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
          val df = spark.range(0, 50L * (i + 1) + round)
            .withColumn("p", col("id") % 3)
          val w = df.write.mode("overwrite").format("parquet")
          // plain and partitioned tables mixed
          (if (i % 2 == 0) w else w.partitionBy("p")).saveAsTable(s"$db.t$i")
        } :+ (() => go.countDown()))
        (0 until writers).foreach { i =>
          assert(spark.catalog.tableExists(s"$db.t$i"), s"round $round: t$i missing")
          assert(spark.table(s"$db.t$i").count() === 50L * (i + 1) + round,
            s"round $round: t$i row count")
        }
      }
    } finally dropDb(db)
  }

  test("a failing model stops its level: siblings finish writing, no later level starts") {
    val started = new CountDownLatch(2)
    val finished = new AtomicInteger(0)
    val laterStarted = new AtomicBoolean(false)
    val boom = new IllegalStateException("model bad: boom")
    // the siblings are mid-write when the failure happens
    val slowSink = new Sink {
      def write(layer: String, name: String, df: DataFrame): DataFrame = {
        started.countDown()
        Thread.sleep(300)
        try Sink.Cached().write(layer, name, df)
        finally finished.incrementAndGet()
      }
    }
    def src(n: String) = Model(n, "silver", Seq("a"), d => d("a"))
    val models = Seq(
      Model("a", "bronze", Nil, _ => spark.range(5).toDF()),
      src("b1"), src("b2"),
      Model("bad", "silver", Seq("a"), _ => {
        assert(started.await(30, TimeUnit.SECONDS), "siblings never started")
        throw boom
      }),
      Model("c", "gold", Seq("b1"), d => { laterStarted.set(true); d("b1") }))
    val e = intercept[IllegalStateException] {
      new Dag(models, slowSink, clock).run(Map.empty, parallelism = 4)
    }
    assert(e eq boom, s"run threw $e, not the model's own exception")
    // a, b1 and b2 wrote; bad never reached the sink
    assert(finished.get() === 3, "run threw before its siblings finished writing")
    assert(!laterStarted.get(), "a later level started after a failed level")
  }

  /** Checks every audit row of one 12-model pipeline run against
    * independent counts of the raw inputs and of what was written, read
    * back by `readBack(layer, model)`. */
  private def assertAuditExact(run: (Map[String, DataFrame], DataFrame),
      readBack: (String, String) => DataFrame): Unit = {
    val (outputs, audit) = run
    val raw = Fixtures.raw(spark)
    val models = InsurancePipeline.models(clock)
    val layer = models.map(m => m.name -> m.layer).toMap
    def written(n: String): Long = readBack(layer(n), n).count()
    val rows = audit.collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === models.map(_.name).toSet)
    assert(outputs.keySet === rows.keySet)
    models.foreach { m =>
      val (src, tgt) = rows(m.name)
      val dep = m.deps.head
      val expectSrc = raw.get(dep).map(_.count()).getOrElse(written(dep))
      assert(src === expectSrc, s"${m.name}: source_records")
      assert(tgt === written(m.name), s"${m.name}: target_records")
    }
  }

  private def pipeline(sink: Sink) = InsurancePipeline.run(Fixtures.raw(spark), sink, clock)
  private val partitioned = Map("gold_policy_performance" -> Seq("policy_month"))

  test("audit counts are exact through Sink.Cached") {
    val run = pipeline(Sink.Cached())
    assertAuditExact(run, (_, n) => run._1(n))
  }

  test("audit counts are exact through Sink.Parquet with a partitioned mart") {
    val root = java.nio.file.Files.createTempDirectory("graft-dag-pq").toString
    graft.util.TmpReaper.track(root)
    assertAuditExact(pipeline(Sink.Parquet(root, partitioned)),
      (l, n) => spark.read.parquet(s"$root/$l/$n"))
  }

  test("audit counts are exact through Sink.Table with a partitioned mart, within a job bound") {
    val dbs = Seq("dagjobs_bronze", "dagjobs_silver", "dagjobs_gold")
    dbs.foreach(dropDb)
    try {
      val jobs = new AtomicInteger(0)
      val marker = "dag-job-bound-marker"
      val markerSeen = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
            markerSeen.countDown()
          else if (markerSeen.getCount > 0) jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val run = try {
        val r = pipeline(Sink.Table("dagjobs", partitions = partitioned))
        // listener events arrive in order: once the marker job is seen,
        // every job of the run has been counted
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
        assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
        r
      } finally spark.sparkContext.removeSparkListener(listener)
      // only the 12 writes, each with its AQE stage jobs; counting the
      // raw inputs added 8 jobs, re-counting every model at least 12
      assert(jobs.get() <= DagConcurrencySpec.TableRunJobs,
        s"a Sink.Table pipeline run took ${jobs.get()} jobs, bound " +
          s"${DagConcurrencySpec.TableRunJobs}: an audit re-count is back")
      info(s"Sink.Table run: ${jobs.get()} jobs")
      assertAuditExact(run, (l, n) => spark.table(s"dagjobs_$l.$n"))
    } finally dbs.foreach(dropDb)
  }
}

object DagConcurrencySpec {
  /** Spark jobs of one 12-model `Sink.Table` run over `Fixtures`, as
    * measured: 36 (44 when a job counted each raw input, 84 when the
    * audit re-counted every model). */
  val TableRunJobs = 36
}
