package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Clock, Dag, InsurancePipeline, Model, Sink}

/** `dag_batch`: the nightly full refresh. Each pass runs the 12-model
  * `InsurancePipeline.run` over the seeded CSV landing (datagen.py) into
  * `Sink.Table` with the accumulating audit table; passes repeat until
  * the window closes. The traced variant runs the same models through
  * `Dag` with each model's build and the sink wrapped so its jobs carry
  * its name. */
object DagBatch {
  val Schema = "bench"
  val AuditTable = "bench_logging.dbt_logs"
  val Entities = Seq("customers", "policies", "claims", "premiums")
  val Layers = Seq("bronze", "silver", "gold")
  /** Silver model -> its primary key. */
  val SilverKeys = Map("customers_silver" -> "customer_id",
    "policies_silver" -> "policy_id", "claims_silver" -> "claim_id",
    "premiums_silver" -> "premium_id")
  /** Fixed `now`/`today`, so every table is a function of the seed, and
    * the real instant, so each audit row records when its model finished
    * (what a dbt user reads as the model's elapsed time). */
  val clock: Clock = new Clock {
    private val fixed = Clock.Fixed(java.time.Instant.parse("2025-01-01T00:00:00Z"))
    def now = fixed.now
    def today = fixed.today
    def instant = java.time.Instant.now()
  }

  /** Generator-side row counts the audit must reconcile with. */
  final case class Expected(raw: Map[String, Long], silver: Map[String, Long])

  /** Reads the counts datagen.py recorded next to the landing. */
  def expected(dir: File): Expected = {
    val text = Files.readString(new File(dir, "expected.json").toPath)
    def section(name: String): Map[String, Long] =
      ("\"" + name + "\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(text)
        .map(m => "\"(\\w+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(m.group(1))
          .map(x => x.group(1) -> x.group(2).toLong).toMap)
        .getOrElse(sys.error(s"no $name counts in $dir/expected.json"))
    Expected(section("raw"), section("silver"))
  }

  def raw(spark: SparkSession, dir: File): Map[String, DataFrame] =
    Entities.map(e => s"raw_$e" -> spark.read.option("header", "true")
      .csv(new File(dir, e).getPath)).toMap

  def modelNames: Seq[String] = InsurancePipeline.models(clock).map(_.name)
  def layerOf: Map[String, String] =
    InsurancePipeline.models(clock).map(m => m.name -> m.layer).toMap

  /** One untraced pass through the public entry point. */
  def pass(spark: SparkSession, dir: File): DataFrame =
    InsurancePipeline.run(raw(spark, dir), Sink.Table(Schema), clock,
      parallelism = 4, auditTable = Some(AuditTable))._2

  /** Sink wrapper that records each model's write as a span. */
  final class TracingSink(inner: Sink, tracer: Tracer) extends Sink {
    def write(layer: String, name: String, df: DataFrame): DataFrame =
      tracer.span(s"write.$name", parent = s"model.$name", op = name) {
        inner.write(layer, name, df)
      }
  }

  /** One traced pass: the same 12 models through `Dag`, with each
    * model's build tagging its thread so its jobs carry its name. */
  def tracedPass(spark: SparkSession, dir: File, tracer: Tracer): DataFrame = {
    val models = InsurancePipeline.models(clock).map { m =>
      m.copy(build = (deps: Map[String, DataFrame]) => {
        tracer.setOp(m.name)
        // the model's start (its level's start); it ends with its last job
        val t = tracer.now()
        tracer.spans.add(Span(s"model.${m.name}", t, t, "dag", m.name))
        m.build(deps)
      })
    }
    new Dag(models, new TracingSink(Sink.Table(Schema), tracer), clock,
      Some(AuditTable)).run(raw(spark, dir), parallelism = 4)._2
  }

  /** Each model's latency in one pass, from its audit row: finish time
    * minus the start of its level (the pass start for bronze, the last
    * finish of the previous level otherwise; `Dag` runs level by level). */
  def modelLatencies(audit: DataFrame, passStartMs: Double): Map[String, Double] = {
    val done = audit.collect().map(r =>
      r.getString(0) -> r.getTimestamp(2).getTime.toDouble).toMap
    var levelStart = passStartMs
    Layers.flatMap { l =>
      val ms = modelNames.filter(layerOf(_) == l).filter(done.contains)
      val lat = ms.map(m => m -> (done(m) - levelStart) / 1000.0)
      if (ms.nonEmpty) levelStart = ms.map(done).max
      lat
    }.toMap
  }

  /** On-disk bytes under a directory tree. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def tableDir(warehouse: File, layer: String, name: String): File =
    new File(new File(warehouse, s"${Schema}_$layer.db"), name)
  def auditDir(warehouse: File): File =
    new File(new File(warehouse, "bench_logging.db"), "dbt_logs")

  /** Order-independent content hash of a table: row count plus the sum
    * of per-row hashes. Doubles are hashed at float precision so the
    * engine's summation order cannot change the hash. */
  def contentHash(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType => col(f.name).cast("float")
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L)))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}"
  }

  def hashes(spark: SparkSession): Map[String, String] =
    modelNames.map { n =>
      n -> contentHash(spark.table(s"${Schema}_${layerOf(n)}.$n"))
    }.toMap

  /** Audit reconciliation and key checks over the last pass. Returns
    * failure messages keyed by model. */
  def check(spark: SparkSession, audit: DataFrame, expected: Expected,
      golden: Option[Map[String, String]]): Map[String, Seq[String]] = {
    val rows = audit.collect().map(r => r.getString(0) ->
      (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val errs = scala.collection.mutable.Map[String, Seq[String]]()
      .withDefaultValue(Seq.empty)
    def fail(m: String, msg: String): Unit = errs(m) = errs(m) :+ msg
    modelNames.foreach(m => if (!rows.contains(m)) fail(m, "no audit row"))
    Entities.foreach { e =>
      val n = expected.raw(e)
      rows.get(s"${e}_bronze").foreach { case (src, tgt, bad) =>
        if (src != n || tgt != n) fail(s"${e}_bronze",
          s"audit $src->$tgt, generator wrote $n rows")
        if (bad != 0) fail(s"${e}_bronze", s"bad_records=$bad")
      }
      rows.get(s"${e}_silver").foreach { case (src, tgt, bad) =>
        val k = expected.silver(e)
        if (src != n || tgt != k) fail(s"${e}_silver",
          s"audit $src->$tgt, generator expects $n->$k")
        if (bad != 0) fail(s"${e}_silver", s"bad_records=$bad")
      }
    }
    // a gold model's source is its first dependency, a silver table
    val firstDep = InsurancePipeline.models(clock).map(m => m.name -> m.deps.head).toMap
    modelNames.filter(layerOf(_) == "gold").foreach { m =>
      rows.get(m).foreach { case (src, _, bad) =>
        val e = firstDep(m).stripSuffix("_silver")
        if (src != expected.silver(e)) fail(m,
          s"audit source $src, generator expects ${expected.silver(e)}")
        if (bad != 0) fail(m, s"bad_records=$bad")
      }
    }
    SilverKeys.foreach { case (m, k) =>
      val r = spark.table(s"${Schema}_silver.$m")
        .agg(count(lit(1)), countDistinct(col(k)), count(col(k))).head()
      if (r.getLong(0) != r.getLong(1) || r.getLong(0) != r.getLong(2))
        fail(m, s"key $k not unique/non-null: rows=${r.getLong(0)} " +
          s"distinct=${r.getLong(1)} nonnull=${r.getLong(2)}")
    }
    golden.foreach { g =>
      val h = hashes(spark)
      modelNames.foreach { m =>
        if (g.get(m) != h.get(m))
          fail(m, s"content hash ${h(m)} != golden ${g.getOrElse(m, "-")}")
      }
    }
    errs.toMap
  }
}
