package graft.engine

import graft.util.Parallel
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

/** One node of the pipeline DAG — the Spark-native analogue of a dbt model
  * (reference: dbt manifest / `{{ ref(...) }}` graph, SURVEY.md §3).
  *
  * @param build upstream model outputs by name → this model's DataFrame
  *              (a lazy logical plan; the DAG runner decides materialization)
  */
final case class Model(
    name: String,
    layer: String, // bronze | silver | gold
    deps: Seq[String],
    build: Map[String, DataFrame] => DataFrame)

/** Where materialized model outputs go — the dbt `+materialized: table`
  * full-refresh sink (dbt_project.yml:28-43). */
trait Sink {
  /** Persist `df` and return a re-readable DataFrame of what was written.
    * `write` must execute `df`, once, as the write's own query: [[Dag]]
    * takes the audit's target count from an observation on `df`. A sink
    * that never runs it fails the run, naming the model; a second run
    * of it, or a global sort above it, would count rows twice. */
  def write(layer: String, name: String, df: DataFrame): DataFrame
}

object Sink {
  /** Parquet full-refresh sink: `<root>/<layer>/<name>`. Models listed in
    * `partitions` are written partitioned by those columns (hive-style
    * directories → partition pruning for downstream readers at scale). */
  final case class Parquet(root: String,
      partitions: Map[String, Seq[String]] = Map.empty) extends Sink {
    def write(layer: String, name: String, df: DataFrame): DataFrame = {
      val path = s"$root/$layer/$name"
      val writer = df.write.mode("overwrite")
      partitions.get(name).filter(_.nonEmpty)
        .fold(writer)(cols => writer.partitionBy(cols: _*))
        .parquet(path)
      df.sparkSession.read.parquet(path)
    }
  }

  /** In-memory sink (tests / interactive): caches instead of writing. */
  final case class Cached() extends Sink {
    def write(layer: String, name: String, df: DataFrame): DataFrame = {
      df.cache()
      df.count() // materialize now, mirroring CREATE TABLE AS SELECT
      df
    }
  }

  /** Metastore sink: full-refresh `saveAsTable` into `<schema>_<layer>.
    * <model>` — the reference's catalog-table materialization
    * (`+schema: bronze|silver|gold` appended to the target schema,
    * dbt_project.yml:32,37,42 + profiles.yml:7), so a downstream SQL user
    * can `spark.table("insurance_gold.gold_customer_360")` exactly like
    * the warehouse consumers of the reference. Models in `partitions`
    * are written partitioned (catalog-tracked partition pruning).
    *
    * Only the DDL holds the process-wide [[ddlLock]]: the `CREATE
    * DATABASE IF NOT EXISTS` here and the audit-table append in
    * [[Dag.run]]. The CTAS data writes of same-level models overlap, as
    * dbt's `threads: 4` runs them (profiles.yml:12). DagConcurrencySpec
    * is the evidence that the session catalog takes concurrent
    * overwriting `saveAsTable`s, plain and partitioned, into one
    * database while `CREATE DATABASE IF NOT EXISTS` races them.
    */
  final case class Table(schema: String, format: String = "parquet",
      partitions: Map[String, Seq[String]] = Map.empty) extends Sink {
    def write(layer: String, name: String, df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val db = s"${schema}_$layer"
      val fqn = s"$db.$name"
      Sink.ddlLock.synchronized(spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
      val writer = df.write.mode("overwrite").format(format)
      partitions.get(name).filter(_.nonEmpty)
        .fold(writer)(cols => writer.partitionBy(cols: _*))
        .saveAsTable(fqn)
      spark.table(fqn)
    }
  }

  private[engine] val ddlLock = new Object
}

/** Topological DAG runner with the per-model audit post-hook — replaces
  * dbt's run lifecycle (SURVEY.md §3): parse/compile collapses into Scala
  * function composition, execution is per-model `CREATE TABLE AS SELECT`
  * (here: Sink.write), each followed by the row-count reconciliation
  * INSERT (models/bronze/customers_bronze.sql:4-19).
  *
  * Levels run one after another; the models of a level run concurrently
  * (dbt `threads: 4`, profiles.yml:12) through
  * [[graft.util.Parallel.inParallel]], at most `parallelism` at once. A
  * failing model lets its siblings finish writing, then `run` rethrows
  * its exception and no later level starts.
  *
  * Audit counts are observed during the writes, never counted with a
  * job of their own: each model's target count is an
  * [[org.apache.spark.sql.Observation]] on the frame handed to the
  * sink, and its source count is its first dependency's target count.
  * A raw input carries an Observation too, so its count arrives with
  * the first write that reads it: a model must read its first
  * dependency, or the run fails after a 60 s wait, naming it.
  */
final class Dag(models: Seq[Model], sink: Sink, clock: Clock = Clock.System,
    auditTable: Option[String] = None) {
  require(models.map(_.name).distinct.size == models.size, "duplicate model names")
  private val byName = models.map(m => m.name -> m).toMap

  /** Names in topological order (deps before dependents). */
  def topoOrder: Seq[String] = {
    val visiting = mutable.Set[String]()
    val done = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (!done.contains(n)) {
        require(visiting.add(n), s"cycle at $n")
        byName(n).deps.filter(byName.contains).foreach(visit)
        visiting.remove(n)
        done.add(n)
      }
    }
    models.map(_.name).foreach(visit)
    done.toSeq
  }

  /** Run the whole DAG.
    *
    * @param inputs  source tables (dbt `{{ source(...) }}` targets)
    * @param parallelism concurrent model builds within the DAG
    * @return (materialized output per model, audit-log rows in run order)
    */
  def run(inputs: Map[String, DataFrame], parallelism: Int = 4)
      : (Map[String, DataFrame], DataFrame) = {
    val spark = inputs.values.headOption.map(_.sparkSession)
      .getOrElse(SparkSession.active)
    // every raw input is observed before any model reads it
    val inputObs = inputs.map { case (n, _) => n -> Observation() }
    val outputs = mutable.Map[String, DataFrame]() ++ inputs.map {
      case (n, df) => n -> df.observe(inputObs(n), count(lit(1))) }
    // each written model's target count: its dependents' source count
    val counts = mutable.Map[String, Long]()
    val audit = mutable.ArrayBuffer[Row]()
    val lock = new Object

    def runModel(m: Model): Unit = {
      val depMap = lock.synchronized(outputs.toMap)
      val observed = Observation()
      val written = sink.write(m.layer, m.name,
        m.build(depMap).observe(observed, count(lit(1))))
      val tgtCount = Dag.observedRows(observed, s"model ${m.name}")
      // audit post-hook: source count = first dependency's row count,
      // target count = rows the write ran, bad_records = 0
      val srcCount = m.deps.headOption.fold(0L)(d =>
        lock.synchronized(counts.get(d)).getOrElse(
          Dag.observedRows(inputObs(d), s"input $d of model ${m.name}")))
      lock.synchronized {
        outputs(m.name) = written
        counts(m.name) = tgtCount
        // the injected clock — NOT the wall clock — so audit rows are
        // deterministic goldens under Clock.Fixed
        audit += Row(m.name, m.layer, java.sql.Timestamp.from(clock.instant),
          srcCount, tgtCount, 0L)
      }
    }

    // level-by-level: all models whose deps are satisfied run concurrently
    val pending = mutable.LinkedHashSet[String](topoOrder: _*)
    while (pending.nonEmpty) {
      val ready = pending.filter(n => byName(n).deps.forall(outputs.contains)).toSeq
      require(ready.nonEmpty, s"unsatisfiable deps among $pending")
      Parallel.inParallel(ready.map(n => () => runModel(byName(n))), parallelism)
      pending --= ready
    }

    // rows were appended by concurrently-finishing models; re-establish
    // run (= topological) order so the audit log is deterministic across
    // runs, as documented
    val topoIndex = topoOrder.zipWithIndex.toMap
    val ordered = audit.toSeq.sortBy(r => topoIndex(r.getString(0)))
    val auditDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ordered, 1), Schemas.auditLog)
    // durable audit: the reference post-hook INSERTs into ONE accumulating
    // logging table across runs (insurance_catalog.dbt_ykandi_logging
    // .dbt_logs, models/bronze/customers_bronze.sql:4-19); an appending
    // saveAsTable is the Spark-native equivalent
    auditTable.foreach { fqn =>
      Sink.ddlLock.synchronized {
        fqn.split('.') match {
          case Array(db, _) => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
          case _ => ()
        }
        auditDf.write.mode("append").format("parquet").saveAsTable(fqn)
      }
    }
    (outputs.toMap -- inputs.keys, auditDf)
  }
}

object Dag {
  /** A write has run when `Sink.write` returns; only the listener-bus
    * delivery of its observed counts remains (milliseconds). The bound
    * separates a slow bus from a sink or model that never ran the
    * observed frame. */
  private val ObservedWait = 60.seconds

  private def observedRows(o: Observation, what: String): Long =
    try Await.result(o.future, ObservedWait).getLong(0)
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(s"$what: no row count observed " +
        s"within $ObservedWait of the write; its frame never ran")
    }
}
