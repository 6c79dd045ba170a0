package graft.engine

import scala.collection.mutable

/** dbt-style authoring surface: models written as Spark SQL SELECTs with
  * `{{ ref('name') }}` / `{{ source('name') }}` markers, compiled into
  * [[Model]]s for the [[Dag]] runner. This is the migration path for a
  * user of the reference project: keep writing SQL, swap dbt's
  * render+warehouse for Catalyst (SURVEY.md §3 — dbt's compile phase
  * collapses into view substitution, its manifest into the deps graph).
  */
object SqlModels {
  private val refRe =
    """\{\{\s*(?:ref|source)\(\s*['"]([A-Za-z0-9_]+)['"]\s*\)\s*\}\}""".r

  /** Dependencies referenced by a SQL body. */
  def deps(sql: String): Seq[String] =
    refRe.findAllMatchIn(sql).map(_.group(1)).toSeq.distinct

  /** Compile one SQL model: refs resolve to temp views over the upstream
    * outputs at build time. View names are scoped per model (the DAG
    * builds same-level models concurrently — a shared name would race),
    * and dropped as soon as `spark.sql` has analyzed the plan: view
    * resolution happens at analysis time, so the returned DataFrame does
    * not depend on the view surviving.
    */
  def model(name: String, layer: String, sql: String): Model =
    Model(name, layer, deps(sql), depMap => {
      // dep-less models (pure literal SELECTs) have an empty depMap
      val spark = depMap.values.headOption.map(_.sparkSession)
        .getOrElse(org.apache.spark.sql.SparkSession.active)
      val views = mutable.ListBuffer[String]()
      val resolved = refRe.replaceAllIn(sql, m => {
        val dep = m.group(1)
        val view = s"__graft_dep_${name}_$dep"
        depMap(dep).createOrReplaceTempView(view)
        views += view
        view
      })
      try spark.sql(resolved)
      finally views.foreach(spark.catalog.dropTempView(_))
    })

  /** Build a DAG straight from (name, layer, sql) triples. */
  def dag(models: Seq[(String, String, String)], sink: Sink,
      clock: Clock = Clock.System): Dag =
    new Dag(models.map { case (n, l, s) => model(n, l, s) }, sink, clock)
}
