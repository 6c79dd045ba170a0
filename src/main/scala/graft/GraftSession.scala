package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test suite's shared
  * session build through [[apply]], so the engine runs under one set of
  * confs wherever it starts.
  */
object GraftSession {

  /** Every core the JVM sees: the cpus fallback of the measurement mains. */
  def allCores: Int = Runtime.getRuntime.availableProcessors()

  /** The cores a main runs on: `SPARK_GRAFT_CPUS`, else `fallback`. */
  def cpus(fallback: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS: expected a positive integer, got '$v'"))
    case None => fallback
  }

  /** Build (or return the live) session on `master` (default
    * `local[cpus]`) with `cpus` shuffle partitions, a UTC session clock
    * and no UI.
    *
    *  - DSv2 storage-partitioned joins (KeyGroupedPartitioning zip) are
    *    on at build time, so q161 never mutates the shared session.
    *  - events.parquet carries TIMESTAMP(NANOS), which Spark reads only
    *    as longs; `Tables.events` converts them.
    */
  def apply(cpus: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The `k=v` pairs of a `;`-separated conf list; blank entries are
    * skipped and any other entry without a key and `=` throws. */
  private[graft] def parseConf(list: String): Seq[(String, String)] =
    list.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
        case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF: expected k=v, got '$kv'")
      }
    }

  /** Config-bisect hook for A/B measurements without code edits: set each
    * `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` pair on the live session. These
    * are runtime overrides, so a child session made by `newSession` (q161
    * plans on one) does not see them. */
  def applyExtraConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
}
