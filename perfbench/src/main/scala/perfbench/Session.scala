package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** The benchmark's one SparkSession: `local[4]` with 4 shuffle
  * partitions (the DAG's own `parallelism = 4`), the confs graft.Bench
  * sets, and every Spark scratch path (warehouse, local dirs) inside the
  * run's work directory so a run leaves nothing elsewhere. */
object Session {
  val Cores = 4

  def create(work: File): SparkSession = {
    val warehouse = new File(work, "warehouse")
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", local.getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
