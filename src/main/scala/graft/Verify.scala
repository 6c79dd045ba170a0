package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (iteration aid);
    // a blank arg means "no filter" — an empty shell expansion must not
    // silently select zero queries and fake a green full run. Names are
    // checked before the session starts.
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2).trim.nonEmpty)
        Some(SparkEntry.queryNames(args(2)).toSet) else None
    val spark = GraftSession(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // loud, greppable failure summary — a swallowed per-query error must
    // not masquerade as a green run (sbt still prints [success] on exit 0)
    if (failed.nonEmpty)
      println(s"[verify] FAILED_QUERIES=${failed.mkString(",")}")
    else println("[verify] ALL_QUERIES_WROTE")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
