package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** Test fixture: a graft catalog table as the deleted JSON-lines payload
  * left it in a durable warehouse — a `_table.json` with no `format`
  * entry (or `"json"`), one `.json` segment and a manifest naming it. */
object LegacyJsonTable {

  /** Replace whatever is at `dir` with a JSON-era table holding `rows`
    * (JSON lines) under the given layout and `graft.*` properties. */
  def plant(dir: Path, schema: StructType, clusterBy: String,
      sortBy: String, rows: Seq[String], format: Option[String] = None,
      filePerKey: Boolean = false,
      props: Map[String, String] = Map.empty): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val ls = Files.list(p)
        val kids = try ls.iterator().asScala.toList finally ls.close()
        kids.foreach(rm)
      }
      Files.deleteIfExists(p); ()
    }
    rm(dir)
    Files.createDirectories(dir.resolve("data"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = m.createObjectNode()
    meta.put("schema", schema.json)
    meta.put("clusterBy", clusterBy)
    meta.put("sortBy", sortBy)
    format.foreach(meta.put("format", _))
    meta.put("filePerKey", filePerKey)
    val p = meta.putObject("props")
    props.foreach { case (k, v) => p.put(k, v) }
    def write(name: String, text: String): Unit = {
      Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8)); ()
    }
    write("_table.json", m.writeValueAsString(meta))
    val seg = "part-legacy-00000.json"
    write(s"data/$seg", rows.map(_ + "\n").mkString)
    write("_manifest.jsonl", s"""{"file":"$seg","rows":${rows.size},""" +
      """"min_cluster":null,"max_cluster":null,"min_sort":null,""" +
      """"max_sort":null}""" + "\n")
    write("_SUCCESS", "")
  }

  /** Directory of the graft catalog table `df` scans. */
  def dirOf(df: DataFrame): Path =
    df.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r.table.properties.get("path")
    }.map(java.nio.file.Paths.get(_)).getOrElse(
      sys.error("not a graft catalog table scan"))
}
