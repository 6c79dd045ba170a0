package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze layer — thin cast-only ingestion (SURVEY.md §2.2 P1).
  *
  * One generic function replaces all four bronze models
  * (models/bronze/{customers,policies,claims,premiums}_bronze.sql): each
  * is a pure projection of `CAST(col AS type) AS col` onto the declared
  * schema. Missing input columns (e.g. `_rescued_data` when reading clean
  * fixtures) become typed NULLs, mirroring Auto Loader's rescue column
  * being NULL for schema-conformant rows.
  *
  * Scale: a cast-projection keeps whole-stage codegen and lets Parquet
  * column pruning see exactly the declared columns — no shuffle, no UDF.
  */
object Bronze {
  def castProjection(raw: DataFrame, target: StructType): DataFrame = {
    val have = raw.columns.toSet
    // S5 file-metadata capture: when the upstream didn't materialize
    // source_file_path/time columns (Auto Loader would have), recover them
    // from Spark's hidden _metadata struct for file-based sources
    // (models/bronze/customers_bronze.sql:40-41). Lazy: the probe is a
    // failing analysis on non-file inputs, which the session's listeners
    // (Observation's among them) then log as an error
    lazy val hasFileMetadata =
      scala.util.Try(raw.select(col("_metadata.file_path"))).isSuccess
    raw.select(target.fields.toSeq.map { f =>
      val c =
        if (have.contains(f.name)) col(f.name)
        else if (f.name == "source_file_path" && hasFileMetadata)
          col("_metadata.file_path")
        else if (f.name == "source_file_time" && hasFileMetadata)
          col("_metadata.file_modification_time")
        else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)
  }

  def customers(raw: DataFrame): DataFrame = castProjection(raw, Schemas.customers)
  def policies(raw: DataFrame): DataFrame = castProjection(raw, Schemas.policies)
  def claims(raw: DataFrame): DataFrame = castProjection(raw, Schemas.claims)
  def premiums(raw: DataFrame): DataFrame = castProjection(raw, Schemas.premiums)
}
