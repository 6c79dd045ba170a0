package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal DataSource V2 `TableCatalog` backing [[ClusteredSink]] tables
  * with a warehouse directory — the piece that lets the sink's write
  * modes run END-TO-END through Catalyst SQL instead of only through the
  * path-based `DataFrameWriter` API:
  *
  *   CREATE TABLE graft_cat.db.t (key BIGINT, bucket BIGINT, ...)
  *     PARTITIONED BY (bucket)          -- identity transform = clusterBy
  *   INSERT INTO graft_cat.db.t ...     -- append (BATCH_WRITE)
  *   INSERT OVERWRITE graft_cat.db.t .. -- static: OverwriteByExpression;
  *                                      -- dynamic (partitionOverwriteMode
  *                                      -- =dynamic): OverwritePartitionsDynamic
  *   df.writeTo("graft_cat.db.t").overwrite(cond)  -- filter overwrite
  *
  * Registration (runtime conf, lazily instantiated on first reference):
  *   spark.sql.catalog.<name> = graft.sources.v2.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = /some/dir
  *
  * Layout: `<warehouse>/<ns...>/<table>/` holding `_table.json` (schema
  * JSON + clusterBy/sortBy + `"format":"parquet"`) beside the sink's own
  * `data/` + `_manifest.jsonl`. A `_table.json` without that format
  * entry, or with another one, is a table from the deleted JSON-lines
  * payload: loading it fails loudly, and the fix is to drop and rebuild
  * it ([[graft.engine.Warehouse.adopt]] treats it as absent, so the
  * engine's own builders do exactly that). Metadata operations are
  * directory operations; the DATA commit protocol stays entirely in
  * [[ClusteredSinkBatchWrite]] — the catalog resolves identifiers to
  * tables and never touches data files, which is the Iceberg/Delta
  * separation of catalog vs table format.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Paths.get(Option(options.get("warehouse")).getOrElse(
      sys.error(s"catalog $name requires 'warehouse' option " +
        s"(spark.sql.catalog.$name.warehouse)")))
    Files.createDirectories(warehouse)
  }

  override def name(): String = catName

  /** ADD COLUMN ... DEFAULT support (metadata-only; see alterTable). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => p.resolve(s))
  private def tblDir(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(ident.name)
  private def metaFile(ident: Identifier): Path =
    tblDir(ident).resolve("_table.json")

  /** `Files.list` returns a Stream holding an OPEN directory descriptor —
    * every call site goes through here so the stream is always closed
    * (a long-lived session doing metadata ops must not leak fds). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq finally s.close()
  }

  // ------------------------------------------------------------- tables
  override def listTables(ns: Array[String]): Array[Identifier] = {
    val dir = nsDir(ns)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(ns)
    listDir(dir)
      .filter(d => Files.exists(d.resolve("_table.json")))
      .map(d => Identifier.of(ns, d.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.exists(metaFile(ident))

  /** The table's `_table.json`, refused unless its payload is parquet. */
  private def readMeta(ident: Identifier): com.fasterxml.jackson.databind.JsonNode = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(metaFile(ident)))
    val format = Option(n.get("format")).map(_.asText)
    if (!format.contains(ClusteredSinkFormat.Parquet))
      throw new IllegalStateException(s"graft catalog: table $ident has " +
        s"payload format ${format.getOrElse("absent (JSON lines)")}, not " +
        "parquet, the only payload; drop the table and rebuild it")
    n
  }

  override def loadTable(ident: Identifier): Table = {
    val n = readMeta(ident)
    val schema = DataType.fromJson(n.get("schema").asText).asInstanceOf[StructType]
    val props = new util.HashMap[String, String]()
    props.put("path", tblDir(ident).toString)
    props.put("clusterBy", n.get("clusterBy").asText)
    props.put("sortBy", n.get("sortBy").asText)
    // filePerKey (the SPJ layout) is a persisted table property so every
    // writer of the table honors it — absent in pre-existing metadata
    if (n.has("filePerKey") && n.get("filePerKey").asBoolean)
      props.put("filePerKey", "true")
    // durable graft.* user properties (r15) — absent in older metadata
    readCustom(n).foreach { case (k, v) => props.put(k, v) }
    new ClusteredSinkTable(schema, props, ident.toString)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val idParts = partitions.collect { case t if t.name == "identity" =>
      t.references.head.fieldNames.mkString(".") }
    require(partitions.length == idParts.length && idParts.length <= 1,
      "graft catalog tables support at most one identity PARTITIONED BY " +
        "column (it becomes the sink's clusterBy)")
    def prop(k: String): Option[String] =
      Option(properties.get(TableCatalog.OPTION_PREFIX + k))
        .orElse(Option(properties.get(k)))
    def opt(k: String, dflt: String): String = prop(k).getOrElse(dflt)
    val clusterBy = idParts.headOption.getOrElse(opt("clusterBy", "bucket"))
    val sortBy = opt("sortBy", "key")
    val filePerKey = opt("filePerKey", "false").toBoolean
    ClusteredSinkFormat.requireParquet(prop("format"))
    require(schema.fieldNames.contains(clusterBy) &&
      schema.fieldNames.contains(sortBy),
      s"clusterBy/sortBy ($clusterBy/$sortBy) must be table columns")
    Files.createDirectories(tblDir(ident))
    writeMeta(ident, schema, clusterBy, sortBy, filePerKey,
      customProps(properties))
    loadTable(ident)
  }

  /** Schema evolution by `_table.json` rewrite; no change touches a data
    * file. Parquet segments name their columns (no Iceberg field ids),
    * which dictates how each change is recorded:
    *
    *   - ADD COLUMN (nullable): the new schema's column is absent from
    *     every old segment and reads as null there. `ADD COLUMN ...
    *     DEFAULT v` stores the literal in the field metadata, and old
    *     segments read it instead of null; segments written after the
    *     alter carry explicit values, nulls included.
    *   - DROP COLUMN: the stale column in old segments is no longer
    *     requested. Its physical names become tombstones (`graft.dropped`)
    *     so a later ADD or RENAME cannot resurrect the old bytes.
    *     clusterBy/sortBy columns cannot be dropped (the layout is keyed
    *     on them).
    *   - RENAME COLUMN: the alias log (`graft.aliases`) records each
    *     column's historical names, and readers resolve a requested
    *     column per segment through it. Copy-on-write rewrites re-encode
    *     under the current names. A name that is another column's
    *     history, or a tombstone, is refused.
    *
    * Raw-directory readers see the physical names only (see
    * [[ClusteredSinkBatchWrite]]'s crash-recovery note). Anything else
    * (type changes, nested fields, nullability) fails loudly — silently
    * accepting a change the storage cannot honor is how tables corrupt.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val n = readMeta(ident)
    var schema = DataType.fromJson(n.get("schema").asText).asInstanceOf[StructType]
    var clusterBy = n.get("clusterBy").asText
    var sortBy = n.get("sortBy").asText
    val filePerKey = n.has("filePerKey") && n.get("filePerKey").asBoolean
    var custom = readCustom(n)
    val renames = Seq.newBuilder[(String, String)]
    changes.foreach {
      case p: TableChange.SetProperty =>
        require(p.property.startsWith("graft."),
          "graft catalog SET TBLPROPERTIES: only graft.* keys are durable")
        custom += p.property -> p.value
      case p: TableChange.RemoveProperty =>
        require(p.property.startsWith("graft."),
          "graft catalog UNSET TBLPROPERTIES: only graft.* keys are durable")
        custom -= p.property
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft catalog ALTER TABLE: nested columns are not supported")
        require(a.isNullable,
          "graft catalog ALTER TABLE: added columns must be nullable " +
            "(rows in existing files read as null)")
        val name = a.fieldNames.head
        require(!schema.fieldNames.contains(name),
          s"ALTER TABLE: column $name already exists")
        // a name that is some column's HISTORICAL name (metadata-only
        // rename) still resolves in old files — reusing it for a new
        // column would surface the old column's data under the new one
        require(!GraftCatalog.decodeAliases(custom).values
            .exists(_.contains(name)),
          s"ALTER TABLE: $name is a renamed column's historical name; " +
            "reusing it would resurrect old data under the new column")
        // same for a DROPPED column's tombstoned physical names: old
        // segments still carry the stale bytes (drop is metadata-only)
        require(!GraftCatalog.decodeDropped(custom).contains(name),
          s"ALTER TABLE: $name is a dropped column's physical name; " +
            "reusing it would resurrect the dropped data under the " +
            "new column")
        // ADD COLUMN ... DEFAULT v (r16 verdict task 8): the default is
        // METADATA-ONLY too — the evaluated literal rides the field
        // metadata under Spark's own EXISTS_DEFAULT/CURRENT_DEFAULT
        // keys; segments written before the alter (which lack the
        // column entirely) read the default, segments written after
        // carry explicit values.
        val meta = Option(a.defaultValue()) match {
          case None => Metadata.empty
          case Some(dv) =>
            val lit = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value, dv.getValue.dataType)
            new MetadataBuilder()
              .putString("EXISTS_DEFAULT", lit.sql)
              .putString("CURRENT_DEFAULT", lit.sql)
              .build()
        }
        schema = schema.add(
          StructField(name, a.dataType, nullable = true, metadata = meta))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft catalog ALTER TABLE: nested columns are not supported")
        val from = r.fieldNames.head
        val to = r.newName
        require(schema.fieldNames.contains(from),
          s"ALTER TABLE: no column $from")
        require(!schema.fieldNames.contains(to),
          s"ALTER TABLE: column $to already exists")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        if (clusterBy == from) clusterBy = to
        if (sortBy == from) sortBy = to
        renames += (from -> to)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft catalog ALTER TABLE: nested columns are not supported")
        val name = d.fieldNames.head
        require(name != clusterBy && name != sortBy,
          s"ALTER TABLE: cannot drop layout column $name (clusterBy/sortBy)")
        require(schema.fieldNames.contains(name),
          s"ALTER TABLE: no column $name")
        schema = StructType(schema.fields.filterNot(_.name == name))
        // DROP is metadata-only: the bytes stay in old segments. The
        // column's physical names (itself + alias history) become
        // TOMBSTONES so a later ADD cannot silently resurrect them
        // (r16 verdict task 8; Iceberg dodges this with field ids).
        val hist = GraftCatalog.decodeAliases(custom)
          .getOrElse(name, Seq.empty).toSet + name
        val dropped = GraftCatalog.decodeDropped(custom) ++ hist
        val al = GraftCatalog.decodeAliases(custom) - name
        custom = (custom - GraftCatalog.AliasProp
            - GraftCatalog.DroppedProp) ++
          (if (al.isEmpty) Map.empty
           else Map(GraftCatalog.AliasProp ->
             GraftCatalog.encodeAliases(al))) ++
          Map(GraftCatalog.DroppedProp -> GraftCatalog.encodeDropped(dropped))
      case other => throw new UnsupportedOperationException(
        s"graft catalog ALTER TABLE supports ADD/RENAME/DROP COLUMN only; got $other")
    }
    val rs = renames.result()
    if (rs.nonEmpty) {
      // rename is METADATA-ONLY (r16): the alias log records each
      // column's historical names and readers resolve a required column
      // against old files through it (the poor engine's Iceberg field
      // ids). Data files are never touched.
      var aliases = GraftCatalog.decodeAliases(custom)
      rs.foreach { case (from, to) =>
        require(!from.exists(";|=".contains(_)) &&
          !to.exists(";|=".contains(_)),
          "ALTER TABLE RENAME: ';', '|', '=' not allowed in column names")
        // `to` must not be ANOTHER column's historical name: readers
        // try a column's current name first, so in pre-rename
        // segments the renamed column would silently resolve to the
        // old physical column's data (r16 advice — same resurrect
        // class the AddColumn guard blocks). Renaming a column BACK
        // to a name in its own history is safe: that physical column
        // is the same logical column.
        require(!aliases.exists { case (cur, hist) =>
            cur != from && hist.contains(to) },
          s"ALTER TABLE RENAME: $to is another column's historical " +
            "name; reusing it would resolve old segments' data under " +
            "the renamed column")
        // `to` must not be a DROPPED column's tombstoned physical
        // name either (r17 advice): DROP removes the name from the
        // alias map, so the guard above alone would let a rename
        // adopt it — and readers resolve the current name first, so
        // pre-drop segments would serve the dropped column's stale
        // bytes under the renamed column. Same resurrect class the
        // AddColumn tombstone guard blocks.
        require(!GraftCatalog.decodeDropped(custom).contains(to),
          s"ALTER TABLE RENAME: $to is a dropped column's physical " +
            "name; reusing it would resurrect the dropped data under " +
            "the renamed column")
        aliases += to -> (aliases.getOrElse(from, Seq.empty) :+ from)
        aliases -= from
      }
      custom = (custom - GraftCatalog.AliasProp) ++
        (if (aliases.isEmpty) Map.empty
         else Map(GraftCatalog.AliasProp -> GraftCatalog.encodeAliases(aliases)))
    }
    writeMeta(ident, schema, clusterBy, sortBy, filePerKey, custom)
    loadTable(ident)
  }

  private def writeMeta(
      ident: Identifier, schema: StructType, clusterBy: String,
      sortBy: String, filePerKey: Boolean,
      custom: Map[String, String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val propsNode = m.createObjectNode()
    custom.toSeq.sortBy(_._1).foreach { case (k, v) => propsNode.put(k, v) }
    val meta =
      s"""{"schema":${com.fasterxml.jackson.databind.node.TextNode.valueOf(schema.json)},""" +
        s""""clusterBy":"$clusterBy","sortBy":"$sortBy",""" +
        s""""format":"${ClusteredSinkFormat.Parquet}",""" +
        s""""filePerKey":$filePerKey,""" +
        s""""props":${m.writeValueAsString(propsNode)}}"""
    Files.write(metaFile(ident), meta.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** User table properties persisted in `_table.json`: namespaced under
    * `graft.` so engine-internal keys Spark attaches to CREATE (owner,
    * provider, location, …) never leak into durable metadata. The ANN
    * index persists its trained codebook this way (`graft.codebook`),
    * which is what makes the index survive a process restart. */
  private def customProps(properties: util.Map[String, String])
      : Map[String, String] =
    properties.asScala.filter(_._1.startsWith("graft.")).toMap

  private def readCustom(n: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, String] =
    if (!n.has("props")) Map.empty
    else {
      val p = n.get("props")
      p.fieldNames.asScala.map(k => k -> p.get(k).asText).toMap
    }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) listDir(p).foreach(rm)
        Files.deleteIfExists(p); ()
      }
      rm(tblDir(ident)); true
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(nsDir(to.namespace))
    Files.move(tblDir(from), tblDir(to))
  }

  // --------------------------------------------------------- namespaces
  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || Files.isDirectory(nsDir(ns))

  override def listNamespaces(): Array[Array[String]] =
    listDir(warehouse)
      .filter(p => Files.isDirectory(p) && !Files.exists(p.resolve("_table.json")))
      .map(p => Array(p.getFileName.toString)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (ns.isEmpty) listNamespaces() else Array.empty
  }

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      ns: Array[String], metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(nsDir(ns)); ()
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespaces carry no metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(ns)
    if (!Files.isDirectory(dir)) false
    else {
      require(cascade || listDir(dir).isEmpty,
        s"namespace ${ns.mkString(".")} is not empty")
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) listDir(p).foreach(rm)
        Files.deleteIfExists(p); ()
      }
      rm(dir); true
    }
  }
}

object GraftCatalog {
  /** Durable table property holding the column-rename alias log:
    * `current=old1|old2;current2=old3` — each current column name maps
    * to its historical names, oldest first. Parquet-payload renames are
    * metadata-only; readers resolve a required column against old files
    * through this log. */
  val AliasProp = "graft.aliases"

  def encodeAliases(a: Map[String, Seq[String]]): String =
    a.toSeq.sortBy(_._1)
      .map { case (to, olds) => s"$to=${olds.mkString("|")}" }
      .mkString(";")

  def decodeAliases(props: Map[String, String]): Map[String, Seq[String]] =
    props.get(AliasProp).filter(_.nonEmpty).map { s =>
      s.split(";").toSeq.map { e =>
        val Array(to, olds) = e.split("=", 2)
        to -> olds.split("\\|").toSeq
      }.toMap
    }.getOrElse(Map.empty)

  /** Java-map overload for reader-side property maps. */
  def decodeAliases(props: java.util.Map[String, String])
      : Map[String, Seq[String]] =
    decodeAliases(Option(props.get(AliasProp))
      .map(v => Map(AliasProp -> v)).getOrElse(Map.empty))

  /** Durable table property holding the DROPPED-column tombstones:
    * physical column names (the dropped column's own name plus its
    * alias history) that still exist in old parquet segments but must
    * never be resolved again. Without field ids, re-adding a
    * tombstoned name cannot distinguish pre-drop segments (stale data)
    * from post-re-add segments — so ADD COLUMN refuses tombstoned
    * names, loudly (the same resurrect class the alias guard blocks). */
  val DroppedProp = "graft.dropped"

  def decodeDropped(props: Map[String, String]): Set[String] =
    props.get(DroppedProp).filter(_.nonEmpty)
      .map(_.split(";").toSet).getOrElse(Set.empty)

  def encodeDropped(d: Set[String]): String = d.toSeq.sorted.mkString(";")
}
