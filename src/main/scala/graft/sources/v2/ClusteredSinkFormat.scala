package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The payload of every [[ClusteredSink]] table: one parquet segment
  * per committed file, written through the parquet-hadoop Example API
  * (snappy-compressed, columnar) and read with the projection pushed
  * into the decoder. The commit protocol, manifest planning and SPJ
  * machinery never look inside a segment; this module is the only
  * code that does. Parquet covers every write mode: append, truncate,
  * overwrite-by-filter and dynamic copy-on-write
  * ([[ClusteredSinkOverwrite.rewriteParquet]]), streaming epochs, and
  * the metadata-only column evolution of [[GraftCatalog]].
  *
  * Tables left by the deleted JSON-lines payload are refused at load
  * ([[GraftCatalog]]) and at scan planning ([[ClusteredSinkScan]]); the
  * fix is to drop and rebuild them.
  *
  * Types mirror the sink's contract: LONG/INT/DOUBLE/BOOLEAN/STRING,
  * all optional (null = field absent in the row's record).
  */
object ClusteredSinkFormat {
  val Parquet = "parquet"

  /** A `format` table property or write option may only name the one
    * payload. The check stays because the value comes from DDL and
    * write options outside the program. */
  def requireParquet(format: Option[String]): Unit =
    format.foreach(f => require(f == Parquet,
      s"graft-sink: unsupported format '$f'; parquet is the only payload"))

  def messageType(schema: StructType, name: String = "graft_sink")
      : MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val p: PrimitiveType = f.dataType match {
        case LongType => Types.optional(INT64).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case BooleanType => Types.optional(BOOLEAN).named(f.name)
        case StringType =>
          Types.optional(BINARY).as(stringType()).named(f.name)
        case dt => sys.error(s"graft-sink parquet: unsupported type $dt")
      }
      b.addField(p)
    }
    b.named(name)
  }

  /** Hadoop conf that resolves `file://` through RawLocalFileSystem
    * (fresh instance, not the process-wide cached one): the default
    * checksummed LocalFileSystem leaves a `.name.crc` sidecar next to
    * every segment written under `_tmp/`, which neither the commit-time
    * `Files.move`, `abort()`, nor the orphan GC (which scans only
    * `part-*` in data/) ever removes — unbounded litter on long-lived
    * tables (r14 ADVICE). */
  private[v2] def rawFsConf(): Configuration = {
    val conf = new Configuration(false)
    conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** A committed segment as parquet-mr input, read with the sink's own
    * conf. parquet-mr's one-argument `ParquetFileReader.open` and
    * `ParquetReader.builder(support, path)` derive their options from a
    * fresh default Configuration, which parses Hadoop's XML resources
    * once per file — measured as nearly all of a segment reader's
    * construction time. */
  private def inputFile(file: String, conf: Configuration) =
    org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new HPath(file), conf)

  private def openSegment(file: String, conf: Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(inputFile(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Segment writer over the Example Group API. */
  final class ParquetSegment(path: String, schema: StructType) {
    private val mt = messageType(schema)
    private val writer: ParquetWriter[Group] =
      ExampleParquetWriter.builder(new HPath(path))
        .withType(mt)
        .withConf(rawFsConf())
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()

    def write(row: InternalRow): Unit = {
      val g = new SimpleGroup(mt)
      var i = 0
      while (i < schema.length) {
        if (!row.isNullAt(i)) schema.fields(i).dataType match {
          case LongType => g.add(i, row.getLong(i))
          case IntegerType => g.add(i, row.getInt(i))
          case DoubleType => g.add(i, row.getDouble(i))
          case BooleanType => g.add(i, row.getBoolean(i))
          case StringType => g.add(i, row.getUTF8String(i).toString)
          case dt => sys.error(s"graft-sink parquet: unsupported type $dt")
        }
        i += 1
      }
      writer.write(g)
    }

    def close(): Unit = writer.close()
  }

  /** Direct parquet-mr → InternalRow materializer: primitive converters
    * write straight into a reused values array — no Example `Group`
    * object per record, no boxing through the Group accessors, and no
    * per-row field-name lookups (output positions are resolved ONCE at
    * construction). The r14 Example-API reader resolved every field by
    * name for every row (`getType.getFieldIndex` — a string hash probe
    * per VALUE) and materialized a SimpleGroup per record; at the
    * org-100× graph soak that row tax made the loop 1.9× native
    * bucketBy (components-loop A/B, SCALE.md) — this materializer is
    * what closes it. */
  private final class RowMaterializer(requested: MessageType,
      required: StructType, outIndexOf: Map[String, Int])
      extends org.apache.parquet.io.api.RecordMaterializer[InternalRow] {
    import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
    import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
    // r16: converters write UNBOXED primitives straight into a reused
    // UnsafeRowWriter. The r15 materializer still paid three per-record
    // taxes the org-100× A/B could see (1.29× native on the graph
    // loop): autoboxing every value into an Array[Any], cloning that
    // array, and wrapping a GenericInternalRow that downstream codegen
    // re-converted to unsafe at the first exchange. Emitting the
    // UnsafeRow here removes all three; the row buffer is REUSED across
    // next() calls — the standard Spark row-reader contract (operators
    // that buffer rows copy them; Spark's own row-based parquet reader
    // returns a reused row the same way).
    private val writer = new UnsafeRowWriter(required.length)
    private val delivered = new Array[Boolean](required.length)
    private val converters: Array[Converter] = {
      import scala.jdk.CollectionConverters._
      requested.getFields.asScala.map { f =>
        val out = outIndexOf(f.getName)
        required.fields(out).dataType match {
          case LongType => new PrimitiveConverter {
            override def addLong(v: Long): Unit = {
              writer.write(out, v); delivered(out) = true
            }
          }
          case IntegerType => new PrimitiveConverter {
            override def addInt(v: Int): Unit = {
              writer.write(out, v); delivered(out) = true
            }
          }
          case DoubleType => new PrimitiveConverter {
            override def addDouble(v: Double): Unit = {
              writer.write(out, v); delivered(out) = true
            }
          }
          case BooleanType => new PrimitiveConverter {
            override def addBoolean(v: Boolean): Unit = {
              writer.write(out, v); delivered(out) = true
            }
          }
          case StringType => new PrimitiveConverter {
            override def addBinary(v: Binary): Unit = {
              writer.write(out, UTF8String.fromBytes(v.getBytes))
              delivered(out) = true
            }
          }
          case dt => sys.error(s"graft-sink parquet read: $dt")
        }
      }.toArray
    }
    // positions whose column is ABSENT from this file and carries an
    // EXISTS_DEFAULT: fill with the default instead of null. Positions
    // covered by a converter (column present; value may be a genuine
    // null) never default-fill.
    private val fillOps: Array[() => Unit] = {
      val covered = outIndexOf.values.toSet
      required.fields.zipWithIndex.map { case (f, i) =>
        if (covered(i)) null
        else existsDefault(f) match {
          case None => null
          case Some(v) => f.dataType match {
            case LongType =>
              val x = v.asInstanceOf[Long]; () => writer.write(i, x)
            case IntegerType =>
              val x = v.asInstanceOf[Int]; () => writer.write(i, x)
            case DoubleType =>
              val x = v.asInstanceOf[Double]; () => writer.write(i, x)
            case BooleanType =>
              val x = v.asInstanceOf[Boolean]; () => writer.write(i, x)
            case StringType =>
              val x = v.asInstanceOf[UTF8String]; () => writer.write(i, x)
            case dt => sys.error(s"graft-sink default fill: $dt")
          }
        }
      }
    }
    private val root: GroupConverter = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit = {
        writer.reset()
        writer.zeroOutNullBytes()
        java.util.Arrays.fill(delivered, false)
      }
      override def end(): Unit = {
        // fields the file never delivered for this record (null values,
        // or columns added after the segment was written) become null —
        // unless the column is absent from the file AND carries an
        // ADD COLUMN default
        var i = 0
        while (i < delivered.length) {
          if (!delivered(i)) {
            if (fillOps(i) != null) fillOps(i)()
            else writer.setNullAt(i)
          }
          i += 1
        }
      }
    }
    override def getRootConverter: GroupConverter = root
    override def getCurrentRecord: InternalRow = writer.getRow
  }

  private final class InternalRowReadSupport(required: StructType,
      present: StructType, outIndexOf: Map[String, Int])
      extends org.apache.parquet.hadoop.api.ReadSupport[InternalRow] {
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    override def init(context: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(messageType(present))
    override def prepareForRead(
        conf: Configuration,
        keyValueMetaData: java.util.Map[String, String],
        fileSchema: MessageType,
        readContext: ReadSupport.ReadContext)
        : org.apache.parquet.io.api.RecordMaterializer[InternalRow] =
      new RowMaterializer(readContext.getRequestedSchema, required,
        outIndexOf)
  }

  /** Per-file column resolution for a required field: the field's own
    * name, else its historical names newest-first (metadata-only
    * renames — the alias log stands in for Iceberg field ids). */
  private[v2] def resolveFileColumn(name: String,
      aliases: Map[String, Seq[String]],
      fileFields: Set[String]): Option[String] =
    (name +: aliases.getOrElse(name, Seq.empty).reverse).find(fileFields)

  /** EXISTS_DEFAULT fill value (internal row format) for a required
    * field that is ABSENT from a segment — i.e. the segment was written
    * before the column's `ADD COLUMN ... DEFAULT v` (r16 verdict task
    * 8). The evaluated literal rides the field metadata under Spark's
    * own key as a SQL string; parsing happens once per reader, never
    * per row. Fields without a default (or columns present in the file,
    * including explicit nulls) are untouched. */
  private[v2] def existsDefault(f: StructField): Option[Any] =
    if (!f.metadata.contains("EXISTS_DEFAULT")) None
    else {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(f.metadata.getString("EXISTS_DEFAULT"))
      val lit = e match {
        case l: Literal => l
        case other => Literal.create(other.eval(null), other.dataType)
      }
      val v =
        if (lit.dataType == f.dataType) lit.value
        else Cast(lit, f.dataType, Some("UTC")).eval(null)
      Option(v)
    }

  /** Row iterator over a committed parquet segment, projecting only the
    * `required` columns (the projection is pushed into the decoder via
    * the requested schema — untouched columns are never decompressed). */
  final class ParquetRows(file: String, required: StructType,
      aliases: Map[String, Seq[String]] = Map.empty)
      extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
    private val conf = rawFsConf()
    // The requested schema must be the INTERSECTION of the required
    // columns with the file's own schema: after ALTER TABLE ADD COLUMN,
    // segments written before the alter lack the new field and
    // parquet-mr rejects a requested field absent from the file
    // (r14 ADVICE) — missing fields surface as null, or as their ADD
    // COLUMN default (the materializer's record-start fill covers
    // them).
    private val fileFields: Set[String] = {
      val r = openSegment(file, conf)
      try {
        import scala.jdk.CollectionConverters._
        r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
      } finally r.close()
    }
    // alias-aware projection: each required field resolves to its own
    // or a historical column name in THIS file; the requested schema
    // carries the FILE's names, the materializer maps them back to the
    // required output positions
    private val resolved: Seq[(Int, String)] =
      required.fields.zipWithIndex.flatMap { case (f, i) =>
        resolveFileColumn(f.name, aliases, fileFields).map(fn => (i, fn))
      }.toSeq
    private val present = StructType(resolved.map { case (i, fn) =>
      required.fields(i).copy(name = fn) })
    private val outIndexOf: Map[String, Int] =
      resolved.map { case (i, fn) => fn -> i }.toMap
    private val reader: ParquetReader[InternalRow] =
      new ParquetReader.Builder[InternalRow](inputFile(file, conf),
          new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
        override protected def getReadSupport()
            : org.apache.parquet.hadoop.api.ReadSupport[InternalRow] =
          new InternalRowReadSupport(required, present, outIndexOf)
      }.build()
    private var row: InternalRow = _

    override def next(): Boolean = {
      row = reader.read()
      row != null
    }

    override def get(): InternalRow = row
    override def close(): Unit = reader.close()
  }

  /** VECTORIZED reader over a committed parquet segment (r15 verdict
    * task 5, closing the sink reader's last gap vs native bucketBy):
    * column chunks decode straight into reused [[OnHeapColumnVector]]s
    * through parquet-mr's column accessors — one monomorphic tight loop
    * per column per batch, no per-record assembly, no virtual calls per
    * value, no row allocation. Every table scan reads through it; the
    * row-based [[ParquetRows]] serves the copy-on-write rewrite.
    *
    * Projection is pushed as before (only requested chunks are read or
    * decompressed); columns requested but absent from the file (ALTER
    * ADD COLUMN after the segment committed) surface as all-null
    * vectors. Repetition comes from the FILE's own schema, so
    * definition levels always agree with what the writer produced. */
  final class ParquetBatches(file: String, required: StructType,
      batchSize: Int = 4096,
      aliases: Map[String, Seq[String]] = Map.empty)
      extends org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] {
    import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.column.page.PageReadStore
    import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    import scala.jdk.CollectionConverters._

    private val conf = rawFsConf()
    private val reader = openSegment(file, conf)
    private val fileSchema = reader.getFileMetaData.getSchema
    private val createdBy = reader.getFileMetaData.getCreatedBy

    // the requested message type is the PROJECTION OF THE FILE SCHEMA
    // (field order and repetition exactly as written), so descriptors,
    // max definition levels, and chunk lookups all agree with the file;
    // each required field resolves to its own or a HISTORICAL name
    // (metadata-only renames) in this file
    private val fileFieldNames: Set[String] =
      fileSchema.getFields.asScala.map(_.getName).toSet
    private val fileNameToOut: Map[String, Int] =
      required.fields.zipWithIndex.flatMap { case (f, i) =>
        resolveFileColumn(f.name, aliases, fileFieldNames).map(_ -> i)
      }.toMap
    private val requestedMessage: MessageType =
      new MessageType("graft_sink",
        fileSchema.getFields.asScala
          .filter(f => fileNameToOut.contains(f.getName)).asJava)
    private val descs: Array[ColumnDescriptor] =
      requestedMessage.getColumns.asScala.toArray
    // output ordinal (in `required`) of each present column
    private val outIdx: Array[Int] =
      descs.map(d => fileNameToOut(d.getPath()(0)))
    private val absentIdx: Array[Int] = {
      val present = outIdx.toSet
      required.indices.filterNot(present).toArray
    }
    // per absent column: the ADD COLUMN default to fill (null = nulls)
    private val absentFill: Array[Any] =
      absentIdx.map(i => existsDefault(required.fields(i)).orNull)
    reader.setRequestedSchema(descs.toSeq.asJava)

    private val vectors: Array[OnHeapColumnVector] =
      OnHeapColumnVector.allocateColumns(batchSize, required)
    private val batch =
      new ColumnarBatch(vectors.map(v => v: ColumnVector))

    /** STRING columns decode DICTIONARY-AWARE (r17 verdict task 6,
      * measured: a dictionary-friendly string column scanned alone
      * trailed native parquet ~1.7× under the eager value decode —
      * StringScanAb): the converter declares dictionary support, so
      * parquet-mr's per-page binding hands us raw dictionary IDS on
      * dictionary-encoded pages (addValueFromDictionary) and
      * materialized values only on plain pages (addBinary). The batch
      * loop puts the 4-byte id into the vector's dictionary-id lane
      * and installs the decoded dictionary ONCE per chunk — no
      * per-value byte copy into the vector. A mid-chunk fallback page
      * (dictionary overflow on high-cardinality columns) flips the
      * batch to direct storage, re-materializing the rows already
      * id-encoded — the same strategy Spark's own vectorized parquet
      * reader uses. Numeric columns keep the typed accessors (their
      * dictionary decode has no byte-copy to save). */
    private final class StringDictConverter extends PrimitiveConverter {
      var dictBytes: Array[Array[Byte]] = _
      var lastWasDict = false
      var lastId = 0
      var lastBytes: Array[Byte] = _
      override def hasDictionarySupport: Boolean = true
      override def setDictionary(
          d: org.apache.parquet.column.Dictionary): Unit = {
        dictBytes = Array.tabulate(d.getMaxId + 1)(
          i => d.decodeToBinary(i).getBytes)
      }
      override def addValueFromDictionary(id: Int): Unit = {
        lastWasDict = true; lastId = id
      }
      override def addBinary(b: org.apache.parquet.io.api.Binary): Unit = {
        lastWasDict = false; lastBytes = b.getBytes
      }
      /** The Spark-side dictionary view over the SAME decoded pool. */
      def sparkDictionary: org.apache.spark.sql.execution.vectorized.Dictionary =
        new org.apache.spark.sql.execution.vectorized.Dictionary {
          override def decodeToInt(id: Int): Int =
            throw new UnsupportedOperationException
          override def decodeToLong(id: Int): Long =
            throw new UnsupportedOperationException
          override def decodeToFloat(id: Int): Float =
            throw new UnsupportedOperationException
          override def decodeToDouble(id: Int): Double =
            throw new UnsupportedOperationException
          override def decodeToBinary(id: Int): Array[Byte] = dictBytes(id)
        }
    }

    // one converter per requested column: string columns get the
    // dictionary-aware converter, everything else a plain one (typed
    // accessors pull those values; the converter only matters for the
    // dictionary-support probe at reader construction)
    private lazy val colConverters: Array[PrimitiveConverter] =
      descs.indices.map { c =>
        required.fields(outIdx(c)).dataType match {
          case StringType => new StringDictConverter
          case _ => new PrimitiveConverter {}
        }
      }.toArray
    private val dummyRoot: GroupConverter = new GroupConverter {
      override def getConverter(i: Int): Converter = colConverters(i)
      override def start(): Unit = ()
      override def end(): Unit = ()
    }

    private var readers: Array[ColumnReader] = _
    private var rowsLeftInGroup: Long = 0L

    private def advanceGroup(): Boolean = {
      var pages: PageReadStore = reader.readNextRowGroup()
      while (pages != null && pages.getRowCount == 0)
        pages = reader.readNextRowGroup()
      if (pages == null) false
      else {
        val store =
          new ColumnReadStoreImpl(pages, dummyRoot, requestedMessage, createdBy)
        readers = descs.map(store.getColumnReader)
        rowsLeftInGroup = pages.getRowCount
        true
      }
    }

    override def next(): Boolean = {
      if (rowsLeftInGroup == 0L && !advanceGroup()) return false
      val n = math.min(batchSize.toLong, rowsLeftInGroup).toInt
      var c = 0
      while (c < descs.length) {
        val vec = vectors(outIdx(c))
        vec.reset()
        val r = readers(c)
        val maxDef = descs(c).getMaxDefinitionLevel
        required.fields(outIdx(c)).dataType match {
          case LongType =>
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == maxDef)
                vec.putLong(i, r.getLong)
              else vec.putNull(i)
              r.consume(); i += 1
            }
          case IntegerType =>
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == maxDef)
                vec.putInt(i, r.getInteger)
              else vec.putNull(i)
              r.consume(); i += 1
            }
          case DoubleType =>
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == maxDef)
                vec.putDouble(i, r.getDouble)
              else vec.putNull(i)
              r.consume(); i += 1
            }
          case BooleanType =>
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == maxDef)
                vec.putBoolean(i, r.getBoolean)
              else vec.putNull(i)
              r.consume(); i += 1
            }
          case StringType =>
            val conv = colConverters(c).asInstanceOf[StringDictConverter]
            // fresh batch: no dictionary until the first dict-id value
            vec.setDictionary(null)
            var ids: OnHeapColumnVector = null
            var direct = false
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == maxDef) {
                r.writeCurrentValueToConverter()
                if (conv.lastWasDict && !direct) {
                  if (ids == null) {
                    ids = vec.reserveDictionaryIds(n)
                      .asInstanceOf[OnHeapColumnVector]
                    vec.setDictionary(conv.sparkDictionary)
                  }
                  ids.putInt(i, conv.lastId)
                } else {
                  if (!direct && ids != null) {
                    // mid-chunk dictionary fallback: re-materialize the
                    // rows already id-encoded, then continue direct
                    vec.setDictionary(null)
                    var j = 0
                    while (j < i) {
                      if (!vec.isNullAt(j)) {
                        val b = conv.dictBytes(ids.getInt(j))
                        vec.putByteArray(j, b, 0, b.length)
                      }
                      j += 1
                    }
                  }
                  direct = true
                  val bytes =
                    if (conv.lastWasDict) conv.dictBytes(conv.lastId)
                    else conv.lastBytes
                  vec.putByteArray(i, bytes, 0, bytes.length)
                }
              } else vec.putNull(i)
              r.consume(); i += 1
            }
          case dt => sys.error(s"graft-sink vectorized read: $dt")
        }
        c += 1
      }
      var a = 0
      while (a < absentIdx.length) {
        val vec = vectors(absentIdx(a))
        vec.reset()
        absentFill(a) match {
          case null => vec.putNulls(0, n)
          case v => required.fields(absentIdx(a)).dataType match {
            case LongType => vec.putLongs(0, n, v.asInstanceOf[Long])
            case IntegerType => vec.putInts(0, n, v.asInstanceOf[Int])
            case DoubleType => vec.putDoubles(0, n, v.asInstanceOf[Double])
            case BooleanType =>
              vec.putBooleans(0, n, v.asInstanceOf[Boolean])
            case StringType =>
              val bytes = v.asInstanceOf[UTF8String].getBytes
              var i = 0
              while (i < n) { vec.putByteArray(i, bytes, 0, bytes.length); i += 1 }
            case dt => sys.error(s"graft-sink vectorized default fill: $dt")
          }
        }
        a += 1
      }
      batch.setNumRows(n)
      rowsLeftInGroup -= n
      true
    }

    override def get(): ColumnarBatch = batch
    override def close(): Unit = reader.close()
  }
}
