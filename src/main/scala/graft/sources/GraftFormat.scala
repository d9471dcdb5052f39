package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The DATA-FILE format of a graft catalog table, decoupled from the
  * table protocol: the manifest two-phase commit, snapshots/branches,
  * stats/bloom skipping, deletion vectors, and DML never look inside a
  * data file except through this seam, so a table can store its rows as
  * JSON-lines (the bootstrap format — human-readable, zero
  * dependencies) or as PARQUET (columnar, compressed, the 100 TB
  * choice: a row-text scan reads 5–20× the bytes of a columnar scan
  * that prunes to the requested columns).
  *
  * The contract every implementation honors:
  *  - [[newWriter]] streams [[InternalRow]]s in `schema` order into one
  *    data file (the sink's task writers and every DML rewrite path);
  *  - [[readRows]] yields the file's PHYSICAL rows in file order,
  *    deletion-vector-unaware — a row's iterator index IS its DV
  *    ordinal, so readers/writers of vectors agree by construction;
  *  - schema evolution binds by NAME: a required column absent from the
  *    file null-fills (ADD COLUMN), former names from RENAME COLUMN
  *    resolve through `aliases`, and lossless widenings
  *    (int → long/double) convert from the file's physical type.
  *
  * Chosen per table at CREATE (`TBLPROPERTIES('format'='parquet')`),
  * recorded in the `_graft_format.txt` sidecar; absence means JSON —
  * every pre-existing table keeps its exact behavior.
  */
sealed trait GraftFormat {
  def name: String

  /** Data-file extension, without the dot. */
  def ext: String

  /** Whether a closed data file can be reopened and appended to (the
    * partitioned writer's LRU handle cache reopens JSON files; parquet
    * files are immutable once their footer is written, so the writer
    * rolls a new segment instead).
    */
  def appendable: Boolean

  /** Streaming single-file writer; rows arrive in `schema` order.
    * Resolves session-tunable layout knobs (parquet row-group size) via
    * the calling thread's SQLConf — correct for every DRIVER-side caller
    * (DML rewrites, compaction, DV materialization). Executor-side
    * writers must use the 3-arg overload with a driver-resolved value:
    * `SQLConf.get` on an executor thread silently misses session
    * overrides, the exact environment-dependent-layout failure the
    * vacuous row-group A/B exposed in r14.
    */
  def newWriter(path: Path, schema: StructType): GraftFormat.RowWriter

  /** [[newWriter]] with the parquet row-group size RESOLVED BY THE
    * DRIVER (see [[GraftFormat.resolvedParquetRowGroupBytes]]) and
    * shipped through the writer factory. Formats without the knob
    * ignore it.
    */
  def newWriter(path: Path, schema: StructType,
      parquetRowGroupBytes: Long): GraftFormat.RowWriter =
    newWriter(path, schema)

  /** All PHYSICAL rows of `path` in file order (no deletion-vector
    * subtraction — the caller owns ordinals), bound to `required` under
    * the current-schema conventions described above.
    *
    * The returned [[GraftFormat.Rows]] owns the file handle: exhaustion
    * releases it, but a consumer that can stop early (LIMIT/take scans,
    * task failure, an exception mid-stream) MUST `close()` — otherwise
    * every early-terminated parquet scan leaks an open reader per file.
    */
  def readRows(path: Path, fileSchema: StructType, required: StructType,
      aliases: Map[String, Set[String]]): GraftFormat.Rows

  /** Number of PHYSICAL rows in `path`. Formats whose footer records the
    * count (parquet) answer without decoding a single page; the default
    * decodes and counts.
    */
  def countRows(path: Path, fileSchema: StructType,
      aliases: Map[String, Set[String]]): Long = {
    val it = readRows(path, fileSchema, fileSchema, aliases)
    try it.size.toLong finally it.close()
  }
}

object GraftFormat {

  val FormatFileName = "_graft_format.txt"

  /** One parsed Hadoop configuration per JVM: `new Configuration()`
    * re-parses the default XML resources PER INSTANCE (~tens of ms), and
    * a per-data-file scan paid that per file — at 64 files it dwarfed
    * the page decode itself (bench/catalog_scan_probe_r13.md: ~39 ms/file of
    * setup on a one-column scan whose decode is sub-millisecond). Reads
    * of a loaded Configuration are thread-safe; writers that need
    * scan-specific keys take a cheap property-map copy via [[confCopy]].
    */
  lazy val hadoopConf: Configuration = {
    val c = new Configuration()
    c.get("io.file.buffer.size") // force the one-time resource parse NOW
    c
  }

  /** Property-map copy of [[hadoopConf]] — no XML re-parse. */
  def confCopy(): Configuration = new Configuration(hadoopConf)

  /** `spark.graft.parquet.rowGroupBytes` resolved ON THE DRIVER and
    * validated FAIL-FAST: a malformed value (units like "64m", zero,
    * negative) throws at write planning instead of silently writing
    * default-size row groups — the layout knob's effect must never be
    * environment-dependent (executor-side `SQLConf.get` misses session
    * overrides, and a swallowed parse error is indistinguishable from
    * "knob off"). Callers resolve once per write and plumb the value to
    * task writers via the 3-arg `newWriter`.
    */
  def resolvedParquetRowGroupBytes(): Long =
    graft.Tunables.ParquetRowGroupBytes(org.apache.spark.sql.internal.SQLConf.get)

  trait RowWriter {
    def write(row: InternalRow): Unit
    def close(): Unit
  }

  /** A data-file row iterator that owns its file handle. `close()` is
    * idempotent and also runs at natural exhaustion, so full scans need
    * no ceremony — only early-exit consumers must call it.
    */
  trait Rows extends Iterator[InternalRow] with AutoCloseable {
    override def close(): Unit

    /** The same handle viewed through an iterator transform (DV
      * subtraction, filters): closing the view closes this reader.
      */
    def mapRows(f: Iterator[InternalRow] => Iterator[InternalRow]): Rows = {
      val self = this
      val it = f(self)
      new Rows {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = it.next()
        override def close(): Unit = self.close()
      }
    }
  }

  object Rows {
    /** Fully-in-memory rows (the JSON path) — close is a no-op. */
    def inMemory(it: Iterator[InternalRow]): Rows = new Rows {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = it.next()
      override def close(): Unit = ()
    }
  }

  /** The table's data format, from the CREATE-time sidecar (absent =
    * JSON, the pre-format-option layout).
    */
  def at(dir: Path): GraftFormat = {
    val f = dir.resolve(FormatFileName)
    if (!Files.exists(f)) JsonFormat
    else forName(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim)
  }

  def forName(name: String): GraftFormat = name match {
    case "json" => JsonFormat
    case "parquet" => ParquetFormat
    case other => throw new IllegalArgumentException(
      s"unknown graft table format '$other' (supported: json, parquet)")
  }

  /** Record `format` as the table's data format (CREATE TABLE time). */
  def write(dir: Path, format: GraftFormat): Unit =
    if (format != JsonFormat) // absence = json: old layouts stay readable
      Files.write(dir.resolve(FormatFileName),
        format.name.getBytes(StandardCharsets.UTF_8))

  /** The file's live rows (deletion vector subtracted), in order — the
    * row-level read shared by the maintenance paths (columnar bins,
    * bloom build).
    */
  def liveRows(format: GraftFormat, dir: Path, file: String, dv: Seq[Int],
      schema: StructType, aliases: Map[String, Set[String]]): Rows = {
    val all = format.readRows(dir.resolve(file), schema, schema, aliases)
    if (dv.isEmpty) all
    else {
      val dead = dv.toSet
      all.mapRows(_.zipWithIndex.collect { case (r, i) if !dead(i) => r })
    }
  }
}

/** JSON-lines data files — the bootstrap format. Delegates to the
  * sink's renderer and the catalog's lexer; one row per non-empty line.
  */
case object JsonFormat extends GraftFormat {
  override def name: String = "json"
  override def ext: String = "json"
  override def appendable: Boolean = true

  override def newWriter(path: Path, schema: StructType): GraftFormat.RowWriter =
    new GraftFormat.RowWriter {
      private val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      override def write(row: InternalRow): Unit = {
        out.write(GraftJsonSink.renderRow(row, schema))
        out.write("\n")
      }
      override def close(): Unit = out.close()
    }

  override def readRows(path: Path, fileSchema: StructType, required: StructType,
      aliases: Map[String, Set[String]]): GraftFormat.Rows =
    GraftFormat.Rows.inMemory(
      Files.readAllLines(path, StandardCharsets.UTF_8).asScala.iterator
        .filter(_.nonEmpty)
        .map(JsonLineParser.parse(_, fileSchema, required, aliases)))
}

/** Parquet data files — columnar storage, snappy compression, column
  * pruning at the read schema. Writes go through Spark's own
  * `ParquetWriteSupport` (InternalRow in, no intermediate objects);
  * this trait's `readRows` is the ROW-AT-A-TIME view (driver-side
  * maintenance ops, alias-bound evolution reads, DV ordinal walks) —
  * scan-path reads take the columnar/vectorized route in
  * [[GraftColumnarReader]] and fall back here only for pre-rename
  * files.
  */
case object ParquetFormat extends GraftFormat {
  override def name: String = "parquet"
  override def ext: String = "parquet"
  override def appendable: Boolean = false

  private def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => b.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => b.optional(PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => b.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case BooleanType => b.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case dt => throw new IllegalArgumentException(
          s"graft tables support atomic string/long/int/double/boolean columns, got $dt")
      }
    }
    b.named("graft")
  }

  /** Writes [[InternalRow]]s through Spark's own parquet WriteSupport —
    * no intermediate Group objects (the example API allocates an
    * ArrayList per FIELD per row; bench/catalog_scan_probe_r13.md has the Group
    * path at 1.5× the JSON renderer's ingest task time at 1M rows).
    * `messageType` still runs first as the 5-type contract check, and
    * Spark's converter emits the identical physical schema for these
    * types (optional BINARY(UTF8)/INT64/INT32/DOUBLE/BOOLEAN), so files
    * from either writer generation read back byte-equivalently.
    */
  /** Driver-side entry: resolves (and fail-fast validates) the
    * row-group knob off the calling thread's SQLConf. All call sites of
    * this arity are driver-side maintenance/DML paths; the DSv2 sink's
    * task writers receive the driver-resolved value via the 3-arg
    * overload instead. ENFORCED, not assumed: an executor-side caller
    * would silently miss session overrides (`SQLConf.get` falls back to
    * task-propagated defaults — the exact bug class the 3-arg plumbing
    * fixed), so this overload refuses to run inside a task.
    */
  override def newWriter(path: Path, schema: StructType): GraftFormat.RowWriter = {
    require(org.apache.spark.TaskContext.get() == null,
      s"2-arg newWriter resolves ${graft.Tunables.ParquetRowGroupBytes.key} from the " +
        "driver SQLConf; executor-side writers must receive the " +
        "driver-resolved value via the 3-arg overload")
    newWriter(path, schema, GraftFormat.resolvedParquetRowGroupBytes())
  }

  override def newWriter(path: Path, schema: StructType,
      parquetRowGroupBytes: Long): GraftFormat.RowWriter =
    new GraftFormat.RowWriter {
      messageType(schema) // type-contract validation, fail at open
      private val writer: ParquetWriter[InternalRow] = {
        val conf = GraftFormat.confCopy() // setSchema mutates it below
        org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
          .setSchema(schema, conf)
        // WriteSupport.init reads these with NO defaults (Spark's file
        // sink propagates session values); no timestamp columns exist in
        // the graft type system, so the stock values are inert here
        conf.set("spark.sql.parquet.writeLegacyFormat", "false")
        conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
        conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "true")
        // row-group size is a layout knob (smaller groups = finer
        // row-group-level stats skipping at scan time, more footer
        // overhead); default is parquet's 128 MB.
        new GraftInternalRowWriterBuilder(
            new org.apache.hadoop.fs.Path(path.toUri))
          .withConf(conf)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .withRowGroupSize(parquetRowGroupBytes)
          .build()
      }
      override def write(row: InternalRow): Unit = writer.write(row)
      override def close(): Unit = writer.close()
    }

  /** Parquet row count straight from the footer — no page decode. */
  override def countRows(path: Path, fileSchema: StructType,
      aliases: Map[String, Set[String]]): Long = {
    val conf = GraftFormat.hadoopConf
    val hp = new org.apache.hadoop.fs.Path(path.toUri)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(hp, conf))
    try reader.getRecordCount finally reader.close()
  }

  override def readRows(path: Path, fileSchema: StructType, required: StructType,
      aliases: Map[String, Set[String]]): GraftFormat.Rows = {
    val conf = GraftFormat.hadoopConf
    val hp = new org.apache.hadoop.fs.Path(path.toUri)
    // one open serves footer AND pages (closed when the row-group walk
    // exhausts). The footer schema is the file's OWN: projection and
    // type conversion key off what the file PHYSICALLY holds (pre-rename
    // keys, pre-widen types), never off the current table schema
    readRowsFromReader(
      ParquetFileReader.open(HadoopInputFile.fromPath(hp, conf)),
      required, aliases)
  }

  /** Row view over an ALREADY-OPEN reader whose footer the caller has
    * parsed (the columnar scan's pre-rename fallback binds off the same
    * footer it used for the vectorizable decision — one open, one footer
    * parse per file). Ownership transfers: the returned Rows closes the
    * reader on exhaustion, close(), and every exception path.
    */
  def readRowsFromReader(reader: ParquetFileReader, required: StructType,
      aliases: Map[String, Set[String]]): GraftFormat.Rows = {
    val fileMsg: MessageType = reader.getFooter.getFileMetaData.getSchema
    val inFile = fileMsg.getFields.asScala.map(f => f.getName -> f).toMap
    // physical column each required field binds to: its current name if
    // the file has it, else the first (sorted — deterministic) former
    // name present; None null-fills (ADD COLUMN after this file landed)
    val binding: Array[Option[String]] = required.fields.map { f =>
      if (inFile.contains(f.name)) Some(f.name)
      else aliases.getOrElse(f.name, Set.empty).toSeq.sorted.find(inFile.contains)
    }
    val needed = binding.flatten.toSet
    // prune the scan to the bound columns — the columnar win; an empty
    // projection (count-style scans) still needs row multiplicity, so
    // keep one narrow column
    val projFields = fileMsg.getFields.asScala.filter(f => needed(f.getName))
    val proj = new MessageType(fileMsg.getName,
      (if (projFields.isEmpty) fileMsg.getFields.asScala.take(1)
       else projFields).asJava)
    // physical projected column → required ordinal it feeds (-1: row
    // multiplicity only)
    val byName = binding.zipWithIndex
      .collect { case (Some(n), i) => n -> i }.toMap
    val targets: Array[Int] =
      proj.getFields.asScala.map(f => byName.getOrElse(f.getName, -1)).toArray
    // row groups assemble through a RecordReader over the direct
    // materializer: the ParquetReader convenience layer would re-open
    // the file (second footer parse) and per-record dispatch through
    // ReadSupport — small-file tables paid more in opens than in decode
    reader.setRequestedSchema(proj)
    val materializer = GraftRowMaterializer(proj, required, targets)
    val columnIO = new org.apache.parquet.io.ColumnIOFactory()
      .getColumnIO(proj, fileMsg)
    // close() (early-exit scans: LIMIT/take, task failure) and every
    // exception path release the reader; exhaustion closes too, so full
    // scans still pay exactly one open
    new GraftFormat.Rows {
      private var pageStore: org.apache.parquet.column.page.PageReadStore = _
      private var recordReader: org.apache.parquet.io.RecordReader[InternalRow] = _
      private var remaining = 0L
      private var closed = false
      override def close(): Unit = if (!closed) { closed = true; reader.close() }
      private def advance(): Unit = {
        pageStore = try reader.readNextRowGroup() catch {
          case t: Throwable => close(); throw t
        }
        if (pageStore == null) close()
        else {
          remaining = pageStore.getRowCount
          recordReader = columnIO.getRecordReader(pageStore, materializer)
        }
      }
      advance()
      while (!closed && remaining == 0) advance()
      override def hasNext: Boolean = !closed
      override def next(): InternalRow = {
        val r = try recordReader.read() catch {
          case t: Throwable => close(); throw t
        }
        remaining -= 1
        if (remaining == 0) { advance(); while (!closed && remaining == 0) advance() }
        r
      }
    }
  }
}

/** ParquetWriter builder over Spark's InternalRow WriteSupport (the
  * parquet-hadoop builder API requires a concrete subclass).
  */
private class GraftInternalRowWriterBuilder(path: org.apache.hadoop.fs.Path)
    extends ParquetWriter.Builder[InternalRow, GraftInternalRowWriterBuilder](path) {
  override def self(): GraftInternalRowWriterBuilder = this
  override def getWriteSupport(conf: Configuration):
      org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
}

/** Direct parquet → [[InternalRow]] materialization — no intermediate
  * Group objects (the example API allocates an ArrayList per FIELD per
  * row; measured 2.4× a JSON-lines lex on a 3-column 1M-row scan).
  * One primitive converter per projected column writes straight into a
  * reusable slot array; widenings (int32 → long/double) happen in the
  * converter. `targets(i)` maps projected column i to its required-row
  * ordinal (-1 = read for row multiplicity only, value discarded).
  */
private object GraftRowMaterializer {
  def apply(proj: MessageType, required: StructType, targets: Array[Int]):
      org.apache.parquet.io.api.RecordMaterializer[InternalRow] =
    new org.apache.parquet.io.api.RecordMaterializer[InternalRow] {
      private val slots = new Array[Any](required.length)

      private def converterFor(projIdx: Int): org.apache.parquet.io.api.PrimitiveConverter = {
        val t = targets(projIdx)
        val phys = proj.getType(projIdx).asPrimitiveType().getPrimitiveTypeName
        val dt = if (t >= 0) required(t).dataType else NullType
        (phys, dt) match {
          case (_, NullType) => new org.apache.parquet.io.api.PrimitiveConverter {}
          case (PrimitiveTypeName.BINARY, StringType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addBinary(v: org.apache.parquet.io.api.Binary): Unit =
                slots(t) = UTF8String.fromBytes(v.getBytes)
            }
          case (PrimitiveTypeName.INT64, LongType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addLong(v: Long): Unit = slots(t) = v
            }
          case (PrimitiveTypeName.INT32, IntegerType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addInt(v: Int): Unit = slots(t) = v
            }
          case (PrimitiveTypeName.INT32, LongType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addInt(v: Int): Unit = slots(t) = v.toLong
            }
          case (PrimitiveTypeName.INT32, DoubleType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addInt(v: Int): Unit = slots(t) = v.toDouble
            }
          case (PrimitiveTypeName.DOUBLE, DoubleType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addDouble(v: Double): Unit = slots(t) = v
            }
          case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
            new org.apache.parquet.io.api.PrimitiveConverter {
              override def addBoolean(v: Boolean): Unit = slots(t) = v
            }
          case (pt, d) => throw new IllegalArgumentException(
            s"cannot read parquet $pt as $d for column " +
              proj.getType(projIdx).getName)
        }
      }

      private val root = new org.apache.parquet.io.api.GroupConverter {
        private val converters =
          Array.tabulate(proj.getFieldCount)(converterFor)
        override def getConverter(i: Int): org.apache.parquet.io.api.Converter =
          converters(i)
        override def start(): Unit =
          java.util.Arrays.fill(slots.asInstanceOf[Array[AnyRef]], null)
        override def end(): Unit = ()
      }

      override def getRootConverter: org.apache.parquet.io.api.GroupConverter = root
      override def getCurrentRecord: InternalRow =
        new GenericInternalRow(slots.clone())
    }
}
