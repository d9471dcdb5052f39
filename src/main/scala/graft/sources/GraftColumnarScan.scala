package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar read path for parquet-format graft tables: scans hand Spark
  * [[ColumnarBatch]]es instead of one [[InternalRow]] at a time, so the
  * downstream ColumnarToRow transition runs inside whole-stage codegen —
  * the same batched decode Spark's native parquet source gets, behind the
  * same table protocol (manifest, stats/bloom skipping, time travel).
  *
  * Per data file the reader adapts on its FOOTER:
  *  - fast path (the overwhelming case — any file written under the
  *    current schema, plus post-ADD null-fill and int32→long/double
  *    widening, both of which Spark's vectorized reader handles natively
  *    via missing-column vectors and widening updaters): delegate to
  *    [[VectorizedParquetRecordReader]], requested schema = the scan's
  *    required struct, footer passed through so it is parsed once;
  *  - alias path (files written before a RENAME COLUMN, whose footers
  *    hold former names): decode through the row materializer's alias
  *    binding ([[ParquetFormat.readRows]]) and repack into on-heap
  *    vectors — correctness identical, per-file cost equal to the old
  *    row scan plus one copy.
  *
  * Files carrying a DELETION VECTOR stay columnar: the vectorized reader
  * decodes the full batch (the expensive part), then surviving ordinals
  * repack into on-heap vectors — a selection-vector-style copy, costed
  * per LIVE row, applied only to files that actually carry a vector.
  * Before round 14 any DV on any file de-vectorized the whole scan
  * forever (one row-level DELETE permanently demoted a standing table's
  * hot files to the row path). The ordinal space is the file's physical
  * row order, so the DV'd path must read every row group — a file's DV
  * disables row-group skipping for that file, never for its neighbors.
  * Empty projections stay row-path (agg pushdown owns count-style scans).
  */
private[sources] object GraftColumnarScan {

  val Capacity = 4096

  /** Row-group-level stats skipping: parquet footers carry per-chunk
    * min/max/null-count, so a selective residual predicate skips INSIDE
    * a kept file, not just across files (GraftStats prunes whole files
    * from the sidecar; this is the same advisory contract one level
    * down — every filter stays a residual Spark re-applies post-scan,
    * so a skipped row group is provably empty, never a changed result).
    * Chunk values convert to the TABLE schema's type (files written
    * before a widening ALTER store int32 under a long/double column) so
    * [[GraftStats.mayMatch]] compares like with like; a chunk without
    * usable stats keeps its block. NaN poisons a double range exactly
    * as in the sidecar collector (parquet-mr's double stats are
    * untrustworthy around NaN — PARQUET-1222).
    */
  def pruneRowGroups(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      filters: Array[org.apache.spark.sql.sources.Filter],
      schema: StructType):
      java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData] = {
    val blocks = footer.getBlocks
    if (filters.isEmpty || blocks.size <= 1) return blocks
    val kept =
      new java.util.ArrayList[org.apache.parquet.hadoop.metadata.BlockMetaData](
        blocks.size)
    blocks.asScala.foreach { b =>
      val cols = b.getColumns.asScala.flatMap { c =>
        val name = c.getPath.toDotString
        val st = c.getStatistics
        schema.fields.find(_.name == name).flatMap { f =>
          if (st == null || !st.isNumNullsSet) None
          else {
            val (mn, mx) =
              if (!st.hasNonNullValue()) (null, null)
              else (statValue(st.genericGetMin, f.dataType),
                statValue(st.genericGetMax, f.dataType))
            // a half-usable range degrades to no range (still prunable
            // by null counts), never to a one-sided comparison
            val (mn2, mx2) = if (mn == null || mx == null) (null, null) else (mn, mx)
            Some(f.name -> GraftStats.ColStats(mn2, mx2, st.getNumNulls))
          }
        }
      }.toMap
      val fs = GraftStats.FileStats(b.getRowCount, cols)
      if (filters.forall(GraftStats.mayMatch(_, fs, schema))) kept.add(b)
    }
    kept
  }

  /** A parquet chunk statistic as the engine value of the table column's
    * (possibly widened) type; null when the physical/logical pairing is
    * unexpected or the double range is NaN-poisoned.
    */
  private def statValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes)
    case (l: java.lang.Long, LongType) => l.longValue()
    case (i: java.lang.Integer, IntegerType) => i.intValue()
    case (i: java.lang.Integer, LongType) => i.longValue()
    case (i: java.lang.Integer, DoubleType) => i.doubleValue()
    case (d: java.lang.Double, DoubleType) =>
      if (d.isNaN) null else d.doubleValue()
    case (bb: java.lang.Boolean, BooleanType) => bb.booleanValue()
    case _ => null
  }

  /** Spark type a graft-written parquet primitive reads back as (the
    * writer's 5-type mapping, inverted).
    */
  private def sparkTypeOf(t: org.apache.parquet.schema.Type): Option[DataType] = {
    if (!t.isPrimitive) None
    else {
      val p = t.asPrimitiveType()
      p.getPrimitiveTypeName match {
        case PrimitiveTypeName.BINARY
            if p.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() =>
          Some(StringType)
        case PrimitiveTypeName.INT64 if p.getLogicalTypeAnnotation == null =>
          Some(LongType)
        case PrimitiveTypeName.INT32 if p.getLogicalTypeAnnotation == null =>
          Some(IntegerType)
        case PrimitiveTypeName.DOUBLE => Some(DoubleType)
        case PrimitiveTypeName.BOOLEAN => Some(BooleanType)
        case _ => None
      }
    }
  }

  /** Whether Spark's vectorized reader can serve `required` from this
    * footer directly: every required field either binds BY CURRENT NAME
    * to a file column of an identical or widenable (int32 → long/double,
    * the updaters Spark ships) type, or is absent under ALL of its names
    * (a post-ADD column — the vectorized reader null-fills missing
    * columns). A field whose current name is absent but whose FORMER
    * name is present needs the alias binding only the row materializer
    * does.
    */
  def vectorizable(fileMsg: MessageType, required: StructType,
      aliases: Map[String, Set[String]]): Boolean = {
    val inFile = fileMsg.getFields.asScala.map(f => f.getName -> f).toMap
    required.fields.forall { f =>
      inFile.get(f.name) match {
        case Some(t) => sparkTypeOf(t) match {
          case Some(dt) => dt == f.dataType ||
            (dt == IntegerType &&
              (f.dataType == LongType || f.dataType == DoubleType))
          case None => false
        }
        case None =>
          aliases.getOrElse(f.name, Set.empty).forall(!inFile.contains(_))
      }
    }
  }
}

/** One scan partition's files as ColumnarBatches — files open one at a
  * time; close() releases whichever reader is live (early-exit scans).
  */
private[sources] class GraftColumnarReader(paths: Seq[String],
    tableSchema: StructType, required: StructType,
    aliases: Map[String, Set[String]],
    dvs: Map[String, Seq[Int]] = Map.empty,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[ColumnarBatch] {

  import GraftColumnarScan.Capacity

  private val pathIt = paths.iterator

  // scan-constant setup hoisted out of the per-file loop: the configured
  // Configuration (a property-map copy — never a fresh XML parse) and the
  // attempt context are identical for every file this partition reads
  private lazy val scanConf: Configuration = {
    val conf = GraftFormat.confCopy()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // the schema converter reads these from the hadoop conf with NO
    // defaults (Spark's own file source propagates session values); the
    // graft type system has no binary/int96/timestamp columns, so the
    // stock values are semantically inert here
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf
  }
  private lazy val attemptCtx =
    new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      scanConf, new org.apache.hadoop.mapreduce.TaskAttemptID())

  // exactly one of (vec) or (rows, rowVectors, rowBatch) is live at a time
  private var vec: VectorizedParquetRecordReader = _
  private var rows: GraftFormat.Rows = _
  private var rowVectors: Array[OnHeapColumnVector] = _
  private var rowBatch: ColumnarBatch = _
  private var current: ColumnarBatch = _
  // deletion-vector state for the CURRENT file: dead ordinals (physical
  // row index in file order) and the running ordinal of the next row the
  // live reader will hand us. null dead = no vector, zero-copy pass-through.
  private var dead: java.util.BitSet = _
  private var fileOrdinal: Long = 0L

  private def closeCurrent(): Unit = {
    if (vec != null) { vec.close(); vec = null }
    if (rows != null) { rows.close(); rows = null }
    if (rowBatch != null) { rowBatch.close(); rowBatch = null; rowVectors = null }
    dead = null
  }

  private def openNext(): Boolean = {
    while (pathIt.hasNext) {
      val p = Paths.get(pathIt.next())
      openFile(p)
      if (advanceInFile()) return true
      closeCurrent()
    }
    false
  }

  private def openFile(p: Path): Unit = {
    // deletion vector for THIS file (ordinals = physical row index in
    // file order — the same space the decode loops below walk)
    val dv = dvs.getOrElse(p.getFileName.toString, Nil)
    dead = if (dv.isEmpty) null
      else { val b = new java.util.BitSet; dv.foreach(b.set); b }
    fileOrdinal = 0L
    val hp = new org.apache.hadoop.fs.Path(p.toUri)
    // one footer parse serves both the binding decision and (passed
    // through) the vectorized reader's initialization
    val fr = ParquetFileReader.open(
      HadoopInputFile.fromPath(hp, GraftFormat.hadoopConf))
    val footer = try fr.getFooter catch {
      case t: Throwable => fr.close(); throw t
    }
    if (GraftColumnarScan.vectorizable(
        footer.getFileMetaData.getSchema, required, aliases)) {
      fr.close()
      // row-group skipping: hand the reader a footer whose block list
      // already dropped provably-empty groups. A DV'd file reads every
      // group — its dead ordinals index the file's FULL physical row
      // order, and skipping a group would shift every ordinal after it.
      val servedFooter =
        if (dead != null || filters.isEmpty) footer
        else {
          val keptBlocks =
            GraftColumnarScan.pruneRowGroups(footer, filters, tableSchema)
          if (keptBlocks.size == footer.getBlocks.size) footer
          else new org.apache.parquet.hadoop.metadata.ParquetMetadata(
            footer.getFileMetaData, keptBlocks)
        }
      // the legacy mapred split class: SpecificParquetRecordReaderBase
      // casts to it (it predates the mapreduce API split)
      val split = new org.apache.hadoop.mapred.FileSplit(
        hp, 0, Files.size(p), Array.empty[String])
      // no timestamp/date columns in the graft type system, so the
      // rebase modes are never consulted; CORRECTED = no rewriting
      val r = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
      // the served footer is honored ONLY when file + stream + footer are
      // ALL provided (SpecificParquetRecordReaderBase.initialize falls
      // back to its own open-and-parse otherwise — which would both
      // re-parse the footer per file and silently undo the row-group
      // prune); the reader takes ownership of the stream and closes it
      val inFile = HadoopInputFile.fromPath(hp, scanConf)
      val inStream = inFile.newStream()
      try {
        r.initialize(split, attemptCtx,
          Some(inFile), Some(inStream), Some(servedFooter))
        r.initBatch(new StructType(), InternalRow.empty)
        r.enableReturningBatches()
      } catch { case t: Throwable =>
        r.close()
        try inStream.close() catch { case _: Exception => () }
        throw t
      }
      vec = r
      // DV'd file: decode stays vectorized, survivors repack into these
      // on-heap vectors (per-live-row copy; see the class doc)
      if (dead != null) {
        rowVectors = OnHeapColumnVector.allocateColumns(Capacity, required)
        rowBatch = new ColumnarBatch(
          rowVectors.asInstanceOf[Array[ColumnVector]])
      }
    } else {
      // pre-rename fallback: hand the SAME open reader (and its parsed
      // footer) to the row view — no second open/footer-parse per file
      rows = try ParquetFormat.readRowsFromReader(fr, required, aliases) catch {
        case t: Throwable => fr.close(); throw t
      }
      rowVectors = OnHeapColumnVector.allocateColumns(Capacity, required)
      rowBatch = new ColumnarBatch(
        rowVectors.asInstanceOf[Array[ColumnVector]])
    }
  }

  // a physical ordinal is live unless the file's vector marks it dead;
  // ordinals past Int.MaxValue cannot appear in a (int-typed) vector
  private def live(o: Long): Boolean =
    dead == null || o > Int.MaxValue.toLong || !dead.get(o.toInt)

  private def copyValue(src: ColumnVector, r: Int,
      dst: OnHeapColumnVector, n: Int, dt: DataType): Unit =
    if (src.isNullAt(r)) dst.putNull(n)
    else dt match {
      case StringType => dst.putByteArray(n, src.getUTF8String(r).getBytes)
      case LongType => dst.putLong(n, src.getLong(r))
      case IntegerType => dst.putInt(n, src.getInt(r))
      case DoubleType => dst.putDouble(n, src.getDouble(r))
      case BooleanType => dst.putBoolean(n, src.getBoolean(r))
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }

  private def advanceInFile(): Boolean =
    if (vec != null && dead == null) {
      // fast path: hand the decoded batch through untouched
      if (vec.nextKeyValue()) {
        current = vec.getCurrentValue.asInstanceOf[ColumnarBatch]
        true
      } else false
    } else if (vec != null) {
      // DV'd vectorized file: decode full batches, repack survivors.
      // Batches with zero live rows are skipped, not emitted empty.
      while (vec.nextKeyValue()) {
        val src = vec.getCurrentValue.asInstanceOf[ColumnarBatch]
        val m = src.numRows()
        var i = 0
        while (i < rowVectors.length) { rowVectors(i).reset(); i += 1 }
        var n = 0
        var r = 0
        while (r < m) {
          if (live(fileOrdinal + r)) {
            var c = 0
            while (c < rowVectors.length) {
              copyValue(src.column(c), r, rowVectors(c), n, required(c).dataType)
              c += 1
            }
            n += 1
          }
          r += 1
        }
        fileOrdinal += m
        if (n > 0) {
          rowBatch.setNumRows(n)
          current = rowBatch
          return true
        }
      }
      false
    } else if (rows != null && rows.hasNext) {
      var n = 0
      var i = 0
      while (i < rowVectors.length) { rowVectors(i).reset(); i += 1 }
      while (n < Capacity && rows.hasNext) {
        val r = rows.next()
        val o = fileOrdinal
        fileOrdinal += 1
        if (live(o)) {
          var c = 0
          while (c < rowVectors.length) {
            if (r.isNullAt(c)) rowVectors(c).putNull(n)
            else required(c).dataType match {
              case StringType =>
                rowVectors(c).putByteArray(n, r.getUTF8String(c).getBytes)
              case LongType => rowVectors(c).putLong(n, r.getLong(c))
              case IntegerType => rowVectors(c).putInt(n, r.getInt(c))
              case DoubleType => rowVectors(c).putDouble(n, r.getDouble(c))
              case BooleanType => rowVectors(c).putBoolean(n, r.getBoolean(c))
              case dt => throw new IllegalArgumentException(s"unsupported $dt")
            }
            c += 1
          }
          n += 1
        }
      }
      if (n == 0) false
      else {
        rowBatch.setNumRows(n)
        current = rowBatch
        true
      }
    } else false

  override def next(): Boolean = {
    if ((vec != null || rows != null) && advanceInFile()) return true
    closeCurrent()
    openNext()
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = closeCurrent()
}
