package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 batch sink with a full two-phase commit protocol —
  * the write-side counterpart of [[SyntheticDocsSource]]:
  *
  *   df.write.format("graft-json").mode("overwrite").save(path)
  *
  * Each task writes JSON-lines to an attempt-unique temp file under
  * `path/_tmp/` and reports (partition, rows, temp path) in its
  * WriterCommitMessage; only the driver's commit() publishes data, by
  * moving exactly the files named in commit messages into place and then
  * atomically renaming a `_graft_manifest.json` (total rows + file list)
  * — so readers observe either the complete previous state or the
  * complete new one, task retries/speculation can never double-publish
  * (a failed attempt's orphan file is swept, never moved), and abort()
  * removes all temp output.
  *
  * Local-filesystem file ops keep this dependency-free for the local[N]
  * target; a cluster deployment swaps the java.nio calls for the Hadoop
  * FileSystem API — the protocol is unchanged.
  *
  * Option `failPartitionOnce` (test hook): the writer for that partition
  * throws on its first task attempt, exercising retry + exactly-once.
  */
class GraftJsonSink extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-json"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only source: schema always comes from the query

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftJsonSinkTable(schema)
}

object GraftJsonSink {

  /** Commit mutex: serialize the manifest read-merge-swap critical
    * section across concurrent writers in this or any other process on
    * the same filesystem. `Files.createDirectory` is atomic (POSIX
    * mkdir), so exactly one committer holds the lock; without it two
    * concurrent appends both read the same previous manifest and the
    * second swap silently DROPS the first writer's files — the classic
    * lost update. Locks untouched for LockStaleMillis (30 min) are
    * presumed abandoned (a committer that died mid-commit) and broken;
    * live holders heartbeat the lock mtime so a long-running row-level
    * op is never presumed dead. The manifest swap itself stays atomic,
    * so a broken lock can duplicate no data.
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** How long a lock's mtime may sit unrefreshed before a waiter
    * presumes its holder died. Row-level ops legitimately hold the lock
    * across whole Spark jobs, so the HOLDER refreshes the mtime every
    * LockStaleMillis/3 from a daemon heartbeat — staleness measures a
    * dead process, not a slow job.
    */
  private val LockStaleMillis = 30L * 60 * 1000

  private lazy val heartbeater =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-commit-lock-heartbeat")
      t.setDaemon(true)
      t
    })

  private def lockPath(dir: Path): Path = dir.resolve("_graft_commit.lock")

  /** Whether this thread holds `dir`'s commit lock. */
  private[sources] def holdsCommitLock(dir: Path): Boolean =
    heldLocks.get().contains(lockPath(dir).toAbsolutePath.toString)

  private[graft] def withCommitLock[A](dir: Path)(body: => A): A = {
    val lock = lockPath(dir)
    val key = lock.toAbsolutePath.toString
    // reentrant per thread: MERGE holds the table lock around its whole
    // read-merge-write, and the inner replace-commit locks the same dir
    if (heldLocks.get().contains(key)) return body
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.nanoTime() + 30L * 60 * 1000 * 1000 * 1000
    var held = false
    while (!held) {
      try {
        Files.createDirectory(lock)
        // owner token: release only deletes the lock it created, so a
        // holder whose lock was broken cannot delete the breaker's lock
        Files.write(lock.resolve("owner"), token.getBytes(StandardCharsets.UTF_8))
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale = try {
            Files.getLastModifiedTime(lock).toMillis <
              System.currentTimeMillis() - LockStaleMillis
          } catch { case _: java.io.IOException => false }
          if (stale) {
            // break via atomic rename: exactly ONE waiter wins the move;
            // the loser's rename throws and it simply retries
            val broken = dir.resolve(s"_graft_commit.broken-$token")
            try {
              Files.move(lock, broken, StandardCopyOption.ATOMIC_MOVE)
              deleteRecursively(broken)
            } catch { case _: java.io.IOException => () }
          } else if (System.nanoTime() > deadline)
            sys.error(s"timed out waiting for commit lock $lock")
          else Thread.sleep(20)
      }
    }
    heldLocks.set(heldLocks.get() + key)
    // heartbeat: refresh the lock mtime while held so waiters never
    // break a live holder's lock mid-job (and then race its commit)
    val beat = heartbeater.scheduleAtFixedRate(
      () => try {
        Files.setLastModifiedTime(lock,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      } catch { case _: java.io.IOException => () },
      LockStaleMillis / 3, LockStaleMillis / 3,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try body finally {
      beat.cancel(false)
      heldLocks.set(heldLocks.get() - key)
      val ownedByUs = try {
        Files.exists(lock.resolve("owner")) &&
          new String(Files.readAllBytes(lock.resolve("owner")),
            StandardCharsets.UTF_8) == token
      } catch { case _: java.io.IOException => false }
      if (ownedByUs) deleteRecursively(lock)
    }
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private[sources] def renderRow(row: InternalRow, schema: StructType): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(schema(i).name).append("\":")
      if (row.isNullAt(i)) sb.append("null")
      else schema(i).dataType match {
        case StringType => appendEscaped(sb, row.getUTF8String(i).toString)
        case LongType => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case DoubleType => sb.append(row.getDouble(i))
        case BooleanType => sb.append(row.getBoolean(i))
        case dt => throw new IllegalArgumentException(
          s"graft-json supports atomic string/long/int/double/boolean columns, got $dt")
      }
      i += 1
    }
    sb.append('}').toString
  }

  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 => sb.append(f"\\u$c%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

private class GraftJsonSinkTable(writeSchema: StructType)
    extends Table with SupportsWrite {

  override def name(): String = "graft_json_sink"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftJsonWriteBuilder(
      info.options.get("path"),
      info.schema(),
      Option(info.options.get("failPartitionOnce")).map(_.toInt),
      replaceMode = Option(info.options.get("replace")).exists(_.toBoolean),
      txn = Option(info.options.get("txnAppId"))
        .map(_ -> info.options.get("txnVersion").toLong),
      format = Option(info.options.get("format"))
        .map(GraftFormat.forName).getOrElse(JsonFormat))
}

/** The path-based sink's write options, shared with the catalog table's
  * write builder. `format` selects the data-file format (json/parquet)
  * for paths written outside a catalog (catalog tables carry it in
  * their CREATE-time sidecar instead).
  */
private[sources] class GraftJsonWriteBuilder(
    path: String,
    schema: StructType,
    failPartitionOnce: Option[Int],
    replaceMode: Boolean = false,
    partitionCol: Option[String] = None,
    txn: Option[(String, Long)] = None,
    branch: Option[String] = None,
    format: GraftFormat = JsonFormat) extends WriteBuilder with SupportsTruncate {

  require(path != null && path.nonEmpty, "graft-json requires a path")
  branch.foreach(Manifest.Branch(_)) // validates the name
  txn.foreach { case (appId, _) =>
    require(appId.nonEmpty && appId.forall(c => c.isLetterOrDigit || c == '_' || c == '-')
      && !appId.contains("part-"),
      s"txnAppId must be [A-Za-z0-9_-]+ without 'part-', got '$appId'")
  }
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    def batchWrite = new GraftJsonBatchWrite(
      path, schema, truncateFirst, replaceMode, failPartitionOnce, partitionCol, txn,
      branch, format)
    partitionCol match {
      case Some(colName) =>
        // identity-partitioned writes declare a clustered distribution on
        // the partition column: Spark routes each value to ONE task, so an
        // append produces at most one file per value instead of
        // (tasks x values) — the file-count bound that matters when a
        // 1000-task job appends to a date-partitioned table
        new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            Distributions.clustered(Array(Expressions.identity(colName)))
          override def requiredOrdering(): Array[SortOrder] = Array.empty
          override def toBatch: BatchWrite = batchWrite
        }
      case None => new Write {
        override def toBatch: BatchWrite = batchWrite
      }
    }
  }
}

/** One committed data file: its task-local tmp path plus everything the
  * driver needs to publish it (row count, stats, and — for identity-
  * partitioned tables — the canonical text of the file's single
  * partition value, or None for a null partition value).
  */
private case class GraftJsonFileEntry(
    tmpPath: String,
    rows: Long,
    stats: GraftStats.FileStats,
    partValue: Option[Option[String]])

private case class GraftJsonCommitMessage(
    partitionId: Int,
    taskId: Long,
    entries: Seq[GraftJsonFileEntry]) extends WriterCommitMessage

private[sources] class GraftJsonBatchWrite(
    path: String,
    schema: StructType,
    truncateFirst: Boolean,
    replaceMode: Boolean,
    failPartitionOnce: Option[Int],
    partitionCol: Option[String] = None,
    txn: Option[(String, Long)] = None,
    branch: Option[String] = None,
    format: GraftFormat = JsonFormat) extends BatchWrite {

  branch.foreach(Manifest.Branch(_)) // validates the name
  require(branch.isEmpty || !(truncateFirst || replaceMode),
    "branch writes are append-only: stage rows on the branch, audit, then publish")

  // unique per write: filenames never collide across commits to one dir
  private val writeId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // layout knobs resolve HERE, on the driver, where the session's
    // SQLConf is visible — task writers get the value by serialization
    // (executor-side SQLConf.get silently misses session overrides).
    // Resolution (and its fail-fast validation) is gated on the format
    // that actually consumes the knob: a malformed parquet knob must
    // not fail a JSON-format write that ignores it entirely.
    new GraftJsonWriterFactory(path, schema, failPartitionOnce, partitionCol,
      format,
      format match {
        case ParquetFormat => GraftFormat.resolvedParquetRowGroupBytes()
        case _ => org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong
      })

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    GraftJsonSink.withCommitLock(dir) {
    val plainOverwrite = truncateFirst && !replaceMode
    if (plainOverwrite) {
      // overwrite resets history: data files, manifest, snapshots, and the
      // stats sidecar go (the format's contract — unlike append, which
      // extends history)
      listFiles(dir).filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") || n == Manifest.FileName ||
          n == GraftStats.StatsName || n == GraftParts.PartsName ||
          n == GraftTableStream.EpochFileName
      }.foreach(Files.deleteIfExists(_))
      Manifest.dropSnapshots(dir, Manifest.listSnapshots(dir))
    }
    // branch commits fold into and swap the BRANCH head manifest — the
    // main head is untouched, so main readers cannot observe staged rows
    val at = branch.fold[Manifest.At](Manifest.Head)(Manifest.Branch)
    branch.foreach { b =>
      require(Manifest.exists(dir, at),
        s"no branch '$b' on this table — call createBranch first " +
          s"(have: ${Manifest.listBranches(dir).mkString(", ")})")
    }
    // publish exactly the committed attempts' files
    val published = messages.flatMap { case m: GraftJsonCommitMessage =>
      m.entries.zipWithIndex.map { case (e, i) =>
        val target = dir.resolve(
          f"part-${m.partitionId}%05d-$writeId-${m.taskId}-$i%03d.${format.ext}")
        Files.move(Paths.get(e.tmpPath), target, StandardCopyOption.REPLACE_EXISTING)
        (target.getFileName.toString, e.rows, e.stats, e.partValue)
      }
    }
    // append semantics: fold the previous committed state into the new
    // manifest. replaceMode ("copy-on-write" truncate, the MERGE commit)
    // lists only this write's files, but superseded data files and prior
    // snapshots stay on disk, so VERSION AS OF keeps serving pre-merge
    // states until compact() vacuums them. Streaming-transaction markers
    // ride IN the manifest so they commit atomically with the swap (the
    // Delta txn pattern): a writer that dies after the swap has its
    // version durably recorded, and one that dies before it recorded
    // nothing. They survive replace commits; a plain overwrite resets
    // them with the rest of history.
    val prev = if (plainOverwrite) Manifest.Empty else Manifest.read(dir, at)
    val base = if (truncateFirst) prev.copy(rows = 0L, files = Nil) else prev
    Manifest.commit(dir, at, base.copy(
      rows = base.rows + published.map(_._2).sum,
      files = base.files ++ published.map(_._1),
      txn = base.txn ++ txn))
    // stats sidecar AFTER the commit point: advisory skipping metadata —
    // prior entries are kept (filenames are write-unique; replace-mode
    // leaves superseded files on disk for VERSION AS OF reads, and their
    // stats must keep serving those historical scans)
    val prevStats =
      if (plainOverwrite) Map.empty[String, GraftStats.FileStats]
      else GraftStats.read(dir, schema)
    GraftStats.write(dir,
      prevStats ++ published.map(p => p._1 -> p._3), schema)
    // partition-value sidecar (identity-partitioned tables): file → its
    // single partition value. Written after the commit point like stats;
    // the scan only reports a grouped layout when EVERY manifest file is
    // covered, so a torn sidecar degrades to an ungrouped scan, never to
    // a wrong join
    if (partitionCol.isDefined) {
      val prevParts =
        if (plainOverwrite) Map.empty[String, Option[String]]
        else GraftParts.read(dir)
      GraftParts.write(dir,
        prevParts ++ published.collect { case (f, _, _, Some(v)) => f -> v })
    }
    } // withCommitLock
    cleanTmp(dir) // sweep orphans from failed/speculative attempts
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // drop THIS write's files precisely; the stale sweep handles writers
    // that died before producing a message
    messages.filter(_ != null).foreach { case m: GraftJsonCommitMessage =>
      m.entries.foreach(e => Files.deleteIfExists(Paths.get(e.tmpPath)))
    }
    cleanTmp(Paths.get(path))
  }

  private def listFiles(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Sweep ONLY stale orphans (attempts older than 10 minutes, i.e.
    * writers that died without committing or aborting). A concurrent
    * writer's fresh in-flight attempt files must survive another
    * committer's sweep — deleting the whole _tmp dir here was a lost
    * race under concurrent appends.
    */
  private def cleanTmp(dir: Path): Unit = {
    val tmp = dir.resolve("_tmp")
    val cutoff = System.currentTimeMillis() - 600000L
    listFiles(tmp).foreach { p =>
      val stale = try Files.getLastModifiedTime(p).toMillis < cutoff
        catch { case _: java.io.IOException => false }
      if (stale) Files.deleteIfExists(p)
    }
    try Files.deleteIfExists(tmp)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }
}

private class GraftJsonWriterFactory(
    path: String,
    schema: StructType,
    failPartitionOnce: Option[Int],
    partitionCol: Option[String],
    format: GraftFormat,
    // resolved by the DRIVER in createBatchWriterFactory — deliberately
    // no default, so a future call site can't silently re-resolve it
    // off the driver thread (the environment-dependent-layout hole)
    parquetRowGroupBytes: Long) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val tmpDir = Paths.get(path, "_tmp")
    Files.createDirectories(tmpDir)
    val failNow = failPartitionOnce.contains(partitionId) &&
      TaskContext.get().attemptNumber() == 0
    partitionCol match {
      case Some(colName) =>
        new GraftJsonPartitionedDataWriter(
          tmpDir, schema, partitionId, taskId, colName, failNow, format,
          parquetRowGroupBytes)
      case None =>
        val tmpFile = tmpDir.resolve(
          f"attempt-$partitionId%05d-$taskId.${format.ext}")
        new GraftJsonDataWriter(tmpFile, schema, partitionId, taskId, failNow,
          format, parquetRowGroupBytes)
    }
  }
}

/** Partitioned writer: routes each row to a per-partition-value file so
  * every committed file holds exactly ONE partition value — the property
  * the grouped scan (storage-partitioned joins) depends on. Works for
  * any input distribution; clustering the write merely reduces the file
  * count.
  */
private class GraftJsonPartitionedDataWriter(
    tmpDir: Path,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    partitionCol: String,
    failNow: Boolean,
    format: GraftFormat,
    // resolved by the DRIVER in createBatchWriterFactory — never default
    // this executor-side (SQLConf.get there misses session overrides)
    parquetRowGroupBytes: Long) extends DataWriter[InternalRow] {

  private val ordinal = schema.fieldIndex(partitionCol)
  private val dt = schema(ordinal).dataType
  // bound open handles: a task seeing many distinct partition values
  // (high-cardinality identity partitioning) must not exhaust the fd
  // limit — least-recently-written slots close and reopen in append
  // mode. A non-appendable format (parquet: the footer seals the file)
  // instead SEALS the evicted slot's file as a finished entry and rolls
  // a fresh segment file when the value reappears — more files under
  // pathological value interleaving, never reopened-after-seal.
  private val MaxOpen = 64
  private final class Slot(val key: Option[String], seq: Int) {
    val tmpFile: Path =
      tmpDir.resolve(f"attempt-$partitionId%05d-$taskId-$seq%05d.${format.ext}")
    var out: GraftFormat.RowWriter = _
    val stats = new GraftStats.Collector(schema)
    var rows = 0L
    var stamp = 0L
    def entry: GraftJsonFileEntry =
      GraftJsonFileEntry(tmpFile.toString, rows, stats.result(), Some(key))
  }
  private val slots = scala.collection.mutable.LinkedHashMap.empty[Option[String], Slot]
  private val open = scala.collection.mutable.LinkedHashSet.empty[Slot]
  private val sealedEntries = scala.collection.mutable.ListBuffer.empty[GraftJsonFileEntry]
  private var tick = 0L
  private var slotSeq = 0

  private def slotFor(k: Option[String]): Slot =
    slots.getOrElseUpdate(k, { slotSeq += 1; new Slot(k, slotSeq - 1) })

  private def writerFor(slot0: Slot): (Slot, GraftFormat.RowWriter) = {
    // a sealed non-appendable slot rolls to a new segment file
    val slot =
      if (slot0.out == null && slot0.rows > 0 && !format.appendable) {
        sealedEntries += slot0.entry
        slots.remove(slot0.key)
        slotFor(slot0.key)
      } else slot0
    if (slot.out == null) {
      if (open.size >= MaxOpen) {
        val lru = open.minBy(_.stamp)
        lru.out.close(); lru.out = null
        open.remove(lru)
      }
      slot.out = format.newWriter(slot.tmpFile, schema, parquetRowGroupBytes)
      open.add(slot)
    }
    tick += 1; slot.stamp = tick
    (slot, slot.out)
  }

  /** Canonical text of the partition value (None = SQL NULL). */
  private def keyOf(row: InternalRow): Option[String] =
    if (row.isNullAt(ordinal)) None
    else Some(dt match {
      case StringType => row.getUTF8String(ordinal).toString
      case LongType => row.getLong(ordinal).toString
      case IntegerType => row.getInt(ordinal).toString
      case DoubleType => row.getDouble(ordinal).toString
      case BooleanType => row.getBoolean(ordinal).toString
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type $other")
    })

  override def write(row: InternalRow): Unit = {
    if (failNow) throw new RuntimeException(
      s"graft-json injected failure (first attempt of this partition)")
    val k = keyOf(row)
    val (slot, out) = writerFor(slotFor(k))
    out.write(row)
    slot.stats.observe(row)
    slot.rows += 1
  }

  private def closeAll(): Unit = slots.values.foreach { s =>
    if (s.out != null) { s.out.close(); s.out = null }
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftJsonCommitMessage(partitionId, taskId,
      sealedEntries.toSeq ++ slots.values.toSeq.map(_.entry))
  }

  override def abort(): Unit = {
    closeAll()
    slots.values.foreach(s => Files.deleteIfExists(s.tmpFile))
    sealedEntries.foreach(e => Files.deleteIfExists(Paths.get(e.tmpPath)))
  }

  override def close(): Unit = closeAll()
}

private class GraftJsonDataWriter(
    tmpFile: Path,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    failNow: Boolean,
    format: GraftFormat,
    // driver-resolved — see GraftJsonPartitionedDataWriter's note
    parquetRowGroupBytes: Long) extends DataWriter[InternalRow] {

  private val out = format.newWriter(tmpFile, schema, parquetRowGroupBytes)
  private var rows = 0L
  // min/max/null-count per column, folded in while rendering — the same
  // single pass over the data the write already makes
  private val stats = new GraftStats.Collector(schema)

  override def write(row: InternalRow): Unit = {
    if (failNow) throw new RuntimeException(
      s"graft-json injected failure (first attempt of this partition)")
    out.write(row)
    stats.observe(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftJsonCommitMessage(partitionId, taskId,
      Seq(GraftJsonFileEntry(tmpFile.toString, rows, stats.result(), None)))
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(tmpFile)
  }

  override def close(): Unit = out.close()
}
