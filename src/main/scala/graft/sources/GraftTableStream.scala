package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** The catalog table as a STREAMING SOURCE: every committed snapshot is
  * an offset, and a micro-batch reads exactly the data files the
  * snapshot range ADDED — `spark.readStream.table("cat.ns.t")` tails a
  * table the way a log is tailed, the lakehouse pattern for feeding
  * incremental pipelines straight from storage.
  *
  * Contract: APPEND-ONLY between consumed offsets. Appends only ever add
  * files, so the manifest diff IS the new data. A commit that REMOVES
  * manifest files in the consumed range (DELETE/UPDATE/MERGE rewrites,
  * compaction) would make the file diff double-count surviving rows —
  * the stream detects the removal and fails loudly instead of emitting
  * wrong results (Delta's default source behavior for the same reason).
  */
private[sources] class GraftTableStream(
    dir: Path, tableSchema: StructType, required: StructType,
    format: GraftFormat = JsonFormat)
    extends MicroBatchStream {

  /** Offsets carry the table EPOCH alongside the snapshot version:
    * compaction and INSERT OVERWRITE reset snapshot numbering, so a
    * bare version from a pre-reset checkpoint would silently alias a
    * post-reset snapshot and the file diff would skip data the
    * append-only check cannot see. An epoch mismatch fails loudly.
    */
  private case class SnapshotOffset(epoch: String, v: Long) extends Offset {
    override def json(): String = s"$epoch/$v"
  }

  private def epoch: String = GraftTableStream.epochOf(dir)

  private def checkEpoch(o: SnapshotOffset): Long = {
    require(o.epoch == epoch,
      s"table history was reset (epoch ${o.epoch} -> $epoch) by " +
        "compaction or INSERT OVERWRITE — restart the stream from a " +
        "fresh checkpoint")
    o.v
  }

  private def stateAt(v: Long): Manifest =
    if (v <= 0L) Manifest.Empty else Manifest.read(dir, Manifest.Version(v))

  override def initialOffset(): Offset = SnapshotOffset(epoch, 0L)

  override def latestOffset(): Offset =
    // main snapshots only: a staged branch snapshot in the offset range
    // would make the tailer emit unpublished rows (or fail the append-
    // only check against branch-only files)
    SnapshotOffset(epoch,
      Manifest.listMainSnapshots(dir).lastOption.getOrElse(0L))

  override def deserializeOffset(json: String): Offset = {
    val idx = json.lastIndexOf('/')
    require(idx > 0, s"malformed snapshot offset: $json")
    SnapshotOffset(json.substring(0, idx), json.substring(idx + 1).trim.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = checkEpoch(start.asInstanceOf[SnapshotOffset])
    val e = checkEpoch(end.asInstanceOf[SnapshotOffset])
    val Manifest(_, before, dvBefore, _, _) = stateAt(s)
    val Manifest(_, after, dvAfter, _, _) = stateAt(e)
    val removed = before.toSet.diff(after.toSet)
    require(removed.isEmpty,
      s"streaming source requires append-only commits, but snapshots " +
        s"$s..$e removed files: ${removed.take(3).mkString(", ")} — " +
        "restart the stream from a fresh checkpoint after compaction/rewrites")
    // deletion vectors are row-level deletes: one appearing or growing in
    // the range means rows this stream may already have emitted were
    // deleted — not expressible as an append, so fail loudly (the same
    // contract as file removals)
    val dvChanged = (dvBefore.keySet ++ dvAfter.keySet)
      .filter(f => dvBefore.get(f) != dvAfter.get(f))
    require(dvChanged.isEmpty,
      s"streaming source requires append-only commits, but snapshots " +
        s"$s..$e changed deletion vectors on: ${dvChanged.take(3).mkString(", ")} — " +
        "restart the stream from a fresh checkpoint after row-level deletes")
    after.filterNot(before.toSet)
      .map(f => JsonFilePartition(dir.resolve(f).toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // row-based on purpose: micro-batch partitions are tailer-sized (the
    // files one commit appended), far below columnar-batch amortization
    new JsonFileReaderFactory(tableSchema, required,
      GraftCatalog.renamesAt(dir), format = format, columnar = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object GraftTableStream {

  val EpochFileName = "_graft_epoch.txt"

  /** The table's current epoch id, created on first use. History-
    * resetting operations (compact, INSERT OVERWRITE) delete the file,
    * so the next stream interaction mints a fresh epoch and checkpointed
    * offsets from the old history are rejected instead of misread.
    */
  def epochOf(dir: java.nio.file.Path): String = {
    val f = dir.resolve(EpochFileName)
    if (java.nio.file.Files.exists(f))
      new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).trim
    else {
      val fresh = java.util.UUID.randomUUID().toString.take(8)
      try {
        java.nio.file.Files.write(f,
          fresh.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        fresh
      } catch { // another stream won the create: adopt its epoch
        case _: java.nio.file.FileAlreadyExistsException =>
          new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8).trim
      }
    }
  }
}
