package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One committed state of a graft table — the content of a
  * `_graft_manifest.json`. Its companion is the only module that reads,
  * renders or swaps a manifest file.
  *
  * Layout: one JSON object and a trailing newline, keys in this order,
  * the last three omitted when empty:
  * {{{
  * {"rows":5,"files":["part-a.json","part-b.json"],"dvs":{"part-a.json":[0,2]},"txn":{"app":3},"ref":"audit"}
  * }}}
  *  - `rows`: live rows (physical rows minus deletion vectors);
  *  - `files`: the committed data files, sorted;
  *  - `dvs`: merge-on-read deletion vectors, file → deleted ordinals
  *    ([[GraftDv]]); a vector keyed on an unlisted file is not written;
  *  - `txn`: streaming-transaction markers, appId → highest applied
  *    writer version ([[graft.streaming.CdcMergeStream]]). They ride
  *    along in every `copy` of a read state; only a plain overwrite,
  *    which starts from [[Manifest.Empty]], clears them;
  *  - `ref`: the branch a numbered snapshot was staged on (snapshot
  *    files only; untagged snapshots are main history).
  *
  * Files per table directory: the head `_graft_manifest.json`, the
  * numbered snapshots `_graft_manifest.v<n>.json` (VERSION AS OF
  * history), and per write-audit-publish branch its head
  * `_graft_branch_<b>.json` and the main state it forked from,
  * `_graft_branch_<b>.fork.json`.
  *
  * Commit-point rule: data files are in place before the manifest; the
  * manifest is written to a temp file and renamed over its target
  * atomically, and that rename is the commit point — a reader sees the
  * whole previous state or the whole new one. The numbered snapshot and
  * every sidecar (stats, partition values, bloom) are written after it,
  * so a crash in between loses a history entry or advisory metadata,
  * never data. A committer holds [[GraftJsonSink.withCommitLock]] from
  * its `read` to its `commit`, so no concurrent commit is lost.
  */
final case class Manifest(
    rows: Long,
    files: Seq[String],
    dvs: Map[String, Seq[Int]] = Map.empty,
    txn: Map[String, Long] = Map.empty,
    ref: Option[String] = None)

object Manifest {

  val FileName = "_graft_manifest.json"
  val SnapshotPrefix = "_graft_manifest.v"
  val BranchPrefix = "_graft_branch_"

  /** The state of a table with no commit yet. */
  val Empty: Manifest = Manifest(0L, Nil)

  /** Which manifest of a table: its head, a numbered snapshot, or a
    * branch head. A write-audit-publish branch is a named head alongside
    * main: its commits snapshot into the shared numbering tagged with its
    * ref, invisible to main's numeric/timestamp time travel until
    * [[publish]] folds them in; main readers never consult it.
    */
  sealed trait At
  case object Head extends At
  final case class Version(v: Long) extends At
  final case class Branch(name: String) extends At {
    // checked before any path resolves: a name with separators must not
    // escape the table directory
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9_-]+, got '$name'")
  }

  private def path(dir: Path, at: At): Path = dir.resolve(at match {
    case Head => FileName
    case Version(v) => s"$SnapshotPrefix$v.json"
    case Branch(b) => s"$BranchPrefix$b.json"
  })

  private def forkPath(dir: Path, b: Branch): Path =
    dir.resolve(s"$BranchPrefix${b.name}.fork.json")

  def exists(dir: Path, at: At): Boolean = Files.exists(path(dir, at))

  /** The state `at` names; [[Empty]] for a head or branch never
    * committed. A missing snapshot version fails loudly.
    */
  def read(dir: Path, at: At = Head): Manifest = {
    val p = path(dir, at)
    at match {
      case Version(v) => require(Files.exists(p),
        s"no snapshot version $v in $dir (have: ${listSnapshots(dir).mkString(",")})")
      case _ =>
    }
    readFile(p)
  }

  private def readFile(p: Path): Manifest =
    if (!Files.exists(p)) Empty
    else parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  private val Json = new ObjectMapper()

  def parse(text: String): Manifest = {
    val n = Json.readTree(text)
    def entries(key: String) = n.path(key).properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue)
    Manifest(
      rows = n.path("rows").asLong(0L),
      files = n.path("files").asScala.map(_.asText).toVector,
      // ArraySeq.ofInt: unboxed storage, value equality
      dvs = entries("dvs").map { case (f, ords) =>
        f -> ArraySeq.unsafeWrapArray(ords.asScala.map(_.asInt).toArray)
      }.filter(_._2.nonEmpty).toMap,
      txn = entries("txn").map { case (k, v) => k -> v.asLong }.toMap,
      ref = Option(n.get("ref")).map(_.asText))
  }

  def render(m: Manifest): String = {
    def q(s: String) = "\"" + s + "\""
    val listed = m.files.toSet
    val dvs = m.dvs.filter { case (f, ords) => ords.nonEmpty && listed(f) }
    val sb = new java.lang.StringBuilder("{\"rows\":").append(m.rows)
      .append(",\"files\":[").append(m.files.sorted.map(q).mkString(",")).append(']')
    if (dvs.nonEmpty) sb.append(dvs.toSeq.sortBy(_._1)
      .map { case (f, ords) => q(f) + ":[" + ords.mkString(",") + "]" }
      .mkString(",\"dvs\":{", ",", "}"))
    if (m.txn.nonEmpty) sb.append(m.txn.toSeq.sorted
      .map { case (k, v) => q(k) + ":" + v }
      .mkString(",\"txn\":{", ",", "}"))
    m.ref.foreach(b => sb.append(",\"ref\":").append(q(b)))
    sb.append("}\n").toString
  }

  /** Swap `m` in as the head or a branch head — the single commit
    * point — then record it as the next numbered snapshot (history for
    * VERSION AS OF), tagged with the branch's ref when `target` is a
    * branch (invisible to main time travel until [[publish]]). A crash
    * between swap and snapshot loses only the history entry, never data.
    * Returns the snapshot version.
    */
  private[sources] def commit(dir: Path, target: At, m: Manifest): Long = {
    require(GraftJsonSink.holdsCommitLock(dir),
      s"manifest commit outside the commit lock of $dir")
    val ref = target match {
      case Head => None
      case Branch(b) => Some(b)
      case v: Version => throw new IllegalArgumentException(
        s"snapshot $v is immutable; commit to the head or a branch")
    }
    swap(path(dir, target), m.copy(ref = None))
    val next = listSnapshots(dir).lastOption.getOrElse(0L) + 1
    write(path(dir, Version(next)), m.copy(ref = ref))
    next
  }

  private def write(p: Path, m: Manifest): Unit =
    Files.write(p, render(m).getBytes(StandardCharsets.UTF_8))

  private def swap(p: Path, m: Manifest): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    write(tmp, m)
    Files.move(tmp, p,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot versions present, ascending. */
  def listSnapshots(dir: Path): Seq[Long] =
    names(dir).filter(n => n.startsWith(SnapshotPrefix) && n.endsWith(".json"))
      .map(n => n.substring(SnapshotPrefix.length, n.length - 5).toLong).sorted

  /** The branch a snapshot was staged on, or None for a main snapshot
    * (and for a version that does not exist).
    */
  def snapshotRef(dir: Path, version: Long): Option[String] =
    if (!exists(dir, Version(version))) None
    else read(dir, Version(version)).ref

  /** Snapshot versions belonging to MAIN history, ascending — the only
    * versions numeric VERSION AS OF / TIMESTAMP AS OF / streaming
    * offsets may resolve to.
    */
  def listMainSnapshots(dir: Path): Seq[Long] =
    listSnapshots(dir).filter(v => snapshotRef(dir, v).isEmpty)

  /** When snapshot `version` was committed: its file's mtime, epoch ms. */
  def committedAt(dir: Path, version: Long): Long =
    Files.getLastModifiedTime(path(dir, Version(version))).toMillis

  /** Delete numbered snapshots; dropping all of them restarts history
    * at the next commit.
    */
  private[sources] def dropSnapshots(dir: Path, versions: Seq[Long]): Unit =
    versions.foreach(v => Files.deleteIfExists(path(dir, Version(v))))

  /** Branches present on the table, by their head files. */
  def listBranches(dir: Path): Seq[String] =
    names(dir).filter(n => n.startsWith(BranchPrefix) && n.endsWith(".json") &&
      !n.endsWith(".fork.json"))
      .map(n => n.substring(BranchPrefix.length, n.length - 5)).sorted

  /** Data files some branch head still references — a vacuum keeps them. */
  private[sources] def branchFiles(dir: Path): Set[String] =
    listBranches(dir).flatMap(b => read(dir, Branch(b)).files).toSet

  /** Fork `b` at the current head: the branch head and the frozen fork
    * copy (what [[publish]] checks main against) both start as main's
    * state.
    */
  private[sources] def fork(dir: Path, b: Branch): Unit = {
    val head = read(dir)
    swap(path(dir, b), head)
    swap(forkPath(dir, b), head)
  }

  /** The main state `b` forked from. */
  private[sources] def forkOf(dir: Path, b: Branch): Manifest =
    readFile(forkPath(dir, b))

  /** Fast-forward main to `b`'s head, consume the branch, and fold its
    * snapshots into main history — sound because publish is
    * fast-forward-only: the branch's commit chain IS main's ancestry
    * once published. Returns the snapshot version the publish recorded.
    */
  private[sources] def publish(dir: Path, b: Branch): Long = {
    val v = commit(dir, Head, read(dir, b))
    Files.deleteIfExists(path(dir, b))
    Files.deleteIfExists(forkPath(dir, b))
    staged(dir, b).foreach(s =>
      write(path(dir, Version(s)), read(dir, Version(s)).copy(ref = None)))
    v
  }

  /** Drop `b`: its head, fork copy and staged snapshots go; its data
    * files become orphans for expireSnapshots.
    */
  private[sources] def drop(dir: Path, b: Branch): Unit = {
    Files.deleteIfExists(path(dir, b))
    Files.deleteIfExists(forkPath(dir, b))
    dropSnapshots(dir, staged(dir, b))
  }

  private def staged(dir: Path, b: Branch): Seq[Long] =
    listSnapshots(dir).filter(v => snapshotRef(dir, v).contains(b.name))

  private def names(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }
}
