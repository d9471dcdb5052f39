package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}
import graft.Tunables

/** The shared mechanics of the five persisted-index lifecycles
  * (PrefixFilterJoin, NearDupLsh, Bm25Index, IvfIndex, LshAnnIndex —
  * the [[PersistedIndex]] implementations). All five use the same
  * crash-idempotent layout — per-artifact `batch=<id>` partition
  * directories written with OVERWRITE (build owns -1, appends own
  * unique ids per delivery) — and therefore share these mechanics
  * instead of hand-mirroring them per operator (per-artifact column
  * sets and derivations stay with each operator):
  *
  *  - [[batchDirIds]]: the serve-side O(1) directory listing used by
  *    layout-consistency checks (LSH hot-sidecar completeness, ppjoin
  *    candidate-bound validity). Off-contract names mean the caller must
  *    take its always-correct fallback, so the listing reports them as
  *    `None` rather than guessing.
  *  - [[tailIds]]: the compaction watermark tail — batches beyond the
  *    committed `throughBatch` carry over unchanged, partition for
  *    partition. Compaction REWRITES data, so an off-contract
  *    file-bearing dir here is not a fallback case but silent data
  *    loss (the `col("batch") <= w` fold would see the inferred
  *    partition column flip to string and drop its rows as null casts):
  *    it fails fast instead.
  *  - [[cutBatches]]: the strictly-earlier serve cut that keeps a
  *    half-landed (artifacts written, checkpoint commit missed)
  *    micro-batch invisible to serves running during ingest.
  *  - [[compactDue]]: the compaction trigger [[PersistedIndex.maintain]]
  *    gates on.
  *  - [[serveGuard]] / [[serveKeyPruneLimit]]: the batch-size guards of
  *    the LSH, ppjoin and BM25 serves, under one knob family
  *    (`spark.graft.index.*`, declared in [[graft.Tunables]]).
  */
object IndexLifecycle {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (parsed batch ids, off-contract `batch=*` dirs). A missing `dir`
    * lists as empty — an artifact not yet written (or a legacy layout
    * without batch partitioning) has no batches, not an error.
    */
  private def listBatchDirs(spark: SparkSession, dir: String)
      : (Set[Long], Seq[org.apache.hadoop.fs.Path]) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) (Set.empty, Nil)
    else {
      val batchDirs = fs.listStatus(p).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("batch="))
      val (ok, bad) = batchDirs.partition(st =>
        scala.util.Try(st.getPath.getName.stripPrefix("batch=").toLong).isSuccess)
      (ok.map(_.getPath.getName.stripPrefix("batch=").toLong).toSet,
        bad.map(_.getPath).toSeq)
    }
  }

  /** The batch ids present under `dir` (optionally restricted to ids
    * strictly below `maxBatchExclusive` — the serve cut), or `None`
    * when any `batch=*` directory name fails to parse as a long id:
    * the layout is off-contract (tooling leftovers like `batch=1.bak`)
    * and the caller takes its always-correct fallback — the exact
    * stats aggregate for the LSH hot-bucket skip list, a voided
    * candidate bound (⇒ shuffle_hash) for the ppjoin serve — instead
    * of crashing or mis-deciding on a layout nobody wrote.
    */
  def batchDirIds(spark: SparkSession, dir: String,
      maxBatchExclusive: Option[Long] = None): Option[Set[Long]] = {
    val (ids, bad) = listBatchDirs(spark, dir)
    if (bad.nonEmpty) None
    else Some(maxBatchExclusive.fold(ids)(b => ids.filter(_ < b)))
  }

  /** Compaction tail for one artifact directory: the batch ids beyond
    * the committed watermark, sorted — each carries over to the target
    * unchanged while `batch <= throughBatch` folds into the new
    * bootstrap. Listed from the directory, never from a relation scan
    * (enumerating ids by scanning a year of postings just to read
    * directory names triples the maintenance job's I/O).
    *
    * FAILS FAST on a file-bearing `batch=*` dir that doesn't parse as a
    * long id: compaction's fold filters `col("batch") <= w` on the
    * inferred partition column, and one such dir flips that column to
    * string — the numeric dirs' rows cast to null and silently vanish
    * from BOTH the fold and the tail, i.e. committed data is dropped at
    * the target. Empty off-contract dirs are skipped (partition
    * discovery skips them too, so they cannot affect the fold).
    */
  def tailIds(spark: SparkSession, dir: String, throughBatch: Long): Seq[Long] =
    checkedIds(spark, dir).filter(_ > throughBatch).toSeq.sorted

  /** The batch ids under `dir`, failing fast on a file-bearing
    * off-contract dir (see [[tailIds]]).
    */
  private def checkedIds(spark: SparkSession, dir: String): Set[Long] = {
    val (ids, bad) = listBatchDirs(spark, dir)
    val fileBearing = bad.filter(p =>
      fsOf(spark, p).getContentSummary(p).getFileCount > 0)
    require(fileBearing.isEmpty,
      s"off-contract batch directories with data under $dir: " +
        s"${fileBearing.mkString(", ")} — their names don't parse as batch " +
        "ids, so a compaction fold would silently drop rows (the inferred " +
        "batch partition column becomes a string and numeric ids cast to " +
        "null); rename or remove them before compacting")
    ids
  }

  /** True when `dir` holds more than `spark.graft.index.compactMinBatches`
    * committed (id ≤ `throughBatch`, bootstrap included) batch
    * directories — the cheap (one listing, no data read) check
    * [[PersistedIndex.maintain]] gates its compaction on, so
    * directory-listing cost per serve stays bounded under a long-running
    * ingest without an operator remembering to compact. Off-contract
    * file-bearing dirs fail fast exactly like [[tailIds]]: a maintenance
    * decision must not silently miscount the layout it is about to
    * rewrite.
    */
  def compactDue(spark: SparkSession, dir: String,
      throughBatch: Long): Boolean = {
    val threshold = Tunables.CompactMinBatches(spark)
    checkedIds(spark, dir).count(_ <= throughBatch) > threshold
  }

  /** The strictly-earlier serve cut on the `batch` partition column —
    * pass the last checkpoint-COMMITTED batch id + 1 to keep a
    * half-landed micro-batch invisible; `None` serves everything.
    * Legacy layouts without the column (pre-partition-layout indexes)
    * carry no appends and serve whole, exactly as before the column
    * existed.
    */
  def cutBatches(df: DataFrame, maxBatchExclusive: Option[Long]): DataFrame =
    maxBatchExclusive match {
      case Some(b) if df.columns.contains("batch") => df.filter(col("batch") < b)
      case _ => df
    }

  /** Largest key In-list a serve pushes into an index scan
    * (`spark.graft.index.serveKeyPruneLimit`): the LSH band keys, the
    * ppjoin prefix shingles and the BM25 query terms of a batch are
    * collected (bounded) and pushed into the sorted artifact scans as an
    * `isInCollection` filter only while they number at most this many;
    * bigger batches skip the prune (or, in BM25, move it to a broadcast
    * semi-join).
    */
  def serveKeyPruneLimit(spark: SparkSession): Int =
    Tunables.ServeKeyPruneLimit(spark).toInt

  /** A serve's broadcast decision: `probedRows` (the batch row count,
    * capped at `maxRows` + 1) against the row budget `maxRows`. Under
    * budget, [[side]] broadcasts a serve-side relation; over it, the
    * same join takes `shuffle_hash`, which trades a pruned-column corpus
    * shuffle for completing at all.
    */
  final case class ServeGuard(maxRows: Long, probedRows: Long) {
    def oversized: Boolean = probedRows > maxRows
    def side(df: DataFrame): DataFrame =
      if (!oversized) broadcast(df) else df.hint("shuffle_hash")
  }

  /** The guard for serving `batch`: a limit-bounded row probe against
    * `spark.graft.index.serveBroadcastMaxRows`, skipped when the caller
    * already knows the batch size (`batchRows`, e.g. a stream that
    * materialized and counted the batch). The probe is a count (one
    * O(min(batch, budget)) job per serve call) because plan-stat
    * estimates don't discount filters with CBO off: a batch carved from
    * a large relation by a filter LOOKS relation-sized and would
    * misroute the common small-batch case onto the corpus-shuffle path
    * (observed: a 1% batch of a 10M corpus shuffling 5.4 GB of corpus sh
    * for nothing).
    */
  def serveGuard(spark: SparkSession, batch: DataFrame,
      batchRows: Option[Long]): ServeGuard = {
    val maxRows = Tunables.ServeBroadcastMaxRows(spark)
    val probeCap = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    ServeGuard(maxRows, batchRows.getOrElse(batch.limit(probeCap).count()))
  }
}
