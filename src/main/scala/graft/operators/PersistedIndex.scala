package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lifecycle contract of the five persisted indexes (NearDupLsh,
  * PrefixFilterJoin, Bm25Index, IvfIndex, LshAnnIndex): the policy every
  * index shares is written here once, and each operator supplies only
  * its own artifact layout, batch write and compaction fold.
  *
  *  - [[appendIndex]]: appends own ids >= 0 (the build owns `batch=-1`);
  *    a redelivered batch reuses its id and OVERWRITES its own
  *    partitions.
  *  - [[compactIndex]]: lists the compaction tail of EVERY batched
  *    artifact directory ([[IndexLifecycle.tailIds]]) before the fold
  *    writes anything, so an off-contract file-bearing dir under any
  *    artifact fails the compaction with no target written.
  *  - [[maintain]]: the auto-maintenance trigger
  *    ([[IndexLifecycle.compactDue]] on the first batched directory),
  *    then [[compactIndex]].
  */
trait PersistedIndex {

  /** The artifact directories of the index at `path` that hold
    * `batch=<id>` partitions. The first one triggers compaction.
    */
  def batchedDirs(path: String): Seq[String]

  /** Write `rows` as batch `batchId` (build or append). */
  protected def writeBatch(rows: DataFrame, path: String, batchId: Long): Unit

  /** Fold batches up to `throughBatch` into the target's `batch=-1` and
    * carry the rest. `tails` maps each of [[batchedDirs]]`(path)` to its
    * already-listed tail ids.
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit

  /** Append an ingest batch (ids disjoint from the standing corpus, batch
    * ids >= 0 and unique per DELIVERY): crash-idempotent by layout.
    */
  final def appendIndex(rows: DataFrame, path: String, batchId: Long): Unit = {
    require(batchId >= 0, s"append batch ids are >= 0 (build owns -1): $batchId")
    writeBatch(rows, path, batchId)
  }

  /** Consolidate the index at `path` into a fresh `targetPath`: batches
    * up to `throughBatch` fold into ONE `batch=-1` partition set, later
    * batches carry over under their own ids. The source is never
    * mutated; the caller swaps paths after the write completes.
    * `throughBatch` MUST be the last checkpoint-COMMITTED batch when a
    * stream feeds the index (the default folds everything, safe only
    * after a clean stop): a crashed batch folded into `batch=-1` could
    * never again be excluded by the strictly-earlier serve cut.
    *
    * `width` sizes the folded bootstrap where the layout leaves the file
    * count free (LSH signatures, ppjoin sets/prefix, BM25 postings/df);
    * 0 keeps Spark's default. IVF cells and LSH-ANN buckets are written
    * one file per cell and ignore it.
    */
  final def compactIndex(spark: SparkSession, path: String, targetPath: String,
      width: Int = 0, throughBatch: Long = Long.MaxValue): Unit = {
    val tails = batchedDirs(path)
      .map(d => d -> IndexLifecycle.tailIds(spark, d, throughBatch)).toMap
    fold(spark, path, targetPath, width, throughBatch, tails)
  }

  /** Compact into `targetPath` only when the committed batch-dir count
    * of the trigger directory exceeds
    * `spark.graft.index.compactMinBatches` (not due = one directory
    * listing). True when a compacted index was written (the caller, or
    * an IndexGenerations tick, swaps paths); false leaves `targetPath`
    * untouched.
    */
  final def maintain(spark: SparkSession, path: String, targetPath: String,
      throughBatch: Long = Long.MaxValue): Boolean = {
    val due = IndexLifecycle.compactDue(spark, batchedDirs(path).head, throughBatch)
    if (due) compactIndex(spark, path, targetPath, throughBatch = throughBatch)
    due
  }
}
