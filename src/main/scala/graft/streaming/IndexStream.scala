package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Bm25Index, IndexGenerations, IvfIndex, NearDupLsh,
  PersistedIndex, PrefixFilterJoin}

/** What the stream driver needs from one persisted index: the feed's
  * columns, the idempotent per-batch apply, and the index itself, whose
  * `maintain` the auto-maintenance tick runs.
  *
  * Every index shares the crash-idempotent layout: a micro-batch lands
  * with OVERWRITE in its own `batch=<id>` partitions, so a redelivered
  * batch (crash between the write and the checkpoint commit, then retry)
  * REPLACES its partial state instead of double-appending — exactly-once
  * membership by layout, not by transaction log.
  */
trait IndexIngest {

  /** The feed's columns; the first is the id, unique across the
    * bootstrap and every micro-batch (the append contract: global
    * statistics are SUMS of per-batch values, valid only for disjoint
    * id sets).
    */
  def columns: Seq[String]

  def index: PersistedIndex

  /** Apply one micro-batch to the index at `path`. Idempotent per
    * `batchId`.
    */
  def applyBatch(spark: SparkSession, path: String, batchId: Long,
      batch: DataFrame): Unit
}

/** An ingest that appends every micro-batch to its index as is. Ingest
  * never reads the index, so the strictly-earlier discipline lives on
  * the READ side: a serve running during ingest passes the last
  * committed batch id + 1 as its `maxBatchExclusive`.
  */
class AppendIngest(val index: PersistedIndex, val columns: Seq[String])
    extends IndexIngest {
  def applyBatch(spark: SparkSession, path: String, batchId: Long,
      batch: DataFrame): Unit =
    index.appendIndex(batch.select(columns.map(col): _*), path, batchId)
}

/** BM25 ingest: postings/df/stats per micro-batch. */
object Bm25Ingest extends AppendIngest(Bm25Index, Seq("doc_id", "text"))

/** IVF ingest: assign under the FROZEN build-time quantizer. The
  * maintenance tick only ever compacts; a standing drift alarm survives
  * it by IvfIndex's compaction carry, so auto-maintenance never silently
  * re-baselines a drifted quantizer.
  */
object IvfIngest extends AppendIngest(IvfIndex, Seq("vec_id", "v", "norm2"))

/** Streaming near-duplicate dedup against a persisted index. Each batch
  * keeps only documents with no near-duplicate among the documents
  * ACCEPTED in strictly-earlier batches, appends the survivors to the
  * index and records them in the membership log at `logPath`
  * (`batch=<id>`, the same overwrite contract).
  *
  * Per micro-batch:
  *   1. within-batch EXACT dedup (md5 keep-first) — within-batch
  *      NEAR-dup pruning is the batch-prep job (`pipe_dedup_funnel`);
  *      the stream owns the cross-batch increment;
  *   2. the index serve ([[duplicates]]) reads ONLY strictly-earlier
  *      batch partitions — a redelivered batch may find its own
  *      partitions already written and must not near-dup against itself
  *      at jaccard 1.0; earlier partitions are immutable, so the
  *      decision replays identically;
  *   3. survivors are appended to the index and logged.
  *
  * Documents with fewer than 3 tokens carry no shingles, can never clear
  * a Jaccard threshold, and are accepted without entering the index
  * (exact-dup control for those belongs to DedupStoreStream's md5
  * store).
  */
sealed abstract class DedupIngest(val logPath: String,
    val index: PersistedIndex) extends IndexIngest {
  final val columns: Seq[String] = Seq("doc_id", "text")

  /** Serve the exact-deduped batch against the index at `path`: pairs
    * with a `new_id` column, or None when every document is accepted
    * without a serve. `exactRows` is the batch's row count, which
    * replaces the serve's own limit-bounded count probe.
    */
  protected def duplicates(spark: SparkSession, path: String, batchId: Long,
      exact: DataFrame, exactRows: Long): Option[DataFrame]

  final def applyBatch(spark: SparkSession, path: String, batchId: Long,
      batch: DataFrame): Unit = {
    val keepFirst = Window.partitionBy(col("sig")).orderBy(col("doc_id").asc)
    val exact = batch
      .select(col("doc_id"), col("text"), md5(col("text")).as("sig"))
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("text"))
    // pinned and counted ONCE: the serve's broadcast decision needs the
    // batch row count, and its plan construction would otherwise re-run
    // a limit-bounded count through the window dedup above
    exact.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val exactRows = exact.count()
      val accepted = duplicates(spark, path, batchId, exact, exactRows)
        .fold(exact)(pairs => exact.join(
          pairs.select(col("new_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      // one materialization for the index append and the membership
      // log: the lazy plan would re-run the serve per consumer WHILE the
      // batch's own partitions are being overwritten. Batch-sized — not
      // the full-corpus-cache anti-pattern.
      accepted.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        index.appendIndex(accepted, path, batchId)
        accepted.select(col("doc_id")).write.mode("overwrite")
          .parquet(s"$logPath/batch=$batchId")
      } finally accepted.unpersist()
    } finally exact.unpersist()
  }

  /** Accepted membership so far: (doc_id, batch). */
  def acceptedLog(spark: SparkSession): DataFrame =
    spark.read.parquet(logPath).select(col("doc_id"), col("batch"))

  protected def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Near-dup dedup against the persisted LSH signature index (word-3-gram
  * Jaccard >= `threshold`, probabilistic). Hot buckets are skipped via
  * the PERSISTED per-batch stats (one tiny read, never an index
  * re-aggregation), so a batch costs O(batch) compute: only the batch is
  * shingled/hashed, the corpus is re-read as pruned parquet columns.
  * Before the index exists, the first batch is accepted whole.
  */
final case class NearDupIngest(override val logPath: String,
    threshold: Double, maxBucket: Int)
    extends DedupIngest(logPath, NearDupLsh) {

  protected def duplicates(spark: SparkSession, path: String, batchId: Long,
      exact: DataFrame, exactRows: Long): Option[DataFrame] =
    if (!exists(spark, path)) None
    else {
      require(NearDupLsh.readIndex(spark, path).columns.contains("batch"),
        s"index at $path has no `batch` partition column — it was " +
          "written with a pre-unification flat layout. Rebuild it with " +
          "writeIndex/appendIndex (both write batch=<id> partitions; " +
          "a bootstrap lands in batch=-1), or move the old files under a " +
          "batch=-1 subdirectory.")
      // O(hot tail) when the truncated sidecar covers every served batch
      // partition, the exact full-stats aggregate otherwise — the same
      // strictly-earlier cut either way (see NearDupLsh.hotBuckets)
      val hot = NearDupLsh.hotBuckets(spark, path, maxBucket,
        maxBatchExclusive = Some(batchId))
      Some(NearDupLsh.pairsAgainstIndexAt(spark, exact, path, threshold,
        Some(hot), maxBatchExclusive = Some(batchId),
        batchRows = Some(exactRows)))
    }
}

/** EXACT near-dup dedup against the persisted prefix-filter (PPJoin)
  * index: Jaccard >= num/den with zero false negatives and zero false
  * positives. The index is bootstrapped on first touch with an EMPTY
  * `writeIndex` (all-OVERWRITE, so idempotent), freezing the
  * rarest-first order at f = 0 for every shingle — a legal total order
  * (ties by hash), so prefix filtering stays lossless; a standing-corpus
  * bootstrap (`writeIndex` on real docs) gives better candidate
  * efficiency and is preferred in production.
  */
final case class PpJoinIngest(override val logPath: String, num: Int, den: Int)
    extends DedupIngest(logPath, PrefixFilterJoin) {

  protected def duplicates(spark: SparkSession, path: String, batchId: Long,
      exact: DataFrame, exactRows: Long): Option[DataFrame] = {
    if (!exists(spark, s"$path/meta"))
      PrefixFilterJoin.writeIndex(exact.limit(0), path, num, den)
    Some(PrefixFilterJoin.pairsAgainstIndex(spark, exact, path, num, den,
      batchRows = Some(exactRows), maxBatchExclusive = Some(batchId)))
  }
}

/** The one stream driver over the persisted indexes: `foreachBatch`
  * applies each micro-batch to the ACTIVE generation under the index
  * root, then runs the auto-maintenance tick (a no-op unless
  * `spark.graft.index.autoMaintain` is true and compaction is due —
  * IndexGenerations documents the adoption protocol and why decisions
  * are byte-identical across the swap).
  */
object IndexStream {

  def applyBatchMaintained(spark: SparkSession, ingest: IndexIngest,
      indexRoot: String, batchId: Long, batch: DataFrame): Unit = {
    val active = IndexGenerations.activePath(spark, indexRoot)
    ingest.applyBatch(spark, active, batchId, batch)
    IndexGenerations.maintainTick(spark, indexRoot, active, batchId,
      ingest.index)
  }

  def start(source: DataFrame, ingest: IndexIngest, indexRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatchMaintained(batch.sparkSession, ingest, indexRoot, id, batch)
      }
      .start()

  /** Drive `rows` through the stream as `k` deterministic micro-batches
    * (batch i = pmod(id, k) == i, fed and drained strictly in order).
    * The MemoryStream feed is a gate-harness shim pinning batch
    * boundaries so a greedy accept sequence is reproducible for the
    * oracle; production ingest is `readStream` over arriving files or
    * Kafka with the same foreachBatch.
    */
  def runToCompletion(spark: SparkSession, rows: DataFrame, k: Int,
      ingest: IndexIngest, indexRoot: String, checkpoint: String): Unit = {
    val fed = rows.select(ingest.columns.map(col): _*)
    val feed = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Row](spark)(Encoders.row(fed.schema))
    val q = start(feed.toDF(), ingest, indexRoot, checkpoint)
    try {
      (0 until k).foreach { i =>
        feed.addData(fed.filter(pmod(col(ingest.columns.head), lit(k)) === i)
          .collect().toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
  }
}
