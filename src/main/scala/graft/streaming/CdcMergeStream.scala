package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.GraftMerge

/** Streaming MERGE: a CDC feed applied to a graft catalog table one
  * micro-batch at a time through foreachBatch — the standard pattern for
  * sinks whose write protocol is transactional but not natively
  * streaming. Each micro-batch becomes ONE atomic copy-on-write snapshot
  * commit (GraftMerge's manifest rename), so readers always see a batch
  * boundary, never a half-applied batch, and every pre-batch state stays
  * queryable via VERSION AS OF.
  *
  * Exactly-once needs more than the checkpoint: foreachBatch is
  * at-least-once, so a crash AFTER the merge's manifest swap but BEFORE
  * the checkpoint commit re-delivers the same batch on restart, and
  * blindly re-merging it onto the post-merge base would double-apply
  * (re-insert deleted keys, resurrect overwritten values). The guard is
  * a transaction marker (appId → batchId) written INSIDE the manifest,
  * atomically with the swap: on re-delivery the marker shows the batch
  * already applied and the merge is skipped. Marker check and merge run
  * under the table's commit lock, so no other writer interleaves.
  * A feed with several changes to one key within one micro-batch must be
  * collapsed (last change per key) upstream, exactly as for batch MERGE.
  */
object CdcMergeStream {

  /** Stable per-stream identity for txn markers: derived from the
    * checkpoint path, which is the thing that IS the stream's identity
    * across restarts. Hex-encoded so it satisfies manifest key rules.
    */
  private[streaming] def appIdFor(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Apply one micro-batch exactly once: GraftMerge skips it when this
    * stream's marker already covers `batchId`, else merges with the
    * marker riding in the same manifest commit. Public for crash-recovery
    * tests, which replay batches the way a restarted query would.
    */
  def applyBatch(
      tableFqn: String,
      batch: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      appId: String,
      batchId: Long): Unit =
    GraftMerge.into(batch.sparkSession, tableFqn, batch, keyCols, opCol,
      txn = Some(appId -> batchId))

  /** Start applying `changes` (a streaming DataFrame carrying `keyCols`,
    * the table's columns, and `opCol` with U/I/D) to `tableFqn`.
    */
  def start(
      tableFqn: String,
      changes: DataFrame,
      keyCols: Seq[String],
      checkpoint: String,
      opCol: String = "op"): StreamingQuery = {
    val appId = appIdFor(checkpoint)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          applyBatch(tableFqn, batch, keyCols, opCol, appId, batchId)
      }
      .start()
  }
}
