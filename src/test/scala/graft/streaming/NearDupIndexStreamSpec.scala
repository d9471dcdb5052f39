package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class NearDupIndexStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def ingest(logPath: String) = NearDupIngest(logPath, 0.8, 4096)

  private def accepted(logPath: String): Set[(Long, Int)] =
    ingest(logPath).acceptedLog(spark)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("greedy accept across batches equals the oracle replay") {
    val root = graft.TestDirs("graft_ndis_spec").toString
    IndexStream.runToCompletion(
      spark, docs, k = 3, ingest(s"$root/log"), indexRoot = s"$root/idx",
      checkpoint = s"$root/ckpt")
    val got = ingest(s"$root/log").acceptedLog(spark).collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    // reference replay with batch-at-a-time exact machinery
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val shingled = docs
      .select(col("doc_id"), (col("doc_id") % 3).cast("int").as("batch"),
        md5(col("text")).as("sig"),
        graft.functions.GraftFunctions.ngram_hashes(
          split(col("text"), " ")).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[Long](3).toSet))
    def jac(a: Set[Long], b: Set[Long]): Double =
      if (a.isEmpty || b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size.toDouble
    var acc = List.empty[(Long, Int, Set[Long])]
    (0 until 3).foreach { b =>
      val batch = shingled.filter(_._2 == b).sortBy(_._1)
        .groupBy(_._3).map(_._2.minBy(_._1)).toSeq.sortBy(_._1) // exact keep-first
      val survivors = batch.filterNot { case (_, _, _, sh) =>
        acc.exists(p => jac(sh, p._3) >= 0.8) }
      acc = acc ++ survivors.map(d => (d._1, d._2, d._4))
    }
    val want = acc.map(d => (d._1, d._2)).toSet
    assert(got == want,
      s"missing=${want -- got}, extra=${got -- want}")
  }

  test("compacted index serves identical decisions and the stream continues on it") {
    import graft.operators.NearDupLsh
    val root = graft.TestDirs("graft_ndis_compact").toString
    val (idx, log) = (s"$root/idx", s"$root/log")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    ingest(log).applyBatch(spark, idx, 0L, b0)
    ingest(log).applyBatch(spark, idx, 1L, b1)
    // consolidate batches 0..1 into a fresh path, swap, continue
    val idx2 = s"$root/idx_compacted"
    NearDupLsh.compactIndex(spark, idx, idx2, width = 2)
    // same signatures, same stats, one partition dir
    assert(NearDupLsh.readIndex(spark, idx2).count() ==
      NearDupLsh.readIndex(spark, idx).count())
    val statsBefore = NearDupLsh.readBucketStats(spark, idx)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val statsAfter = NearDupLsh.readBucketStats(spark, idx2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(statsAfter == statsBefore)
    // batch 2 decided against the compacted path equals the uncompacted one
    val log2 = s"$root/log2"
    ingest(log).applyBatch(spark, idx, 2L, b2)
    ingest(log2).applyBatch(spark, idx2, 2L, b2)
    val viaOld = accepted(log).filter(_._2 == 2)
    val viaNew = accepted(log2)
    assert(viaNew.map(_._1) == viaOld.map(_._1),
      s"compacted decision diverged: old=${viaOld.size} new=${viaNew.size}")
  }

  test("compaction watermark keeps a crashed batch's partition out of batch=-1") {
    import graft.operators.NearDupLsh
    val root = graft.TestDirs("graft_ndis_wm").toString
    val (idx, log) = (s"$root/idx", s"$root/log")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    ingest(log).applyBatch(spark, idx, 0L, b0)
    ingest(log).applyBatch(spark, idx, 1L, b1)
    // batch 1's index partition exists but its checkpoint commit was
    // "lost": compact only through batch 0. Batch 1 must survive the
    // compaction under its own id, NOT folded into batch=-1 — folded,
    // the redelivery below would self-match at jaccard 1.0 and reject
    // every batch-1 doc forever.
    val idx2 = s"$root/idx_wm"
    NearDupLsh.compactIndex(spark, idx, idx2, width = 2, throughBatch = 0L)
    val batches = NearDupLsh.readIndex(spark, idx2)
      .select(col("batch")).distinct().collect().map(_.getInt(0)).toSet
    assert(batches == Set(-1, 1), s"got $batches")
    // redeliver batch 1 against the compacted index, then run batch 2:
    // decisions equal the uncompacted lifecycle's
    val log2 = s"$root/log_wm"
    ingest(log2).applyBatch(spark, idx2, 1L, b1)
    ingest(log2).applyBatch(spark, idx2, 2L, b2)
    ingest(log).applyBatch(spark, idx, 2L, b2)
    val viaOld = accepted(log).filter(_._2 >= 1).map(_._1)
    val viaNew = accepted(log2).map(_._1)
    assert(viaNew == viaOld,
      s"watermark compaction diverged: missing=${viaOld -- viaNew}, extra=${viaNew -- viaOld}")
  }

  test("redelivered batch replaces its own partitions: replay-idempotent") {
    val root = graft.TestDirs("graft_ndis_replay").toString
    val (idx, log) = (s"$root/idx", s"$root/log")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    ingest(log).applyBatch(spark, idx, 0L, b0)
    val after0 = accepted(log)
    // crash-redelivery of batch 0: its own partition already exists;
    // unguarded it would self-reject everything on replay
    ingest(log).applyBatch(spark, idx, 0L, b0)
    assert(accepted(log) == after0, "replay of batch 0 must be a no-op")
    ingest(log).applyBatch(spark, idx, 1L, b1)
    val after1 = accepted(log)
    assert((after1 -- after0).forall(_._2 == 1))
    // and replaying batch 1 changes nothing either
    ingest(log).applyBatch(spark, idx, 1L, b1)
    assert(accepted(log) == after1, "replay of batch 1 must be a no-op")
  }
}
