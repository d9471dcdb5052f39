package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.Bm25Index

/** Contracts for the BM25 index's streaming ingest driver — the
  * build→stream-append→compact→serve chain itself is gate-covered by
  * txt_bm25_stream against the inline DuckDB oracle.
  */
class Bm25IndexStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val queries: Seq[(Long, String)] = Seq(
    1L -> "customer", 1L -> "join",
    2L -> "window", 2L -> "sort",
    3L -> "spark", 3L -> "merge", 3L -> "filter")

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def served(idx: String,
      cut: Option[Long] = None): Array[Row] =
    Bm25Index.topK(spark, idx, queries, 5, maxBatchExclusive = cut)
      .orderBy(col("query_id"), col("rank")).collect()

  test("streamed ingest serves identically to a one-shot build") {
    val root = graft.TestDirs("graft_bm25s").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 2 === 0), s"$root/idx")
    IndexStream.runToCompletion(
      spark, docs.filter(col("doc_id") % 2 =!= 0), k = 3, Bm25Ingest,
      indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
    Bm25Index.writeIndex(docs, s"$root/one")
    assert(served(s"$root/idx").sameElements(served(s"$root/one")),
      "bootstrap + streamed appends must equal the one-shot index")
  }

  test("a redelivered micro-batch replaces its partitions — serve unchanged") {
    val root = graft.TestDirs("graft_bm25s_rd").toString
    val idx = s"$root/idx"
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 4 === 0), idx)
    val b0 = docs.filter(col("doc_id") % 4 === 1)
    Bm25Ingest.applyBatch(spark, idx, 0L, b0)
    val once = served(idx)
    // crash after the index write, before the checkpoint commit: the
    // engine redelivers the SAME batch under the SAME id
    Bm25Ingest.applyBatch(spark, idx, 0L, b0)
    assert(served(idx).sameElements(once),
      "redelivery must overwrite, not double-append")
  }

  test("serve-during-ingest under the committed watermark equals a fresh index on committed batches") {
    val root = graft.TestDirs("graft_bm25s_cut").toString
    val idx = s"$root/idx"
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 4 === 0), idx)
    Bm25Ingest.applyBatch(spark, idx, 0L, docs.filter(col("doc_id") % 4 === 1))
    // batch 1 has landed in the index but its checkpoint commit hasn't:
    // a concurrent serve must not see it
    Bm25Ingest.applyBatch(spark, idx, 1L, docs.filter(col("doc_id") % 4 === 2))
    val committed = graft.TestDirs("graft_bm25s_ref").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 4 === 0), committed)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 4 === 1), committed, 0L)
    assert(served(idx, cut = Some(1L)).sameElements(served(committed)),
      "the strictly-earlier serve must equal the committed-only index")
  }
}
