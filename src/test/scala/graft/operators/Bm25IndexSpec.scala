package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the persisted BM25 retrieval index lifecycle
  * (Bm25Index.writeIndex / appendIndex / topK) — the shared scoring tree
  * itself is gate-covered by txt_bm25_topk / txt_bm25_served.
  */
class Bm25IndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val queries: Seq[(Long, String)] = Seq(
    1L -> "customer", 1L -> "join",
    2L -> "window", 2L -> "sort",
    3L -> "spark", 3L -> "merge", 3L -> "filter")

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  /** Inline ground truth over an arbitrary corpus: the same relations the
    * gate query builds, through the same shared scoring tree.
    */
  private def inlineTopK(corpus: org.apache.spark.sql.DataFrame,
      k: Int): Array[Row] = {
    import spark.implicits._
    val toks = corpus.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
    val terms = queries.map(_._2).distinct
    val hits = toks.filter(col("term").isInCollection(terms))
    val tf = hits.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n"),
      sum(size(split(col("text"), " "))).as("dl_sum"))
    Bm25Index.scoreTopK(tf, dfreq, stats, queries.toDF("query_id", "term"), k)
      .orderBy(col("query_id"), col("rank")).collect()
  }

  private def served(idx: String, k: Int): Array[Row] =
    Bm25Index.topK(spark, idx, queries, k)
      .orderBy(col("query_id"), col("rank")).collect()

  test("served top-k is bit-identical to inline over build + appends") {
    val idx = graft.TestDirs("graft_bm25_spec").toString
    // three disjoint ingest batches covering the corpus
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 3 === 1), idx, batchId = 0L)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 3 === 2), idx, batchId = 1L)
    val truth = inlineTopK(docs, k = 10)
    assert(truth.nonEmpty, "fixture should score the query batch")
    assert(served(idx, k = 10).sameElements(truth),
      "served ranks/scores must equal the inline recompute exactly")
  }

  test("redelivered append overwrites its own partitions (crash-idempotent)") {
    val idx = graft.TestDirs("graft_bm25_redeliver").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    Bm25Index.appendIndex(batch, idx, batchId = 0L)
    val first = served(idx, k = 5)
    // crash-then-retry: the SAME delivery lands again under the same id
    Bm25Index.appendIndex(batch, idx, batchId = 0L)
    assert(served(idx, k = 5).sameElements(first),
      "a redelivered batch must replace, not double-append")
    // and the served answer is still the full-corpus inline answer
    assert(first.sameElements(inlineTopK(docs, k = 5)))
  }

  test("crash-window redelivery completes a partial batch (postings landed, df/stats missing)") {
    val idx = graft.TestDirs("graft_bm25_crash").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    Bm25Index.appendIndex(batch, idx, batchId = 0L)
    val truth = served(idx, k = 5)
    // crash between the postings write and the df/stats writes: the
    // sidecars vanish, the postings partition stays
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/df/batch=0"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats/batch=0"), true)
    // the strictly-earlier filter keeps the half-landed batch invisible:
    // a serve cut at batch 0 equals a fresh index on the bootstrap alone
    val bootIdx = graft.TestDirs("graft_bm25_boot").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), bootIdx)
    assert(Bm25Index.topK(spark, idx, queries, 5, maxBatchExclusive = Some(0L))
      .orderBy(col("query_id"), col("rank")).collect()
      .sameElements(served(bootIdx, k = 5)),
      "maxBatchExclusive must hide a half-landed batch consistently")
    // redelivery under the same id completes the batch exactly
    Bm25Index.appendIndex(batch, idx, batchId = 0L)
    assert(served(idx, k = 5).sameElements(truth),
      "a redelivered crash-window batch must complete, not corrupt")
  }

  test("compaction folds committed batches without changing any serve; the watermark carries the tail") {
    val idx = graft.TestDirs("graft_bm25_cpt").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 3 === 1), idx, batchId = 0L)
    Bm25Index.appendIndex(docs.filter(col("doc_id") % 3 === 2), idx, batchId = 1L)
    val full = served(idx, k = 10)
    // full fold (clean stop): one batch=-1 partition set per artifact,
    // identical serve
    val cptAll = graft.TestDirs("graft_bm25_cpt_all").toString
    Bm25Index.compactIndex(spark, idx, cptAll, width = 2)
    assert(served(cptAll, k = 10).sameElements(full),
      "full compaction changed the served answer")
    def batchDirs(root: String, art: String): Set[String] = {
      val d = new java.io.File(s"$root/$art")
      d.listFiles().filter(_.isDirectory).map(_.getName).toSet
    }
    for (art <- Seq("postings", "df", "stats"))
      assert(batchDirs(cptAll, art) == Set("batch=-1"),
        s"full fold must leave one $art partition")
    // watermarked fold (stream still running): batch 1 carries over
    // under its own id; serves — whole and strictly-earlier-cut — are
    // unchanged vs the uncompacted index
    val cptW = graft.TestDirs("graft_bm25_cpt_w").toString
    Bm25Index.compactIndex(spark, idx, cptW, width = 2, throughBatch = 0L)
    for (art <- Seq("postings", "df", "stats"))
      assert(batchDirs(cptW, art) == Set("batch=-1", "batch=1"),
        s"watermark must carry the uncommitted $art tail")
    assert(served(cptW, k = 10).sameElements(full),
      "watermarked compaction changed the served answer")
    val cutBefore = Bm25Index.topK(spark, idx, queries, 10, maxBatchExclusive = Some(1L))
      .orderBy(col("query_id"), col("rank")).collect()
    val cutAfter = Bm25Index.topK(spark, cptW, queries, 10, maxBatchExclusive = Some(1L))
      .orderBy(col("query_id"), col("rank")).collect()
    assert(cutAfter.sameElements(cutBefore),
      "the strictly-earlier cut must behave identically on the compacted index")
  }

  test("oversized query batches prune via semi-join, identically") {
    val idx = graft.TestDirs("graft_bm25_semi").toString
    Bm25Index.writeIndex(docs, idx)
    val expected = served(idx, k = 5)
    spark.conf.set("spark.graft.index.serveKeyPruneLimit", "1")
    try {
      assert(served(idx, k = 5).sameElements(expected),
        "the semi-join prune path must serve the identical answer")
    } finally spark.conf.unset("spark.graft.index.serveKeyPruneLimit")
  }

  test("postings carry every doc, so stats are recoverable and df is exact") {
    val idx = graft.TestDirs("graft_bm25_stats").toString
    Bm25Index.writeIndex(docs, idx)
    val n = docs.count()
    val stats = spark.read.parquet(s"$idx/stats").head()
    assert(stats.getLong(stats.fieldIndex("n")) == n)
    assert(spark.read.parquet(s"$idx/postings")
      .select(col("doc_id")).distinct().count() == n)
    // df artifact matches a direct distinct-doc count for a known term
    val term = "customer"
    val dfStored = spark.read.parquet(s"$idx/df")
      .filter(col("term") === term).head().getLong(1)
    val dfTrue = docs
      .filter(array_contains(split(col("text"), " "), term)).count()
    assert(dfStored == dfTrue, s"df($term): stored $dfStored vs true $dfTrue")
  }
}
