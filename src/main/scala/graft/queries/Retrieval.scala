package graft.queries

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.operators.Bm25Index

/** Full-text retrieval over the `documents` table: BM25 scoring and
  * top-k ranking for a fixed multi-query batch — inline (one-shot over
  * the corpus) and served from the persisted Bm25Index artifact.
  *
  * Scoring is Robertson/Spärck Jones BM25 (k1 = 1.2, b = 0.75) with the
  * log-free rational IDF variant (N − df + 0.5)/(df + 0.5) — monotone in
  * df exactly like the ln form, but built purely from IEEE
  * add/multiply/divide so every per-term contribution is bit-identical
  * across engines (ln's last-ulp spread between libm implementations is
  * the classic cross-engine trap; txt_tfidf makes the same trade). The
  * per-document score sums term contributions through DECIMAL(38,6), so
  * the total is independent of addition order — partial aggregation and
  * AQE re-planning can never change a rank. The expression tree itself
  * lives in Bm25Index.scoreTopK, shared by both paths, so the served
  * scores are bit-identical to the inline ones by construction.
  *
  * Scale shape: the posting explode filters to the query's terms BEFORE
  * any shuffle, so data motion is proportional to matching postings, not
  * corpus size; corpus-level constants (N, Σdl) and the per-term df table
  * are broadcast. At 100 TB this is the standard scatter-gather sharded
  * retrieval plan: each input split scores its own documents against the
  * (tiny) query set and only (query, doc, score) tuples move. The served
  * variant additionally amortizes the tokenize+aggregate pass across
  * serves: postings persist term-sorted, so a query batch reads a few
  * row groups of the artifact instead of re-tokenizing the corpus.
  */
object Retrieval {

  // fixed query batch over the corpus vocabulary
  private val queryTerms: Seq[(Long, String)] = Seq(
    1L -> "customer", 1L -> "join",
    2L -> "window", 2L -> "sort",
    3L -> "spark", 3L -> "merge", 3L -> "filter")

  // identical parse trees here and in the Spark programs: every
  // intermediate is one exactly-rounded IEEE op on identical inputs
  private val bm25Oracle: String =
    "WITH q(query_id, term) AS (VALUES " +
      queryTerms.map { case (id, t) => s"($id, '$t')" }.mkString(", ") + "), " +
      "toks AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
      "unnest(string_split(text, ' ')) AS term FROM documents), " +
      "hits AS (SELECT * FROM toks WHERE term IN (SELECT term FROM q)), " +
      "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM hits GROUP BY 1, 2, 3), " +
      "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n, SUM(len(string_split(text, ' '))) AS dl_sum " +
      "FROM documents), " +
      "scored AS (SELECT q.query_id, tf.doc_id, CAST(SUM(CAST(" +
      "((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
      "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + " +
      "0.75 * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / CAST(n AS DOUBLE)))))) " +
      "AS DECIMAL(38,6))) AS DOUBLE) AS score " +
      "FROM tf JOIN q ON tf.term = q.term JOIN dfreq ON tf.term = dfreq.term " +
      "CROSS JOIN stats GROUP BY q.query_id, tf.doc_id) " +
      "SELECT query_id, doc_id, score, rank FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank FROM scored) " +
      "WHERE rank <= 5"

  def defs: Seq[GraftQuery] = Seq(

    GraftQuery(
      "txt_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          split(col("text"), " ").as("toks"))
          .select(col("doc_id"), size(col("toks")).as("dl"),
            explode(col("toks")).as("term"))
        val qdf = queryTerms.toDF("query_id", "term")
        val terms = queryTerms.map(_._2).distinct
        // prune to query terms before the first shuffle
        val hits = toks.filter(col("term").isInCollection(terms))
        val tf = hits.groupBy(col("doc_id"), col("dl"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = hits.groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val stats = docs.agg(count(lit(1)).as("n"),
          sum(size(split(col("text"), " "))).as("dl_sum"))
        Bm25Index.scoreTopK(tf, dfreq, stats, qdf, k = 5)
      },
      Some(bm25Oracle)),

    // The persisted-index lifecycle end-to-end: build on the standing
    // 90% of the corpus, append today's 10% batch (disjoint ids — the
    // append contract), serve the same query batch from the artifact.
    // The oracle is the INLINE full-corpus BM25, so the driver's hash
    // compare proves served ≡ inline bit-for-bit: per-batch df/stats
    // sums reconstruct the global constants exactly (ids are disjoint),
    // and the shared scoreTopK tree does the rest.
    GraftQuery(
      "txt_bm25_served",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val idx = TempDirs("graft_bm25_idx_gate")
        Bm25Index.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
        Bm25Index.appendIndex(docs.filter(col("doc_id") % 10 === 7), idx,
          batchId = 0L)
        Bm25Index.topK(s, idx, queryTerms, k = 5)
      },
      Some(bm25Oracle)),

    // The full MAINTENANCE lifecycle: build on half the corpus, stream
    // the other half in as 3 micro-batches (IndexStream over Bm25Ingest:
    // foreachBatch → appendIndex OVERWRITE into batch=<id>), compact the committed
    // history into batch=-1 at a fresh path (watermark = last committed
    // batch), then serve from the COMPACTED index. The oracle is the
    // INLINE full-corpus BM25, so a green row proves the whole
    // build→stream-append→compact→serve chain is bit-identical to a
    // one-shot recompute: per-batch df/stats sums reconstruct global
    // constants exactly (disjoint ids), compaction's folds preserve
    // them, and the shared scoreTopK tree does the rest.
    GraftQuery(
      "txt_bm25_stream",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val root = TempDirs("graft_bm25_stream_gate")
        Bm25Index.writeIndex(docs.filter(col("doc_id") % 2 === 0), s"$root/idx")
        graft.streaming.IndexStream.runToCompletion(
          s, docs.filter(col("doc_id") % 2 =!= 0), k = 3,
          graft.streaming.Bm25Ingest,
          indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
        Bm25Index.compactIndex(s, s"$root/idx", s"$root/idx2",
          width = 4, throughBatch = 2L)
        Bm25Index.topK(s, s"$root/idx2", queryTerms, k = 5)
      },
      Some(bm25Oracle)))
}
