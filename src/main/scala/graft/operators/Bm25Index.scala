package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Persisted BM25 retrieval index: the build→append→serve lifecycle for
  * full-text top-k, giving retrieval the same ingest-amortized shape as
  * the two dedup indexes (PrefixFilterJoin / NearDupLsh). The inline
  * query (txt_bm25_topk) re-tokenizes the corpus per query batch; at a
  * standing 100 TB corpus the tokenize+aggregate pass dominates every
  * serve, so the index pays it ONCE per ingest batch and serves from
  * pruned artifact scans.
  *
  * Layout under `path` — per-document artifacts partitioned by ingest
  * batch (`batch=<id>`, build owns -1) and written with OVERWRITE into
  * their own partitions, so a redelivered append (crash anywhere in the
  * cascade, then retry) REPLACES its partitions instead of
  * double-appending — the crash-idempotent layout of every
  * [[PersistedIndex]]:
  *
  *   postings/batch=<id>/ (term, doc_id, dl, tf) — term-sorted (range
  *                        layout), so a query batch's term list pushes
  *                        into the scan as an In filter and parquet
  *                        min/max stats skip the row groups holding no
  *                        query term — the vocabulary is mostly never
  *                        read at serve time.
  *   df/batch=<id>/       (term, df) — per-batch document frequencies,
  *                        term-sorted. Append ids must be disjoint from
  *                        standing doc ids (the same contract as the
  *                        dedup indexes), so the global df is the SUM of
  *                        per-batch dfs — no distinct over the union.
  *   stats/batch=<id>/    (n, dl_sum) — one row: batch doc count and
  *                        total token count. Global N and avgdl are the
  *                        sums across batch partitions — a metadata-tiny
  *                        read per serve.
  *
  * Scoring is the SAME expression tree as the inline query — built by
  * `scoreTopK`, shared by both paths — so a served score is bit-identical
  * to the inline score on the same corpus: the per-(term,doc)
  * contribution is pure IEEE arithmetic on identical (tf, dl, df, n,
  * dl_sum) values, and the per-document sum goes through DECIMAL(38,6),
  * making the total independent of addition order (partial aggregation
  * and batch layout can never change a rank).
  */
object Bm25Index extends PersistedIndex {

  private val dec6 = DecimalType(38, 6)

  /** Full postings for a (doc_id, text) frame: one row per (doc, term)
    * with the doc length and term frequency. Whitespace tokenization,
    * exactly the inline query's `split(text, ' ')` — a doc with empty
    * text still yields one (empty-string) posting, so every doc is
    * represented and n/dl_sum can be recovered from postings alone.
    */
  def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The one scoring tree, shared by the inline query and the serve path
    * (bit-identical scores by construction — see the class doc).
    *
    *  - `tf`: (doc_id, dl, term, tf) — postings restricted to (at least)
    *    the query terms; extra columns (e.g. the `batch` partition
    *    column) ride along harmlessly into the groupBy.
    *  - `dfreq`: (term, df); `stats`: one row (n, dl_sum); `qdf`:
    *    (query_id, term). All three are query-batch- or corpus-constant-
    *    sized: broadcast.
    */
  def scoreTopK(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
      qdf: DataFrame, k: Int): DataFrame = {
    val avgdl = col("dl_sum").cast(DoubleType) / col("n").cast(DoubleType)
    val idf = (col("n").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
      (col("df").cast(DoubleType) + lit(0.5))
    val tfd = col("tf").cast(DoubleType)
    val norm = tfd + lit(1.2) * (lit(1.0) - lit(0.75) +
      lit(0.75) * (col("dl").cast(DoubleType) / avgdl))
    val contrib = idf * ((tfd * lit(2.2)) / norm)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(qdf), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contrib.cast(dec6)).cast(DoubleType).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Write a relation term-range-sorted into `targetDir` (overwrite),
    * via a dot-prefixed staging copy so the range partitioner's sampling
    * job re-reads narrow staged columns instead of re-executing the
    * tokenize+aggregate derivation — the same staging trick as
    * PrefixFilterJoin.writeSortedByH.
    */
  private def writeSortedByTerm(rows: DataFrame, path: String,
      targetDir: String): Unit = {
    val s = rows.sparkSession
    val staging = s"$path/.staging-${java.util.UUID.randomUUID()}"
    rows.write.mode("overwrite").parquet(staging)
    s.read.parquet(staging)
      .repartitionByRange(col("term")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(targetDir)
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  def batchedDirs(path: String): Seq[String] =
    Seq("postings", "df", "stats").map(a => s"$path/$a")

  protected def writeBatch(docs: DataFrame, path: String, batchId: Long): Unit = {
    val s = docs.sparkSession
    // postings land first (one tokenize per ingest); df derives from the
    // postings READ-BACK — a narrow two-column on-disk scan — never from
    // a second tokenize. (doc_id, term) is unique in postings (tf is
    // aggregated), so count(*) per term IS the distinct-doc count.
    writeSortedByTerm(postingsOf(docs), path, s"$path/postings/batch=$batchId")
    writeSortedByTerm(
      s.read.parquet(s"$path/postings/batch=$batchId")
        .groupBy(col("term")).agg(count(lit(1)).as("df")),
      path, s"$path/df/batch=$batchId")
    // stats come from the docs frame with the inline query's exact
    // expression (sum(size(split(text)))) so a doc with NULL text is
    // counted in n but contributes nothing to dl_sum — identical
    // semantics to the inline corpus aggregate.
    docs.agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("dl_sum"))
      .write.mode("overwrite").parquet(s"$path/stats/batch=$batchId")
  }

  /** Build the persisted index at `path` from the standing corpus (the
    * `batch=-1` bootstrap partition).
    */
  def writeIndex(docs: DataFrame, path: String): Unit =
    writeBatch(docs, path, batchId = -1L)

  /** Serve a query batch against the persisted index: BM25 top-k per
    * query over the WHOLE indexed corpus (all batch partitions), scores
    * bit-identical to the inline query on the same corpus.
    *
    * The term prune is pushed to the artifact scan: the query batch's
    * distinct terms become an In filter on the term-sorted postings and
    * df artifacts, so parquet min/max row-group stats skip the
    * vocabulary that holds no query term. Corpus constants (N, Σdl) come
    * from the metadata-tiny stats partitions; everything batch-sized is
    * broadcast. Nothing in the serve re-reads document text.
    *
    * `maxBatchExclusive` restricts the served corpus to strictly-earlier
    * batch partitions — the filter a serve running WHILE a stream
    * ingests uses to keep a half-landed (index written, checkpoint
    * commit missed) micro-batch invisible: pass the last
    * checkpoint-COMMITTED batch id + 1 (see IndexStream). The cut
    * applies to all three artifacts, so (tf, df, N, Σdl) stay mutually
    * consistent — scores equal a fresh index built on exactly the
    * earlier batches. None serves everything.
    */
  def topK(spark: SparkSession, path: String,
      queries: Seq[(Long, String)], k: Int,
      maxBatchExclusive: Option[Long] = None): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    import spark.implicits._
    val qdf = queries.toDF("query_id", "term")
    val terms = queries.map(_._2).distinct
    val pruneLimit = IndexLifecycle.serveKeyPruneLimit(spark)
    def cut(df: DataFrame): DataFrame =
      IndexLifecycle.cutBatches(df, maxBatchExclusive)
    // scan-pushed In prune for human-scale query batches; bulk batches
    // (re-scoring jobs beyond the shared In-list cap) prune via a
    // broadcast semi-join on the same sorted scan — no correctness
    // change, the prune just moves from the scan to the first join
    def pruned(df: DataFrame): DataFrame =
      if (terms.size <= pruneLimit) df.filter(col("term").isInCollection(terms))
      else df.join(broadcast(qdf.select(col("term")).distinct()),
        Seq("term"), "left_semi")
    val tf = pruned(cut(spark.read.parquet(s"$path/postings")))
    // global df = sum of per-batch dfs (doc ids disjoint across batches)
    val dfreq = pruned(cut(spark.read.parquet(s"$path/df")))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    // global corpus constants: sums over the per-batch one-row stats
    val stats = cut(spark.read.parquet(s"$path/stats"))
      .agg(sum(col("n")).as("n"), sum(col("dl_sum")).as("dl_sum"))
    scoreTopK(tf, dfreq, stats, qdf, k)
  }

  /** The compaction fold (see [[PersistedIndex.compactIndex]]): batches
    * up to `throughBatch` fold into ONE `batch=-1` partition set per
    * artifact (postings re-range-sorted at `width` output files, df
    * deltas collapsed to per-term sums, stats to one row); later batches
    * carry over unchanged, partition for partition. A long-running
    * ingest stream otherwise accumulates one postings/df/stats partition
    * triple per micro-batch forever, and the serve's per-partition
    * listing + df re-aggregation cost grows without bound. Each artifact
    * carries its OWN tail, so a crash window that landed postings but
    * not df/stats carries exactly what exists, and the redelivered batch
    * still OVERWRITES them at the new path.
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit = {
    // compaction sources are already-on-disk narrow scans, so the range
    // partitioner's sampling pass re-reading them is cheap — no staging
    // (unlike writeSortedByTerm, whose input is a tokenize+aggregate)
    def sortedWrite(rows: DataFrame, targetDir: String): Unit = {
      val ranged =
        if (width > 0) rows.repartitionByRange(width, col("term"))
        else rows.repartitionByRange(col("term"))
      ranged.sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(targetDir)
    }
    val postings = spark.read.parquet(s"$path/postings")
    val dfreq = spark.read.parquet(s"$path/df")
    val stats = spark.read.parquet(s"$path/stats")
    sortedWrite(postings.filter(col("batch") <= throughBatch)
      .select(col("term"), col("doc_id"), col("dl"), col("tf")),
      s"$targetPath/postings/batch=-1")
    sortedWrite(dfreq.filter(col("batch") <= throughBatch)
      .groupBy(col("term")).agg(sum(col("df")).as("df")),
      s"$targetPath/df/batch=-1")
    stats.filter(col("batch") <= throughBatch)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        sum(col("dl_sum")).as("dl_sum"))
      .write.mode("overwrite").parquet(s"$targetPath/stats/batch=-1")
    tails(s"$path/postings").foreach { b =>
      sortedWrite(postings.filter(col("batch") === b)
        .select(col("term"), col("doc_id"), col("dl"), col("tf")),
        s"$targetPath/postings/batch=$b")
    }
    tails(s"$path/df").foreach { b =>
      sortedWrite(dfreq.filter(col("batch") === b)
        .select(col("term"), col("df")),
        s"$targetPath/df/batch=$b")
    }
    tails(s"$path/stats").foreach { b =>
      stats.filter(col("batch") === b).select(col("n"), col("dl_sum"))
        .write.mode("overwrite").parquet(s"$targetPath/stats/batch=$b")
    }
  }

}
