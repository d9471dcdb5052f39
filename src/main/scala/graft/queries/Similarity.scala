package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * side against a scan of the corpus; exact, O(n·q). Scale path:
  * random-hyperplane LSH — 16-bit signatures computed per-row, candidate
  * generation via an 8-bit-band bucket join, exact rescoring only inside
  * buckets. At 100 TB the corpus never self-joins; the only shuffle is on
  * narrow (band, value) keys.
  *
  * All cosine math runs in double with an explicit formula
  * (dot / (sqrt(na) * sqrt(nb))), rounded to 6 dp, so results are stable
  * across engines and partitionings.
  */
object Similarity {

  /** embedding as array<double>. */
  private def vec(c: Column): Column = c.cast("array<double>")

  // native fused-loop dot product (bit-identical to the
  // aggregate(zip_with(...)) composition, minus the per-pair allocation);
  // callers register via corpus()'s GraftFunctions.register
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** Rounded cosine similarity; operands must be array<double>. */
  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (sqrt(na) * sqrt(nb)), 6)

  private def corpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
      .withColumn("norm2", dot(col("v"), col("v")))
  }

  private val cosineSql =
    "round(list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"

  // 16 pseudo-random ±1 hyperplanes over 64 dims (deterministic stream).
  private[queries] val Planes = 16
  private[queries] val Dims = 64
  private[queries] val hyperplanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until Planes).map { p =>
      (0 until Dims).map { i =>
        if ((Dedup.mix64(p.toLong * Dims + i) & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** 16-bit signature: bit p = sign(v · hyperplane_p). */
  private[queries] def lshSignature(v: Column): Column =
    (0 until Planes).map { p =>
      when(dot(v, typedlit(hyperplanes(p))) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact brute-force top-k (query_id, neighbor_id) for queries
    * vec_id < 10 — the in-query ground truth the ANN verdict rows
    * compare against.
    */
  private def bruteTopK(e: DataFrame, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** One deterministic verdict row for an ANN result: n_queries and
    * n_exact restate facts DuckDB derives from the data; results_ok
    * asserts the ANN pipeline returned a full top-k for every query;
    * recall_ok bounds micro-averaged recall@k against the in-query
    * brute-force ground truth. The approximate pipeline still runs end
    * to end — the verdict aggregates it into cells the driver's DuckDB
    * oracle can hash-match.
    */
  private def annVerdict(ann: DataFrame, exact: DataFrame, minRecall: Double): DataFrame = {
    val hits = exact
      .join(ann.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    val annN = ann.agg(count(lit(1)).as("n_ann"))
    hits.crossJoin(annN).select(
      col("n_queries"), col("n_exact"),
      when(col("n_ann") === col("n_exact"), lit(1L)).otherwise(lit(0L)).as("results_ok"),
      when(col("n_hits") >= col("n_exact") * lit(minRecall), lit(1L))
        .otherwise(lit(0L)).as("recall_ok"))
  }

  private val annVerdictSql =
    "SELECT count(*) AS n_queries, CAST(count(*) * 5 AS BIGINT) AS n_exact, " +
      "CAST(1 AS BIGINT) AS results_ok, CAST(1 AS BIGINT) AS recall_ok " +
      "FROM embeddings WHERE vec_id < 10"

  /** (n_exact, n_hits, n_ann) of an ANN result for an arbitrary query
    * frame against brute-force top-5 truth over `full` — the
    * generalized flavor of [[annVerdict]] the drift gate composes its
    * integer-exact cells from (recall ≥ 0.8 ⟺ 5·hits ≥ 4·exact, no
    * double thresholds anywhere near the verdict).
    */
  private def recallCounts(full: DataFrame, q: DataFrame,
      ann: DataFrame): (Long, Long, Long) = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val exact = full.select(col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val r = exact.join(
      ann.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
      Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L))).as("h"))
      .head()
    (r.getLong(0), r.getLong(1), ann.count())
  }

  // Zero caches (the NearDupLsh shape): the QUERY side is its own
  // pruned scan — `vec_id < 10` pushes to the parquet reader, so its
  // signature pass touches ten rows — and broadcasts into the bucket
  // join; the CORPUS signature relation is consumed exactly once by
  // one full scan. Caching the corpus+signature relation (the r8
  // layout) pins the whole embedding table in the block manager —
  // chaotic eviction/recompute at 100 TB, and the recompute path is
  // one scan anyway.
  private[queries] def withBands(df: DataFrame): DataFrame = df
    .withColumn("sig", lshSignature(col("v")))
    .select(
      col("vec_id"), col("v"), col("norm2"),
      posexplode(array((0 until 4).map { j =>
        shiftright(col("sig"), 4 * j).bitwiseAND(lit(0xF))
      }: _*)).as(Seq("band", "band_val")))
    .drop("sig")

  /** Raw LSH ANN top-5 per query (query_id, neighbor_id, cosine, rank).
    * `probeBits` > 0 turns on MULTI-PROBE (Lv et al., "Multi-Probe LSH",
    * VLDB'07): each QUERY band additionally probes the buckets at
    * Hamming distance 1 from its own value in the first `probeBits`
    * signature bits — for a random-hyperplane signature, the nearest
    * misclassified neighbors differ in exactly one marginal bit, so
    * Hamming-1 perturbation recovers most of what single-probe banding
    * loses. The expansion lives ENTIRELY on the broadcast query side
    * (10 queries × 4 bands × (1 + probeBits) rows); the corpus relation
    * and its single scan are byte-identical to single-probe, which is
    * the multi-probe trade's whole point at 100 TB: recall rises
    * without growing the index or adding a corpus pass — candidates
    * (and so rescore cost) grow ~(1 + probeBits)×, bounded by the
    * query-side fan-out.
    */
  def lshAnn(s: SparkSession, dir: String, probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 4, s"probeBits in [0,4]: $probeBits")
    val e = corpus(s, dir)
    val probeVals =
      col("band_val") +: (0 until probeBits).map(b =>
        col("band_val").bitwiseXOR(lit(1 << b)))
    val q = withBands(e.filter(col("vec_id") < 10)).select(
      col("band"),
      explode(array(probeVals: _*)).as("band_val"),
      col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    val c = withBands(e).select(
      col("band"), col("band_val"),
      col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.join(broadcast(q), Seq("band", "band_val"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** Raw IVF ANN top-5 per query — the pipeline under the `sim_ivf_ann`
    * verdict; specs assert on this directly.
    */
  def ivfAnn(s: SparkSession, dir: String): DataFrame = {
    // no cache: train re-scans per Lloyd iteration (iters=2 here; the
    // production path samples — see IvfIndex.farthestFirstInit) and
    // search scans once more. Recompute-from-scan is the only shape
    // that survives a corpus that doesn't fit the block manager.
    val e = corpus(s, dir)
    val centroids = graft.operators.IvfIndex.train(
      e.select(col("vec_id"), col("v")), "v", nlist = 16, iters = 2)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    graft.operators.IvfIndex.search(e, centroids, q, nprobe = 4, k = 5)
  }

  /** The index LIFECYCLE: train once, persist the centroid table and the
    * cell-partitioned corpus as parquet index artifacts, then serve
    * queries from the LOADED artifacts — the production shape, where
    * index build is a nightly job and search never retrains. The
    * cell-partitioned corpus write is the IVF point: at serve time a
    * query reads only its nprobe cells' files (partition pruning on
    * cell), not the corpus.
    */
  def ivfPersistedAnn(s: SparkSession, dir: String): DataFrame = {
    // no cache: the index BUILD scans the corpus a few times (train +
    // assign) and then the artifacts replace it entirely — pinning the
    // corpus in memory for a build that runs nightly is pure block-
    // manager pressure at scale
    val e = corpus(s, dir)
    val idx = TempDirs("graft_ivf_idx")
    val centroids = graft.operators.IvfIndex.train(
      e.select(col("vec_id"), col("v")), "v", nlist = 16, iters = 2)
    centroids.write.mode("overwrite").parquet(s"$idx/centroids")
    graft.operators.IvfIndex.assign(e, "v", centroids)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$idx/corpus")
    // serve phase: everything below reads ONLY the persisted artifacts
    val loadedCentroids = s.read.parquet(s"$idx/centroids")
    val loadedCorpus = s.read.parquet(s"$idx/corpus")
      .select(col("vec_id"), col("v"), col("norm2"), col("centroid_id"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    graft.operators.IvfIndex.searchAssigned(
      loadedCorpus, loadedCentroids, q, nprobe = 4, k = 5)
  }

  /** IVF-PQ serve path: coarse cells prune the probe set AND the stored
    * index holds PQ codes instead of vectors — the FAISS IVFPQ
    * architecture. Index build: train k-means cells, assign, encode
    * each vector to 8 one-byte codes, persist (centroids + codes) —
    * the raw vectors never reach the serving store. Serve: probe the 4
    * nearest cells per query, LUT-ADC-score the candidates (8 lookups
    * per vector against the query's precomputed distance table), top-5.
    * At 1B vectors this is ~a few GB of codes behind a cell-pruned scan
    * instead of 256 GB of float32 behind a full one.
    */
  /** Per-subspace k-means PQ codebooks: for each of the `sub` dim-wide
    * slices, deterministic Lloyd training (init = first nCodes vectors
    * by id, fixed iterations, ties by centroid id). A subspace cell can
    * empty out during Lloyd iterations; pad by cycling so every
    * codebook keeps nCodes entries (duplicates never change an argmin's
    * first-minimum result or any distortion). Returns the row-major
    * codebook PqEncoder consumes: entry c is the concatenation of each
    * subspace's c-th centroid.
    */
  private def trainedPqCodebook(e: DataFrame, sub: Int, dim: Int,
      nCodes: Int, iters: Int): IndexedSeq[Seq[Double]] = {
    val perSub = (0 until sub).map { sp =>
      val trained = graft.operators.IvfIndex.train(
        e.select(col("vec_id"), slice(col("v"), sp * dim + 1, dim).as("vs")),
        "vs", nlist = nCodes, iters = iters)
        .collect()
        .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toIndexedSeq)
        .sortBy(_._1).map(_._2).toIndexedSeq
      (0 until nCodes).map(c => trained(c % trained.size))
    }
    (0 until nCodes).map(c => (0 until sub).flatMap(sp => perSub(sp)(c)))
  }

  def ivfPqAnn(s: SparkSession, dir: String): DataFrame = {
    // no cache — same build-then-serve-from-artifacts reasoning as
    // ivfPersistedAnn; the per-subspace codebook training collects
    // nlist-bounded aggregates, never the corpus
    val e = corpus(s, dir)
    val idx = TempDirs("graft_ivfpq_idx")
    val centroids = graft.operators.IvfIndex.train(
      e.select(col("vec_id"), col("v")), "v", nlist = 16, iters = 2)
    centroids.write.mode("overwrite").parquet(s"$idx/centroids")
    // PQ codebooks TRAINED per subspace (k-means over the 8-dim slices
    // — real product quantization; the recall verdict doesn't need an
    // engine-external replay, so training is free to be iterative).
    val nCodes = 64 // 6-bit codes; production uses 256 (8-bit), same shape
    val cb = trainedPqCodebook(e, sub = 8, dim = 8, nCodes = nCodes, iters = 2)
    graft.operators.IvfIndex.assign(e, "v", centroids)
      .select(col("vec_id"), col("centroid_id"),
        graft.operators.PqEncoder.codes(col("v"), cb, sub = 8, dim = 8).as("codes"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$idx/codes")
    // serve phase: ONLY the persisted compressed index is read, and
    // scoring is LUT-ADC — the scan reads codes, the per-query 8×64
    // distance table rides the probe rows, and each candidate costs 8
    // lookups + a divide (reconstruction never materializes)
    val pq = graft.operators.PqEncoder
    val loadedCentroids = s.read.parquet(s"$idx/centroids")
    val nLut = typedlit(pq.normLut(cb, sub = 8, dim = 8))
    val cand = s.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("centroid_id"), col("codes"))
      .withColumn("rn2", pq.adcSum(col("codes"), nLut, sub = 8, nCodes = nCodes))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"),
        pq.adcLut(col("v"), cb, sub = 8, dim = 8).as("lut"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    val probes = q.join(broadcast(loadedCentroids))
      .withColumn("d2", graft.functions.GraftFunctions.l2_dist2(col("qv"), col("centroid")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 4)
      .select(col("query_id"), col("qn"), col("lut"), col("centroid_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    probes.join(cand, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(pq.adcSum(col("codes"), col("lut"), sub = 8, nCodes = nCodes) /
          (sqrt(col("qn")) * sqrt(col("rn2"))), 6).as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
  }

  def defs: Seq[GraftQuery] = Seq(

    // Brute-force exact cosine top-5 for the first 10 query vectors.
    GraftQuery(
      "sim_brute_topk",
      (s, dir) => {
        val e = corpus(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
          .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        s"$cosineSql AS cosine " +
        "FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5"),
      bench = true),

    // Truncated-dimension retrieval (matryoshka-style): score with only
    // the first 16 of 64 dims — a 4x cheaper scan pass whose candidates
    // are rescored full-width downstream in a real pipeline. Same
    // broadcast top-k shape as the brute baseline; the oracle slices the
    // same prefix.
    GraftQuery(
      "sim_truncate_topk",
      (s, dir) => {
        val e = corpus(s, dir)
          .withColumn("vt", slice(col("v"), 1, 16))
          .withColumn("tn2", dot(col("vt"), col("vt")))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("vt").as("qt"), col("tn2").as("qn"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_t").desc, col("neighbor_id").asc)
        e.select(col("vec_id").as("neighbor_id"), col("vt"), col("tn2"))
          .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(col("qt"), col("vt"), col("qn"), col("tn2")).as("cosine_t"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      },
      Some("WITH e AS (SELECT vec_id, " +
        "(CAST(embedding AS DOUBLE[]))[1:16] AS v FROM embeddings), " +
        "scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        s"$cosineSql AS cosine_t " +
        "FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) " +
        "SELECT query_id, neighbor_id, cosine_t, rank FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cosine_t DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5")),

    // Embedding near-duplicate pairs above a cosine threshold.
    GraftQuery(
      "sim_neardup_pairs",
      (s, dir) => {
        val e = corpus(s, dir)
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("norm2").as("na"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm2").as("nb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
          .filter(col("cosine") >= 0.4d)
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"$cosineSql AS cosine " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
        s"WHERE $cosineSql >= 0.4")),

    // IVF approximate NN: k-means coarse quantizer (nlist=16 cells,
    // 2 Lloyd iterations, deterministic init+ties), queries probe the
    // nprobe=4 nearest cells, exact cosine rescoring inside. The scale
    // path where LSH recall degrades: cells adapt to the data
    // distribution. Driver check: one verdict row — recall@5 ≥ 0.8 vs
    // the in-query brute-force ground truth (measured 0.9–1.0 across
    // SFs; a 0.7 bar would green-light a half-broken probe set — r11 #6); raw neighbor lists are additionally recall-asserted in
    // SimilaritySpec.
    GraftQuery(
      "sim_ivf_ann",
      (s, dir) =>
        annVerdict(ivfAnn(s, dir), bruteTopK(corpus(s, dir), 5), minRecall = 0.8),
      Some(annVerdictSql)),

    // The persisted-index lifecycle: train → write centroid + cell-
    // partitioned corpus artifacts → serve queries from the LOADED
    // artifacts only (partition pruning on the probed cells is what IVF
    // buys at serve time). Same recall verdict as sim_ivf_ann — the
    // round-trip must not cost a single neighbor.
    GraftQuery(
      "sim_ivf_persisted",
      (s, dir) =>
        annVerdict(ivfPersistedAnn(s, dir), bruteTopK(corpus(s, dir), 5),
          minRecall = 0.8),
      Some(annVerdictSql)),

    // The IVF index's full MAINTENANCE lifecycle: train+build on the
    // standing 90% (the quantizer FREEZES here), stream today's 10% in
    // as 3 micro-batches (IndexStream over IvfIngest: foreachBatch →
    // appendIndex OVERWRITE into cell-partitioned batch=<id> dirs), compact the
    // committed history into batch=-1 (watermark = last committed
    // batch; centroids copy verbatim — compaction never retrains), then
    // serve from the COMPACTED index. Same recall verdict as
    // sim_ivf_ann, over the FULL corpus — every streamed vector must be
    // findable through the frozen quantizer's cells. The split is the
    // standing/batch ratio the other index gates use, and it is ALSO
    // the measured sensitivity boundary: a quantizer trained on only
    // 50% of this clustered fixture dropped recall@5 to 0.58-0.78 at
    // any nprobe ≤ 8 — the frozen-quantizer contract needs a
    // representative standing sample, which is exactly the
    // rebuild-on-drift rule in IvfIndex's lifecycle doc. nprobe = 6
    // serves with deterministic margin (0.86/0.94/0.96 at
    // sf0.01/0.001/0.1 vs the 0.8 bar).
    GraftQuery(
      "sim_ivf_stream",
      (s, dir) => {
        val e = corpus(s, dir)
        val root = TempDirs("graft_ivf_stream_gate")
        graft.operators.IvfIndex.writeIndex(
          e.filter(col("vec_id") % 10 =!= 7), s"$root/idx", nlist = 16, iters = 2)
        graft.streaming.IndexStream.runToCompletion(
          s, e.filter(col("vec_id") % 10 === 7), k = 3,
          graft.streaming.IvfIngest,
          indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
        graft.operators.IvfIndex.compactIndex(
          s, s"$root/idx", s"$root/idx2", throughBatch = 2L)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("v").as("qv"), col("norm2").as("qn"))
        annVerdict(
          graft.operators.IvfIndex.topK(s, s"$root/idx2", q, nprobe = 6, k = 5),
          bruteTopK(e, 5), minRecall = 0.8)
      },
      Some(annVerdictSql)),

    // Quantizer-DRIFT detection + retrain-and-swap — the failure mode
    // the frozen-quantizer contract leaves open: appends from a shifted
    // embedding distribution keep assigning (and keep their recall
    // contract RELATIVE TO THE QUANTIZER) while recall against brute
    // truth silently erodes. The gate plants a drifted batch — the
    // corpus displaced into 16 novel regions, offset 1.2 along a
    // vec_id-chosen basis dim, comparable to the fixture's ~1.2 vector
    // norms so the regions OVERLAP the original cloud and the frozen
    // quantizer SCATTERS their members across cells (larger offsets
    // crowd one cell instead and cost serve time, never recall — the
    // offset grid in SURVEY.md's IVF drift note) — then checks the whole
    // response loop:
    //   1. driftReport FIRES on the append (distortion_ratio 2.50–2.57
    //      vs the 2.0 default; the sim_ivf_stream-style representative
    //      split posts 1.03–1.07 — the negative control, spec'd in
    //      IvfIndexSpec);
    //   2. the frozen index PROVABLY serves the drifted-region queries
    //      below the 0.8 bar (recall@5 0.704–0.728 at nprobe=4 across
    //      the three SFs);
    //   3. rebuildIndex (retrain at the same nlist, more Lloyd
    //      iterations, swap-by-path) restores them to 1.000 — and the
    //      STANDING region holds ≥ 0.8 too (0.904–0.912; the doubled
    //      corpus earns a doubled probe budget), so the rebuild never
    //      trades one population's recall for the other's;
    //   4. the alarm CLEARS on the rebuilt index (its reference reset
    //      by the retrain).
    // All cells integer-exact: recall ≥ 0.8 ⟺ 5·hits ≥ 4·exact.
    GraftQuery(
      "sim_ivf_drift",
      (s, dir) => {
        val e = corpus(s, dir)
        val root = TempDirs("graft_ivf_drift_gate")
        val standing = e.select(col("vec_id"), col("v"), col("norm2"))
        val drifted = e.select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"),
            (x, i) => x + when(i === pmod(col("vec_id"), lit(16)) * 4,
              lit(1.2)).otherwise(lit(0.0))).as("v"))
          .withColumn("norm2", dot(col("v"), col("v")))
        val full = standing.unionByName(drifted)
        val queries = full
          .filter(col("vec_id") < 25 ||
            (col("vec_id") >= 1000000L && col("vec_id") < 1000025L))
          .select(col("vec_id").as("query_id"),
            col("v").as("qv"), col("norm2").as("qn"))
        val qDrift = queries.filter(col("query_id") >= 1000000L)
        val qStand = queries.filter(col("query_id") < 1000000L)
        graft.operators.IvfIndex.writeIndex(
          standing, s"$root/idx", nlist = 16, iters = 2)
        graft.operators.IvfIndex.appendIndex(drifted, s"$root/idx", 0L)
        val fired = graft.operators.IvfIndex.driftReport(s, s"$root/idx")
          .filter(col("batch") === 0 && col("drifted")).count() == 1
        val (fe, fh, fa) = recallCounts(full, qDrift,
          graft.operators.IvfIndex.topK(s, s"$root/idx", qDrift, nprobe = 4, k = 5))
        graft.operators.IvfIndex.rebuildIndex(
          s, s"$root/idx", s"$root/idx2", nlist = 16, iters = 5)
        val cleared = graft.operators.IvfIndex.driftReport(s, s"$root/idx2")
          .filter(col("drifted")).count() == 0
        val (rde, rdh, rda) = recallCounts(full, qDrift,
          graft.operators.IvfIndex.topK(s, s"$root/idx2", qDrift, nprobe = 8, k = 5))
        val (rse, rsh, rsa) = recallCounts(full, qStand,
          graft.operators.IvfIndex.topK(s, s"$root/idx2", qStand, nprobe = 8, k = 5))
        val nq = queries.count()
        s.range(1).select(
          lit(nq).as("n_queries"),
          lit(rde + rse).as("n_exact"),
          when(lit(fa == 5 * (nq / 2) && rda == 5 * (nq / 2) && rsa == 5 * (nq / 2)),
            lit(1L)).otherwise(lit(0L)).as("results_ok"),
          when(lit(fired), lit(1L)).otherwise(lit(0L)).as("drift_fired"),
          when(lit(cleared), lit(1L)).otherwise(lit(0L)).as("drift_cleared"),
          when(lit(5 * fh < 4 * fe), lit(1L)).otherwise(lit(0L)).as("frozen_drift_below"),
          when(lit(5 * rdh >= 4 * rde), lit(1L)).otherwise(lit(0L)).as("rebuilt_drift_ok"),
          when(lit(5 * rsh >= 4 * rse), lit(1L)).otherwise(lit(0L)).as("rebuilt_standing_ok"))
      },
      Some("SELECT CAST(2 * count(*) AS BIGINT) AS n_queries, " +
        "CAST(10 * count(*) AS BIGINT) AS n_exact, " +
        "CAST(1 AS BIGINT) AS results_ok, CAST(1 AS BIGINT) AS drift_fired, " +
        "CAST(1 AS BIGINT) AS drift_cleared, " +
        "CAST(1 AS BIGINT) AS frozen_drift_below, " +
        "CAST(1 AS BIGINT) AS rebuilt_drift_ok, " +
        "CAST(1 AS BIGINT) AS rebuilt_standing_ok " +
        "FROM embeddings WHERE vec_id < 25")),

    // IVF-PQ: coarse cells prune the probe set AND the stored index
    // holds trained PQ codes instead of vectors (the FAISS IVFPQ
    // architecture — at 1B vectors, a few GB of codes behind a
    // cell-pruned scan instead of 256 GB of float32 behind a full
    // one). Same verdict contract as the other ANN rows: full top-5
    // per query from the compressed artifacts, recall bounded against
    // in-query brute force.
    GraftQuery(
      "sim_ivfpq_ann",
      (s, dir) =>
        annVerdict(ivfPqAnn(s, dir), bruteTopK(corpus(s, dir), 5),
          minRecall = 0.2),
      Some(annVerdictSql)),

    // Int8 vector quantization (per-vector min/max scale): the storage/
    // bandwidth lever for 100 TB embedding corpora. floor keeps the
    // mapping engine-exact (round(double) is not).
    GraftQuery(
      "sim_quantize_int8",
      (s, dir) => {
        val mn = array_min(col("v"))
        val mx = array_max(col("v"))
        val scale = when(mx > mn, (mx - mn) / lit(255.0d)).otherwise(lit(1.0d))
        Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), vec(col("embedding")).as("v"))
          .select(
            col("vec_id"),
            mn.as("v_min"),
            scale.as("v_scale"),
            // serialized: the driver comparator can't sort/hash raw arrays
            array_join(transform(col("v"), x =>
              (floor((x - mn) / scale).cast("int") - lit(128)).cast("string")), ",")
              .as("q8"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_min(v) AS v_min, " +
        "CASE WHEN list_max(v) > list_min(v) THEN (list_max(v) - list_min(v)) / 255.0 " +
        "ELSE CAST(1 AS DOUBLE) END AS v_scale FROM e) " +
        "SELECT vec_id, v_min, v_scale, " +
        "array_to_string(list_transform(v, x -> CAST(floor((x - v_min) / v_scale) AS INT) - 128), ',') AS q8 FROM s"),
      bench = false),

    // LSH-bucketed approximate NN: signatures -> 4-bit band join ->
    // exact rescoring inside buckets -> top-5 per query. Band width is
    // the recall/cost dial: these embeddings are near-random (top-5
    // cosine ~0.4 => P(bit agree) ~ 0.63), so 4-bit bands x 4 give ~50%
    // recall; clustered real-world embeddings would use wider bands.
    // Driver check: one verdict row — recall@5 ≥ 0.35 vs the in-query
    // brute-force ground truth (measured 0.38–0.50 across SFs — the bar
    // sits just under the observed floor, tight enough to catch a
    // half-broken index, r11 #6); raw
    // neighbor lists are additionally recall-asserted in SimilaritySpec.
    GraftQuery(
      "sim_lsh_ann",
      // MULTI-probe (probeBits = 4: each query band also probes its 4
      // Hamming-1 buckets — 5× query-side fan-out, corpus scan
      // unchanged): recall@5 measured 0.90/0.98/0.96 at
      // sf0.001/0.01/0.1 vs single-probe's 0.38/0.50/0.50, so the
      // verdict bar sits at the IVF family's 0.8 instead of the old
      // single-probe 0.35. Per-probeBits recall curve and candidate
      // cost are pinned in SimilaritySpec.
      (s, dir) =>
        annVerdict(lshAnn(s, dir, probeBits = 4), bruteTopK(corpus(s, dir), 5),
          minRecall = 0.8),
      Some(annVerdictSql)),

    // The PERSISTED multi-probe LSH serve (operators/LshAnnIndex): the
    // plane table freezes at build like the IVF quantizer, the corpus
    // lands bucket-partitioned (batch=<id>/band/band_val — a serve
    // reads only probed buckets), and an append batch rides under the
    // frozen planes. Verdict adds `served_eq_inline`: given the same
    // plane table, the persisted serve must return the IDENTICAL
    // top-k set to the inline multi-probe operator — the lifecycle is
    // lossless, not approximately-as-good — plus the same 0.8 recall
    // bar vs brute truth.
    GraftQuery(
      "sim_lsh_ann_persisted",
      (s, dir) => {
        val e = corpus(s, dir)
        val idx = TempDirs("graft_lshann_idx")
        def slice(pred: Column) = e.filter(pred)
          .select(col("vec_id"), col("v"), col("norm2"))
        graft.operators.LshAnnIndex.writeIndex(
          slice(col("vec_id") % 10 =!= 7), idx,
          hyperplanes.map(_.toSeq), bands = 4)
        graft.operators.LshAnnIndex.appendIndex(
          slice(col("vec_id") % 10 === 7), idx, batchId = 0L)
        val q = e.filter(col("vec_id") < 10).select(
          col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm2").as("qn"))
        val served = graft.operators.LshAnnIndex
          .topK(s, idx, q, probeBits = 4, k = 5)
        def ids(df: DataFrame) =
          df.select(col("query_id"), col("neighbor_id"))
        val inline = ids(lshAnn(s, dir, probeBits = 4))
        val diff = ids(served).exceptAll(inline)
          .union(inline.exceptAll(ids(served)))
          .agg(count(lit(1)).as("n_diff"))
        annVerdict(served, bruteTopK(e, 5), minRecall = 0.8)
          .crossJoin(diff.select(
            when(col("n_diff") === 0, lit(1L)).otherwise(lit(0L))
              .as("served_eq_inline")))
      },
      Some(annVerdictSql.replace(" FROM embeddings",
        ", CAST(1 AS BIGINT) AS served_eq_inline FROM embeddings"))),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    // corpus into clusters, then find near-duplicate pairs INSIDE each
    // cluster only — the clustering turns an O(n²) cosine join into
    // per-cluster work. Here the partitioner is nearest-of-K fixed seed
    // vectors (the K lowest vec_ids), which keeps cluster assignment
    // SQL-expressible so the whole path — assignment, intra-cluster
    // pairing, canonical-survivor choice — is oracle-checked end to end;
    // the 100 TB variant swaps the seed table for IvfIndex's k-means
    // centroids (same dataflow: broadcast centroids, map-side argmax,
    // shuffle only on the cluster key). Pairs at cosine ≥ 0.4 mark the
    // higher vec_id as dropped; survivors = corpus minus dropped.
    GraftQuery(
      "sim_semantic_dedup",
      (s, dir) => {
        val e = corpus(s, dir)
        val seeds = e.orderBy(col("vec_id")).limit(8)
          .select(col("vec_id").as("seed_id"), col("v").as("sv"), col("norm2").as("sn"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cs").desc, col("seed_id").asc)
        val assign = e.crossJoin(broadcast(seeds))
          .select(col("vec_id"), col("seed_id"),
            cosine(col("v"), col("sv"), col("norm2"), col("sn")).as("cs"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("seed_id").as("cluster"))
        val withC = e.join(assign, Seq("vec_id"))
        val a = withC.select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"), col("norm2").as("na"))
        val b = withC.select(col("cluster"), col("vec_id").as("id_b"),
          col("v").as("vb"), col("norm2").as("nb"))
        a.join(b, Seq("cluster"))
          .filter(col("id_a") < col("id_b"))
          .select(col("cluster"), col("id_a"), col("id_b"),
            cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
          .filter(col("cosine") >= 0.4d)
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e ORDER BY vec_id LIMIT 8), " +
        "scored AS (SELECT e.vec_id, s.seed_id, " +
        "round(list_dot_product(e.v, s.sv) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.sv, s.sv))), 6) AS cs " +
        "FROM e CROSS JOIN seeds s), " +
        "assign AS (SELECT vec_id, seed_id AS cluster FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY cs DESC, seed_id ASC) AS rn FROM scored) WHERE rn = 1), " +
        "c AS (SELECT e.vec_id, e.v, a.cluster FROM e JOIN assign a ON e.vec_id = a.vec_id) " +
        "SELECT a.cluster AS cluster, a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"$cosineSql AS cosine " +
        "FROM c a JOIN c b ON a.cluster = b.cluster AND a.vec_id < b.vec_id " +
        s"WHERE $cosineSql >= 0.4")),

    // k-NN label classification: predict each query vector's label by
    // majority vote over its 10 nearest neighbors (cosine), ties broken
    // toward the smaller label — the embedding-space auto-labeling /
    // label-propagation primitive (weak supervision from a labeled
    // subset). This is the exact ground-truth flavor: queries broadcast
    // against one corpus scan (O(n·q), no self-shuffle); at scale the
    // neighbor set comes from the IVF index (sim_ivf_ann) and the vote
    // is unchanged. Both the rank and the vote argmax are fully
    // deterministic (cosine 6 dp → neighbor_id, votes → label).
    GraftQuery(
      "sim_knn_label",
      (s, dir) => {
        val e = corpus(s, dir)
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm2").as("qn"), col("label").as("true_label"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        val topk = e.select(col("vec_id").as("neighbor_id"), col("label"),
            col("v"), col("norm2"))
          .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("true_label"), col("label"),
            cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"),
            col("neighbor_id"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
        val wv = Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("label").asc)
        topk.groupBy(col("query_id"), col("true_label"), col("label"))
          .agg(count(lit(1)).as("votes"))
          .withColumn("rn", row_number().over(wv))
          .filter(col("rn") === 1)
          .select(col("query_id"),
            col("label").cast("long").as("predicted_label"),
            col("true_label").cast("long").as("true_label"),
            col("votes"))
      },
      Some("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "scored AS (SELECT a.vec_id AS query_id, a.label AS true_label, " +
        "b.vec_id AS neighbor_id, b.label AS nl, " +
        s"$cosineSql AS cosine " +
        "FROM e a JOIN e b ON a.vec_id < 50 AND b.vec_id <> a.vec_id), " +
        "topk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 10), " +
        "votes AS (SELECT query_id, true_label, nl, count(*) AS votes " +
        "FROM topk GROUP BY 1, 2, 3) " +
        "SELECT query_id, CAST(nl AS BIGINT) AS predicted_label, " +
        "CAST(true_label AS BIGINT) AS true_label, votes FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY votes DESC, nl ASC) AS rn FROM votes) WHERE rn = 1")),

    // Product quantization + TRUE asymmetric-distance scoring (the
    // IVF-PQ compression path): 64 dims split into 8 subspaces of 8;
    // each subvector is encoded as the nearest of 16 codebook entries
    // (codebook = the first 16 corpus vectors' subvectors — a
    // deterministic stand-in for per-subspace k-means, which is what
    // production trains; the dataflow is identical). A vector is then 8
    // small codes (~4 GB per BILLION vectors at 8×4 bits vs 256 GB raw
    // float32). Serve-time scoring is LUT-ADC: each query precomputes an
    // 8×16 table of subvector·codebook-entry dots (rides the broadcast
    // query side), so scoring a vector is 8 table lookups + one divide —
    // the scan reads codes and never reconstructs. The reconstruction
    // norm is likewise 8 lookups into a query-independent self-norm
    // table. Encode is pure per-row expression work (128 8-dim dot
    // products, whole-stage codegen, zero shuffle); argmin ties break
    // toward the smaller code on both engines (array_position /
    // list_indexof both return the first hit); both engines sum the 8
    // partial dots left-to-right, so scores stay cell-exact.
    GraftQuery(
      "sim_pq_adc",
      (s, dir) => {
        val e = corpus(s, dir)
        val sub = 8 // subspaces
        val dim = 8 // dims per subspace
        val nCodes = 16
        // codebook: the first 16 corpus vectors, collected driver-side
        // (bounded: 16×64 doubles — the IVF-centroid pattern)
        val cbRows: IndexedSeq[(Long, Seq[Double])] =
          e.filter(col("vec_id") < nCodes)
            .select(col("vec_id"), col("v")).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
            .sortBy(_._1).toIndexedSeq
        val cb: IndexedSeq[Seq[Double]] = cbRows.map(_._2)
        val pq = graft.operators.PqEncoder
        val nLut = typedlit(pq.normLut(cb, sub, dim))
        // staged builder (withCodes): bit-identical values to the Column
        // builder, ~1/4 the expression nodes — this query is rebuilt per
        // run and its wall was dominated by analysis/planning of the
        // inlined tree (~1.0 s of wall on 0.3 s of task time,
        // OPTIMIZATION_r18.md §3), not by execution
        val coded = pq.withCodes(
            e.select(col("vec_id").as("neighbor_id"), col("v")),
            col("v"), cb, sub, dim, out = "codes")
          .select(col("neighbor_id"), col("codes"))
          .withColumn("rn2", pq.adcSum(col("codes"), nLut, sub, nCodes))
        // query side: vec_id < 10 ⊂ the codebook slice already collected,
        // so the per-query ADC LUTs and self-norms fold on the driver —
        // the same sequential multiply/add loop as DotProduct.dot, hence
        // bit-identical to the expression flavor (the normLut precedent)
        // — and the broadcast side becomes a LocalRelation: no second
        // corpus scan, no broadcast-build job on the timed path
        import s.implicits._
        def fold(a: Seq[Double], b: Seq[Double]): Double = {
          val n = math.min(a.length, b.length)
          var acc = 0.0d; var i = 0
          while (i < n) { acc += a(i) * b(i); i += 1 }
          acc
        }
        val q = cbRows.filter(_._1 < 10).map { case (id, v) =>
          val lut = (for (sp <- 0 until sub; c <- cb.indices) yield
            fold(v.slice(sp * dim, (sp + 1) * dim),
              cb(c).slice(sp * dim, (sp + 1) * dim))).toSeq
          (id, lut, fold(v, v))
        }.toDF("query_id", "lut", "qn")
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id").asc)
        coded.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(pq.adcSum(col("codes"), col("lut"), sub, nCodes) /
              (sqrt(col("qn")) * sqrt(col("rn2"))), 6).as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 16), " +
        "sp AS (SELECT unnest(range(0, 8)) AS s), " +
        // one row per (vector, subspace, codebook entry) with the exact
        // same three-dot-product distance the engine computes
        "d AS (SELECT e.vec_id, sp.s, cb.c, " +
        "list_dot_product(e.v[sp.s*8+1 : sp.s*8+8], e.v[sp.s*8+1 : sp.s*8+8]) " +
        "- 2 * list_dot_product(e.v[sp.s*8+1 : sp.s*8+8], cb.cv[sp.s*8+1 : sp.s*8+8]) " +
        "+ list_dot_product(cb.cv[sp.s*8+1 : sp.s*8+8], cb.cv[sp.s*8+1 : sp.s*8+8]) AS dist " +
        "FROM e, sp, cb), " +
        // first-minimum tie-break = order by (dist, c)
        "code AS (SELECT vec_id, s, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn FROM d) WHERE rn = 1), " +
        // per-neighbor codebook segments in subspace order plus their
        // self-dots — the oracle's stand-in for the engine's LUTs
        "segs AS (SELECT code.vec_id AS neighbor_id, " +
        "list(cb.cv[code.s*8+1 : code.s*8+8] ORDER BY code.s) AS segs, " +
        "list(list_dot_product(cb.cv[code.s*8+1 : code.s*8+8], " +
        "cb.cv[code.s*8+1 : code.s*8+8]) ORDER BY code.s) AS n2s " +
        "FROM code JOIN cb ON cb.c = code.c GROUP BY code.vec_id), " +
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10), " +
        // left-to-right folds over the 8 subspace partials = the exact
        // IEEE addition order of the engine's adcSum chains
        "scored AS (SELECT q.query_id, g.neighbor_id, " +
        "round(list_reduce(list_transform(range(0, 8), " +
        "s -> list_dot_product(q.qv[s*8+1 : s*8+8], g.segs[s+1])), (a, b) -> a + b) / " +
        "(sqrt(list_dot_product(q.qv, q.qv)) * " +
        "sqrt(list_reduce(g.n2s, (a, b) -> a + b))), 6) AS score " +
        "FROM q JOIN segs g ON g.neighbor_id <> q.query_id) " +
        "SELECT query_id, neighbor_id, score, rank FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5"),
      // bench headliner: the PQ encode+ADC serve pipeline's cost belongs
      // in the per-round perf artifact alongside the dedup headliners
      bench = true),

    // TRAINED-codebook PQ encode gate (VERDICT r11 #8): unlike
    // sim_pq_adc (whose codebook is the deterministic first-16 slice so
    // DuckDB can replay the codes), this row trains per-subspace
    // k-means (deterministic init + ties, 2 Lloyd iterations) and gates
    // the TRAINING itself with engine-replayed verdict cells, the IVF
    // oracle pattern:
    //  - codes_ok: every vector got `sub` codes, each in [1, nCodes] —
    //    a broken codebook shape (lost/empty cell, wrong arity) fails;
    //  - trained_not_worse: total quantization distortion under the
    //    trained codebooks <= under the sliced init. Lloyd's assignment
    //    and update steps are both non-increasing in this objective and
    //    the trainer seeds FROM that exact slice, so the inequality is
    //    a theorem about correct training — a trainer with a wrong
    //    distance, shuffled assignments, or a lost centroid breaks it.
    GraftQuery(
      "sim_pq_trained",
      (s, dir) => {
        val e = corpus(s, dir)
        val sub = 8; val dim = 8; val nCodes = 16
        val init: IndexedSeq[Seq[Double]] = e.filter(col("vec_id") < nCodes)
          .select(col("vec_id"), col("v")).collect()
          .sortBy(_.getLong(0))
          .map(_.getSeq[Double](1).toSeq).toIndexedSeq
        val trained = trainedPqCodebook(e, sub, dim, nCodes, iters = 2)
        val pq = graft.operators.PqEncoder
        val codesInRange = forall(col("codes"),
          c => c >= 1 && c <= nCodes)
        e.select(
            pq.codes(col("v"), trained, sub, dim).as("codes"),
            pq.distortion(col("v"), trained, sub, dim).as("err_t"),
            pq.distortion(col("v"), init, sub, dim).as("err_i"))
          .agg(
            count(lit(1)).as("n_vectors"),
            min(when(size(col("codes")) === sub && codesInRange, 1L)
              .otherwise(0L)).as("codes_ok"),
            when(sum(col("err_t")) <= sum(col("err_i")), 1L)
              .otherwise(0L).as("trained_not_worse"))
      },
      Some("SELECT count(*) AS n_vectors, CAST(1 AS BIGINT) AS codes_ok, " +
        "CAST(1 AS BIGINT) AS trained_not_worse FROM embeddings")))
}
