package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * (k-means centroids) partitions the corpus into nlist cells; a query
  * probes only the nprobe nearest cells. The 100 TB shape: centroids are
  * a broadcast-sized table, the corpus is hash-partitioned by cell id,
  * and a query touches nprobe/nlist of the data instead of all of it.
  *
  * Training is deterministic: centroids initialize from the first nlist
  * vectors by id and run a fixed number of Lloyd iterations with
  * distance ties broken by centroid id — same result on any cluster
  * layout.
  */
object IvfIndex extends PersistedIndex {

  // native fused-loop vector ops (bit-identical fold order to the
  // aggregate(zip_with(...)) composition, minus per-row allocation)
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** Squared L2 distance. */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2_dist2(a, b)

  /** Rule-of-thumb index parameters for a corpus of n vectors: nlist ~
    * sqrt(n) cells (the standard IVF sizing — cell scan cost and cell
    * count balance), probing ~1/8 of them. Both clamped to sane floors.
    */
  def autoParams(n: Long): (Int, Int) = {
    val nlist = math.max(16, math.min(65536, math.sqrt(n.toDouble).toInt))
    val nprobe = math.max(4, nlist / 8)
    (nlist, nprobe)
  }

  /** Deterministic farthest-first (k-means++-style, but argmax instead of
    * random draw) seeding over a bounded sample: start from the lowest
    * vec_id, then repeatedly add the sample vector farthest from its
    * nearest chosen centroid (ties by vec_id). Same result on any
    * partitioning; O(sample × nlist) driver work on a nlist*8 sample.
    */
  def farthestFirstInit(vectors: DataFrame, vecCol: String, nlist: Int): DataFrame = {
    val spark = vectors.sparkSession
    val sample = vectors.orderBy(col("vec_id").asc).limit(nlist * 8)
      .select(col("vec_id"), col(vecCol))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    while (chosen.length < math.min(nlist, sample.length)) {
      val next = sample.iterator
        .filterNot(s => chosen.exists(_._1 == s._1))
        .map(s => (s, chosen.iterator.map(c => d2(c._2, s._2)).min))
        .maxBy { case ((id, _), dist) => (dist, -id) } // farthest, ties by lower id
      chosen += next._1
    }
    import spark.implicits._
    chosen.toSeq.zipWithIndex
      .map { case ((_, v), i) => (i, v.toSeq) }
      .toDF("centroid_id", "centroid")
  }

  /** Train nlist centroids with `iters` Lloyd iterations.
    * Returns (centroid_id, centroid array<double>).
    * `init = "first"` seeds from the first nlist vectors by id (fast,
    * fully distributed); `init = "farthest"` uses farthest-first seeding
    * — better-separated seeds on clustered data at the cost of a small
    * driver-side sample pass.
    */
  def train(
      vectors: DataFrame,
      vecCol: String,
      nlist: Int,
      iters: Int,
      init: String = "first"): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.GraftFunctions.register(spark)
    var centroids =
      if (init == "farthest") farthestFirstInit(vectors, vecCol, nlist)
      else vectors
        .orderBy(col("vec_id").asc)
        .limit(nlist)
        .select(
          (row_number().over(Window.orderBy(col("vec_id").asc)) - 1).as("centroid_id"),
          col(vecCol).as("centroid"))
    for (_ <- 1 to iters) {
      val assigned = assign(vectors, vecCol, centroids)
      // elementwise mean per cell: explode to (cell, dim, value)
      val newCentroids = assigned
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy(col("centroid_id"), col("dim"))
        // decimal mean: order-independent, so centroids are identical on
        // any partitioning (double avg would drift in the last ulp)
        .agg((sum(col("v").cast("decimal(38,18)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
        .select(col("centroid_id"),
          transform(col("dims"), d => d.getField("m")).as("centroid"))
      centroids = newCentroids
    }
    // pin the trained table as a LOCAL relation: nlist rows of dim
    // doubles (bounded by construction — the collect is the point of
    // k-means). This truncates the Lloyd lineage, so consumers don't
    // recompute iteration i-1 under iteration i, and unlike cache()
    // it leaves zero block-manager entries behind for callers that
    // never unpersist.
    import spark.implicits._
    centroids.collect()
      .map(r => (r.getAs[Number]("centroid_id").intValue,
        r.getSeq[Double](r.fieldIndex("centroid"))))
      .toSeq.toDF("centroid_id", "centroid")
  }

  /** Assign each vector to its nearest centroid (ties by centroid id) —
    * a MAP over the collected quantizer (see
    * [[graft.functions.NearestCentroid]]): one codegen'd argmin loop
    * per row, zero join fan-out, zero shuffle. The former
    * join-window-filter formulation materialized corpus × nlist rows
    * into per-task window sorts and overflowed the disk of the 10M
    * ivf_lifecycle scale run; the quantizer is nlist ≤ 65536 rows that k-means already
    * collects, so baking it into the expression is the
    * broadcast-small-side shape, not a new collect.
    */
  def assign(vectors: DataFrame, vecCol: String, centroids: DataFrame): DataFrame = {
    val sorted = centroids.collect()
      .map(r => (r.getAs[Number]("centroid_id").intValue,
        r.getSeq[Double](r.fieldIndex("centroid")).toArray))
      .sortBy(_._1)
    vectors.withColumn("centroid_id",
      org.apache.spark.sql.graft.GraftPlans.exprColumn(
        graft.functions.NearestCentroid(
          org.apache.spark.sql.graft.GraftPlans.columnExpr(col(vecCol)),
          sorted.map(_._1), sorted.map(_._2))))
  }

  /** Query: probe the nprobe nearest cells per query vector, exact
    * cosine rescoring inside them, top-k per query.
    */
  def search(
      corpus: DataFrame, // vec_id, v (array<double>), norm2
      centroids: DataFrame,
      queries: DataFrame, // query_id, qv, qn
      nprobe: Int,
      k: Int): DataFrame =
    searchAssigned(assign(corpus, "v", centroids), centroids, queries, nprobe, k)

  // ------------------------------------------------------------------
  // Persisted index lifecycle — build → append → serve → compact, the
  // same maintenance shape as PrefixFilterJoin / NearDupLsh / Bm25Index.
  // Vectors must carry (vec_id, v: array<double>, norm2); the quantizer
  // (centroid table) FREEZES at build time, exactly like the ppjoin
  // index's frozen rarest-first order: appended vectors assign under
  // the build-time centroids, and because SEARCH probes cells with the
  // same frozen centroids, the candidate-set semantics stay
  // IVF-consistent — distribution drift degrades cell BALANCE (serve
  // cost), never the recall contract relative to the frozen quantizer.
  // Rebuild (retrain) when drift fattens cells, exactly like
  // re-ranking the ppjoin prefixes.
  //
  // Layout under `path` — crash-idempotent `batch=<id>` OVERWRITE
  // partitions (build owns -1), each cell-partitioned one level down
  // so a serve's partition pruning reads only the probed cells of
  // every batch:
  //   centroids/                        (centroid_id, centroid)
  //   corpus/batch=<id>/centroid_id=<c>/  (vec_id, v, norm2)
  // ------------------------------------------------------------------

  def readCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/centroids")

  /** Quantizer-drift alarm thresholds (see [[driftReport]]): an append
    * batch is flagged `drifted` when its mean squared assignment
    * distortion exceeds `DriftDistortionRatio` × the build-time mean,
    * OR its cell-occupancy distribution sits further than `DriftTvMax`
    * total-variation distance from the build-time distribution. The
    * bars separate the measured failure mode cleanly: the planted
    * half-cluster drift fixture posts ratio ≈ 3–6 and TV ≈ 0.7–0.9,
    * while representative appends (the sim_ivf_stream split) stay near
    * ratio 1.0 / TV ≤ 0.2.
    */
  val DriftDistortionRatio: Double = 2.0
  val DriftTvMax: Double = 0.5

  /** Deterministic id-hash training sample: the same vectors train on
    * any partitioning or file layout (a seeded .sample() is
    * partitioning-dependent). Fraction 1.0 = everything.
    */
  private def trainSample(vectors: DataFrame, fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"trainFraction must be in (0,1]: $fraction")
    if (fraction >= 1.0) vectors
    else vectors.filter(
      pmod(xxhash64(col("vec_id")), lit(1000000L)) <
        lit((fraction * 1000000L).toLong))
  }

  /** Build: train the quantizer on the standing corpus, persist it, and
    * land the assigned corpus in the `batch=-1` bootstrap partition
    * (plus its drift sidecar — the build-time reference the drift
    * metric compares appends against). `trainFraction` sub-samples the
    * training set deterministically by vec_id hash — at corpus scale
    * Lloyd over everything dominates the build for no recall gain; the
    * sample must stay REPRESENTATIVE (the measured hazard: a
    * 50%-representative sample dropped recall@5 to 0.58 on the
    * clustered fixture — see the sim_ivf_drift gate), which an id-hash
    * over a well-mixed corpus is.
    */
  def writeIndex(vectors: DataFrame, path: String,
      nlist: Int, iters: Int, init: String = "first",
      trainFraction: Double = 1.0): Unit = {
    val centroids = train(
      trainSample(vectors.select(col("vec_id"), col("v")), trainFraction),
      "v", nlist, iters, init)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    writeCells(
      assign(vectors.select(col("vec_id"), col("v"), col("norm2")), "v", centroids),
      s"$path/corpus/batch=-1")
    writeDriftStats(vectors.sparkSession, path, -1L)
  }

  /** Per-batch drift sidecar: (centroid_id, n, d2_sum) rows — cell
    * occupancy and summed squared assignment distortion — derived from
    * a READ-BACK of the just-written batch partition (narrow columns +
    * a broadcast centroid join; the same read-back-derivation pattern
    * as the LSH/BM25 sidecars, never a second assignment pass over the
    * source). Lands with OVERWRITE in `drift/batch=<id>` — the same
    * crash-idempotent layout as the corpus partitions. The decimal sum
    * makes d2_sum independent of partitioning, so drift verdicts are
    * bit-stable.
    */
  private def writeDriftStats(spark: SparkSession, path: String,
      batchId: Long): Unit =
    writeDriftStatsFrom(spark, s"$path/corpus/batch=$batchId", path, batchId)

  /** Same derivation, but the corpus partition and the index the sidecar
    * lands in may differ — compaction's appends-only migration derives
    * the build-time reference from the SOURCE bootstrap (the original
    * build distribution, intact because compaction never mutates its
    * source) while writing into the target's layout.
    */
  private def writeDriftStatsFrom(spark: SparkSession, corpusBatchDir: String,
      indexPath: String, batchId: Long): Unit = {
    val centroids = readCentroids(spark, indexPath)
    spark.read.parquet(corpusBatchDir)
      .select(col("centroid_id"), col("v"))
      .join(broadcast(centroids), Seq("centroid_id"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"),
        // d2_sum STAYS decimal in the sidecar: compaction folds batches
        // by summing these, and a double-typed partial would make the
        // fold differ from a from-scratch derivation in the last ulp
        sum(dist2(col("v"), col("centroid")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("d2_sum"))
      .write.mode("overwrite").parquet(s"$indexPath/drift/batch=$batchId")
  }

  /** Cell-partitioned write, clustered by cell FIRST: a raw partitionBy
    * from W input partitions writes up to W × nlist files per batch (a
    * year of daily appends at 1000 cells = millions of tiny files); the
    * pre-write hash cluster lands each cell's rows in one task — one
    * file per cell per batch dir, the bucketed layout partition pruning
    * wants.
    */
  private def writeCells(assigned: DataFrame, targetDir: String): Unit =
    assigned.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(targetDir)

  def batchedDirs(path: String): Seq[String] =
    Seq(s"$path/corpus", s"$path/drift")

  /** Append under the FROZEN quantizer. */
  protected def writeBatch(vectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val centroids = readCentroids(vectors.sparkSession, path)
    writeCells(
      assign(vectors.select(col("vec_id"), col("v"), col("norm2")), "v", centroids),
      s"$path/corpus/batch=$batchId")
    // drift sidecar last: a crash window that landed cells but not the
    // sidecar leaves the batch invisible to driftReport's per-batch rows
    // (it reports exactly the sidecars that exist) and the redelivered
    // batch OVERWRITES both — the metric is monitoring, never a serve
    // dependency, so a missing partition degrades observability only
    writeDriftStats(vectors.sparkSession, path, batchId)
  }

  /** Quantizer-drift report: one row per APPEND batch in the drift
    * sidecar — `(batch, n, mean_d2, distortion_ratio, tv, drifted)` —
    * each compared against the `batch=-1` build-time reference the
    * FROZEN quantizer was shaped for:
    *
    *  - `distortion_ratio` = batch mean squared assignment distortion /
    *    build mean. Appends drawn from the build distribution assign
    *    about as tightly as the build did (ratio ≈ 1); a shifted
    *    distribution lands far from every frozen centroid and the ratio
    *    grows without the quantizer ever "failing" visibly — recall
    *    relative to the quantizer stays contractual while recall
    *    relative to BRUTE TRUTH silently erodes, which is exactly what
    *    this metric watches. A zero-distortion build (every vector on a
    *    centroid) makes any nonzero batch distortion ratio = Infinity —
    *    the right direction.
    *  - `tv` = total-variation distance (half L1) between the batch's
    *    and the build's cell-occupancy SHARES, in [0,1]: 0 = identical
    *    cell usage, 1 = disjoint. Catches drift that keeps per-vector
    *    distortion low but crowds mass into few cells (serve-cost skew
    *    and candidate starvation for the crowded queries).
    *
    * `drifted` ORs the two threshold tests (see
    * [[DriftDistortionRatio]]/[[DriftTvMax]]). The inputs
    * are the metadata-tiny drift sidecars (≤ nlist rows per batch), so
    * the report costs a listing-scale read — cheap enough to run per
    * append or per maintenance cycle; `rebuildIndex` is the response
    * when it fires. `maxBatchExclusive` restricts to strictly-earlier
    * batches (the serve cut); batches whose sidecar never landed (a
    * crash window) are simply absent.
    */
  def driftReport(spark: SparkSession, path: String,
      maxBatchExclusive: Option[Long] = None): DataFrame = {
    // fail fast on layouts that cannot be adjudicated, instead of the
    // two silent failure shapes a missing reference used to produce (a
    // path-not-found throw with no migration hint, or — worse — an
    // EMPTY report from the ref-join dropping every append row, which
    // reads as "no drift" on an index that was never being watched)
    val driftPath = new org.apache.hadoop.fs.Path(s"$path/drift")
    val dfs = driftPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(dfs.exists(driftPath),
      s"no drift sidecars under $path — the index predates drift " +
        "tracking; compactIndex or rebuildIndex migrates the layout")
    require(dfs.exists(new org.apache.hadoop.fs.Path(s"$path/drift/batch=-1")),
      s"no drift reference (drift/batch=-1) under $path — appends carry " +
        "sidecars but the build-time baseline is missing; compactIndex " +
        "derives it from the build bootstrap, rebuildIndex resets it")
    val stats = IndexLifecycle.cutBatches(
      spark.read.parquet(s"$path/drift"), maxBatchExclusive)
    val totals = stats.groupBy(col("batch"))
      .agg(sum(col("n")).as("bn"), sum(col("d2_sum")).as("bd2"))
    val ref = totals.filter(col("batch") === -1)
      .select((col("bd2").cast("double") / col("bn")).as("ref_mean_d2"))
    val shares = stats.join(totals.select(col("batch"), col("bn")), Seq("batch"))
      .select(col("batch"), col("centroid_id"),
        (col("n").cast("double") / col("bn")).as("share"))
    val refShares = shares.filter(col("batch") === -1)
      .select(col("centroid_id"), col("share").as("ref_share"))
    val appendShares = shares.filter(col("batch") >= 0)
    // grid = append batches × build-used cells, so cells the batch never
    // touched still contribute |0 − ref_share|; batch-only cells (cells
    // the BUILD never used) survive the full join with ref_share = 0
    val grid = appendShares.select(col("batch")).distinct()
      .crossJoin(refShares)
    val tv = grid.join(appendShares, Seq("batch", "centroid_id"), "full")
      .groupBy(col("batch"))
      .agg((sum(abs(coalesce(col("share"), lit(0d)) -
        coalesce(col("ref_share"), lit(0d)))) / 2).as("tv"))
    totals.filter(col("batch") >= 0)
      .select(col("batch"), col("bn").as("n"),
        (col("bd2").cast("double") / col("bn")).as("mean_d2"))
      .crossJoin(broadcast(ref))
      .join(tv, Seq("batch"))
      .select(col("batch"), col("n"), col("mean_d2"),
        (col("mean_d2") / col("ref_mean_d2")).as("distortion_ratio"),
        col("tv"))
      .withColumn("drifted",
        col("distortion_ratio") > DriftDistortionRatio || col("tv") > DriftTvMax)
      .orderBy(col("batch"))
  }

  /** Retrain-and-swap: the response when [[driftReport]] fires. Trains
    * a FRESH quantizer on the standing corpus read from the index
    * itself (committed batches up to `throughBatch`; `trainFraction`
    * sub-samples deterministically by vec_id hash — "representative
    * standing sample" at a bounded training cost), re-assigns every
    * committed vector under it into a new `batch=-1` bootstrap, and
    * carries uncommitted tail batches under their own ids — ALSO
    * re-assigned, because cell partitions must match the new centroid
    * table for serve-side pruning to be sound. Drift sidecars are
    * re-derived under the new quantizer, so the report's reference
    * resets with the rebuild.
    *
    * Atomic by the same staged-swap discipline as compactIndex: the
    * source index is never mutated; the caller swaps the serve/stream
    * path to `targetPath` after the write completes. A stream resuming
    * from its checkpoint keeps appending under its own ids (batch=-1
    * sorts before every micro-batch id), and `throughBatch` MUST be the
    * last checkpoint-COMMITTED batch when a stream feeds this index,
    * for the same reason as compaction: a crashed batch folded into the
    * bootstrap could never again be excluded by the strictly-earlier
    * serve filter.
    */
  def rebuildIndex(spark: SparkSession, path: String, targetPath: String,
      nlist: Int, iters: Int, init: String = "first",
      throughBatch: Long = Long.MaxValue,
      trainFraction: Double = 1.0): Unit = {
    val tail = IndexLifecycle.tailIds(spark, s"$path/corpus", throughBatch)
    val all = spark.read.parquet(s"$path/corpus")
    val standing = all.filter(col("batch") <= throughBatch)
      .select(col("vec_id"), col("v"), col("norm2"))
    val centroids = train(
      trainSample(standing.select(col("vec_id"), col("v")), trainFraction),
      "v", nlist, iters, init)
    centroids.write.mode("overwrite").parquet(s"$targetPath/centroids")
    writeCells(assign(standing, "v", centroids),
      s"$targetPath/corpus/batch=-1")
    writeDriftStats(spark, targetPath, -1L)
    tail.foreach { b =>
      writeCells(
        assign(all.filter(col("batch") === b)
          .select(col("vec_id"), col("v"), col("norm2")), "v", centroids),
        s"$targetPath/corpus/batch=$b")
      writeDriftStats(spark, targetPath, b)
    }
  }

  /** Serve: ANN top-k per query from the persisted artifacts only —
    * partition pruning keeps the scan to the probed cells of each batch
    * partition. `maxBatchExclusive` restricts the served corpus to
    * strictly-earlier batches (the serve-during-ingest filter — a
    * half-landed micro-batch stays invisible); None serves everything.
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int, k: Int,
      maxBatchExclusive: Option[Long] = None): DataFrame = {
    val indexed = IndexLifecycle
      .cutBatches(spark.read.parquet(s"$path/corpus"), maxBatchExclusive)
      .select(col("vec_id"), col("v"), col("norm2"), col("centroid_id"))
    searchAssigned(indexed, readCentroids(spark, path), queries, nprobe, k)
  }

  /** The compaction fold: committed batches land in ONE `batch=-1`
    * partition set (still cell-partitioned). The centroid table copies
    * verbatim — compaction never retrains, so every serve (whole or
    * strictly-earlier-cut) is identical on the compacted index, and
    * maintenance never retrains: when `driftReport` fires, the response
    * is `rebuildIndex`, a deliberate operator act.
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit = {
    val tail = tails(s"$path/corpus")
    readCentroids(spark, path)
      .write.mode("overwrite").parquet(s"$targetPath/centroids")
    val all = spark.read.parquet(s"$path/corpus")
    writeCells(
      all.filter(col("batch") <= throughBatch)
        .select(col("vec_id"), col("v"), col("norm2"), col("centroid_id")),
      s"$targetPath/corpus/batch=-1")
    tail.foreach { b =>
      writeCells(
        all.filter(col("batch") === b)
          .select(col("vec_id"), col("v"), col("norm2"), col("centroid_id")),
        s"$targetPath/corpus/batch=$b")
    }
    // drift sidecar: compaction NEVER re-baselines the alarm. The
    // batch=-1 build-time reference carries VERBATIM (folding appends
    // into it would make every committed drift the new normal — a slow
    // shift below threshold accumulates into the baseline and the alarm
    // can never fire again: the boiling-frog failure). Folded appends
    // the report currently clears drop as resolved history; a folded
    // batch the report CURRENTLY flags `drifted` keeps its sidecar
    // under its own id — the corpus rows still fold (compaction never
    // changes a serve) but the standing alarm survives, so
    // compact-after-drift cannot silently acknowledge a drift the
    // operator never acted on. Only `rebuildIndex` (retrain) or a
    // deliberate threshold change clears it. Tails carry unchanged.
    val driftDir = new org.apache.hadoop.fs.Path(s"$path/drift")
    val dfs = driftDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRef =
      dfs.exists(new org.apache.hadoop.fs.Path(s"$path/drift/batch=-1"))
    if (hasRef) {
      val drift = spark.read.parquet(s"$path/drift")
      def carry(b: Long): Unit = drift.filter(col("batch") === b)
        .select(col("centroid_id"), col("n"), col("d2_sum"))
        .write.mode("overwrite").parquet(s"$targetPath/drift/batch=$b")
      carry(-1L)
      driftReport(spark, path)
        .filter(col("drifted") && col("batch") <= throughBatch)
        .select(col("batch").cast("long")).collect()
        .map(_.getLong(0)).foreach(carry)
      tails(s"$path/drift").foreach(carry)
    } else if (dfs.exists(driftDir)) {
      // appends-only legacy (sidecars without a reference): the original
      // build bootstrap is still intact at the SOURCE's corpus/batch=-1
      // — derive the build-time baseline from it, never from the folded
      // target (which would bake the appends into the reference). The
      // folded appends' sidecars carry verbatim: with no baseline they
      // were never adjudicated, and dropping them would discard the only
      // record the now-armed report could flag.
      writeDriftStatsFrom(spark, s"$path/corpus/batch=-1", targetPath, -1L)
      val drift = spark.read.parquet(s"$path/drift")
      IndexLifecycle.tailIds(spark, s"$path/drift", -1L).foreach { b =>
        drift.filter(col("batch") === b)
          .select(col("centroid_id"), col("n"), col("d2_sum"))
          .write.mode("overwrite").parquet(s"$targetPath/drift/batch=$b")
      }
    } else {
      // fully legacy (no drift dir): derive from the just-written target
      // partitions — the folded bootstrap is the best available baseline
      // for an index whose build distribution was never recorded
      writeDriftStats(spark, targetPath, -1L)
      tail.foreach(b => writeDriftStats(spark, targetPath, b))
    }
  }

  /** Query over an ALREADY-ASSIGNED corpus (vec_id, v, norm2,
    * centroid_id) — the serve-time entry point when the assignment is a
    * persisted index artifact rather than computed inline.
    */
  def searchAssigned(
      indexed: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(indexed.sparkSession)

    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    val probes = queries.join(broadcast(centroids))
      .withColumn("d2", dist2(col("qv"), col("centroid")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(indexed, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("norm2"))), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }
}
