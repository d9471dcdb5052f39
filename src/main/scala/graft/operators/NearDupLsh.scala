package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** MinHash+LSH near-duplicate mining over any (doc_id, text) frame — the
  * reusable operator behind the `dd_minhash_lsh` query and the
  * `minhash_lsh`, `lsh` and `stream_lsh` scale workloads
  * (graft.ScaleWorkloads).
  *
  * Pipeline: 3-gram shingles → k=32 native MinHash signature → b=8/r=4
  * banding → candidate pairs generated INSIDE each (band, band_hash)
  * bucket → exact Jaccard rescoring (sorted hashed shingles, merge-walk
  * expression) only on candidates, through the rescore PrefixFilterJoin
  * shares (ExactPairs.rescore). The only shuffles are on narrow
  * (band, band_hash) int keys and the candidate ids; document payloads
  * never fan out.
  *
  * Nothing is cached: each consumer recomputes its input from scan (two
  * corpus passes total — one for signatures/candidates, one for the
  * rescore arrays). At 100 TB the shingle arrays would never fit in
  * cache anyway — recompute-from-scan is the shape that survives scale
  * (see PrefixFilterJoin's header note), and repeated invocations leak
  * nothing in the block manager.
  *
  * Incremental lifecycle: `writeIndex` persists the signature relation
  * as an append-only parquet artifact at corpus-build time (the
  * IvfIndex train→persist→serve pattern); `pairsAgainstIndex` dedups a
  * new batch against it with O(batch) compute — the corpus is only ever
  * re-read as pruned columns, never re-shingled, and never reshuffled.
  */
object NearDupLsh extends PersistedIndex {

  val Bands = 8
  val RowsPerBand: Int = graft.functions.MinHashSig.K / Bands

  /** Default per-(band, band_hash) bucket cap. A degenerate bucket of n
    * docs emits n·(n−1)/2 candidates, so 4096 already means up to ~8M
    * pairs from ONE hot key; corpora with heavy boilerplate tune lower.
    * Small enough to bound the quadratic blowup, far above anything a
    * non-degenerate corpus produces (a bucket this size means thousands
    * of documents with identical minima in all 4 of the band's lanes).
    */
  val DefaultMaxBucket = 4096

  /** Delta floor separating the hot-stats sidecar's stored rows from the
    * truncated tail (see [[hotStatsPath]]): a per-batch bucket delta must
    * exceed this many docs to be stored. The sidecar-derived skip list is
    * therefore a CONFIDENT SUBSET of the exact over-cap set: every listed
    * bucket's stored sum already exceeds the cap (no false skips — the
    * answer-identical direction, since skipping loses candidates), while
    * a bucket can evade the list only if every one of its deltas stayed
    * at or under the floor, bounding its true size by floor × batches
    * since the last compaction — at the 4096 default cap and floor 8
    * that is 512+ consecutive micro-batches before a barely-over-cap
    * bucket could hide, and the degenerate cliques the guard exists for
    * (thousands of identical docs) post per-batch deltas far above any
    * floor. Compaction folds EXACT totals back into the sidecar, so the
    * drift resets with every maintenance cycle.
    */
  val HotStatsFloor: Long = 8L

  /** Catastrophe-tier sampling rate and seed (see `pairs`): 1% of docs
    * estimate band-bucket sizes pre-shuffle. Seeded so the sampled
    * key-drop set — and therefore the operator's output — is
    * deterministic for a given corpus + partitioning.
    */
  val SampleFrac = 0.01
  val SampleSeed = 42L

  /** Minimum ABSOLUTE sample count before a key is eligible for the
    * sampled catastrophe drop. The ratio test alone (`est > 5·cap`) is
    * ~1e-60-safe at the default cap, but a caller tuning `maxBucket`
    * low (say 64) would lower the sample threshold to ~4 rows, where
    * Poisson noise drops legitimately near-cap buckets with ~1e-3
    * probability each — silent true-pair loss. Requiring >= 25 sampled
    * rows keeps the false-drop probability below ~1e-9 for any bucket
    * whose true size is under the cap, at every cap setting; buckets
    * between the cap and the sampler's floor still fall to the exact
    * capped-aggregate tier.
    */
  val MinSampleCount = 25L

  /** Word-3-gram shingle array of a text column. */
  def shingles(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) >= 3,
      transform(
        sequence(lit(1), size(toks) - lit(2)),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + lit(1)), element_at(toks, i + lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The signature relation — also the persisted-index row schema:
    * (doc_id, sh: sorted hashed shingles, bands: the 8 Murmur3 band
    * hashes of the k=32 MinHash signature). Documents with fewer than 3
    * tokens have no shingles, can never clear a Jaccard threshold, and
    * would otherwise all collide in every band (one degenerate bucket),
    * so they are dropped here.
    */
  def signatures(docs: DataFrame): DataFrame =
    sigRelation(docs)
      .withColumn("bands", array((0 until Bands).map { j =>
        hash((j * RowsPerBand until (j + 1) * RowsPerBand)
          .map(i => col("sig")(i)): _*)
      }: _*))
      .drop("sig")

  /** Non-nullable shingle hashes: coalescing the (nullable) text makes
    * the whole expression non-nullable, so downstream null-intolerant
    * consumers (sorted_set_jaccard in a filter) never generate an
    * IsNotNull(sh) constraint — which pushdown would otherwise
    * substitute into the scan as a SECOND full ngram pass per row. Null
    * text maps to an empty shingle set, which no candidate ever joins.
    */
  private def shExpr: Column =
    GraftFunctions.ngram_hashes(split(coalesce(col("text"), lit("")), " "))

  /** (doc_id, sh, sig) with short docs dropped. The filter predicate is
    * deliberately the CHEAP token-count test, not `size(sh) > 0`:
    * predicate pushdown substitutes aliases, so an sh-referencing filter
    * lands on the scan as a second full `ngram_hashes` evaluation per
    * row (tokens >= 3 ⟺ at least one shingle, so semantics match).
    */
  private def sigRelation(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shExpr.as("sh"))
      .withColumn("sig", GraftFunctions.minhash_sig(col("sh")))
  }

  /** (doc_id, band, band_hash) for an in-line corpus — the banding step
    * of `pairs`/`pairsAgainst`. The band index explodes from a LITERAL
    * 0..7 array and each band hash is computed AFTER the explode from
    * the carried sig. Order matters: `posexplode(bands)` over the
    * computed array makes InferFiltersFromGenerate emit a
    * `size(bands) > 0` guard whose pushdown inlines the full
    * minhash-over-ngram pipeline once per array slot — 32 extra
    * signature evaluations per row at the scan (measured 30-50x the
    * whole signature pass at 1M docs). The literal-array explode's
    * inferred guard constant-folds away, and the hash-after-explode
    * values are bitwise-identical to the persisted index's `bands[j]`.
    */
  private def bandRows(docs: DataFrame): DataFrame =
    sigRelation(docs)
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        hash((0 until RowsPerBand).map(i =>
          element_at(col("sig"), col("band") * RowsPerBand + i + 1)): _*)
          .as("band_hash"))

  /** Fused single-long band key: distinct ⟺ (band, band_hash) distinct
    * (band ∈ 0..7, hash is 32-bit). One-column long joins probe faster
    * than two-column composites, and the flat band artifact sorts on it.
    */
  private def bandKey(bandHash: Column, band: Column): Column =
    bandHash.cast("long") * 8 + band

  /** Append a batch's signatures to the persisted index — an append-only
    * parquet artifact (build once at corpus ingest, append each accepted
    * batch, serve incremental dedup without rescanning history). Two
    * sidecars land beside it:
    *
    *  - `statsPath`: per-batch (band, band_hash, n) bucket-count deltas —
    *    O(distinct buckets per batch) rows of ints, so the serve path
    *    skips degenerate corpus buckets without re-aggregating history;
    *  - `bandsPath`: the band relation FLAT — (doc_id, bk) rows, range-
    *    laid-out and sorted by the fused key. The serve path's candidate
    *    stage scans this instead of re-exploding the signatures' `bands`
    *    arrays (measured 4.4x cheaper at 10M docs: no per-row array
    *    assembly, and the single-long join key probes ~1.6x faster).
    *    The sorted layout additionally gives trickle-sized lookups
    *    (fewer keys than row groups) real min/max row-group skipping.
    *
    * Why the layout is sorted-flat rather than partitioned by band key:
    * MinHash band hashes are uniform by construction, so a batch of d
    * docs scatters 8d keys uniformly over the key space. Skipping a
    * file (or directory, or row group) requires it to contain NO batch
    * key; with u units over the index, the expected batch keys per unit
    * is 8d/u, so pruning only bites when the batch is smaller than the
    * unit count — single-document lookups, not crawl batches (a 1%
    * batch of a 10M corpus carries 800k keys against ~640 row groups:
    * every unit is hit). Directory bucketing by key would add thousands
    * of small files per micro-batch and prune nothing a real batch
    * ever sees; the flat sorted layout instead minimizes the CONSTANT
    * of the unavoidable O(index) scan — 80M flat rows scan in ~0.3s
    * where the array explode took 1.5s — and still serves the trickle
    * case via row-group stats under the collected-key filter.
    *
    * The O(batch) band recompute here is build-time cost; the
    * alternative (re-deriving the full index's bands per serve call) is
    * the O(corpus) work this lifecycle exists to avoid.
    */
  def writeIndex(docs: DataFrame, path: String): Unit = {
    // flat appends land in the batch=-1 partition so the layout is the
    // SAME as appendIndex's: a stream pointed at a flat-bootstrapped
    // index sees a real `batch` column (-1 sorts before every micro-batch
    // id, so the strictly-earlier replay filter admits the bootstrap)
    // instead of failing at runtime on a missing column.
    //
    // One signature compute per ingest (appendIndex's contract): the
    // signatures land in a hidden staging dir (dot-prefixed — invisible
    // to partition discovery, so a concurrent reader never sees a
    // half-ingest), the sidecars derive from a READ-BACK of the staged
    // parquet — a pruned column scan, not a second full shingle+minhash
    // pass over the corpus — and the staged part-files then move into
    // the batch=-1 partition. Spark part-file names carry a per-task
    // UUID, so renames into a non-empty partition cannot collide with
    // earlier appends.
    val spark = docs.sparkSession
    val staging = s"$path/.staging-${java.util.UUID.randomUUID()}"
    signatures(docs).write.mode("overwrite").parquet(staging)
    val written = spark.read.parquet(staging)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_hash")))
    writeSidecars(written, path, -1L, append = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(staging)
    val fs = src.getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(s"$path/batch=-1")
    fs.mkdirs(target)
    fs.listStatus(src).foreach { st =>
      if (st.getPath.getName.startsWith("part-")) {
        val dst = new org.apache.hadoop.fs.Path(target, st.getPath.getName)
        // rename reports some failures (cross-volume moves, HDFS edge
        // cases) by RETURNING false — silently dropping a signature file
        // would mean an index missing documents, i.e. false negatives
        require(fs.rename(st.getPath, dst),
          s"staged index file failed to move: ${st.getPath} -> $dst")
      }
    }
    fs.delete(src, true)
  }

  def batchedDirs(path: String): Seq[String] =
    Seq(path, statsPath(path), bandsPath(path), hotStatsPath(path))

  /** The idempotent flavor of `writeIndex` behind `appendIndex`, for
    * exactly-once streaming appends: batch `batchId`'s signatures, stats
    * deltas, and flat band rows land in their own `batch=<id>` partition
    * directories with OVERWRITE, so a redelivered micro-batch (crash
    * between the index write and the checkpoint commit) replaces its own
    * partitions instead of double-appending. `readIndex`/`readBucketStats`
    * discover the partition layout transparently (the extra `batch`
    * column is pruned by every consumer's column selection). The
    * sidecars derive from a READ-BACK of the just-written partition —
    * one signature compute per micro-batch instead of three.
    */
  protected def writeBatch(docs: DataFrame, path: String, batchId: Long): Unit = {
    signatures(docs).write.mode("overwrite")
      .parquet(s"$path/batch=$batchId")
    val written = docs.sparkSession.read.parquet(s"$path/batch=$batchId")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_hash")))
    writeSidecars(written, path, batchId, append = false)
  }

  private def writeSidecars(bands: DataFrame, path: String, batchId: Long,
      append: Boolean): Unit = {
    val spark = bands.sparkSession
    val mode = if (append) "append" else "overwrite"
    val stats = bands
      .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("n"))
    if (append) {
      // bootstrap appends accumulate into batch=-1, so the hot subset
      // must see ONLY this ingest's delta rows — stage the aggregate
      // once and fan both sidecars out from the narrow read-back (one
      // aggregation either way; a read-back of the stats partition
      // would double-count earlier appends' hot rows)
      val staging = s"${statsPath(path)}/.staging-${java.util.UUID.randomUUID()}"
      stats.write.mode("overwrite").parquet(staging)
      val rb = spark.read.parquet(staging)
      // HOT lands BEFORE stats: both appends accumulate into an existing
      // batch=-1 dir, so hotBuckets' dir-granular completeness check
      // cannot see a crash between them. Hot-first makes the crash
      // window leave hot ⊇ stats deltas — the skip list derived from the
      // sidecar stays a superset of the exact-stats one, so the perf
      // guard (the reason the skip list exists: a degenerate bucket must
      // never fan out) cannot be silently defeated. Stats-first left the
      // inverse window: over-floor stats deltas with no hot counterpart,
      // under-skipping a genuinely over-cap bucket beyond the documented
      // floor×batches bound. Either way the signature part-files move
      // only after the sidecars land, and a crashed writeIndex must be
      // retried as a whole.
      rb.filter(col("n") > HotStatsFloor)
        .write.mode("append").parquet(s"${hotStatsPath(path)}/batch=$batchId")
      rb.write.mode("append").parquet(s"${statsPath(path)}/batch=$batchId")
      val sp = new org.apache.hadoop.fs.Path(staging)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
    } else {
      stats.write.mode(mode).parquet(s"${statsPath(path)}/batch=$batchId")
      // hot sidecar from the just-written partition: a narrow int-column
      // read-back, never a second aggregation over the bands
      spark.read.parquet(s"${statsPath(path)}/batch=$batchId")
        .filter(col("n") > HotStatsFloor)
        .write.mode(mode).parquet(s"${hotStatsPath(path)}/batch=$batchId")
    }
    bands
      .select(col("doc_id"), bandKey(col("band_hash"), col("band")).as("bk"))
      .repartitionByRange(col("bk"))
      .sortWithinPartitions(col("bk"))
      .write.mode(mode).parquet(s"${bandsPath(path)}/batch=$batchId")
  }

  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def statsPath(path: String): String = path + "_stats"

  def bandsPath(path: String): String = path + "_bands"

  /** The Zipf-tail-truncated flavor of the stats sidecar: per-batch
    * (band, band_hash, n) deltas with n > [[HotStatsFloor]] ONLY — on a
    * non-degenerate corpus (bucket deltas of 1-2 docs) this is near
    * empty, so the per-batch hot-bucket derivation a streaming ingest
    * runs reads a tiny relation instead of O(batches × buckets) rows of
    * accumulated deltas (measured: the full-stats aggregate was one of
    * the two O(index) terms in the ~3.2 s per million standing docs
    * ingest growth — bench/stream_lsh_probe_r14.md). The full stats
    * sidecar still lands untruncated beside it for exact consumers
    * (readBucketStats, compaction folds).
    */
  def hotStatsPath(path: String): String = path + "_stats_hot"

  /** The compaction fold: batches up to `throughBatch` land in ONE
    * `batch=-1` partition set (`width` output files) with their stats
    * deltas collapsed to sums; later batches carry over unchanged,
    * partition for partition. A year of daily `batch=<id>` appends is
    * thousands of partition dirs whose listing cost eventually rivals
    * the read — compaction bounds it, exactly like GraftOptimize's
    * small-file compaction for catalog tables.
    *
    * The watermark matters most here: a crashed batch's partition
    * (index written, checkpoint commit missed) folded into `batch=-1`
    * would pass the redelivered batch's strictly-earlier filter,
    * self-match at jaccard 1.0, and permanently reject every document
    * of that batch on replay. Carried under its own id, it stays
    * excluded, exactly as on the uncompacted index.
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit = {
    // Legacy-index migration (compaction is the natural migration step):
    // a pre-partition-layout index has no `batch` column — treat it all
    // as the committed bootstrap (batch=-1 semantics) — and a
    // pre-artifact index has no stats/bands sidecars — derive both from
    // the signatures' bands arrays (one pruned-column pass), which also
    // lands the legacy index on the fast flat-artifact serve path.
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    // the signatures' tail drives every artifact's carry; a legacy flat
    // layout has no batch dirs and an empty tail, exactly as the old
    // distinct over the synthesized batch=-1 column gave.
    val tail = tails(path)
    val all0 = readIndex(spark, path)
    val all =
      if (all0.columns.contains("batch")) all0
      else all0.withColumn("batch", lit(-1L))
    lazy val derivedBands = all
      .select(col("batch"), col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "band_hash")))
    val stats =
      if (exists(statsPath(path))) spark.read.parquet(statsPath(path))
      else derivedBands
        .groupBy(col("batch"), col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n"))
    val bands =
      if (exists(bandsPath(path))) spark.read.parquet(bandsPath(path))
      else derivedBands
        .select(col("batch"), col("doc_id"),
          bandKey(col("band_hash"), col("band")).as("bk"))
    val sigs = all.filter(col("batch") <= throughBatch)
      .select(col("doc_id"), col("sh"), col("bands"))
    val sized = if (width > 0) sigs.repartition(width) else sigs
    sized.write.mode("overwrite").parquet(s"$targetPath/batch=-1")
    stats.filter(col("batch") <= throughBatch)
      .groupBy(col("band"), col("band_hash")).agg(sum(col("n")).as("n"))
      .write.mode("overwrite").parquet(s"${statsPath(targetPath)}/batch=-1")
    // hot sidecar from the EXACT folded totals (not the source sidecar's
    // truncated deltas): compaction is where the floor × batches evasion
    // bound resets — a bucket whose small per-batch deltas summed past
    // the floor is stored exactly from here on (see HotStatsFloor). Also
    // migrates legacy indexes (no sidecar) onto the O(hot tail) path.
    spark.read.parquet(s"${statsPath(targetPath)}/batch=-1")
      .filter(col("n") > HotStatsFloor)
      .write.mode("overwrite").parquet(s"${hotStatsPath(targetPath)}/batch=-1")
    bands.filter(col("batch") <= throughBatch)
      .select(col("doc_id"), col("bk"))
      .repartitionByRange(col("bk")).sortWithinPartitions(col("bk"))
      .write.mode("overwrite").parquet(s"${bandsPath(targetPath)}/batch=-1")
    // uncommitted tail: carry each partition through under its own id
    // (the hot tail re-derives from the carried stats delta — identical
    // truncation, and it uniformly covers sources missing the sidecar)
    tail.foreach { b =>
      all.filter(col("batch") === b).select(col("doc_id"), col("sh"), col("bands"))
        .write.mode("overwrite").parquet(s"$targetPath/batch=$b")
      stats.filter(col("batch") === b)
        .select(col("band"), col("band_hash"), col("n"))
        .write.mode("overwrite").parquet(s"${statsPath(targetPath)}/batch=$b")
      stats.filter(col("batch") === b && col("n") > HotStatsFloor)
        .select(col("band"), col("band_hash"), col("n"))
        .write.mode("overwrite").parquet(s"${hotStatsPath(targetPath)}/batch=$b")
      bands.filter(col("batch") === b).select(col("doc_id"), col("bk"))
        .write.mode("overwrite").parquet(s"${bandsPath(targetPath)}/batch=$b")
    }
  }

  /** Summed per-bucket counts across all appended batches. */
  def readBucketStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(statsPath(path))
      .groupBy(col("band"), col("band_hash")).agg(sum(col("n")).as("n"))

  /** The (band, band_hash) keys whose corpus bucket exceeds `maxBucket`
    * — the skip list for a guarded incremental batch. Tiny by
    * definition: a key lands here only when thousands of corpus docs
    * share all 4 of the band's minima (mass-duplicated boilerplate).
    *
    * Sourced from the truncated hot-stats sidecar when the layout is
    * complete — an O(hot tail) read instead of re-aggregating every
    * accumulated per-batch delta (the streaming ingest's former O(index)
    * floor term); the derived list is a confident subset of the exact
    * one (see [[HotStatsFloor]] for the bound). Falls back to the exact
    * full-stats aggregate when the sidecar is absent (legacy index) or
    * any served stats partition lacks its hot partition (a pre-upgrade
    * batch, or an unparseable batch dir) — the always-correct path.
    *
    * `maxBatchExclusive` restricts to strictly-earlier batch partitions
    * — the stream's replay filter; the layout-consistency check applies
    * to exactly the served cut, so a half-upgraded index still serves
    * the earlier-batch decision identically on every replay.
    */
  def hotBuckets(spark: SparkSession, path: String, maxBucket: Int,
      maxBatchExclusive: Option[Long] = None): DataFrame = {
    // legacy flat stats carry no batch column and always serve whole
    def cut(df: DataFrame): DataFrame =
      IndexLifecycle.cutBatches(df, maxBatchExclusive)
    // None = a batch dir that isn't `batch=<long>` (tooling leftovers):
    // the layout is off-contract, use the exact path
    def batchDirIds(p: String): Option[Set[Long]] =
      IndexLifecycle.batchDirIds(spark, p, maxBatchExclusive)
    val sidecarComplete = (batchDirIds(statsPath(path)), batchDirIds(hotStatsPath(path))) match {
      case (Some(statsBatches), Some(hotBatches)) =>
        statsBatches.nonEmpty && statsBatches.subsetOf(hotBatches)
      case _ => false
    }
    val src =
      if (sidecarComplete)
        // explicit schema: on a non-degenerate corpus the sidecar is
        // EMPTY (no delta ever tops the floor — batch dirs with zero
        // part files), where schema inference would fail; the fixed
        // layout needs none
        cut(spark.read
          .schema("band INT, band_hash INT, n BIGINT, batch BIGINT")
          .parquet(hotStatsPath(path)))
      else cut(spark.read.parquet(statsPath(path)))
    src.groupBy(col("band"), col("band_hash")).agg(sum(col("n")).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("band"), col("band_hash"))
  }

  /** Incremental near-dup pairs of a NEW batch against a PRE-COMPUTED
    * signature relation (readIndex, or signatures() inline). Only the
    * batch is shingled and hashed; the corpus side reads pruned index
    * columns — (doc_id, bands) for candidates, (doc_id, sh) for the
    * rescore — and NEVER reshuffles: the batch's bands and the candidate
    * pairs broadcast against in-place corpus scans, which is what makes
    * a daily crawl affordable against a 100 TB history. Both sides' ids
    * must be disjoint. Returns (new_id, old_id, jaccard).
    *
    * `skipBuckets` (from `hotBuckets`) guards against degenerate corpus
    * buckets: the batch's band rows landing on a listed key are dropped
    * BEFORE the broadcast, so a 16M-doc boilerplate bucket never fans
    * out against the batch. Recall caveat mirrors `pairs`' in-line
    * guard: a pair losing one band still surfaces through its other 7;
    * members of the mass-duplicated clique itself are exact-dedup's job.
    * The skip list is tiny (degenerate keys only), so the anti-join is
    * a broadcast against the already-small batch side — O(batch) stays
    * O(batch).
    *
    * EAGER at construction time: unless `batchRows` is supplied, building
    * the returned plan runs a limit-bounded count of `newDocs` (up to
    * serveBroadcastMaxRows+1 rows) to pick broadcast vs shuffle_hash,
    * and — for batches under the key-prune limit — a full batch-bands
    * distinct+collect. A caller that composes/rebuilds the result re-pays
    * those probe jobs per rebuild; callers that already know the batch
    * size (e.g. a stream that materialized the batch) pass it via
    * `batchRows` to skip the count probe entirely.
    */
  def pairsAgainstIndex(newDocs: DataFrame, index: DataFrame,
      threshold: Double, skipBuckets: Option[DataFrame] = None,
      batchRows: Option[Long] = None): DataFrame =
    // the index's `bands` is a SCAN attribute (parquet column), so
    // posexplode over it infers only a harmless size guard on the
    // column — no recompute risk (unlike an in-line computed array,
    // see bandRows)
    pairsAgainstImpl(newDocs,
      index.select(col("doc_id").as("old_id"),
        posexplode(col("bands")).as(Seq("band", "band_hash")))
        .select(col("old_id"), bandKey(col("band_hash"), col("band")).as("bk")),
      index.select(col("doc_id").as("old_id"), col("sh").as("sh_b")),
      threshold, skipBuckets, batchRows)

  /** Serve a batch straight from a persisted index PATH — the
    * production entry point: the candidate stage scans the flat sorted
    * band artifact (`bandsPath`) instead of re-exploding the signature
    * relation's arrays, and trickle-sized batches push their collected
    * key set into that scan (see IndexLifecycle.serveKeyPruneLimit).
    * Falls back to the array-explode path for indexes written before
    * the artifact existed. `maxBatchExclusive` restricts the served
    * corpus to strictly-earlier batch partitions (the stream's replay filter);
    * None serves the whole index. Construction is EAGER unless
    * `batchRows` is supplied — see [[pairsAgainstIndex]]'s probe note.
    */
  def pairsAgainstIndexAt(spark: SparkSession, newDocs: DataFrame,
      path: String, threshold: Double,
      skipBuckets: Option[DataFrame] = None,
      maxBatchExclusive: Option[Long] = None,
      batchRows: Option[Long] = None): DataFrame = {
    def cut(df: DataFrame): DataFrame =
      maxBatchExclusive.fold(df)(b => df.filter(col("batch") < b))
    val index = cut(readIndex(spark, path))
    val bp = new org.apache.hadoop.fs.Path(bandsPath(path))
    val corpusBands =
      if (bp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(bp))
        cut(spark.read.parquet(bandsPath(path)))
          .select(col("doc_id").as("old_id"), col("bk"))
      else
        index.select(col("doc_id").as("old_id"),
          posexplode(col("bands")).as(Seq("band", "band_hash")))
          .select(col("old_id"), bandKey(col("band_hash"), col("band")).as("bk"))
    pairsAgainstImpl(newDocs, corpusBands,
      index.select(col("doc_id").as("old_id"), col("sh").as("sh_b")),
      threshold, skipBuckets, batchRows)
  }

  /** Incremental flavor without a persisted index: the corpus signatures
    * are recomputed from text — O(corpus) compute per call, so this is
    * for one-shot jobs; the daily-crawl lifecycle is writeIndex once +
    * pairsAgainstIndex per batch. Construction is EAGER — see
    * [[pairsAgainstIndex]]'s probe note.
    */
  def pairsAgainst(newDocs: DataFrame, corpus: DataFrame, threshold: Double): DataFrame =
    pairsAgainstImpl(newDocs,
      bandRows(corpus)
        .select(col("doc_id").as("old_id"),
          bandKey(col("band_hash"), col("band")).as("bk")),
      corpus.select(col("doc_id").as("old_id"),
        shExpr.as("sh_b")),
      threshold, None, None)

  /** Core serve join. `corpusBands` must be (old_id, bk) with bk the
    * fused band key; `corpusSets` (old_id, sh_b). `batchRows`, when
    * known by the caller, replaces the limit-bounded count probe.
    */
  private def pairsAgainstImpl(newDocs: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, threshold: Double,
      skipBuckets: Option[DataFrame], batchRows: Option[Long]): DataFrame = {
    val spark = newDocs.sparkSession
    GraftFunctions.register(spark)
    // Size-aware serve joins: in the documented regime (batch ≪ corpus)
    // the batch's bands and the candidate pairs BROADCAST against
    // in-place corpus scans — zero corpus motion. But a broadcast HINT
    // overrides autoBroadcastJoinThreshold unconditionally, so one
    // oversized crawl batch would die at Spark's 8 GB broadcast ceiling
    // instead of degrading. Decide with a limit-bounded ROW COUNT of
    // the batch (see IndexLifecycle.serveGuard for
    // why plan stats can't be trusted here; the candidate relation
    // scales with the batch in every non-degenerate corpus, and the
    // degenerate ones are exactly what `skipBuckets` bounds): under the
    // budget → broadcast, over it → shuffle_hash on the same keys,
    // which trades a pruned-column corpus shuffle for completing at all.
    val guard = IndexLifecycle.serveGuard(spark, newDocs, batchRows)
    // the batch side recomputes from scan per consumer (bands + rescore)
    // — O(batch) compute twice beats materializing on the serve path
    val allNewBands = bandRows(newDocs)
      .select(col("doc_id").as("new_id"),
        bandKey(col("band_hash"), col("band")).as("bk"))
    val newBands = skipBuckets.fold(allNewBands)(hot =>
      allNewBands.join(
        broadcast(hot.select(bandKey(col("band_hash"), col("band")).as("bk"))),
        Seq("bk"), "left_anti"))
    // trickle-batch scan prune: a bounded key-list collect lets the
    // band-artifact scan drop non-candidate rows (and, under the sorted
    // layout, whole row groups) before the join probe. Gated on the
    // probed row count — each doc contributes 8 band keys, so a batch
    // beyond pruneLimit/8 docs cannot fit under the limit, and the
    // distinct() behind the collect is a FULL batch-bands aggregation
    // (limit doesn't short-circuit it) that a big batch shouldn't pay.
    val pruneLimit = IndexLifecycle.serveKeyPruneLimit(spark)
    val prunedCorpusBands =
      if (guard.oversized || guard.probedRows * Bands > pruneLimit) corpusBands
      else {
        val keys = newBands.select(col("bk")).distinct()
          .limit(pruneLimit + 1).collect().map(_.getLong(0))
        if (keys.length <= pruneLimit)
          corpusBands.filter(col("bk").isInCollection(keys))
        else corpusBands
      }
    val candidates = prunedCorpusBands
      .join(guard.side(newBands), Seq("bk"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    val withOld = corpusSets
      .join(guard.side(candidates), Seq("old_id"))
    withOld
      .join(sigRelation(newDocs).select(col("doc_id").as("new_id"), col("sh").as("sh_a")),
        Seq("new_id"))
      .select(col("new_id"), col("old_id"),
        GraftFunctions.sorted_set_jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup pairs (doc_a < doc_b, jaccard >= threshold). `docs` needs
    * columns (doc_id, text).
    *
    * Buckets larger than `maxBucket` are dropped before pair generation
    * (the skew guard): one boilerplate-heavy band value otherwise goes
    * quadratic at corpus scale. A pair losing one band still surfaces
    * through its other 7 bands — oversized buckets are near-clique
    * regions whose members, if truly similar, collide in several bands,
    * and whose pair list nobody wants enumerated pairwise anyway (exact
    * dedup upstream is the right tool for mass-duplicated boilerplate).
    * Dropped/max bucket counts are published as observed metrics under
    * "graft_lsh_buckets" (CollectMetrics — visible to any
    * QueryExecutionListener).
    */
  def pairs(docs: DataFrame, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    // Three-tier bucket build — one FULL signature pass, bounded memory
    // at every tier:
    //
    //   1. CATASTROPHE TIER (sampled, pre-shuffle): band keys whose
    //      1%-sample estimate exceeds 5x the cap are anti-joined out
    //      BEFORE the bucket shuffle. A degenerate corpus (mass
    //      boilerplate, tiny vocabulary) concentrates tens of millions
    //      of rows on a handful of keys; any aggregate that lets those
    //      rows reach the shuffle funnels them into single reduce
    //      tasks whose sort/spill machinery OOMs an 8 GB heap at 10M
    //      docs (observed: UnsafeSorterSpillReader allocation failure
    //      in the 10M minhash_lsh scale run). A key that big cannot hide
    //      from a 1% sample (est > 5x cap needs a true size >~ 5x cap;
    //      Poisson tails make a false positive on an under-cap bucket
    //      ~1e-60 at the default cap), and the sample pass costs 1% of
    //      one signature pass.
    //   2. EXACT TIER (capped aggregate): collect_capped bounds every
    //      aggregation buffer at maxBucket longs on both map and
    //      reduce side (an over-cap group's buffer clears the moment
    //      its running count passes the cap) while its `n` keeps the
    //      TRUE size — buckets between cap and 5x cap (too small for
    //      the sampler, too big to keep) are dropped here exactly.
    //      This replaced the count-then-anti-join two-phase guard,
    //      which was memory-safe but computed the band relation — a
    //      full shingle+minhash pass — TWICE (planted-corpus cost:
    //      1M 7.0->4.3 s, 10M 209->150 s after the replacement).
    //   3. METRICS: both tiers publish — the agg observes exact
    //      dropped/max over everything it sees; the sampler's key list
    //      observes its own count (rides the anti-join's shuffle_hash
    //      build side — deliberately NOT broadcast: CollectMetrics
    //      under a broadcast build never reaches observedMetrics).
    // the sampled tier only engages above the input-size floor (see
    // Tunables.LshSampledTierMinBytes): small corpora skip its two stages
    // entirely — same output, none of the fixed overhead
    val tierMin = graft.Tunables.LshSampledTierMinBytes(spark)
    val useSampledTier = docs.queryExecution.optimizedPlan.stats.sizeInBytes > tierMin
    val estOver = bandRows(docs.sample(SampleFrac, SampleSeed))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n_s"))
      // both conditions: the ratio test scales with the cap, and the
      // absolute floor (MinSampleCount) keeps low-cap configurations
      // from dropping legitimately near-cap buckets on Poisson noise —
      // keys under the floor fall through to the exact capped tier
      .filter(col("n_s") >= lit(MinSampleCount) &&
        col("n_s") * lit((1d / SampleFrac).toLong) >
        lit(5L) * lit(maxBucket.toLong))
      .select(col("band"), col("band_hash"))
      .observe("graft_lsh_catastrophic",
        count(lit(1)).as("catastrophic_buckets"))
    val guardedBands =
      if (useSampledTier)
        bandRows(docs)
          .join(estOver.hint("shuffle_hash"), Seq("band", "band_hash"), "left_anti")
      else bandRows(docs)
    val buckets = guardedBands
      .groupBy(col("band"), col("band_hash"))
      .agg(GraftFunctions.collect_capped(col("doc_id"), maxBucket).as("b"))
      .filter(col("b.n") > 1)
      .observe("graft_lsh_buckets",
        sum(when(col("b.n") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        max(col("b.n")).cast("int").as("max_bucket"))
      .filter(col("b.n") <= maxBucket)
      .select(col("b.ds").as("ds"))
    val candidates = buckets
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      // only partners later in doc order: halves the fan-out pre-explode
      .select(col("doc_a"),
        explode(filter(col("ds"), b => b > col("doc_a"))).as("doc_b"))
    ExactPairs.rescore(candidates, docs,
      docs.select(col("doc_id"), shExpr.as("sh")), threshold)
  }
}
