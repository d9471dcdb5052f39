package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, NGramHashes}

/** PPJoin-style prefix-filtered exact similarity join over word-3-gram
  * shingles (Xiao et al., "Efficient Similarity Joins for Near Duplicate
  * Detection", WWW'08 — the candidate-bounding idea; the implementation
  * here is Spark-native dataflow, not the paper's index loop).
  *
  * For Jaccard threshold t = num/den, any pair with jaccard >= t must
  * share at least one shingle within each document's first
  * (|d| - ceil(t·|d|) + 1) shingles under ANY total order both rank by.
  * Here that is rarest-first by one broadcast frequency table, so each
  * doc ranks its own shingles in place and the exploded shingle rows
  * never cross a shuffle. Prefix shingles are grouped into an inverted
  * index (tiny buckets on Zipfian corpora), pairs are generated INSIDE
  * each bucket (the prefix relation is computed once — no self-join, no
  * cache, no eager materialization on the timed path), a length-ratio
  * filter plus PPJoin's positional filter prune further, and the
  * merge-walk Jaccard expression rescores exactly (ExactPairs, shared
  * with NearDupLsh). No false negatives: the result is identical to the
  * all-pairs join at any scale.
  *
  * The threshold is a rational num/den so the prefix length is computed
  * in exact integer arithmetic — ceil(0.8·|d|) in double is off by one
  * for |d| divisible by 5.
  *
  * Nothing is cached: the shingle relation is recomputed per consumer
  * (the frequency table, the ranked prefix and the rescore lookup). At
  * 100 TB the shingle arrays would never fit in cache anyway —
  * recompute-from-scan is the shape that survives scale, and at bench
  * scale the ngram pass is scan-bound and cheap. This also means
  * repeated invocations leak nothing in the block manager.
  */
object PrefixFilterJoin extends PersistedIndex {

  /** Exact jaccard-threshold pairs (doc_a < doc_b, jaccard >= num/den)
    * over `docs` with columns (doc_id, text).
    *
    * `charWindow >= 0` additionally requires |n_chars_a - n_chars_b| <=
    * charWindow (docs must then carry an n_chars column). The window is
    * enforced INSIDE the candidate stage — before any rescore — so a
    * length-blocked variant costs strictly less than the unblocked join.
    * This is the scale-correct way to run a "length-bucketed" similarity
    * join: plain length blocking floods (at sf0.1 the +/-16-char buckets
    * admit 812k candidate pairs for 5k docs, ~65x the corpus), while the
    * rarest-first prefix filter bounds candidates by shingle rarity and
    * the window is a free residual predicate on columns already in the
    * bucket structs.
    */
  def pairs(docs: DataFrame, num: Int, den: Int,
            charWindow: Int = -1): DataFrame = {
    require(num > 0 && num <= den, s"threshold must be in (0,1]: $num/$den")
    val s = docs.sparkSession
    GraftFunctions.register(s)
    val threshold = num.toDouble / den.toDouble
    // nc: the doc's char length, carried through the prefix machinery
    // ONLY when a window is requested: every carried column widens each
    // of the ~38 exploded rows per doc in the rank sort, and at 10M docs
    // the extra 8 bytes tipped an earlier shape of the unwindowed join
    // from heavy-spill-but-completes into executor OOM on an 8 GB heap.
    // The windowed variant pays for exactly what it uses.
    val windowed = charWindow >= 0
    val carry = if (windowed) Seq("nc") else Nil
    val ncCols = carry.map(col)
    // Doc-local ranking: cluster the corpus by doc_id ONCE (the raw text,
    // before the ngram pass), so the rank window below needs no exchange
    // of the ~38 exploded rows per doc, and the rescore's `sets` lookup
    // reuses the same exchange (null ids never join, so dropping them
    // first keeps both reads of it identical). Width 1 (every
    // bench-scale corpus) coalesces to one partition instead:
    // SinglePartition satisfies every clustering downstream, so the whole
    // join then plans no shuffle at all.
    val w = AdaptiveWidth.of(docs, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val sets = setsOf(
      if (windowed) docs.withColumnRenamed("n_chars", "nc") else docs, carry,
      d => if (w == 1) d.coalesce(1)
        else d.filter(col("doc_id").isNotNull).repartition(w, col("doc_id")))
    // The rarest-first order (coalesce(f, 0), h) ranks against ONE
    // broadcast frequency table. At width 1 it counts every doc; dropping
    // the f = 1 shingles (the bulk of a Zipfian vocabulary) maps them to
    // 0, which keeps the exact (f, h) order. Above width 1 it counts the
    // docs with pmod(xxhash64(doc_id), w) = 0 only. That sampled order is
    // still one fixed total order, and the prefix, length and positional
    // filters are lossless under any such order (as the frozen index
    // order below), so no pair changes: a worse estimate only admits more
    // candidates. It replaced a count window over the exploded rows
    // clustered on h, then re-clustered on doc_id for the rank: two
    // exchanges of every exploded row and a hot-key exposure on h
    // (bench/PROFILE_r22_ppjoin.json). That window had replaced (r18) a
    // freq aggregate joined back, see bench/ppjoin_windowf_ab_r18.md.
    val sample =
      if (w == 1) sets else sets.filter(pmod(xxhash64(col("doc_id")), lit(w)) === 0)
    val freq = broadcast(sample
      .select(explode(col("sh")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= 2))
    val pref = prefixRows(sets, freq, num, den, ncCols)
    // inverted index on prefix shingles: pairs are generated inside each
    // bucket, so the ranked-prefix subtree above is computed exactly once
    // (a prefix self-JOIN would read it twice, forcing a cache + eager
    // materialization onto the timed path — the round-6 regression).
    // Buckets are rare-shingle postings lists: tiny on Zipfian text.
    val buckets = pref
      .groupBy(col("h"))
      .agg(collect_list(struct(
        Seq(col("doc_id"), col("sz")) ++ ncCols :+ col("p"): _*)).as("ds"))
      .filter(size(col("ds")) > 1)
    // positional filter (PPJoin's second pruning rule): a prefix shingle
    // matching at 1-based positions (i, j) of the docs' rank-sorted
    // shingle lists caps the possible overlap at min(|A|-i, |B|-j) + 1 —
    // everything shared sits at or after the match on both sides. A true
    // pair (jaccard >= t, i.e. overlap >= ceil(t/(1+t)·(|A|+|B|))) passes
    // the cap at its FIRST common shingle, which the prefix theorem
    // guarantees is a prefix-prefix match, so keeping pairs where ANY
    // co-occurrence passes is exact. Integer rational arithmetic again:
    // with t = num/den, o_req = ceil(num·(szA+szB) / (num+den)).
    val oReq = expr(
      s"($num * (sz_a + sz_b) + ${num + den - 1}) div ${num + den}")
    val uBound =
      least(col("sz_a") - (col("p_a") + 1), col("sz_b") - (col("p_b") + 1)) + 1
    val candidates = buckets
      .select(explode(col("ds")).as("a"), col("ds"))
      // only partners later in doc order: halves the fan-out pre-explode
      .select(col("a"),
        explode(filter(col("ds"), b => b.getField("doc_id") > col("a.doc_id")))
          .as("b"))
      .select(
        Seq(col("a.doc_id").as("doc_a"), col("a.sz").as("sz_a"),
          col("a.p").as("p_a"),
          col("b.doc_id").as("doc_b"), col("b.sz").as("sz_b"),
          col("b.p").as("p_b")) ++
        (if (windowed) Seq(col("a.nc").as("nc_a"), col("b.nc").as("nc_b"))
         else Nil): _*)
      // length-ratio filter: jaccard >= t needs t|A| <= |B| <= |A|/t;
      // plus the char-length window in the windowed variant
      .filter(col("sz_b") * den >= col("sz_a") * num &&
        col("sz_a") * den >= col("sz_b") * num &&
        uBound >= oReq &&
        (if (windowed) abs(col("nc_b") - col("nc_a")) <= charWindow
         else lit(true)))
      .select(col("doc_a"), col("doc_b"))
    ExactPairs.rescore(candidates, docs, sets, threshold)
  }

  // ------------------------------------------------------------------
  // Persisted exact-similarity index + incremental serve — the EXACT
  // analog of NearDupLsh's build→persist→serve lifecycle. A daily crawl
  // batch is joined against a standing corpus with zero false negatives
  // (LSH's serve is probabilistic; this one is the ground truth at
  // O(batch × rare-shingle collisions) instead of O(batch × corpus)).
  //
  // Index layout under `path` — every per-document artifact is
  // partitioned by ingest batch (`batch=<id>`, build = -1) and written
  // with OVERWRITE into its own partition, so a redelivered append
  // (crash between any two writes, then retry) REPLACES its partitions
  // instead of double-appending — the crash-idempotent layout of every
  // PersistedIndex, and the reason this lifecycle needs no
  // file renames at all:
  //   sets/batch=<id>/    (doc_id, sz, sh)  — sorted hashed shingle sets
  //   prefix/batch=<id>/  (h, doc_id, sz, p) — prefix postings, range-
  //                                     laid-out and sorted by h (row-
  //                                     group skips for trickle batches)
  //   pstats/batch=<id>/  (h, n)        — per-batch HOT prefix-posting
  //                                     counts (n > ServeCandidateHotFloor
  //                                     only — the serve's candidate-
  //                                     fanout bound charges cold
  //                                     shingles the floor arithmetically)
  //   freq/    (h, f)                  — BUILD-TIME global shingle
  //                                     counts, h-sorted for row-group
  //                                     skipping under trickle key lists
  //   meta/    (num, den)              — the build threshold
  //
  // The rarest-first order is FROZEN at build time: prefix filtering is
  // lossless under ANY fixed total order (the theorem needs only that
  // both docs of a pair rank their shingles identically), so appended
  // batches and serve-side batches rank under the build-time (f, h)
  // order, with never-seen shingles at f = 0 — rarest, a consistent
  // extension. Frequency accuracy affects candidate EFFICIENCY only,
  // never correctness, which is what makes the frozen order safe for
  // append-only growth; rebuild (re-rank) when drift makes prefixes
  // fat, exactly like recompacting the LSH index.
  // ------------------------------------------------------------------

  /** Posting-count floor separating the `pstats` sidecar's HOT shingles
    * (stored exactly) from the cold tail (charged this value
    * arithmetically in the serve's candidate bound — once per SERVED
    * BATCH PARTITION, since the floor is applied per partition at write
    * time). Higher ⇒ smaller sidecar but a looser bound; 8 keeps the
    * sidecar a Zipf-tail truncation while the cold term (8 × served
    * partitions × batch shingle occurrences) stays far under the
    * broadcast budget for every broadcastable batch.
    */
  val ServeCandidateHotFloor: Long = 8L

  /** (doc_id [, carry...], sh, sz) of the docs with a non-empty shingle
    * set; `layout` repartitions their (doc_id [, carry...], text) rows
    * before the ngram pass. The filter is the CHEAP token-count predicate,
    * not `size(sh) > 0`: pushdown substitutes aliases, so an sh filter
    * lands on the scan as a SECOND `ngram_hashes` evaluation per row
    * (tokens >= 3 ⟺ sz >= 1 — the same rule as NearDupLsh.sigRelation).
    * It counts the same `tokens` the ngram pass reads, so the guard an
    * explode of `sh` infers folds into it (FoldKnownArraySizeGuards) and
    * every consumer of one layout plans the same, reusable exchange. The
    * coalesce makes sh non-nullable, so no IsNotNull(ngram_hashes(...))
    * is ever inferred and re-evaluated at the scan.
    */
  private def setsOf(docs: DataFrame, carry: Seq[String] = Nil,
      layout: DataFrame => DataFrame = identity): DataFrame = {
    val keep = ("doc_id" +: carry).map(col)
    val tokens = split(coalesce(col("text"), lit("")), " ")
    docs
      .filter(size(tokens) >= NGramHashes.N)
      .select(keep :+ col("text"): _*)
      .transform(layout)
      .select(keep :+ GraftFunctions.ngram_hashes(tokens).as("sh"): _*)
      .withColumn("sz", size(col("sh")))
  }

  private def prefixLenExpr(num: Int, den: Int) =
    expr(s"sz - (($num * sz + ${den - 1}) div $den) + 1").cast("int")

  /** (doc_id, sz [, carry...], p, h): each doc's prefix shingles under
    * the (f, h) rarest-first order, p = 0-based position in the doc's
    * full rank-sorted shingle list. Shingles absent from `freq` rank at
    * f = 0 (rarest) — the consistent extension appended/batch docs
    * need; for a build-corpus freq (every shingle present by
    * construction) the coalesce is a no-op and the left join matches
    * every row. The ONE prefix derivation — shared by the in-line join
    * and the persisted-index lifecycle.
    *
    * Ranked with a window row_number, NOT collect_list+array_sort: the
    * object-hash aggregate buffers per-doc struct lists as plain JVM
    * objects outside the managed memory pool, and at 10M docs the
    * 200-wide derivation exhausted the unified pool
    * (UNABLE_TO_ACQUIRE_MEMORY) where the window's Tungsten sort spills
    * cleanly. Same rows either way — (f, h) is a total order within a
    * doc (shingle hashes are distinct per doc), so ordering and
    * positions are identical and deterministic.
    */
  private def prefixRows(sets: DataFrame, freq: DataFrame,
      num: Int, den: Int,
      carry: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("h"))
    sets.select(
        Seq(col("doc_id"), col("sz")) ++ carry :+ explode(col("sh")).as("h"): _*)
      .join(freq, Seq("h"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("p", row_number().over(w) - 1)
      .filter(col("p") < prefixLenExpr(num, den))
      .select(Seq(col("doc_id"), col("sz")) ++ carry ++
        Seq(col("p"), col("h")): _*)
  }

  /** One isolated split-pinned session per PARENT SparkSession, cached:
    * the pstats derivation runs per micro-batch on a streaming ingest
    * (IndexStream over PpJoinIngest), and a fresh `newSession()` per
    * call accrues session state and listener-bus registrations
    * reclaimed only on GC.
    * Weak keys release the child when a parent (tests spin up many) is
    * discarded; the child holds the shared SparkContext, not the parent
    * session, so no value→key cycle pins the entry. The 1 PiB split
    * pins are set once at creation; the shuffle width re-copies per use
    * (the caller may retune it between batches — concurrent builds on
    * ONE parent could interleave widths, which only moves the pstats
    * output file count, never a row).
    */
  private val isoSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def isolatedSession(s: SparkSession): SparkSession =
    isoSessions.synchronized {
      val iso = Option(isoSessions.get(s)).getOrElse {
        val fresh = s.newSession()
        fresh.conf.set("spark.sql.files.maxPartitionBytes", (1L << 50).toString)
        fresh.conf.set("spark.sql.files.openCostInBytes", (1L << 50).toString)
        isoSessions.put(s, fresh)
        fresh
      }
      iso.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      iso
    }

  /** Runs `body` under a Spark job description — phase attribution for
    * the index lifecycle's multi-job cascades (visible in the UI and to
    * stage tables like bench/ppjoin_build_probe_r14.md's; zero effect on
    * the plans).
    */
  private def withPhase[T](s: SparkSession, name: String)(body: => T): T = {
    val sc = s.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(old)
  }

  /** Write a relation h-sorted into `targetDir` (overwrite). The sort
    * happens over a STAGED copy: repartitionByRange samples its child
    * with a separate job, which would re-execute the whole derivation
    * twice — staging makes both the sample and the sort read back a few
    * narrow columns instead. The dot-prefixed staging dir is invisible
    * to partition discovery, so concurrent readers never see it.
    */
  private def writeSortedByH(rows: DataFrame, path: String,
      targetDir: String, phase: String): Unit = {
    val s = rows.sparkSession
    val staging = s"$path/.staging-${java.util.UUID.randomUUID()}"
    withPhase(s, s"$phase-stage") {
      rows.write.mode("overwrite").parquet(staging)
    }
    withPhase(s, s"$phase-sort") {
      s.read.parquet(staging)
        .repartitionByRange(col("h")).sortWithinPartitions(col("h"))
        .write.mode("overwrite").parquet(targetDir)
    }
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(sp, true)
  }

  /** Derive batch `batchId`'s prefix and pstats partitions from its
    * already-written sets partition — the shared tail of build and
    * append. Both artifacts land with OVERWRITE in the batch's own
    * partitions; pstats derives from the prefix read-back — a narrow
    * two-column on-disk scan, cheap enough that the range
    * partitioner's sampling pass re-reading it (no staging) is fine.
    */
  private def writePrefixAndStats(s: SparkSession, path: String,
      batchId: Long, num: Int, den: Int): Unit = {
    val sets = s.read.parquet(s"$path/sets/batch=$batchId")
    writeSortedByH(
      prefixRows(sets, s.read.parquet(s"$path/freq"), num, den)
        .select(col("h"), col("doc_id"), col("sz"), col("p")),
      path, s"$path/prefix/batch=$batchId", phase = "ppidx:prefix")
    // only HOT postings (n > ServeCandidateHotFloor) are stored: the
    // serve's candidate bound charges every cold shingle the floor
    // arithmetically (no scan), so the per-serve pstats read touches a
    // Zipf-tail-truncated sidecar instead of an index-sized one — the
    // full (h, n) relation once cost ~+2 s of O(index) scan per serve
    // at a 1M corpus.
    //
    // Derivation: a streaming RUN-LENGTH walk over the just-written
    // prefix artifact, not a groupBy. The artifact is h-range-
    // partitioned with h sorted inside each file (writeSortedByH), so
    // equal shingles are contiguous per read split; hash-aggregating
    // them instead cost a fifth of the whole 10M build (2.2-4.6k
    // task-s, ~30 GB of aggregation-hash spill for near-unique keys —
    // bench/ppjoin_build_probe_r14.md).
    //
    writePstatsFromPrefix(s, path, batchId)
  }

  /** Derive the `pstats` partition of `root`'s batch `batchId` from its
    * ALREADY-WRITTEN prefix partition — shared by build/append (the
    * writePrefixAndStats tail) and compaction (which re-derives pstats
    * over the FOLDED prefix artifact: the per-batch sidecars are
    * hot-floor-truncated, so their sums cannot reconstruct the folded
    * partition's exact hot set).
    *
    * Exactness: this read NEUTRALIZES file splitting (maxPartitionBytes
    * and openCostInBytes pinned to 1 PiB on an isolated session — the
    * huge open cost also gives each file its own read partition, so
    * parallelism stays = file count = write width). Whole
    * files per chunk means a run can never be cut mid-file, and runs
    * never SPAN files (repartitionByRange keeps equal h in one
    * partition, so h-ranges are disjoint across files); each same-file
    * stretch's FIRST and LAST runs are still marked boundary (kept
    * unfiltered, <= 2 rows/file) as a belt against any whole-file
    * packing, while interior runs — provably total — pre-filter to the
    * hot tail before the only (tiny) shuffle. Boundaries are per FILE
    * STRETCH (input_file_name), not per partition: Spark bin-packs a
    * split file's final chunk behind other files in a FilePartition,
    * and the old per-partition rule silently dropped the interior piece
    * of a run cut at such a chunk boundary when its count was at or
    * under the hot floor (ADVICE r15) — with splitting neutralized that
    * cut is impossible, and the per-file rule keeps the walk exact even
    * if a future caller re-enables splitting. Pinned ≡ the groupBy
    * derivation, including under session confs forcing 2 KB splits and
    * multi-row-group files, by PrefixFilterJoinSpec.
    */
  private def writePstatsFromPrefix(s: SparkSession, root: String,
      batchId: Long): Unit = {
    withPhase(s, "ppidx:pstats") {
      // The split pins live on an ISOLATED session (shared SparkContext,
      // own SQLConf), not on the caller's: a save/restore on the shared
      // session races under concurrent builds (thread B snapshots
      // thread A's pinned value as "previous" and re-pins it forever)
      // and leaks the 1 PiB values into any query another thread plans
      // during the window. The isolated session sees none of the
      // caller's runtime conf changes — which is exactly the immunity
      // the derivation wants — except the shuffle width, copied
      // explicitly because the final pstats write ranges by h under it.
      // Cached per parent session (see isolatedSession), not created
      // per call: a long-running ingest stream calls this per
      // micro-batch.
      val iso = isolatedSession(s)
      import iso.implicits._
      {
        // the file marker is xxhash64(path), not the path string: the
        // walk only needs stretch-CHANGE detection, and a codegen'd
        // long avoids a per-row UTF8String→String decode over the
        // whole prefix relation (160M rows at a 10M build). A 2^-64
        // same-partition collision could only MERGE two adjacent file
        // stretches — harmless under the forced one-file-per-partition
        // read, where multi-file partitions don't exist at all.
        val runs = iso.read.parquet(s"$root/prefix/batch=$batchId")
          .select(col("h"), xxhash64(input_file_name()).as("fn"))
          .as[(Long, Long)]
          .mapPartitions { rows =>
            new Iterator[(Long, Long, Boolean)] {
              private val it = rows.buffered
              private var stretchStart = true
              override def hasNext: Boolean = it.hasNext
              override def next(): (Long, Long, Boolean) = {
                val (h, fn) = it.next()
                var n = 1L
                while (it.hasNext && it.head._1 == h && it.head._2 == fn) {
                  it.next(); n += 1
                }
                val stretchEnd = !it.hasNext || it.head._2 != fn
                val boundary = stretchStart || stretchEnd
                stretchStart = stretchEnd
                (h, n, boundary)
              }
            }
          }
          .filter(r => r._3 || r._2 > ServeCandidateHotFloor)
          .toDF("h", "n", "b")
        runs.groupBy(col("h")).agg(sum(col("n")).as("n"))
          .filter(col("n") > ServeCandidateHotFloor)
          .repartitionByRange(col("h")).sortWithinPartitions(col("h"))
          .write.mode("overwrite").parquet(s"$root/pstats/batch=$batchId")
      }
    }
  }

  /** Build the persisted index at `path` for build threshold num/den.
    * One shingle compute per doc: sets land first (in the `batch=-1`
    * bootstrap partition), freq, prefixes, and pstats derive from
    * read-backs.
    */
  def writeIndex(docs: DataFrame, path: String, num: Int, den: Int): Unit = {
    require(num > 0 && num <= den, s"threshold must be in (0,1]: $num/$den")
    val s = docs.sparkSession
    GraftFunctions.register(s)
    // sets files are sized by the session's shuffle width, not the
    // source's partitioning: the freq/prefix derivations below scan the
    // read-back with per-task partial-aggregation state proportional to
    // the file shard (~38 exploded rows per doc), and corpus-partitioned
    // files concentrate millions of docs per scan task (observed: a
    // 10M-doc corpus staged as 64 files put ~6M exploded rows of hash-map
    // state in each concurrent scan task and OOM'd an 8 GB harness
    // heap). shuffle.partitions is the deployment-tunable shard knob —
    // the same partitions-sized-to-memory rule as the in-line join.
    //
    // freq must exist before the prefix derivation, so it lands from its
    // own read-back of the sets partition, h-sorted (staged — see
    // writeSortedByH) so trickle serves can push a collected key list
    // into a row-group-skipping scan instead of scanning the vocabulary.
    val setsWidth = s.conf.get("spark.sql.shuffle.partitions").toInt
    val setsDir = s"$path/sets/batch=-1"
    withPhase(s, "ppidx:sets") {
      setsOf(docs).repartition(setsWidth)
        .write.mode("overwrite").parquet(setsDir)
    }
    writeSortedByH(
      s.read.parquet(setsDir).select(explode(col("sh")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("f")),
      path, s"$path/freq", phase = "ppidx:freq")
    writePrefixAndStats(s, path, batchId = -1L, num, den)
    s.range(1).select(lit(num).as("num"), lit(den).as("den"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  def batchedDirs(path: String): Seq[String] =
    Seq("sets", "prefix", "pstats").map(a => s"$path/$a")

  /** Append batch `batchId`'s accepted docs under the FROZEN build-time
    * order (behind `appendIndex`). freq/ is deliberately NOT updated —
    * see the frozen-order note above. CRASH-IDEMPOTENT: all three
    * artifacts land with OVERWRITE in the batch's own partitions, so a
    * retry after a crash anywhere in the cascade replaces partial
    * state; duplicate serve pairs from a redelivered append are
    * impossible by layout, not by cleanup.
    */
  protected def writeBatch(docs: DataFrame, path: String, batchId: Long): Unit = {
    val s = docs.sparkSession
    GraftFunctions.register(s)
    val (num, den) = readMeta(s, path)
    withPhase(s, "ppidx:sets") {
      setsOf(docs).write.mode("overwrite").parquet(s"$path/sets/batch=$batchId")
    }
    writePrefixAndStats(s, path, batchId, num, den)
  }

  private def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getAs[Int]("num"), r.getAs[Int]("den"))
  }

  /** The compaction fold of the exact-similarity index: committed
    * batches (≤ `throughBatch`) fold into ONE `batch=-1` partition set
    * per artifact — sets re-sharded at `width`, prefix rows UNIONED and
    * re-range-sorted on h (ranks FROZE at build time, so the unioned
    * rows are row-for-row what a fresh derivation over the folded sets
    * would produce — compaction never re-ranks;
    * re-ranking is rebuild's job), and pstats RE-DERIVED from the
    * folded prefix artifact via the build's run-length walk (the
    * per-batch sidecars are hot-floor-TRUNCATED per partition, so their
    * sums cannot reconstruct the folded partition's exact hot set — a
    * fold from deltas would under-count shingles cold in every batch
    * and break the candidate bound's upper-bound contract).
    * freq/ re-lands h-sorted and meta/ copies verbatim.
    *
    * Uncommitted tails carry over per-ARTIFACT (a crash window that
    * landed sets but not prefix/pstats carries exactly what exists —
    * the serve's bound check voids on the mismatch exactly as on the
    * uncompacted index).
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit = {
    def sortedByH(rows: DataFrame, w: Int): DataFrame = {
      val ranged =
        if (w > 0) rows.repartitionByRange(w, col("h"))
        else rows.repartitionByRange(col("h"))
      ranged.sortWithinPartitions(col("h"))
    }
    sortedByH(spark.read.parquet(s"$path/freq"), 0)
      .write.mode("overwrite").parquet(s"$targetPath/freq")
    spark.read.parquet(s"$path/meta")
      .write.mode("overwrite").parquet(s"$targetPath/meta")
    val sets = spark.read.parquet(s"$path/sets")
    val prefix = spark.read.parquet(s"$path/prefix")
    val pstats = spark.read.parquet(s"$path/pstats")
    val foldedSets = sets.filter(col("batch") <= throughBatch)
      .select(col("doc_id"), col("sh"), col("sz"))
    (if (width > 0) foldedSets.repartition(width) else foldedSets)
      .write.mode("overwrite").parquet(s"$targetPath/sets/batch=-1")
    sortedByH(prefix.filter(col("batch") <= throughBatch)
      .select(col("h"), col("doc_id"), col("sz"), col("p")), width)
      .write.mode("overwrite").parquet(s"$targetPath/prefix/batch=-1")
    writePstatsFromPrefix(spark, targetPath, -1L)
    tails(s"$path/sets").foreach { b =>
      sets.filter(col("batch") === b)
        .select(col("doc_id"), col("sh"), col("sz"))
        .write.mode("overwrite").parquet(s"$targetPath/sets/batch=$b")
    }
    tails(s"$path/prefix").foreach { b =>
      sortedByH(prefix.filter(col("batch") === b)
        .select(col("h"), col("doc_id"), col("sz"), col("p")), 0)
        .write.mode("overwrite").parquet(s"$targetPath/prefix/batch=$b")
    }
    tails(s"$path/pstats").foreach { b =>
      sortedByH(pstats.filter(col("batch") === b)
        .select(col("h"), col("n")), 0)
        .write.mode("overwrite").parquet(s"$targetPath/pstats/batch=$b")
    }
  }

  /** EXACT incremental pairs (new_id, old_id, jaccard >= num/den) of a
    * new batch against the persisted index — zero false negatives.
    * Serve threshold must be AT OR ABOVE the build threshold (a higher
    * threshold needs a shorter prefix than the persisted one — still
    * lossless; a lower one would need postings the index never stored).
    *
    * Plan shape mirrors the LSH serve: the batch side broadcasts under
    * a limit-bounded row probe (skippable via `batchRows`), falls back
    * to shuffle_hash when oversized, and trickle-sized batches push
    * their collected shingle sets into the sorted freq/postings/pstats
    * scans (row-group skipping). The CANDIDATE relation has its own
    * broadcast guard: its cardinality is batch × prefix-collision
    * fanout — unbounded by batch size — so the serve computes the exact
    * pre-filter candidate count from the pstats sidecar and degrades
    * that join to shuffle_hash above the budget
    * (`Tunables.PpjoinServeCandidateBroadcastMaxRows`). No skip list: unlike the
    * LSH serve's hot-bucket guard, dropping keys here would break the
    * zero-false-negative contract, so hot fanout changes the PLAN,
    * never the answer.
    *
    * `maxBatchExclusive` restricts the served corpus to strictly-earlier
    * batch partitions (a stream's replay filter, mirroring
    * NearDupLsh.pairsAgainstIndexAt); None serves the whole index.
    */
  def pairsAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      path: String, num: Int, den: Int,
      batchRows: Option[Long] = None,
      maxBatchExclusive: Option[Long] = None): DataFrame =
    pairsAgainstIndexWithBound(spark, newDocs, path, num, den,
      batchRows, maxBatchExclusive)._1

  /** [[pairsAgainstIndex]] plus the candidate upper bound the serve's
    * broadcast guard computed, BY VALUE — `None` means the bound was
    * voided (oversized/off-contract layout ⇒ shuffle_hash candidates).
    * Returned by value, so serves planned concurrently on one session
    * each see their own bound.
    */
  def pairsAgainstIndexWithBound(spark: SparkSession, newDocs: DataFrame,
      path: String, num: Int, den: Int,
      batchRows: Option[Long] = None,
      maxBatchExclusive: Option[Long] = None): (DataFrame, Option[Long]) = {
    require(num > 0 && num <= den, s"threshold must be in (0,1]: $num/$den")
    GraftFunctions.register(spark)
    val (bNum, bDen) = readMeta(spark, path)
    require(num.toLong * bDen >= bNum.toLong * den,
      s"serve threshold $num/$den is below the build threshold $bNum/$bDen — " +
        "the persisted prefixes are too short to be lossless; rebuild the index")
    val threshold = num.toDouble / den.toDouble
    // strictly-earlier cut on the batch partition column; legacy
    // (pre-partition-layout) indexes carry no `batch` column and serve
    // whole, exactly as before
    def cut(df: DataFrame): DataFrame =
      IndexLifecycle.cutBatches(df, maxBatchExclusive)
    val corpusSets = cut(spark.read.parquet(s"$path/sets"))
      .select(col("doc_id").as("old_id"), col("sh").as("sh_o"))
    val corpusPrefix = cut(spark.read.parquet(s"$path/prefix"))
      .select(col("h"), col("doc_id").as("old_id"),
        col("sz").as("sz_o"), col("p").as("p_o"))
    val freq = spark.read.parquet(s"$path/freq")
    def batchSets = setsOf(newDocs) // recompute per consumer — zero caches
    val guard = IndexLifecycle.serveGuard(spark, newDocs, batchRows)
    val pruneLimit = IndexLifecycle.serveKeyPruneLimit(spark)
    // Ranking the batch needs corpus frequencies, but joining the batch
    // against the FULL freq relation shuffles O(corpus vocabulary) rows
    // per serve (measured: the 1M-corpus serve spent ~5 of its 7 s
    // sorting 38M freq rows). Three tiers, cheapest first:
    //  - TRICKLE (distinct batch shingles fit the key-prune limit): the
    //    collected key list pushes into the h-SORTED freq artifact as an
    //    In filter — parquet min/max stats skip the row groups that hold
    //    no batch shingle, so the vocabulary is mostly never read;
    //  - BROADCASTABLE batch (~38 shingles/doc, 8 bytes each): the
    //    batch's shingles broadcast INTO an in-place freq scan as a semi
    //    join, and the batch-sized survivor set broadcasts back into the
    //    rank join — freq is scanned once, never shuffled;
    //  - OVERSIZED: plain shuffle join (completing beats the ceiling).
    val freqBroadcastable =
      !guard.oversized && guard.probedRows <= math.max(1L, guard.maxRows / 8)
    val batchShingleKeys: Option[Array[Long]] =
      if (guard.oversized || guard.probedRows * 64 > pruneLimit) None
      else {
        val ks = batchSets.select(explode(col("sh")).as("h")).distinct()
          .limit(pruneLimit + 1).collect().map(_.getLong(0))
        if (ks.length <= pruneLimit) Some(ks) else None
      }
    val rankFreq = batchShingleKeys match {
      case Some(ks) => broadcast(freq.filter(col("h").isInCollection(ks)))
      case None if freqBroadcastable =>
        broadcast(freq.join(
          broadcast(batchSets.select(explode(col("sh")).as("h")).distinct()),
          Seq("h"), "left_semi"))
      case None => freq
    }
    val batchPrefix = prefixRows(batchSets, rankFreq, num, den)
      .select(col("h"), col("doc_id").as("new_id"),
        col("sz").as("sz_n"), col("p").as("p_n"))
    // trickle prune: ~(1-t)·|sh|+1 prefix shingles per doc, so a batch
    // under pruneLimit keys is a few hundred docs — collect the keys and
    // let the sorted postings (and pstats, below) scans skip row groups
    val batchPrefixKeys: Option[Array[Long]] =
      if (guard.oversized || guard.probedRows * 16 > pruneLimit) None
      else {
        val keys = batchPrefix.select(col("h")).distinct()
          .limit(pruneLimit + 1).collect().map(_.getLong(0))
        if (keys.length <= pruneLimit) Some(keys) else None
      }
    val prunedCorpusPrefix = batchPrefixKeys.fold(corpusPrefix)(ks =>
      corpusPrefix.filter(col("h").isInCollection(ks)))
    // Candidate-broadcast guard. The candidate count is Σ_h m'_h·n_h
    // (m'_h = batch PREFIX rows on shingle h, n_h = corpus posting
    // count) — unbounded by batch size, so the batch-row probe alone
    // cannot authorize broadcasting the candidates into the rescore
    // join. The serve computes an UPPER bound in O(batch + hot tail):
    //
    //   Σ_h m_h·n_h  ≤  F·M  +  Σ_{n_h > F} m_h·n_h
    //
    // where m_h ≥ m'_h counts the shingle over ALL batch rows (deriving
    // the true prefix counts would execute the ranked-prefix subtree a
    // second time per serve — measured +2.4 s at a 1M corpus), M is the
    // batch's total shingle occurrences (one no-shuffle aggregate), F is
    // ServeCandidateHotFloor, and the hot term joins the exploded batch
    // against the pstats sidecar — which stores ONLY n > F rows, so the
    // per-serve scan touches a Zipf-tail truncation, not an index-sized
    // relation (the full sidecar cost ~+2 s of O(index) scan per serve).
    // Over-estimates degrade to shuffle_hash — the answer-identical
    // direction; the zero-false-negative contract never bends. A hot
    // sidecar too large to broadcast marks the corpus degenerate:
    // bound = ∞, candidates take shuffle_hash outright. Legacy indexes
    // without the sidecar keep the pre-sidecar behavior (batch-probe-only
    // guard).
    val candCap = graft.Tunables.PpjoinServeCandidateBroadcastMaxRows(spark)
    val pstatsPath = new org.apache.hadoop.fs.Path(s"$path/pstats")
    val hasPstats = pstatsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pstatsPath)
    // The hot floor is applied PER BATCH PARTITION at write time
    // (writePrefixAndStats), so a shingle cold (n ≤ F) in each of P
    // served partitions can hold up to F·P postings globally while the
    // sidecar stores nothing for it — the cold term must charge F·P per
    // batch occurrence, not F, or the bound stops being an upper bound
    // exactly on the multi-batch corpora the guard exists for. P counts
    // the served `prefix` partitions (the relation candidates actually
    // join); a prefix partition missing its pstats partition (a crash
    // window that was never retried) voids the bound entirely →
    // shuffle_hash, the answer-identical direction. Legacy flat layouts
    // have no batch dirs on either side: P = 1, the original charge.
    // None = a `batch=*` directory name that isn't a numeric id (tooling
    // leftovers like `batch=1.bak`) — the layout is off-contract, so the
    // bound is VOIDED (shuffle_hash, the answer-identical direction)
    // instead of the serve crashing on a NumberFormatException.
    def batchDirIds(sub: String): Option[Set[Long]] =
      IndexLifecycle.batchDirIds(spark, s"$path/$sub", maxBatchExclusive)
    val candBound: Long =
      if (guard.oversized || !freqBroadcastable) Long.MaxValue
      else if (!hasPstats) 0L
      else {
        (batchDirIds("prefix"), batchDirIds("pstats")) match {
          case (Some(prefixBatches), Some(pstatsBatches))
              if prefixBatches.subsetOf(pstatsBatches) =>
        val servedPartitions = math.max(1, prefixBatches.size).toLong
        val hot0 = cut(spark.read.parquet(s"$path/pstats"))
        val hot = batchShingleKeys.fold(hot0)(ks =>
          hot0.filter(col("h").isInCollection(ks)))
        val hotProbe = hot.select(col("h"))
          .limit(math.min(guard.maxRows + 1, Int.MaxValue.toLong).toInt)
          .count()
        if (hotProbe > guard.maxRows) Long.MaxValue
        else {
          // Per-shingle partition-aware bound in ONE job. pstats holds
          // one row per (batch partition, h), so the hot aggregate's
          // count(*) is hotPartitions(h): the partitions whose postings
          // for h are stored EXACTLY. The remaining P − hotPartitions(h)
          // partitions hold at most F postings each (the write-time hot
          // floor), so a batch occurrence of shingle h is charged
          //   F·(P − hotPartitions(h)) + Σ_stored n_{h,p}
          // — still a strict upper bound, but one that no longer grows
          // F·P-fold on hot shingles as batches accumulate, so a
          // long-running stream's trickle serves keep their broadcast.
          // The exploded batch left-joins the broadcast hot tail
          // aggregated to one row per shingle; misses pay the full F·P.
          val hotAgg = hot.groupBy(col("h"))
            .agg(sum(col("n")).as("n"), count(lit(1)).as("parts"))
          val r = batchSets.select(explode(col("sh")).as("h"))
            .join(broadcast(hotAgg), Seq("h"), "left")
            .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L)),
              coalesce(sum(col("parts")), lit(0L)))
            .head()
          ServeCandidateHotFloor * (servedPartitions * r.getLong(0) -
            r.getLong(2)) + r.getLong(1)
        }
          case _ => Long.MaxValue
        }
      }
    def candSide(df: DataFrame): DataFrame =
      if (!guard.oversized && candBound <= candCap) broadcast(df)
      else df.hint("shuffle_hash")
    // length-ratio + PPJoin positional filter, exactly as in `pairs`
    val oReq = expr(
      s"($num * (sz_n + sz_o) + ${num + den - 1}) div ${num + den}")
    val uBound =
      least(col("sz_n") - (col("p_n") + 1), col("sz_o") - (col("p_o") + 1)) + 1
    val candidates = prunedCorpusPrefix
      .join(guard.side(batchPrefix), Seq("h"))
      .filter(col("sz_o") * den >= col("sz_n") * num &&
        col("sz_n") * den >= col("sz_o") * num &&
        uBound >= oReq)
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    val pairs = corpusSets
      .join(candSide(candidates), Seq("old_id"))
      .join(batchSets.select(col("doc_id").as("new_id"), col("sh").as("sh_n")),
        Seq("new_id"))
      .select(col("new_id"), col("old_id"),
        GraftFunctions.sorted_set_jaccard(col("sh_n"), col("sh_o")).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
    (pairs, if (candBound == Long.MaxValue) None else Some(candBound))
  }
}
