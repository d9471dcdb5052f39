package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale demonstration: drives the heavy training-data operators over the
  * zero-storage synthetic corpus (graft.sources.SyntheticDocsSource) at a
  * size chosen on the command line — evidence that the near-dup pipeline
  * is bounded by candidates, not n².
  *
  *   runMain graft.ScaleSmoke [nDocs] [cpus]
  *
  * Prints one JSON line with per-op seconds and result cardinalities.
  */
object ScaleSmoke {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val cpus = args.lift(1).getOrElse("32")
    // same bounded idle-wait + load-stamping as Bench: this host's
    // epoch drift moves same-code lines up to ~2×, so the artifact must
    // carry its own noise evidence (r12: four same-day ppjoin_sec runs
    // read 24.5–53.5 s with identical pairs)
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "2.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_MAX_WAIT_SEC", "300").toInt
    val waitStart = System.nanoTime()
    while (loadAvg > maxLoad &&
        (System.nanoTime() - waitStart) / 1e9 < maxWaitSec) {
      System.err.println(f"[smoke] IDLE-WAIT: 1-min load $loadAvg%.2f > $maxLoad%.2f")
      Thread.sleep(15000)
    }
    val loadStart = loadAvg
    // shuffle width scales with the corpus, not the core count: the
    // ppjoin freq join sorts ~38 exploded rows per doc, and at 10M docs
    // a 32-wide shuffle puts ~12M rows (~330 MB) in each reduce task's
    // sorter against a ~140 MB per-task execution share — heavy spill
    // at best, executor OOM under concurrent allocation pressure at
    // worst (observed). ~50k docs per partition keeps each task's
    // working set inside its share WITH headroom — at 100k/partition
    // the 10M ppjoin still OOM'd the 8 GB harness heap on an unlucky
    // allocation interleaving (2 of 3 runs this round); AQE coalesces
    // whatever ends up small. This is the local[] version of the
    // 100 TB sizing rule: partitions sized to fit memory, count grows
    // with data.
    val shuffleWidth = math.max(cpus.toInt, (nDocs / 50000L).toInt)
    // local[N, 4]: allow per-task retries. Transient unified-pool
    // exhaustion under 32-way concurrency (32 sorts grabbing pages from
    // one 8 GB pool at once) is retryable — the retry runs after
    // neighbors release their pages — and local mode's default
    // maxFailures=1 turned one unlucky allocation interleaving into a
    // whole-run abort (observed on the 10M index build; r11 logged the
    // same class "2 of 3 runs" on the inline join). A real cluster
    // retries exactly this way; a DETERMINISTIC memory bug still fails
    // after 4 attempts.
    val spark = SparkSession.builder()
      .master(s"local[$cpus,4]")
      .appName("graft_scale_smoke")
      .config("spark.sql.shuffle.partitions", shuffleWidth)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read
      .format("graft.sources.SyntheticDocsSource")
      .option("rows", nDocs)
      .option("partitions", cpus.toInt * 2)
      .option("seed", 42)
      .load()

    def time(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // Disk hygiene between sections: local-mode shuffle files live until
    // their ShuffleDependency is GC'd, so a 10M run accumulates the
    // ppjoin (~25 GB) and span (~70 GB) shuffles on top of every index
    // artifact and OVERFLOWS the work disk (observed twice). A forced gc
    // lets ContextCleaner drop unreferenced shuffle files; finished
    // artifact dirs are deleted explicitly.
    def reclaim(paths: String*): Unit = {
      paths.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      System.gc()
    }

    // shuffle bytes written while `body` runs — the metric that scales
    // with cluster cost (local wall-clock hides network motion entirely)
    def shuffleBytes(body: => Long): (Double, Long, Long) = {
      val r = obs.StageRecorder.record(spark)(body)
      (r.wallSec, r.value, r.shuffleBytes)
    }

    // min-of-2 at <= 2M docs for every LSH/ppjoin line, same methodology
    // as the span family: single-run variance on this host (identical
    // variants measured 33.7 -> 158.5 s under load, and the first run of
    // a plan absorbs its codegen constant) far exceeds real deltas at
    // 1M; at 10M a run is long enough to amortize both.
    val reps = if (nDocs <= 2000000L) 2 else 1
    def minOfT(runs: Int)(body: => (Double, Long)): (Double, Long) =
      (1 to runs).map(_ => body).minBy(_._1)
    System.err.println("[smoke] start minhash_lsh")
    val (tDedup, nPairs) = minOfT(reps)(time {
      operators.NearDupLsh.pairs(docs.select(col("doc_id"), col("text")), 0.5d).count()
    })
    System.err.println("[smoke] start exact_dedup")
    val (tExact, nGroups) = time {
      docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
        .count()
    }
    val (tTok, _) = time {
      docs.select(sum(size(split(col("text"), " ")))).head().getLong(0)
    }
    // BPE training at design scale: the corpus-collapse trainer's cost
    // is TWO corpus scans + driver arithmetic over the bounded frequency
    // table, whatever the merge budget — the property that makes a real
    // 32k-merge vocab trainable on 100 TB. Budget 1024, floor disabled
    // (budget-bounded training, the production shape); merge count
    // recorded because the synthetic vocab can saturate below budget.
    System.err.println("[smoke] start bpe_train")
    var bpeMerges = 0
    val (tBpeTrain, _) = time {
      val r = operators.BpeTokenizer.trainMergesScalable(
        docs, "text", nMerges = 1024, minCount = 1L)
      graft.functions.BpeEncode.validateReplayable(r.merges)
      require(r.corpusScans == 2 && r.occurrenceCoverage == 1.0,
        s"unexpected training bound state: $r")
      bpeMerges = r.merges.size
      bpeMerges.toLong
    }
    // persisted BM25 retrieval index (Bm25Index): build once at ingest,
    // serve query batches from term-pruned artifact scans — vs the
    // inline plan that re-tokenizes the whole corpus per query batch.
    // Query terms come from a standing doc, so every query has matches
    // at any corpus size; the checksum (Σ doc_id·rank over the top-k)
    // pins served ≡ inline — the amortization claim only counts if the
    // cheap path returns the identical ranking.
    val bm25Terms: Seq[String] = docs.filter(col("doc_id") === 0)
      .head().getAs[String]("text").split(" ").distinct.take(8).toSeq
    val bm25Queries: Seq[(Long, String)] =
      bm25Terms.zipWithIndex.map { case (t, i) => ((i % 3).toLong, t) }
    def bm25Checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("doc_id") * col("rank"))).head().getLong(0)
    def bm25Inline(k: Int): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val corpus = docs.select(col("doc_id"), col("text"))
      val toks = corpus.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("term"))
      val hits = toks.filter(col("term").isInCollection(bm25Terms))
      val tf = hits.groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = hits.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val stats = corpus.agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("dl_sum"))
      operators.Bm25Index.scoreTopK(tf, dfreq, stats,
        bm25Queries.toDF("query_id", "term"), k)
    }
    val bm25IdxDir = java.nio.file.Files
      .createTempDirectory("graft_bm25_smoke").toString
    System.err.println("[smoke] start bm25_index_build")
    val (tBm25Build, _) = time {
      operators.Bm25Index.writeIndex(docs.select(col("doc_id"), col("text")),
        bm25IdxDir)
      0L
    }
    // single-shot (cold artifact) and steady-state serve, the same
    // two-number reporting as the dedup-index serves
    System.err.println("[smoke] start bm25_serve")
    val bm25Runs = (1 to 3).map(_ => time {
      bm25Checksum(operators.Bm25Index.topK(spark, bm25IdxDir, bm25Queries, k = 10))
    })
    val tBm25Single = bm25Runs.head._1
    val tBm25Steady = bm25Runs.tail.map(_._1).min
    val bm25Sum = bm25Runs.head._2
    System.err.println("[smoke] start bm25_inline")
    val (tBm25Inline, bm25InlineSum) = minOfT(reps)(time {
      bm25Checksum(bm25Inline(k = 10))
    })
    require(bm25Sum == bm25InlineSum,
      s"served BM25 ranking diverged from inline: $bm25Sum vs $bm25InlineSum")
    reclaim(bm25IdxDir)
    // PPJoin on a realistic corpus: wide vocabulary (discriminative
    // shingles) with 5% planted one-word-substitution near-dups
    val dupDocs = spark.read
      .format("graft-docs")
      .option("rows", nDocs)
      .option("partitions", cpus.toInt * 2)
      .option("seed", 42)
      .option("vocabSize", 50000)
      .option("dupRate", 0.05)
      .load()
    System.err.println("[smoke] start ppjoin")
    val (tPp, nPp) = minOfT(reps)(time {
      operators.PrefixFilterJoin.pairs(
        dupDocs.select(col("doc_id"), col("text")), num = 4, den = 5).count()
    })
    reclaim() // ppjoin's freq-join shuffle is ~25 GB at 10M
    // batch: 1% of the corpus re-crawled under fresh ids — every batch
    // doc has at least its own source twin standing (jaccard 1.0).
    // MATERIALIZED once (a crawl drop is its own files) and served by
    // BOTH index flavors below — the exact (ppjoin) and the approximate
    // (LSH): a lazily filtered batch re-generates the whole synthetic
    // corpus on every serve-side evaluation, and that harness artifact —
    // not the index — dominates the measurement (observed ~70% of serve
    // wall at 10M).
    val incBatchDir = java.nio.file.Files
      .createTempDirectory("graft_smoke_batch").toString
    dupDocs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + nDocs * 10).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(incBatchDir)
    val incBatch = spark.read.parquet(incBatchDir)
    // EXACT incremental serve (PrefixFilterJoin persisted index): the
    // 1% batch against the standing corpus with zero false negatives —
    // the ground-truth flavor of the LSH serve below. Build is the
    // one-time O(corpus) rank+prefix pass (sets files sized by the
    // shuffle width — see writeIndex's sizing note); serve is bounded
    // by rare-shingle collisions, not corpus size. Runs here, right
    // after the in-line join, so the build's heavy freq/prefix stages
    // see the same heap headroom pairs() just proved sufficient.
    val ppIdxDir = java.nio.file.Files
      .createTempDirectory("graft_pp_idx_smoke").toString
    System.err.println("[smoke] start ppjoin_index_build")
    val (tPpIdxBuild, _) = time {
      operators.PrefixFilterJoin.writeIndex(
        dupDocs.select(col("doc_id"), col("text")), ppIdxDir, num = 4, den = 5)
      0L
    }
    System.err.println("[smoke] start ppjoin_inc")
    val ppIncRuns = (1 to 3).map(_ => time {
      operators.PrefixFilterJoin.pairsAgainstIndex(
        spark, incBatch, ppIdxDir, num = 4, den = 5).count()
    })
    val tPpIdxInc = ppIncRuns.head._1
    val tPpIdxIncSteady = ppIncRuns.tail.map(_._1).min
    val nPpIdxInc = ppIncRuns.head._2
    // every batch doc is a re-crawl of a standing doc (jaccard 1.0), and
    // the exact serve may not miss a single one
    require(nPpIdxInc >= nDocs / 100,
      s"exact incremental serve lost standing twins: $nPpIdxInc")
    // the bound the guard computed on the steady serve — artifact
    // evidence the pstats arithmetic engaged at this scale
    val ppCandBound = spark.conf
      .getOption("spark.graft.ppjoin.debug.lastServeCandidateBound").getOrElse("absent")
    // guard ENGAGED: candidate budget forced to 1 row degrades the
    // rescore join to shuffle_hash — the answer must be bit-identical
    // (the zero-false-negative contract never bends; only the plan does)
    spark.conf.set("spark.graft.ppjoin.serveCandidateBroadcastMaxRows", "1")
    System.err.println("[smoke] start ppjoin_inc_guard")
    // try/finally: an exception mid-serve must not leave the
    // forced-degradation budget active for the rest of the run
    val (tPpIncGuard, nPpIncGuard) = try {
      time {
        operators.PrefixFilterJoin.pairsAgainstIndex(
          spark, incBatch, ppIdxDir, num = 4, den = 5).count()
      }
    } finally {
      spark.conf.unset("spark.graft.ppjoin.serveCandidateBroadcastMaxRows")
    }
    require(nPpIncGuard == nPpIdxInc,
      s"guarded exact serve diverged: $nPpIncGuard vs $nPpIdxInc")
    reclaim(ppIdxDir)
    // the approximate miner on the same planted corpus: recall/cost vs exact
    System.err.println("[smoke] start lsh_planted")
    val (tLshDup, nLshDup) = minOfT(reps)(time {
      operators.NearDupLsh.pairs(dupDocs.select(col("doc_id"), col("text")), 0.8d).count()
    })
    // incremental crawl dedup against the PERSISTED signature index:
    // the index build is a one-time O(corpus) cost at ingest; the
    // per-batch serve then costs O(batch) compute — the corpus is only
    // re-read as pruned parquet columns (bands for candidates, sh for
    // the rescore), never re-shingled and never reshuffled. The
    // recompute flavor (no index) re-signatures the whole corpus per
    // batch — the comparison is the point.
    val lshIdxDir = java.nio.file.Files
      .createTempDirectory("graft_lsh_idx_smoke").toString
    System.err.println("[smoke] start lsh_index_build")
    val (tIdxBuild, _) = time {
      operators.NearDupLsh.writeIndex(
        dupDocs.select(col("doc_id"), col("text")), lshIdxDir)
      0L
    }
    // the 1% batch (incBatch) was materialized above, before the exact
    // serve section — both index flavors serve the same files
    System.err.println("[smoke] start lsh_inc")
    // the serve cost is reported BOTH ways (VERDICT r10 #4): single-shot
    // (first invocation — what one cold daily-crawl batch pays, including
    // the serve probe and first-touch of the band artifact) and
    // steady-state (min of the two repeat invocations — the per-batch
    // cost once artifacts are page-cached; bench/drift_probe_r11.md)
    val incRuns = (1 to 3).map(_ => time {
      operators.NearDupLsh.pairsAgainstIndexAt(spark, incBatch, lshIdxDir, 0.8d).count()
    })
    val tIncSingle = incRuns.head._1
    val tIncSteady = incRuns.tail.map(_._1).min
    // lsh_inc_sec keeps its HISTORICAL semantics (steady-state min, the
    // cross-round comparison key); the cold single-shot number rides in
    // lsh_inc_single_shot_sec — see bench/scale_*.json consumers
    val (tInc, nInc) = (tIncSteady, incRuns.head._2)
    System.err.println("[smoke] start lsh_inc_full")
    val (tIncFull, nIncFull) = minOfT(reps)(time {
      operators.NearDupLsh.pairsAgainst(
        incBatch, dupDocs.select(col("doc_id"), col("text")), 0.8d).count()
    })
    require(nInc == nIncFull, s"indexed incremental diverged: $nInc vs $nIncFull")
    require(nInc >= nDocs / 100,
      s"every batch doc has a standing twin; found only $nInc pairs")
    // bucket skew guard: 1% of the corpus is ONE identical boilerplate
    // page — a bucket of nDocs/100 docs in every band, i.e.
    // (nDocs/100)²/2 candidate pairs per hot key unguarded. The cap
    // bounds the blowup; planted-corpus recall is asserted unchanged.
    val boiler = spark.range(nDocs / 100).select(
      (col("id") + nDocs * 100).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    System.err.println("[smoke] start lsh_guard")
    val (tGuard, nGuard) = minOfT(reps)(time {
      operators.NearDupLsh.pairs(
        dupDocs.select(col("doc_id"), col("text")).unionByName(boiler),
        0.8d, maxBucket = 1024).count()
    })
    require(nGuard == nLshDup,
      s"guard must drop the clique and ONLY the clique: $nGuard vs $nLshDup")
    // guarded incremental serve: the same skew protection on the
    // O(batch) path, driven by the PERSISTED per-batch bucket stats —
    // the hot-key list costs one tiny stats read, never an index
    // re-aggregation. The boilerplate clique appended to the index
    // occupies every band of the batch's own boilerplate doc, so that
    // doc generates ZERO candidates guarded (vs clique-size pairs
    // unguarded); the genuine batch pairs are untouched.
    operators.NearDupLsh.writeIndex(boiler, lshIdxDir)
    val newBoiler = spark.range(1).select(
      lit(-1L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val hotKeys = operators.NearDupLsh.hotBuckets(spark, lshIdxDir, maxBucket = 1024)
    System.err.println("[smoke] start lsh_inc_guard")
    val (tIncGuard, nIncGuard) = minOfT(reps)(time {
      operators.NearDupLsh.pairsAgainstIndexAt(spark,
        incBatch.unionByName(newBoiler), lshIdxDir, 0.8d, Some(hotKeys)).count()
    })
    require(nIncGuard == nInc,
      s"guarded incremental must drop the clique and ONLY the clique: $nIncGuard vs $nInc")
    // oversized-batch degradation: 10% of the corpus re-crawled in ONE
    // batch with the broadcast budget forced low — the size guard must
    // route the serve joins to shuffle_hash and COMPLETE (an
    // unconditional broadcast hint here is an 8 GB ceiling failure
    // waiting for a big enough corpus); every batch doc still has its
    // standing twin, so the pair floor proves the fallback's answer.
    val bigBatchDir = java.nio.file.Files
      .createTempDirectory("graft_smoke_bigbatch").toString
    dupDocs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + nDocs * 20).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(bigBatchDir)
    val bigBatch = spark.read.parquet(bigBatchDir)
    spark.conf.set("spark.graft.index.serveBroadcastMaxRows", "100000")
    System.err.println("[smoke] start lsh_inc_big")
    val (tIncBig, nIncBig) = time {
      operators.NearDupLsh.pairsAgainstIndexAt(
        spark, bigBatch, lshIdxDir, 0.8d, Some(hotKeys)).count()
    }
    spark.conf.unset("spark.graft.index.serveBroadcastMaxRows")
    require(nIncBig >= nDocs / 10,
      s"oversized-batch serve lost standing twins: $nIncBig")
    reclaim(lshIdxDir, operators.NearDupLsh.statsPath(lshIdxDir),
      operators.NearDupLsh.hotStatsPath(lshIdxDir),
      operators.NearDupLsh.bandsPath(lshIdxDir), incBatchDir, bigBatchDir)
    // streaming near-dup ingest: the corpus arrives as k micro-batches
    // through NearDupIngest.applyBatch against a growing index —
    // per-batch wall clock exposes how serve cost grows with standing
    // history (the flat band artifact keeps the constant small; the
    // scan itself is O(index) by the pruning math documented in
    // NearDupLsh), and a final compaction collapses the partition dirs.
    val streamRoot = java.nio.file.Files
      .createTempDirectory("graft_stream_smoke").toString
    val kBatches = 5
    val streamIngest = streaming.NearDupIngest(s"$streamRoot/log",
      threshold = 0.8, maxBucket = 4096)
    System.err.println("[smoke] start stream_lsh")
    // per-batch seconds AND the standing-index doc count after each
    // append (VERDICT r10 #3): the pair exposes the measured ingest
    // growth law — serve cost grows sublinearly with the standing index
    // (the O(index) flat-artifact scan floor), NOT flat
    val streamBatches = (0 until kBatches).map { i =>
      // micro-batches arrive materialized (the write happens off-clock)
      dupDocs.filter(pmod(col("doc_id"), lit(kBatches.toLong)) === i)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$streamRoot/feed")
      val b = spark.read.parquet(s"$streamRoot/feed")
      val (t, _) = time {
        streamIngest.applyBatch(
          spark, s"$streamRoot/idx", batchId = i.toLong, batch = b)
        0L
      }
      // footer-only count of the appended index — off-clock, metadata read
      val idxDocs = spark.read.parquet(s"$streamRoot/idx").count()
      System.err.println(f"[smoke] stream_lsh batch $i: $t%.1fs index=$idxDocs docs")
      (t, idxDocs)
    }
    val streamSecs = streamBatches.map(_._1)
    val streamIdxDocs = streamBatches.map(_._2)
    val streamAccepted = streamIngest.acceptedLog(spark).count()
    require(streamAccepted <= nDocs && streamAccepted >= nDocs / 2,
      s"stream accepted count implausible: $streamAccepted of $nDocs")
    val (tStreamCompact, _) = time {
      operators.NearDupLsh.compactIndex(
        spark, s"$streamRoot/idx", s"$streamRoot/idx_c",
        width = shuffleWidth, throughBatch = kBatches - 1L)
      0L
    }
    reclaim(streamRoot)
    // blocklist decontamination at corpus scale: bloom-prefiltered exact
    // anti-join vs the plain anti-join (identical result, cheaper motion).
    // The blocklist is sized past the broadcast threshold (the regime the
    // operator exists for): small blocklists broadcast and need no bloom;
    // huge corpora with a merely-large blocklist shuffle everything in
    // the plain plan but only bloom-positive candidates in this one.
    val fp = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val blocklist = fp.filter(col("doc_id") % 20 === 0)
      .select(col("fp").as("bfp")).cache()
    val nBlock = blocklist.count()
    // force the shuffle plan for the plain baseline: at real blocklist
    // sizes (beyond broadcast range) the anti-join shuffles the ENTIRE
    // corpus; the bloom path shuffles only candidates
    val plain = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    System.err.println("[smoke] start plain_anti")
    val (tPlainAnti, nPlainAnti, bPlainAnti) = shuffleBytes {
      fp.join(blocklist, col("fp") === col("bfp"), "left_anti").count()
    }
    System.err.println("[smoke] start bloom_anti")
    val (tBloom, nBloom, bBloom) = shuffleBytes {
      operators.BloomAntiJoin.antiJoin(fp, col("fp"), blocklist, col("bfp"),
        expectedItems = math.max(1024L, nBlock),
        numBits = math.max(1L << 16, 8L * nBlock)).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", plain)
    require(nBloom == nPlainAnti, s"bloom path diverged: $nBloom vs $nPlainAnti")
    // binned range join at scale: nDocs points vs nDocs/10 intervals —
    // the naive plan is a cartesian (O(n·m) comparisons, infeasible at
    // this size); binning keeps it a shuffled equi-join
    // exact-substring span dedup at corpus scale: the gate query
    // (dd_span_dupes) shuffles the span TEXT because the oracle output
    // includes it; the scale path keys the shuffle on the span's 64-bit
    // hash instead — identical duplicate-span count (collision-free at
    // these cardinalities; use the 128-bit md5 at 100 TB where ~1e12
    // windows make 64-bit birthday collisions plausible) for a fraction
    // of the bytes in motion. Both variants use the gate's two-level
    // aggregate (NOT count_distinct, whose distinct-expand plans to the
    // same shape anyway) so this measures exactly the shipped plan.
    //
    // Methodology (the r8 artifact showed hash 2.6x SLOWER at 1M while
    // 3x faster at 10M — diagnosed as run-order + GC noise, not an
    // algorithmic crossover, in bench/span_crossover.md): the hashed
    // variant runs FIRST, and at <= 2M docs each variant is min-of-2 so
    // one noisy run inside this long-lived 8 GB JVM can't invert the
    // comparison.
    // Per-stage metrics show the residual 15-24 GB memory spill lives
    // in the 32 reduce-side aggregate tasks sharing the harness's small
    // execution pool (~150 MB/task) — a harness-heap constraint, not a
    // plan property; the map side (scan+explode+partial agg) never
    // spills. At 10M a single run suffices (runtime swamps noise).
    // explode the start-index sequence and build the span per exploded
    // row (the gate query's shape): exploding a pre-built span array
    // costs 2.4x more — the inferred generate guard rebuilds the whole
    // array at the scan and the transform() lambda runs interpreted
    val spans = dupDocs
      .filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 7)).as("i"))
      .select(col("doc_id"),
        array_join(slice(col("toks"), col("i"), lit(8)), " ").as("span"))
    def spanAgg(keyed: org.apache.spark.sql.DataFrame, key: String): Long =
      keyed.groupBy(col(key), col("doc_id")).agg(count(lit(1)).as("occ"))
        .groupBy(col(key)).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2).count()
    val spanRuns = if (nDocs <= 2000000L) 2 else 1
    def minOf(runs: Int)(body: => (Double, Long, Long)): (Double, Long, Long) =
      (1 to runs).map(_ => body).minBy(_._1)
    val (tSpanHash, nSpanHash, bSpanHash) = minOf(spanRuns)(shuffleBytes {
      spanAgg(spans.select(col("doc_id"), xxhash64(col("span")).as("h")), "h")
    })
    val (tSpanText, nSpanText, bSpanText) = minOf(spanRuns)(shuffleBytes {
      spanAgg(spans, "span")
    })
    require(nSpanHash == nSpanText,
      s"hashed span dedup diverged: $nSpanHash vs $nSpanText")
    reclaim() // span shuffles are ~70 GB at 10M — drop them before the next section
    val dom = nDocs * 10
    val pts = spark.range(nDocs)
      .select(col("id").as("pid"), pmod(hash(col("id")).cast("long") * 2654435761L, lit(dom)).as("p"))
    val ivs = spark.range(nDocs / 10)
      .select(col("id").as("iid"),
        pmod(hash(col("id") + 7).cast("long") * 2654435761L, lit(dom)).as("s"))
      .withColumn("e", col("s") + pmod(col("iid"), lit(2000L)))
    val (tBinned, nBinned) = time {
      operators.BinnedRangeJoin
        .pointInInterval(pts, col("p"), ivs, col("s"), col("e"), binWidth = 1000L)
        .count()
    }
    // stats-based file skipping: a range-clustered catalog table (the
    // layout ZOrder.layout / clustered ingest produces) answers a
    // selective key query by OPENING only the covering files — the
    // at-scale win is reads never issued, which wall-clock shows even on
    // local disk. Same query with the sidecar removed scans all files.
    val skipRoot = java.nio.file.Files.createTempDirectory("graft_skip_smoke")
    spark.conf.set("spark.sql.catalog.smokecat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.smokecat.root", skipRoot.toString)
    spark.sql("CREATE TABLE smokecat.s.docs (doc_id BIGINT, fp STRING, n_tokens INT)")
    docs.select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"))
      .repartitionByRange(64, col("doc_id"))
      .writeTo("smokecat.s.docs").append()
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      obs.PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case (_, b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =>
          b.inputPartitions.size
      }.sum
    val lo = nDocs / 2
    val hi = lo + math.max(1L, nDocs / 64) - 1
    def skipQuery = spark.table("smokecat.s.docs")
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .agg(sum(col("n_tokens")))
    // page-cache warmup so the comparison isolates work planned, not
    // which variant happened to fault the files in first. local[32]
    // wall-clock hides most of the win (64 parallel small reads ≈ 2);
    // summed task time is the metric that scales with cluster cost, so
    // measure both.
    spark.table("smokecat.s.docs").count()
    def taskMillis(body: => Unit): Long = obs.StageRecorder.record(spark)(body).taskMs
    val t0Skip = System.nanoTime()
    val msSkip = taskMillis { skipQuery.head() }
    val tSkip = (System.nanoTime() - t0Skip) / 1e9
    val filesKept = plannedFiles(skipQuery)
    val tableDir = skipRoot.resolve("s").resolve("docs")
    val sidecar = tableDir.resolve(graft.sources.GraftStats.StatsName)
    val parked = tableDir.resolve("_parked_stats")
    java.nio.file.Files.move(sidecar, parked)
    val t0NoSkip = System.nanoTime()
    val msNoSkip = taskMillis { skipQuery.head() }
    val tNoSkip = (System.nanoTime() - t0NoSkip) / 1e9
    val filesAll = plannedFiles(skipQuery)
    java.nio.file.Files.move(parked, sidecar)
    // row-group-level stats skipping inside kept parquet files: 64
    // range-clustered files, each holding MANY small row groups, and a
    // selective range predicate that file-level stats can only narrow
    // to ~2 files — the win measured here is the groups never decoded
    // INSIDE those kept files (A/B via the rowGroupSkip kill switch,
    // interleaved min-of-3, caches warmed).
    System.err.println("[smoke] start catalog_rowgroup_skip")
    spark.sql("CREATE TABLE smokecat.s.docs_rg (doc_id BIGINT, fp STRING, n_tokens INT) " +
      "TBLPROPERTIES('format'='parquet')")
    // 64 KB groups give every file MANY groups at any smoke scale
    // (~1.4k rows/group; 1M/64 files = 15.6k rows/file ≈ 11 groups) —
    // the 1 MB first cut left 1M-scale files single-group and the A/B
    // read 34 ms == 34 ms, a vacuous measurement
    spark.conf.set("spark.graft.parquet.rowGroupBytes", (64L << 10).toString)
    try docs.select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"))
      .repartitionByRange(64, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .writeTo("smokecat.s.docs_rg").append()
    finally spark.conf.unset("spark.graft.parquet.rowGroupBytes")
    // range sized to a FRACTION of one file (~nDocs/2048 rows ≈ 1-2
    // groups): file-level stats keep 1-2 files either way; the A/B
    // isolates the groups decoded INSIDE them (the skipQuery range
    // above spans a whole file, which would need every group)
    val rgHi = lo + math.max(1L, nDocs / 2048) - 1
    def rgQuery = spark.table("smokecat.s.docs_rg")
      .filter(col("doc_id") >= lo && col("doc_id") <= rgHi)
      .agg(sum(col("n_tokens")))
    rgQuery.head() // warm page cache + codegen
    var (msRgSkip, msNoRgSkip) = (Long.MaxValue, Long.MaxValue)
    (1 to 3).foreach { _ =>
      msRgSkip = math.min(msRgSkip, taskMillis { rgQuery.head() })
      spark.conf.set("spark.graft.catalog.rowGroupSkip", "false")
      try msNoRgSkip = math.min(msNoRgSkip, taskMillis { rgQuery.head() })
      finally spark.conf.unset("spark.graft.catalog.rowGroupSkip")
    }
    // catalog data-file format: the SAME rows in a parquet-backed twin
    // (TBLPROPERTIES format=parquet). Two scans per format: a full-row
    // aggregate (bytes-off-disk bound) and a one-of-three-column
    // projection, where columnar pruning reads a fraction of the file —
    // the 100 TB scan-cost argument measured, not asserted. Task-time
    // is the cluster-cost metric; bytes are the stored footprint.
    System.err.println("[smoke] start catalog_format")
    spark.sql("CREATE TABLE smokecat.s.docs_pq (doc_id BIGINT, fp STRING, n_tokens INT) " +
      "TBLPROPERTIES('format'='parquet')")
    docs.select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"))
      .repartitionByRange(64, col("doc_id"))
      .writeTo("smokecat.s.docs_pq").append()
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
    val jsonBytes = dirBytes(tableDir)
    val pqBytes = dirBytes(skipRoot.resolve("s").resolve("docs_pq"))
    def fullScan(t: String) =
      spark.table(t).agg(sum(col("doc_id")), sum(col("n_tokens")),
        sum(length(col("fp")))).head()
    def prunedScan(t: String) =
      spark.table(t).agg(sum(col("n_tokens"))).head()
    // warm both page caches, then min-of-3 interleaved
    fullScan("smokecat.s.docs"); fullScan("smokecat.s.docs_pq")
    var (msJsonFull, msPqFull, msJsonCol, msPqCol) =
      (Long.MaxValue, Long.MaxValue, Long.MaxValue, Long.MaxValue)
    (1 to 3).foreach { _ =>
      msJsonFull = math.min(msJsonFull, taskMillis { fullScan("smokecat.s.docs") })
      msPqFull = math.min(msPqFull, taskMillis { fullScan("smokecat.s.docs_pq") })
      msJsonCol = math.min(msJsonCol, taskMillis { prunedScan("smokecat.s.docs") })
      msPqCol = math.min(msPqCol, taskMillis { prunedScan("smokecat.s.docs_pq") })
    }
    // bucketed fact-fact join: both sides persisted bucketBy(32) on the
    // join key. The bucket layout is a stored HashPartitioning, so the
    // sort-merge join reads co-located buckets and shuffles NOTHING —
    // vs the plain-parquet plan that re-shuffles both sides every run.
    // At 100 TB this is the "pay the shuffle once at layout time"
    // strategy for joins that repeat across a workload.
    val bktRoot = java.nio.file.Files.createTempDirectory("graft_bkt_smoke")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bktsmoke LOCATION '$bktRoot'")
    val facts = spark.range(nDocs * 4).select(
      col("id").as("fk"),
      pmod(hash(col("id")).cast("long"), lit(nDocs)).as("cust"),
      (col("id") % 997).cast("double").as("amount"))
    val dims = spark.range(nDocs).select(
      col("id").as("cust2"), (col("id") % 11).as("seg"))
    facts.write.mode("overwrite").parquet(s"$bktRoot/facts_plain")
    dims.write.mode("overwrite").parquet(s"$bktRoot/dims_plain")
    facts.repartition(32, col("cust")).write.mode("overwrite")
      .bucketBy(32, "cust").sortBy("cust").saveAsTable("bktsmoke.facts_b")
    dims.repartition(32, col("cust2")).write.mode("overwrite")
      .bucketBy(32, "cust2").sortBy("cust2").saveAsTable("bktsmoke.dims_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (tJoinPlain, nJoinPlain, bJoinPlain) = shuffleBytes {
      spark.read.parquet(s"$bktRoot/facts_plain")
        .join(spark.read.parquet(s"$bktRoot/dims_plain"),
          col("cust") === col("cust2"))
        .groupBy(col("seg")).agg(sum(col("amount"))).count()
    }
    val (tJoinBkt, nJoinBkt, bJoinBkt) = shuffleBytes {
      spark.table("bktsmoke.facts_b")
        .join(spark.table("bktsmoke.dims_b"), col("cust") === col("cust2"))
        .groupBy(col("seg")).agg(sum(col("amount"))).count()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", plain)
    require(nJoinBkt == nJoinPlain,
      s"bucketed join diverged: $nJoinBkt vs $nJoinPlain")
    // fuzzy edit-distance join at corpus scale: nDocs random hex names +
    // 5% planted one-char substitutions. The all-pairs alternative is a
    // cartesian (n²/2 levenshtein calls — infeasible here); deletion-
    // neighborhood blocking keeps motion linear and finds every plant.
    val baseNames = spark.range(nDocs).select(col("id"),
      md5(concat(lit("name"), col("id"))).as("nm"))
    val plantedNames = baseNames.filter(col("id") % 20 === 0)
      .select((col("id") + nDocs).as("id"),
        concat(lit("x"), expr("substr(nm, 2)")).as("nm"))
    val names = baseNames.unionByName(plantedNames)
    val (tFuzzy, nFuzzy) = time {
      operators.FuzzyJoin.selfPairs(names, "id", "nm").count()
    }
    require(nFuzzy >= nDocs / 20,
      s"fuzzy join must find every planted near-dup: $nFuzzy")
    // AQE skew join: half the fact rows land on ONE key. Without the
    // runtime skew split a single task drags the whole join; with it,
    // AQE slices the hot partition against replicated matching rows —
    // same result, bounded per-task work. Max task time is the metric
    // a straggler-bound cluster job bills.
    def maxTaskMs(body: => Unit): Long = obs.StageRecorder.record(spark)(body).maxTaskMs
    val skewFacts = spark.range(nDocs * 32).select(
      when(col("id") % 4 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
      col("id").as("payload"))
    val skewDims = spark.range(nDocs).select(col("id").as("k2"))
    def skewJoinCount(): Long = skewFacts
      .join(skewDims, col("k") === col("k2")).count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    var nSkewOff = 0L
    val msSkewOff = maxTaskMs { nSkewOff = skewJoinCount() }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    var nSkewOn = 0L
    val msSkewOn = maxTaskMs { nSkewOn = skewJoinCount() }
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", plain)
    require(nSkewOn == nSkewOff,
      s"skew join diverged: $nSkewOn vs $nSkewOff")
    // IVF ANN lifecycle at design scale: 64 planted clusters of 64-dim
    // vectors (centers in ±1, noise ±0.15) — the distribution IVF
    // exists for. Build trains the quantizer on a 1% id-hash sample
    // (the representative-standing-sample rule: Lloyd over the full
    // corpus dominates the build for no recall gain), assigns
    // everything into nlist=256 cell-partitioned files; 24 micro-
    // appends then grow the index to 25 batch dirs × 256 cell dirs —
    // the many-directory state whose listing/planning cost the
    // auto-maintenance trigger exists to bound. Serving before vs
    // after maintain() (25 committed dirs > the 16 default → due)
    // measures exactly that; the served neighbor set must be
    // IDENTICAL. Recall@5 for 10 queries is checked against the exact
    // brute top-5 computed with the two-phase TopKPerKey operator (the
    // row_number window would sort 10M rows per query partition).
    System.err.println("[smoke] start ivf_lifecycle")
    // entering with ~60+ GB of earlier sections' shuffle files still on
    // disk: force the ContextCleaner sweep FIRST — this section's own
    // fold shuffle (~6 GB) plus the corpus artifact (×2 with the
    // maintenance copy) tipped a 252 GB disk into ENOSPC twice without
    // it (observed: SPILL_OUT_OF_MEMORY "No space left on device" in
    // the fold's sorter)
    reclaim()
    graft.functions.GraftFunctions.register(spark)
    org.apache.spark.sql.graft.GraftPlans.install(spark)
    val ivfVecs = spark.range(nDocs).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "(cast(pmod(xxhash64(pmod(id, 64) * 64 + i), 1000) as double) / 500.0 - 1.0) + " +
        "(cast(pmod(xxhash64(id * 64 + i + 7), 1000) as double) / 1000.0 - 0.5) * 0.3)").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft_smoke_ivf").toString
    val ivfIdx = s"$ivfRoot/idx"
    val ivfNlist = 256
    val ivfAppendBatches = 24
    val (tIvfBuild, _) = time {
      operators.IvfIndex.writeIndex(ivfVecs.filter(col("vec_id") % 10 =!= 7),
        ivfIdx, nlist = ivfNlist, iters = 2, trainFraction = 0.01)
      1L
    }
    val (tIvfAppend, _) = time {
      val appendVecs = ivfVecs.filter(col("vec_id") % 10 === 7)
      (0 until ivfAppendBatches).foreach { b =>
        operators.IvfIndex.appendIndex(
          appendVecs.filter(pmod(xxhash64(col("vec_id")), lit(ivfAppendBatches.toLong)) === b),
          ivfIdx, b.toLong)
      }
      1L
    }
    def ivfBatchDirs(p: String): Int =
      Option(new java.io.File(s"$p/corpus").listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("batch="))
    val ivfDirsBefore = ivfBatchDirs(ivfIdx)
    val ivfQ = ivfVecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    def ivfServe(p: String): Seq[(Long, Long)] =
      operators.IvfIndex.topK(spark, p, ivfQ, nprobe = 32, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (tIvfServeSingle, _) = time { ivfServe(ivfIdx).size.toLong }
    var ivfServedMany: Seq[(Long, Long)] = Nil
    val (tIvfServeMany, _) = time { ivfServedMany = ivfServe(ivfIdx); 1L }
    var ivfBrute: Set[(Long, Long)] = Set.empty
    val (tIvfBrute, _) = time {
      val scored = ivfVecs
        .select(col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
        .join(broadcast(ivfQ), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (graft.functions.GraftFunctions.dot_product(col("qv"), col("v")) /
            (sqrt(col("qn")) * sqrt(col("norm2")))).as("cosine"))
      ivfBrute = org.apache.spark.sql.graft.GraftPlans.topKPerKey(
        scored, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ivfBrute.size.toLong
    }
    val ivfHits = ivfServedMany.count(ivfBrute.contains)
    require(ivfBrute.size == 50 && ivfServedMany.size == 50,
      s"expected 50 exact and served rows, got ${ivfBrute.size}/${ivfServedMany.size}")
    reclaim() // drop the append/serve/brute shuffles before the fold
    val (tIvfMaintain, _) = time {
      require(operators.IvfIndex.maintain(spark, ivfIdx, s"$ivfRoot/idx2"),
        s"$ivfDirsBefore committed dirs must trip the default trigger")
      1L
    }
    val ivfDirsAfter = ivfBatchDirs(s"$ivfRoot/idx2")
    var ivfServedCompact: Seq[(Long, Long)] = Nil
    val (tIvfServeCompact, _) = time {
      ivfServedCompact = ivfServe(s"$ivfRoot/idx2"); 1L
    }
    require(ivfServedCompact == ivfServedMany,
      "maintenance must not change a serve decision")
    reclaim(ivfRoot)

    // PQ encode throughput: nDocs synthetic 64-dim vectors through the
    // 8×16 product quantizer — the ingest-time compression pass (128
    // fused dot products per vector, whole-stage codegen, zero shuffle).
    // The fold over the code array defeats column pruning, so every
    // subspace is genuinely encoded.
    graft.functions.GraftFunctions.register(spark)
    val synthVecs = spark.range(nDocs).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "cast(pmod(xxhash64(id * 64 + i), 1000) as double) / 1000.0 - 0.5)").as("v"))
    val pqCb: IndexedSeq[Seq[Double]] = synthVecs.filter(col("vec_id") < 16)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toSeq).toIndexedSeq
    val (tPqEnc, pqCodeSum) = time {
      synthVecs.select(
          operators.PqEncoder.codes(col("v"), pqCb, sub = 8, dim = 8).as("codes"))
        .agg(sum(expr("aggregate(codes, 0L, (a, c) -> a + c)")))
        .head().getLong(0)
    }
    require(pqCodeSum > 0L, "pq encode produced no codes")
    println(
      s"""{"n_docs":$nDocs,"minhash_lsh_sec":$tDedup,"neardup_pairs":$nPairs,""" +
        s""""exact_dedup_sec":$tExact,"distinct_docs":$nGroups,"token_count_sec":$tTok,""" +
        s""""bpe_train_sec":$tBpeTrain,"bpe_train_merges":$bpeMerges,""" +
        s""""bm25_index_build_sec":$tBm25Build,""" +
        s""""bm25_serve_single_shot_sec":$tBm25Single,""" +
        s""""bm25_serve_steady_sec":$tBm25Steady,""" +
        s""""bm25_inline_sec":$tBm25Inline,"bm25_checksum":$bm25Sum,""" +
        s""""ppjoin_sec":$tPp,"ppjoin_pairs":$nPp,""" +
        s""""lsh_planted_sec":$tLshDup,"lsh_planted_pairs":$nLshDup,""" +
        s""""lsh_index_build_sec":$tIdxBuild,"lsh_inc_sec":$tInc,""" +
        s""""lsh_inc_single_shot_sec":$tIncSingle,"lsh_inc_steady_sec":$tIncSteady,""" +
        s""""lsh_inc_full_sec":$tIncFull,"lsh_inc_pairs":$nInc,""" +
        s""""lsh_guard_sec":$tGuard,"lsh_guard_pairs":$nGuard,""" +
        s""""lsh_inc_guard_sec":$tIncGuard,"lsh_inc_guard_pairs":$nIncGuard,""" +
        s""""lsh_inc_big_sec":$tIncBig,"lsh_inc_big_pairs":$nIncBig,""" +
        s""""ppjoin_index_build_sec":$tPpIdxBuild,""" +
        s""""ppjoin_inc_single_shot_sec":$tPpIdxInc,""" +
        s""""ppjoin_inc_steady_sec":$tPpIdxIncSteady,"ppjoin_inc_pairs":$nPpIdxInc,""" +
        s""""ppjoin_inc_guard_sec":$tPpIncGuard,"ppjoin_inc_guard_pairs":$nPpIncGuard,""" +
        s""""ppjoin_serve_cand_bound":"$ppCandBound",""" +
        s""""stream_lsh_batch_secs":[${streamSecs.map(t => f"$t%.2f").mkString(",")}],""" +
        s""""stream_lsh_index_docs":[${streamIdxDocs.mkString(",")}],""" +
        s""""stream_lsh_accepted":$streamAccepted,""" +
        s""""stream_lsh_docs_per_sec":${(nDocs / streamSecs.sum).toLong},""" +
        s""""stream_lsh_compact_sec":$tStreamCompact,""" +
        s""""bloom_anti_sec":$tBloom,"bloom_anti_shuffle_mb":${bBloom / 1048576},""" +
        s""""plain_anti_sec":$tPlainAnti,"plain_anti_shuffle_mb":${bPlainAnti / 1048576},""" +
        s""""anti_survivors":$nBloom,""" +
        s""""span_text_sec":$tSpanText,"span_text_shuffle_mb":${bSpanText / 1048576},""" +
        s""""span_hash_sec":$tSpanHash,"span_hash_shuffle_mb":${bSpanHash / 1048576},""" +
        s""""dup_spans":$nSpanHash,""" +
        s""""binned_range_sec":$tBinned,"binned_range_pairs":$nBinned,""" +
        s""""skip_files_kept":$filesKept,"skip_files_total":$filesAll,""" +
        s""""skip_sec":$tSkip,"noskip_sec":$tNoSkip,""" +
        s""""skip_task_ms":$msSkip,"noskip_task_ms":$msNoSkip,""" +
        s""""catalog_rgskip_task_ms":$msRgSkip,"catalog_norgskip_task_ms":$msNoRgSkip,""" +
        s""""catalog_json_bytes":$jsonBytes,"catalog_parquet_bytes":$pqBytes,""" +
        s""""catalog_fullscan_json_task_ms":$msJsonFull,""" +
        s""""catalog_fullscan_parquet_task_ms":$msPqFull,""" +
        s""""catalog_colscan_json_task_ms":$msJsonCol,""" +
        s""""catalog_colscan_parquet_task_ms":$msPqCol,""" +
        s""""join_plain_sec":$tJoinPlain,"join_plain_shuffle_mb":${bJoinPlain / 1048576},""" +
        s""""join_bucketed_sec":$tJoinBkt,"join_bucketed_shuffle_mb":${bJoinBkt / 1048576},""" +
        s""""fuzzy_join_sec":$tFuzzy,"fuzzy_pairs":$nFuzzy,""" +
        s""""skew_max_task_ms_off":$msSkewOff,"skew_max_task_ms_on":$msSkewOn,""" +
        s""""pq_encode_sec":$tPqEnc,"pq_vectors":$nDocs,""" +
        s""""ivf_build_sec":$tIvfBuild,"ivf_append_sec":$tIvfAppend,""" +
        s""""ivf_append_batches":$ivfAppendBatches,"ivf_nlist":$ivfNlist,""" +
        s""""ivf_serve_single_shot_sec":$tIvfServeSingle,""" +
        s""""ivf_serve_manydirs_sec":$tIvfServeMany,""" +
        s""""ivf_maintain_sec":$tIvfMaintain,""" +
        s""""ivf_serve_compact_sec":$tIvfServeCompact,""" +
        s""""ivf_batch_dirs_before":$ivfDirsBefore,"ivf_batch_dirs_after":$ivfDirsAfter,""" +
        s""""ivf_brute_sec":$tIvfBrute,"ivf_recall_hits":$ivfHits,"ivf_recall_total":50,""" +
        s""""load_avg_start":$loadStart,"load_avg_end":$loadAvg,""" +
        s""""noisy":${loadStart > maxLoad}}""")
    spark.stop()
  }
}
