package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.{PlanWalk, Recording, StageRecorder}

/** Scale workloads: the heavy training-data operators over the
  * zero-storage synthetic corpus (graft.sources.SyntheticDocsSource) at a
  * chosen document count — evidence that near-dup mining is bounded by
  * candidates, not n². `graft.Profile scale <nDocs>` runs them all,
  * `graft.Profile scale_<name> <nDocs>` one.
  *
  * A workload returns its result keys (per-op seconds, cardinalities,
  * shuffle MB, task ms); its `require`s are the correctness checks the
  * numbers only count under. Every sub-measurement is one
  * [[StageRecorder.record]].
  */
object ScaleWorkloads {

  type Results = Seq[(String, Any)]

  /** What a workload runs against: its own session, the corpus size and
    * a temp root that is deleted when the run ends.
    */
  final class Run(val spark: SparkSession, val nDocs: Long, val root: Path) {
    val cpus: Int = spark.sparkContext.defaultParallelism
    val width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

    def dir(name: String): String = root.resolve(name).toString

    def time[T](body: => T): Recording[T] = StageRecorder.record(spark)(body)

    private def corpus(opts: (String, Any)*): DataFrame =
      opts.foldLeft(spark.read.format("graft-docs")
          .option("rows", nDocs).option("partitions", cpus * 2).option("seed", 42)) {
        case (r, (k, v)) => r.option(k, v.toString)
      }.load().select(col("doc_id"), col("text"))

    /** The default 22-word vocabulary: no near-dups at threshold 0.5. */
    lazy val docs: DataFrame = corpus()

    /** A wide vocabulary (discriminative shingles) with 5% planted
      * one-word-substitution near-dups.
      */
    lazy val dupDocs: DataFrame = corpus("vocabSize" -> 50000, "dupRate" -> 0.05)

    /** The `dupDocs` rows that pass `keep`, re-crawled under fresh ids
      * (`doc_id + idOffset`) and MATERIALIZED as their own files: a lazily
      * filtered batch re-generates the whole synthetic corpus on every
      * serve-side evaluation, and that harness artifact — not the index —
      * dominated the measurement (observed ~70% of serve wall at 10M).
      * Every batch doc has its own source twin standing (jaccard 1.0).
      */
    def recrawl(name: String, keep: Column, idOffset: Long): DataFrame = {
      dupDocs.filter(keep).select((col("doc_id") + idOffset).as("doc_id"), col("text"))
        .write.parquet(dir(name))
      spark.read.parquet(dir(name))
    }
  }

  final case class Workload(name: String, keys: Seq[String])(val body: Run => Results)

  /** Runs `body` in a new session of `spark` (`BenchSession`'s `local[N]`:
    * one attempt per task) with a temp root that is deleted however the
    * body ends. The session dies with the run, and so does every conf the
    * body sets.
    *
    * Shuffle width scales with the corpus, not the core count: the ppjoin
    * freq join sorts ~38 exploded rows per doc, and at 10M docs a 32-wide
    * shuffle put ~12M rows (~330 MB) in each reduce task's sorter against
    * a ~140 MB per-task execution share. ~50k docs per partition keeps
    * each task's working set inside its share; AQE coalesces whatever
    * ends up small.
    */
  def isolated[T](spark: SparkSession, nDocs: Long)(body: Run => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      math.max(spark.sparkContext.defaultParallelism, (nDocs / 50000L).toInt).toLong)
    val root = Files.createTempDirectory("graft_scale")
    try body(new Run(s, nDocs, root))
    finally {
      s.catalog.clearCache()
      sources.GraftJsonSink.deleteRecursively(root)
      // lets ContextCleaner drop the run's shuffle files now, not at the
      // next periodic GC (a 10M run's ppjoin and span shuffles are ~25 and
      // ~70 GB)
      System.gc()
    }
  }

  /** One recorded run of `w` at `nDocs` documents. */
  def record(spark: SparkSession, w: Workload, nDocs: Long): Recording[Results] =
    isolated(spark, nDocs)(r => r.time(w.body(r)))

  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(
      s"no such scale workload: $name (have ${all.map(_.name).mkString(", ")})"))

  private def mb(bytes: Long): Long = bytes / 1048576

  private val boilerplate = "identical boilerplate footer with terms of service and a " +
    "copyright notice repeated on every crawled page of the site"

  val minhashLsh: Workload = Workload("minhash_lsh", Seq("minhash_lsh_sec", "neardup_pairs")) { r =>
    val t = r.time(operators.NearDupLsh.pairs(r.docs, 0.5d).count())
    Seq("minhash_lsh_sec" -> t.wallSec, "neardup_pairs" -> t.value)
  }

  val exactDedup: Workload = Workload("exact_dedup", Seq("exact_dedup_sec", "distinct_docs")) { r =>
    val t = r.time(r.docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
      .count())
    Seq("exact_dedup_sec" -> t.wallSec, "distinct_docs" -> t.value)
  }

  val tokenCount: Workload = Workload("token_count", Seq("token_count_sec")) { r =>
    val t = r.time(r.docs.select(sum(size(split(col("text"), " ")))).head().getLong(0))
    Seq("token_count_sec" -> t.wallSec)
  }

  /** BPE training at design scale: the corpus-collapse trainer's cost is
    * TWO corpus scans + driver arithmetic over the bounded frequency
    * table, whatever the merge budget — the property that makes a real
    * 32k-merge vocab trainable on 100 TB. Budget 1024, floor disabled
    * (budget-bounded training, the production shape); the merge count is
    * recorded because the synthetic vocab can saturate below budget.
    */
  val bpeTrain: Workload = Workload("bpe_train", Seq("bpe_train_sec", "bpe_train_merges")) { run =>
    val t = run.time {
      val r = operators.BpeTokenizer.trainMergesScalable(
        run.docs, "text", nMerges = 1024, minCount = 1L)
      graft.functions.BpeEncode.validateReplayable(r.merges)
      require(r.corpusScans == 2 && r.occurrenceCoverage == 1.0,
        s"unexpected training bound state: $r")
      r.merges.size
    }
    Seq("bpe_train_sec" -> t.wallSec, "bpe_train_merges" -> t.value)
  }

  /** Persisted BM25 retrieval index (Bm25Index): build once at ingest,
    * serve query batches from term-pruned artifact scans — vs the inline
    * plan that re-tokenizes the whole corpus per query batch. Query terms
    * come from a standing doc, so every query has matches at any corpus
    * size; the checksum (Σ doc_id·rank over the top-k) pins served ≡
    * inline. Serves are reported single-shot (cold artifact) and steady
    * (min of two repeats).
    */
  val bm25: Workload = Workload("bm25", Seq("bm25_index_build_sec",
      "bm25_serve_single_shot_sec", "bm25_serve_steady_sec", "bm25_inline_sec",
      "bm25_checksum")) { r =>
    val spark = r.spark
    import spark.implicits._
    val terms: Seq[String] = r.docs.filter(col("doc_id") === 0)
      .head().getAs[String]("text").split(" ").distinct.take(8).toSeq
    val queries: Seq[(Long, String)] =
      terms.zipWithIndex.map { case (t, i) => ((i % 3).toLong, t) }
    def checksum(df: DataFrame): Long = df.agg(sum(col("doc_id") * col("rank"))).head().getLong(0)
    def inline(k: Int): DataFrame = {
      val toks = r.docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      val hits = toks.filter(col("term").isInCollection(terms))
      val tf = hits.groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = hits.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val stats = r.docs.agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("dl_sum"))
      operators.Bm25Index.scoreTopK(tf, dfreq, stats, queries.toDF("query_id", "term"), k)
    }
    val idx = r.dir("bm25")
    val build = r.time(operators.Bm25Index.writeIndex(r.docs, idx))
    val serves = (1 to 3).map(_ =>
      r.time(checksum(operators.Bm25Index.topK(spark, idx, queries, k = 10))))
    val bm25Sum = serves.head.value
    val inl = r.time(checksum(inline(k = 10)))
    val bm25InlineSum = inl.value
    require(bm25Sum == bm25InlineSum,
      s"served BM25 ranking diverged from inline: $bm25Sum vs $bm25InlineSum")
    Seq("bm25_index_build_sec" -> build.wallSec,
      "bm25_serve_single_shot_sec" -> serves.head.wallSec,
      "bm25_serve_steady_sec" -> serves.tail.map(_.wallSec).min,
      "bm25_inline_sec" -> inl.wallSec, "bm25_checksum" -> bm25Sum)
  }

  val ppjoin: Workload = Workload("ppjoin", Seq("ppjoin_sec", "ppjoin_pairs")) { r =>
    val t = r.time(operators.PrefixFilterJoin.pairs(r.dupDocs, num = 4, den = 5).count())
    Seq("ppjoin_sec" -> t.wallSec, "ppjoin_pairs" -> t.value)
  }

  /** EXACT incremental serve (PrefixFilterJoin persisted index): a 1%
    * re-crawl batch against the standing corpus with zero false negatives
    * — the ground-truth flavor of the LSH serve. Build is the one-time
    * O(corpus) rank+prefix pass; serve is bounded by rare-shingle
    * collisions, not corpus size. The guarded serve forces the candidate
    * budget to 1 row, degrading the rescore join to shuffle_hash: the
    * answer must be bit-identical.
    */
  val ppjoinIndex: Workload = Workload("ppjoin_index", Seq("ppjoin_index_build_sec",
      "ppjoin_inc_single_shot_sec", "ppjoin_inc_steady_sec", "ppjoin_inc_pairs",
      "ppjoin_inc_guard_sec", "ppjoin_inc_guard_pairs", "ppjoin_serve_cand_bound")) { r =>
    val nDocs = r.nDocs
    val incBatch = r.recrawl("batch", col("doc_id") % 100 === 0, nDocs * 10)
    val idx = r.dir("ppjoin")
    val build = r.time(operators.PrefixFilterJoin.writeIndex(r.dupDocs, idx, num = 4, den = 5))
    // (pair count, the candidate bound the serve's guard computed)
    def serve() = r.time(operators.PrefixFilterJoin.pairsAgainstIndexWithBound(
      r.spark, incBatch, idx, num = 4, den = 5) match { case (df, b) => (df.count(), b) })
    val serves = (1 to 3).map(_ => serve())
    val nPpIdxInc = serves.head.value._1
    // every batch doc is a re-crawl of a standing doc (jaccard 1.0), and
    // the exact serve may not miss a single one
    require(nPpIdxInc >= nDocs / 100,
      s"exact incremental serve lost standing twins: $nPpIdxInc")
    // the bound the guard computed on the steady serve — evidence the
    // pstats arithmetic engaged at this scale ("inf" = guard voided)
    val candBound = serves.last.value._2.fold("inf")(_.toString)
    r.spark.conf.set(Tunables.PpjoinServeCandidateBroadcastMaxRows.key, "1")
    val guard = serve()
    val nPpIncGuard = guard.value._1
    require(nPpIncGuard == nPpIdxInc,
      s"guarded exact serve diverged: $nPpIncGuard vs $nPpIdxInc")
    Seq("ppjoin_index_build_sec" -> build.wallSec,
      "ppjoin_inc_single_shot_sec" -> serves.head.wallSec,
      "ppjoin_inc_steady_sec" -> serves.tail.map(_.wallSec).min,
      "ppjoin_inc_pairs" -> nPpIdxInc,
      "ppjoin_inc_guard_sec" -> guard.wallSec, "ppjoin_inc_guard_pairs" -> nPpIncGuard,
      "ppjoin_serve_cand_bound" -> candBound)
  }

  /** The approximate miner on the planted corpus, then incremental crawl
    * dedup against the PERSISTED signature index: the build is a one-time
    * O(corpus) cost; a 1% batch's serve costs O(batch) compute and reads
    * the corpus only as pruned parquet columns. `lsh_inc_sec` is the
    * steady serve (the cross-round key), next to the cold single shot.
    * The recompute flavor (`lsh_inc_full`) re-signatures the whole corpus
    * per batch. Then the skew guards: 1% of the corpus as ONE identical
    * boilerplate page (a bucket of nDocs/100 docs in every band), capped
    * on the full miner and — via the persisted per-batch bucket stats —
    * on the incremental serve; and a 10% batch with the broadcast budget
    * forced low, which must fall back to shuffle_hash and complete.
    */
  val lsh: Workload = Workload("lsh", Seq("lsh_planted_sec", "lsh_planted_pairs",
      "lsh_index_build_sec", "lsh_inc_sec", "lsh_inc_single_shot_sec", "lsh_inc_steady_sec",
      "lsh_inc_full_sec", "lsh_inc_pairs", "lsh_guard_sec", "lsh_guard_pairs",
      "lsh_inc_guard_sec", "lsh_inc_guard_pairs", "lsh_inc_big_sec", "lsh_inc_big_pairs")) { r =>
    val (spark, nDocs) = (r.spark, r.nDocs)
    val planted = r.time(operators.NearDupLsh.pairs(r.dupDocs, 0.8d).count())
    val nLshDup = planted.value
    val idx = r.dir("lsh")
    val build = r.time(operators.NearDupLsh.writeIndex(r.dupDocs, idx))
    val incBatch = r.recrawl("batch", col("doc_id") % 100 === 0, nDocs * 10)
    val serves = (1 to 3).map(_ =>
      r.time(operators.NearDupLsh.pairsAgainstIndexAt(spark, incBatch, idx, 0.8d).count()))
    val tIncSteady = serves.tail.map(_.wallSec).min
    val nInc = serves.head.value
    val full = r.time(operators.NearDupLsh.pairsAgainst(incBatch, r.dupDocs, 0.8d).count())
    val nIncFull = full.value
    require(nInc == nIncFull, s"indexed incremental diverged: $nInc vs $nIncFull")
    require(nInc >= nDocs / 100,
      s"every batch doc has a standing twin; found only $nInc pairs")
    val boiler = spark.range(nDocs / 100)
      .select((col("id") + nDocs * 100).as("doc_id"), lit(boilerplate).as("text"))
    val guard = r.time(operators.NearDupLsh.pairs(
      r.dupDocs.unionByName(boiler), 0.8d, maxBucket = 1024).count())
    val nGuard = guard.value
    require(nGuard == nLshDup,
      s"guard must drop the clique and ONLY the clique: $nGuard vs $nLshDup")
    // the clique appended to the index occupies every band of the batch's
    // own boilerplate doc: zero candidates guarded, the genuine pairs untouched
    operators.NearDupLsh.writeIndex(boiler, idx)
    val newBoiler = spark.range(1).select(lit(-1L).as("doc_id"), lit(boilerplate).as("text"))
    val hotKeys = operators.NearDupLsh.hotBuckets(spark, idx, maxBucket = 1024)
    val incGuard = r.time(operators.NearDupLsh.pairsAgainstIndexAt(spark,
      incBatch.unionByName(newBoiler), idx, 0.8d, Some(hotKeys)).count())
    val nIncGuard = incGuard.value
    require(nIncGuard == nInc,
      s"guarded incremental must drop the clique and ONLY the clique: $nIncGuard vs $nInc")
    val bigBatch = r.recrawl("big_batch", col("doc_id") % 10 === 3, nDocs * 20)
    spark.conf.set(Tunables.ServeBroadcastMaxRows.key, "100000")
    val big = r.time(operators.NearDupLsh.pairsAgainstIndexAt(
      spark, bigBatch, idx, 0.8d, Some(hotKeys)).count())
    val nIncBig = big.value
    require(nIncBig >= nDocs / 10,
      s"oversized-batch serve lost standing twins: $nIncBig")
    Seq("lsh_planted_sec" -> planted.wallSec, "lsh_planted_pairs" -> nLshDup,
      "lsh_index_build_sec" -> build.wallSec, "lsh_inc_sec" -> tIncSteady,
      "lsh_inc_single_shot_sec" -> serves.head.wallSec, "lsh_inc_steady_sec" -> tIncSteady,
      "lsh_inc_full_sec" -> full.wallSec, "lsh_inc_pairs" -> nInc,
      "lsh_guard_sec" -> guard.wallSec, "lsh_guard_pairs" -> nGuard,
      "lsh_inc_guard_sec" -> incGuard.wallSec, "lsh_inc_guard_pairs" -> nIncGuard,
      "lsh_inc_big_sec" -> big.wallSec, "lsh_inc_big_pairs" -> nIncBig)
  }

  /** Streaming near-dup ingest: the corpus arrives as 5 micro-batches
    * through NearDupIngest.applyBatch against a growing index. Per-batch
    * seconds next to the standing index's doc count after each append
    * expose the ingest growth law (serve cost grows sublinearly with the
    * standing index, not flat); a final compaction collapses the
    * partition dirs.
    */
  val streamLsh: Workload = Workload("stream_lsh", Seq("stream_lsh_batch_secs",
      "stream_lsh_index_docs", "stream_lsh_accepted", "stream_lsh_docs_per_sec",
      "stream_lsh_compact_sec")) { r =>
    val (spark, nDocs) = (r.spark, r.nDocs)
    val kBatches = 5
    val ingest = streaming.NearDupIngest(r.dir("log"), threshold = 0.8, maxBucket = 4096)
    val batches = (0 until kBatches).map { i =>
      // micro-batches arrive materialized (the write happens off-clock)
      r.dupDocs.filter(pmod(col("doc_id"), lit(kBatches.toLong)) === i)
        .write.mode("overwrite").parquet(r.dir("feed"))
      val b = spark.read.parquet(r.dir("feed"))
      val t = r.time(ingest.applyBatch(spark, r.dir("idx"), batchId = i.toLong, batch = b))
      (t.wallSec, spark.read.parquet(r.dir("idx")).count())
    }
    val streamAccepted = ingest.acceptedLog(spark).count()
    require(streamAccepted <= nDocs && streamAccepted >= nDocs / 2,
      s"stream accepted count implausible: $streamAccepted of $nDocs")
    val compact = r.time(operators.NearDupLsh.compactIndex(spark, r.dir("idx"),
      r.dir("idx_c"), width = r.width, throughBatch = kBatches - 1L))
    Seq("stream_lsh_batch_secs" -> batches.map(_._1),
      "stream_lsh_index_docs" -> batches.map(_._2),
      "stream_lsh_accepted" -> streamAccepted,
      "stream_lsh_docs_per_sec" -> (nDocs / batches.map(_._1).sum).toLong,
      "stream_lsh_compact_sec" -> compact.wallSec)
  }

  /** Blocklist decontamination: bloom-prefiltered exact anti-join vs the
    * plain anti-join (identical result, cheaper motion). The blocklist is
    * forced past broadcast (the regime the operator exists for), where the
    * plain plan shuffles the ENTIRE corpus and the bloom path only
    * bloom-positive candidates.
    */
  val antiJoin: Workload = Workload("anti_join", Seq("bloom_anti_sec",
      "bloom_anti_shuffle_mb", "plain_anti_sec", "plain_anti_shuffle_mb",
      "anti_survivors")) { r =>
    r.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fp = r.docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val blocklist = fp.filter(col("doc_id") % 20 === 0).select(col("fp").as("bfp")).cache()
    val nBlock = blocklist.count()
    val plain = r.time(fp.join(blocklist, col("fp") === col("bfp"), "left_anti").count())
    val bloom = r.time(operators.BloomAntiJoin.antiJoin(fp, col("fp"), blocklist, col("bfp"),
      expectedItems = math.max(1024L, nBlock),
      numBits = math.max(1L << 16, 8L * nBlock)).count())
    val (nBloom, nPlainAnti) = (bloom.value, plain.value)
    require(nBloom == nPlainAnti, s"bloom path diverged: $nBloom vs $nPlainAnti")
    Seq("bloom_anti_sec" -> bloom.wallSec, "bloom_anti_shuffle_mb" -> mb(bloom.shuffleBytes),
      "plain_anti_sec" -> plain.wallSec, "plain_anti_shuffle_mb" -> mb(plain.shuffleBytes),
      "anti_survivors" -> nBloom)
  }

  /** Exact-substring span dedup: the gate query (dd_span_dupes) shuffles
    * the span TEXT because the oracle output includes it; the scale path
    * keys the shuffle on the span's 64-bit hash — the identical duplicate
    * span count (collision-free at these cardinalities; 128-bit md5 at
    * 100 TB) for a fraction of the bytes in motion. Both variants use the
    * gate's two-level aggregate, and the hashed one runs first (the r8
    * run-order artifact, bench/span_crossover.md). Spans are built per
    * exploded start index (the gate's shape): exploding a pre-built span
    * array costs 2.4x more.
    */
  val spanDupes: Workload = Workload("span_dupes", Seq("span_text_sec",
      "span_text_shuffle_mb", "span_hash_sec", "span_hash_shuffle_mb", "dup_spans")) { r =>
    val spans = r.dupDocs
      .filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), explode(sequence(lit(1), size(col("toks")) - 7)).as("i"))
      .select(col("doc_id"), array_join(slice(col("toks"), col("i"), lit(8)), " ").as("span"))
    def spanAgg(keyed: DataFrame, key: String): Long =
      keyed.groupBy(col(key), col("doc_id")).agg(count(lit(1)).as("occ"))
        .groupBy(col(key)).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2).count()
    val hash = r.time(spanAgg(spans.select(col("doc_id"), xxhash64(col("span")).as("h")), "h"))
    val text = r.time(spanAgg(spans, "span"))
    val (nSpanHash, nSpanText) = (hash.value, text.value)
    require(nSpanHash == nSpanText,
      s"hashed span dedup diverged: $nSpanHash vs $nSpanText")
    Seq("span_text_sec" -> text.wallSec, "span_text_shuffle_mb" -> mb(text.shuffleBytes),
      "span_hash_sec" -> hash.wallSec, "span_hash_shuffle_mb" -> mb(hash.shuffleBytes),
      "dup_spans" -> nSpanHash)
  }

  /** nDocs points vs nDocs/10 intervals: the naive plan is a cartesian
    * (O(n·m) comparisons); binning keeps it a shuffled equi-join.
    */
  val binnedRange: Workload = Workload("binned_range",
      Seq("binned_range_sec", "binned_range_pairs")) { r =>
    val dom = r.nDocs * 10
    val pts = r.spark.range(r.nDocs).select(col("id").as("pid"),
      pmod(hash(col("id")).cast("long") * 2654435761L, lit(dom)).as("p"))
    val ivs = r.spark.range(r.nDocs / 10)
      .select(col("id").as("iid"),
        pmod(hash(col("id") + 7).cast("long") * 2654435761L, lit(dom)).as("s"))
      .withColumn("e", col("s") + pmod(col("iid"), lit(2000L)))
    val t = r.time(operators.BinnedRangeJoin
      .pointInInterval(pts, col("p"), ivs, col("s"), col("e"), binWidth = 1000L).count())
    Seq("binned_range_sec" -> t.wallSec, "binned_range_pairs" -> t.value)
  }

  /** The catalog's scan work on 64 range-clustered files (the layout
    * ZOrder.layout / clustered ingest produces), page caches warmed, task
    * time as the cluster-cost metric:
    *  - file skipping: a selective key query OPENS only the covering
    *    files; with the stats sidecar parked it scans all 64;
    *  - row-group skipping inside the kept parquet files: 64 KB groups
    *    (~11 per file at 1M) and a range a fraction of one file wide, A/B
    *    against a session with `rowGroupSkip` off, interleaved min-of-3;
    *  - data-file format: the same rows as the default (JSON) table and a
    *    parquet twin, bytes stored and a full-row vs a one-column scan.
    */
  val catalog: Workload = Workload("catalog", Seq("skip_files_kept", "skip_files_total",
      "skip_sec", "noskip_sec", "skip_task_ms", "noskip_task_ms", "catalog_rgskip_task_ms",
      "catalog_norgskip_task_ms", "catalog_json_bytes", "catalog_parquet_bytes",
      "catalog_fullscan_json_task_ms", "catalog_fullscan_parquet_task_ms",
      "catalog_colscan_json_task_ms", "catalog_colscan_parquet_task_ms")) { r =>
    val spark = r.spark
    val cat = Seq("spark.sql.catalog.smokecat" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.smokecat.root" -> r.dir("catalog"))
    cat.foreach { case (k, v) => spark.conf.set(k, v) }
    val rows = r.docs.select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"))
      .repartitionByRange(64, col("doc_id"))
    def create(t: String, props: String): Unit =
      spark.sql(s"CREATE TABLE smokecat.s.$t (doc_id BIGINT, fp STRING, n_tokens INT) $props")
    create("docs", "")
    rows.writeTo("smokecat.s.docs").append()
    create("docs_pq", "TBLPROPERTIES('format'='parquet')")
    rows.writeTo("smokecat.s.docs_pq").append()
    create("docs_rg", "TBLPROPERTIES('format'='parquet')")
    spark.conf.set(Tunables.ParquetRowGroupBytes.key, (64L << 10).toString)
    rows.sortWithinPartitions(col("doc_id")).writeTo("smokecat.s.docs_rg").append()
    def plannedFiles(df: DataFrame): Int =
      PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case (_, b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =>
          b.inputPartitions.size
      }.sum
    def taskMs(body: => Any): Long = r.time(body).taskMs
    val lo = r.nDocs / 2
    def rangeSum(s: SparkSession, t: String, hi: Long) = s.table(s"smokecat.s.$t")
      .filter(col("doc_id") >= lo && col("doc_id") <= hi).agg(sum(col("n_tokens")))
    // a query resolves the table, and with it the stats sidecar, when built
    def skipQuery = rangeSum(spark, "docs", lo + math.max(1L, r.nDocs / 64) - 1)
    spark.table("smokecat.s.docs").count()
    val skip = r.time(skipQuery.head())
    val filesKept = plannedFiles(skipQuery)
    val tableDir = r.root.resolve("catalog").resolve("s").resolve("docs")
    val sidecar = tableDir.resolve(graft.sources.GraftStats.StatsName)
    val parked = tableDir.resolve("_parked_stats")
    Files.move(sidecar, parked)
    val noSkip = r.time(skipQuery.head())
    val filesAll = plannedFiles(skipQuery)
    Files.move(parked, sidecar)
    // a range a FRACTION of one file (~nDocs/2048 rows ≈ 1-2 groups):
    // file stats keep 1-2 files either way, so the A/B isolates the groups
    // decoded inside them
    val noRg = spark.newSession()
    (cat :+ (Tunables.RowGroupSkip.key -> "false")).foreach {
      case (k, v) => noRg.conf.set(k, v)
    }
    val rgHi = lo + math.max(1L, r.nDocs / 2048) - 1
    def rgOn = rangeSum(spark, "docs_rg", rgHi)
    def rgOff = rangeSum(noRg, "docs_rg", rgHi)
    rgOn.head()
    val rgMs = (1 to 3).map(_ => (taskMs(rgOn.head()), taskMs(rgOff.head())))
    def dirBytes(p: Path): Long = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(Files.size).sum
      finally s.close()
    }
    def fullScan(t: String) = spark.table(t).agg(sum(col("doc_id")), sum(col("n_tokens")),
      sum(length(col("fp")))).head()
    def prunedScan(t: String) = spark.table(t).agg(sum(col("n_tokens"))).head()
    val (json, pq) = ("smokecat.s.docs", "smokecat.s.docs_pq")
    fullScan(json); fullScan(pq)
    val scans = (1 to 3).map(_ => Seq(taskMs(fullScan(json)), taskMs(fullScan(pq)),
      taskMs(prunedScan(json)), taskMs(prunedScan(pq))))
    def best(i: Int): Long = scans.map(_(i)).min
    Seq("skip_files_kept" -> filesKept, "skip_files_total" -> filesAll,
      "skip_sec" -> skip.wallSec, "noskip_sec" -> noSkip.wallSec,
      "skip_task_ms" -> skip.taskMs, "noskip_task_ms" -> noSkip.taskMs,
      "catalog_rgskip_task_ms" -> rgMs.map(_._1).min,
      "catalog_norgskip_task_ms" -> rgMs.map(_._2).min,
      "catalog_json_bytes" -> dirBytes(tableDir),
      "catalog_parquet_bytes" -> dirBytes(tableDir.resolveSibling("docs_pq")),
      "catalog_fullscan_json_task_ms" -> best(0), "catalog_fullscan_parquet_task_ms" -> best(1),
      "catalog_colscan_json_task_ms" -> best(2), "catalog_colscan_parquet_task_ms" -> best(3))
  }

  /** Bucketed fact-fact join: both sides persisted bucketBy(32) on the
    * join key, so the sort-merge join reads co-located buckets and
    * shuffles NOTHING — vs the plain-parquet plan that re-shuffles both
    * sides every run ("pay the shuffle once at layout time").
    */
  val bucketedJoin: Workload = Workload("bucketed_join", Seq("join_plain_sec",
      "join_plain_shuffle_mb", "join_bucketed_sec", "join_bucketed_shuffle_mb")) { r =>
    val spark = r.spark
    // the session catalog is shared by every session of the context
    spark.sql(s"CREATE DATABASE bktsmoke LOCATION '${r.dir("bkt")}'")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val facts = spark.range(r.nDocs * 4).select(col("id").as("fk"),
        pmod(hash(col("id")).cast("long"), lit(r.nDocs)).as("cust"),
        (col("id") % 997).cast("double").as("amount"))
      val dims = spark.range(r.nDocs).select(col("id").as("cust2"), (col("id") % 11).as("seg"))
      facts.write.parquet(r.dir("facts_plain"))
      dims.write.parquet(r.dir("dims_plain"))
      facts.repartition(32, col("cust")).write
        .bucketBy(32, "cust").sortBy("cust").saveAsTable("bktsmoke.facts_b")
      dims.repartition(32, col("cust2")).write
        .bucketBy(32, "cust2").sortBy("cust2").saveAsTable("bktsmoke.dims_b")
      def joined(f: DataFrame, d: DataFrame): Long =
        f.join(d, col("cust") === col("cust2")).groupBy(col("seg")).agg(sum(col("amount"))).count()
      val plain = r.time(joined(spark.read.parquet(r.dir("facts_plain")),
        spark.read.parquet(r.dir("dims_plain"))))
      val bkt = r.time(joined(spark.table("bktsmoke.facts_b"), spark.table("bktsmoke.dims_b")))
      val (nJoinBkt, nJoinPlain) = (bkt.value, plain.value)
      require(nJoinBkt == nJoinPlain,
        s"bucketed join diverged: $nJoinBkt vs $nJoinPlain")
      Seq("join_plain_sec" -> plain.wallSec, "join_plain_shuffle_mb" -> mb(plain.shuffleBytes),
        "join_bucketed_sec" -> bkt.wallSec, "join_bucketed_shuffle_mb" -> mb(bkt.shuffleBytes))
    } finally spark.sql("DROP DATABASE bktsmoke CASCADE")
  }

  /** Fuzzy edit-distance join: nDocs random hex names + 5% planted
    * one-char substitutions. The all-pairs alternative is n²/2 levenshtein
    * calls; deletion-neighborhood blocking keeps motion linear and finds
    * every plant.
    */
  val fuzzyJoin: Workload = Workload("fuzzy_join", Seq("fuzzy_join_sec", "fuzzy_pairs")) { r =>
    val nDocs = r.nDocs
    val base = r.spark.range(nDocs).select(col("id"), md5(concat(lit("name"), col("id"))).as("nm"))
    val planted = base.filter(col("id") % 20 === 0)
      .select((col("id") + nDocs).as("id"), concat(lit("x"), expr("substr(nm, 2)")).as("nm"))
    val t = r.time(operators.FuzzyJoin.selfPairs(base.unionByName(planted), "id", "nm").count())
    val nFuzzy = t.value
    require(nFuzzy >= nDocs / 20,
      s"fuzzy join must find every planted near-dup: $nFuzzy")
    Seq("fuzzy_join_sec" -> t.wallSec, "fuzzy_pairs" -> nFuzzy)
  }

  /** AQE skew join: three quarters of the fact rows land on ONE key.
    * Without the runtime skew split one task drags the whole join; with
    * it AQE slices the hot partition. Max task time is what a
    * straggler-bound cluster job bills.
    */
  val skewJoin: Workload = Workload("skew_join",
      Seq("skew_max_task_ms_off", "skew_max_task_ms_on")) { r =>
    val spark = r.spark
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    val facts = spark.range(r.nDocs * 32).select(
      when(col("id") % 4 =!= 0, lit(7L)).otherwise(col("id")).as("k"), col("id").as("payload"))
    val dims = spark.range(r.nDocs).select(col("id").as("k2"))
    def skewed(enabled: Boolean): Recording[Long] = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled.toString)
      r.time(facts.join(dims, col("k") === col("k2")).count())
    }
    val off = skewed(enabled = false)
    val on = skewed(enabled = true)
    val (nSkewOn, nSkewOff) = (on.value, off.value)
    require(nSkewOn == nSkewOff,
      s"skew join diverged: $nSkewOn vs $nSkewOff")
    Seq("skew_max_task_ms_off" -> off.maxTaskMs, "skew_max_task_ms_on" -> on.maxTaskMs)
  }

  /** IVF ANN lifecycle at design scale: 64 planted clusters of 64-dim
    * vectors (centers in ±1, noise ±0.15). Build trains the quantizer on
    * a 1% id-hash sample and assigns everything into nlist=256 cells; 24
    * micro-appends grow the index to 25 batch dirs — the many-directory
    * state the auto-maintenance trigger exists to bound. Serving before
    * vs after maintain() measures exactly that, and the served neighbor
    * set must be IDENTICAL. Recall@5 for 10 queries is checked against
    * the exact brute top-5 from the two-phase TopKPerKey operator.
    */
  val ivfLifecycle: Workload = Workload("ivf_lifecycle", Seq("ivf_build_sec",
      "ivf_append_sec", "ivf_append_batches", "ivf_nlist", "ivf_serve_single_shot_sec",
      "ivf_serve_manydirs_sec", "ivf_maintain_sec", "ivf_serve_compact_sec",
      "ivf_batch_dirs_before", "ivf_batch_dirs_after", "ivf_brute_sec", "ivf_recall_hits",
      "ivf_recall_total")) { r =>
    val spark = r.spark
    graft.functions.GraftFunctions.register(spark)
    org.apache.spark.sql.graft.GraftPlans.install(spark)
    val vecs = spark.range(r.nDocs).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "(cast(pmod(xxhash64(pmod(id, 64) * 64 + i), 1000) as double) / 500.0 - 1.0) + " +
        "(cast(pmod(xxhash64(id * 64 + i + 7), 1000) as double) / 1000.0 - 0.5) * 0.3)").as("v"))
      .withColumn("norm2", graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
    val (idx, idx2) = (r.dir("ivf"), r.dir("ivf2"))
    val (nlist, appendBatches) = (256, 24)
    val build = r.time(operators.IvfIndex.writeIndex(vecs.filter(col("vec_id") % 10 =!= 7),
      idx, nlist = nlist, iters = 2, trainFraction = 0.01))
    val append = r.time {
      val appendVecs = vecs.filter(col("vec_id") % 10 === 7)
      (0 until appendBatches).foreach { b =>
        operators.IvfIndex.appendIndex(
          appendVecs.filter(pmod(xxhash64(col("vec_id")), lit(appendBatches.toLong)) === b),
          idx, b.toLong)
      }
    }
    def batchDirs(p: String): Int =
      Option(new java.io.File(s"$p/corpus").listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("batch="))
    val ivfDirsBefore = batchDirs(idx)
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))
    def serve(p: String): Seq[(Long, Long)] =
      operators.IvfIndex.topK(spark, p, queries, nprobe = 32, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq.sorted
    val single = r.time(serve(idx))
    val many = r.time(serve(idx))
    val ivfServedMany = many.value
    val brute = r.time {
      val scored = vecs.select(col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
        .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (graft.functions.GraftFunctions.dot_product(col("qv"), col("v")) /
            (sqrt(col("qn")) * sqrt(col("norm2")))).as("cosine"))
      org.apache.spark.sql.graft.GraftPlans.topKPerKey(scored, Seq(col("query_id")),
          Seq(col("cosine").desc, col("neighbor_id").asc), 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    }
    val ivfBrute = brute.value
    require(ivfBrute.size == 50 && ivfServedMany.size == 50,
      s"expected 50 exact and served rows, got ${ivfBrute.size}/${ivfServedMany.size}")
    val maintain = r.time {
      require(operators.IvfIndex.maintain(spark, idx, idx2),
        s"$ivfDirsBefore committed dirs must trip the default trigger")
    }
    val compact = r.time(serve(idx2))
    val ivfServedCompact = compact.value
    require(ivfServedCompact == ivfServedMany,
      "maintenance must not change a serve decision")
    Seq("ivf_build_sec" -> build.wallSec, "ivf_append_sec" -> append.wallSec,
      "ivf_append_batches" -> appendBatches, "ivf_nlist" -> nlist,
      "ivf_serve_single_shot_sec" -> single.wallSec, "ivf_serve_manydirs_sec" -> many.wallSec,
      "ivf_maintain_sec" -> maintain.wallSec, "ivf_serve_compact_sec" -> compact.wallSec,
      "ivf_batch_dirs_before" -> ivfDirsBefore, "ivf_batch_dirs_after" -> batchDirs(idx2),
      "ivf_brute_sec" -> brute.wallSec, "ivf_recall_hits" -> ivfServedMany.count(ivfBrute.contains),
      "ivf_recall_total" -> 50)
  }

  /** PQ encode throughput: nDocs 64-dim vectors through the 8×16 product
    * quantizer — the ingest-time compression pass (128 fused dot products
    * per vector, whole-stage codegen, zero shuffle). The fold over the
    * code array defeats column pruning, so every subspace is encoded.
    */
  val pqEncode: Workload = Workload("pq_encode", Seq("pq_encode_sec", "pq_vectors")) { r =>
    graft.functions.GraftFunctions.register(r.spark)
    val vecs = r.spark.range(r.nDocs).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "cast(pmod(xxhash64(id * 64 + i), 1000) as double) / 1000.0 - 0.5)").as("v"))
    val codebook: IndexedSeq[Seq[Double]] = vecs.filter(col("vec_id") < 16)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toSeq).toIndexedSeq
    val t = r.time(vecs.select(operators.PqEncoder.codes(col("v"), codebook, sub = 8, dim = 8).as("codes"))
      .agg(sum(expr("aggregate(codes, 0L, (a, c) -> a + c)"))).head().getLong(0))
    val pqCodeSum = t.value
    require(pqCodeSum > 0L, "pq encode produced no codes")
    Seq("pq_encode_sec" -> t.wallSec, "pq_vectors" -> r.nDocs)
  }

  /** Every workload, in the order `scale` runs them. */
  val all: Seq[Workload] = Seq(minhashLsh, exactDedup, tokenCount, bpeTrain, bm25, ppjoin,
    ppjoinIndex, lsh, streamLsh, antiJoin, spanDupes, binnedRange, catalog, bucketedJoin,
    fuzzyJoin, skewJoin, ivfLifecycle, pqEncode)
}
