package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the persisted exact-similarity index lifecycle
  * (PrefixFilterJoin.writeIndex / appendIndex / pairsAgainstIndex) —
  * the in-line `pairs` operator itself is gate- and fingerprint-covered.
  */
class PrefixFilterJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("new_id"), col("old_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Ground truth: mixed (new x old) pairs from the lossless in-line
    * join over the whole corpus.
    */
  private def bruteMixed(num: Int, den: Int): Set[(Long, Long)] =
    PrefixFilterJoin.pairs(docs, num, den).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (a % 10 == 7, b % 10 == 7) match {
          case (true, false) => Some((a, b))
          case (false, true) => Some((b, a))
          case _ => None
        }
      }.toSet

  test("indexed serve equals the brute-force mixed pair set") {
    val truth = bruteMixed(4, 5)
    assert(truth.nonEmpty, "fixture should contain mixed near-dups")
    val idx = graft.TestDirs("graft_pp_idx").toString
    PrefixFilterJoin.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx, 4, 5)
    val served = pairSet(PrefixFilterJoin.pairsAgainstIndex(
      spark, docs.filter(col("doc_id") % 10 === 7), idx, 4, 5))
    assert(served == truth,
      s"exact serve diverged: missing=${truth -- served}, extra=${served -- truth}")
  }

  test("append under the frozen order stays lossless; thresholds guard") {
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val idx = graft.TestDirs("graft_pp_append").toString
    // build on HALF the corpus, append the other half: appended docs'
    // prefixes rank under build-time frequencies (some shingles unseen,
    // f=0) — the served answer must still be the exact ground truth
    PrefixFilterJoin.writeIndex(oldDocs.filter(col("doc_id") % 2 === 0), idx, 4, 5)
    PrefixFilterJoin.appendIndex(oldDocs.filter(col("doc_id") % 2 =!= 0), idx, batchId = 1L)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val served = pairSet(PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5))
    assert(served == bruteMixed(4, 5),
      "append must extend the index losslessly under the frozen order")
    // serving ABOVE the build threshold is lossless (shorter prefixes
    // needed than stored): exact vs the brute 9/10 answer
    val high = pairSet(PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 9, 10))
    assert(high == bruteMixed(9, 10))
    assert(high.subsetOf(served))
    // serving BELOW the build threshold must be refused, not silently lossy
    val e = intercept[IllegalArgumentException] {
      PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 1, 2)
    }
    assert(e.getMessage.contains("build threshold"))
  }

  test("compaction changes no serve; the watermark carries per-artifact tails; " +
      "pstats re-derive exactly over the folded prefix") {
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val idx = graft.TestDirs("graft_pp_cpt").toString
    PrefixFilterJoin.writeIndex(oldDocs.filter(col("doc_id") % 3 === 0), idx, 4, 5)
    PrefixFilterJoin.appendIndex(oldDocs.filter(col("doc_id") % 3 === 1), idx, batchId = 0L)
    PrefixFilterJoin.appendIndex(oldDocs.filter(col("doc_id") % 3 === 2), idx, batchId = 1L)
    val full = pairSet(PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5))
    val cut = pairSet(PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5,
      maxBatchExclusive = Some(1L)))
    assert(full == bruteMixed(4, 5))
    def batchDirs(root: String, artifact: String): Set[String] =
      new java.io.File(s"$root/$artifact").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    // clean-stop fold: one bootstrap partition per artifact
    val cptAll = graft.TestDirs("graft_pp_cpt_a").toString
    PrefixFilterJoin.compactIndex(spark, idx, cptAll, width = 2)
    Seq("sets", "prefix", "pstats").foreach(a =>
      assert(batchDirs(cptAll, a) == Set("batch=-1"), a))
    assert(pairSet(PrefixFilterJoin.pairsAgainstIndex(
      spark, newDocs, cptAll, 4, 5)) == full)
    // pstats re-derivation exactness: the folded sidecar must equal the
    // groupBy ground truth over the folded prefix artifact (hot floor
    // applied to the EXACT folded totals, not summed per-batch deltas)
    val truthPstats = spark.read.parquet(s"$cptAll/prefix/batch=-1")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") > PrefixFilterJoin.ServeCandidateHotFloor)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPstats = spark.read.parquet(s"$cptAll/pstats/batch=-1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPstats == truthPstats)
    // watermarked fold: batch 1 carries per-artifact under its own id;
    // whole and strictly-earlier serves both unchanged
    val cptW = graft.TestDirs("graft_pp_cpt_w").toString
    PrefixFilterJoin.compactIndex(spark, idx, cptW, width = 2, throughBatch = 0L)
    Seq("sets", "prefix", "pstats").foreach(a =>
      assert(batchDirs(cptW, a) == Set("batch=-1", "batch=1"), a))
    assert(pairSet(PrefixFilterJoin.pairsAgainstIndex(
      spark, newDocs, cptW, 4, 5)) == full)
    assert(pairSet(PrefixFilterJoin.pairsAgainstIndex(
      spark, newDocs, cptW, 4, 5, maxBatchExclusive = Some(1L))) == cut)
  }

  test("redelivered / crash-window appends replace their partitions — no duplicate pairs") {
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val idx = graft.TestDirs("graft_pp_replay").toString
    PrefixFilterJoin.writeIndex(oldDocs.filter(col("doc_id") % 2 === 0), idx, 4, 5)
    val b1 = oldDocs.filter(col("doc_id") % 2 =!= 0)
    PrefixFilterJoin.appendIndex(b1, idx, batchId = 1L)
    // serve returns a LIST, not a set: a duplicated sets/prefix row
    // would surface as a duplicated output pair — the exact failure the
    // batch=<id> overwrite layout makes impossible
    def servedRows(): List[(Long, Long)] =
      PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5)
        .select(col("new_id"), col("old_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val once = servedRows()
    assert(once.toSet == bruteMixed(4, 5))
    assert(once.size == once.toSet.size, "serve emitted duplicate pairs")
    // crash window A: sets landed, prefix/pstats did not — redelivery
    // must complete the batch, not double it
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/prefix/batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/pstats/batch=1"), true)
    PrefixFilterJoin.appendIndex(b1, idx, batchId = 1L)
    assert(servedRows().sorted == once.sorted)
    // crash window B: everything landed, the downstream commit didn't —
    // a FULL redelivery of the same batch id must be a no-op
    PrefixFilterJoin.appendIndex(b1, idx, batchId = 1L)
    assert(servedRows().sorted == once.sorted)
    // replay filter: serving strictly-earlier batches excludes batch 1,
    // leaving exactly the bootstrap-half answer
    val bootOnly = PrefixFilterJoin.pairsAgainstIndex(
        spark, newDocs, idx, 4, 5, maxBatchExclusive = Some(1L))
      .select(col("new_id"), col("old_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bootOnly == bruteMixed(4, 5).filter(_._2 % 2 == 0))
    assert(bootOnly != once.toSet, "fixture should place near-dups in both halves")
  }

  test("pstats run-length derivation equals the groupBy ground truth, even under forced file splits") {
    // the pstats sidecar is derived by a streaming run-length walk over
    // the h-sorted prefix artifact (no shuffle, no aggregation hash
    // table); exactness must hold under ANY read packing/splitting —
    // a split mid-run emits two boundary partials that the tiny merge
    // re-joins. Ground truth: plain groupBy over the same artifact.
    def groundTruth(idx: String): Set[(Long, Long)] =
      spark.read.parquet(s"$idx/prefix/batch=-1")
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") > PrefixFilterJoin.ServeCandidateHotFloor)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def stored(idx: String): Set[(Long, Long)] =
      spark.read.parquet(s"$idx/pstats/batch=-1")
        .select(col("h"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate-heavy corpus so hot shingles exist (shared spans push
    // posting counts past the floor); threshold 1/2 keeps prefixes long
    import spark.implicits._
    val boiler = (0 until 400).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta tail$i")
    }.toDF("doc_id", "text")
    val idx1 = graft.TestDirs("graft_pp_pstats").toString
    PrefixFilterJoin.writeIndex(boiler, idx1, 1, 2)
    val truth = groundTruth(idx1)
    assert(truth.nonEmpty, "fixture must produce a hot tail")
    assert(stored(idx1) == truth)
    // forced splits: shrink maxPartitionBytes/openCost so the pstats
    // read cuts prefix files mid-run — boundary merging must hold
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "256")
    val idx2 = graft.TestDirs("graft_pp_pstats2").toString
    try {
      PrefixFilterJoin.writeIndex(boiler, idx2, 1, 2)
      assert(stored(idx2) == truth,
        "run-length pstats diverged under forced file splits")
      // the derivation neutralizes the split confs internally — they must
      // be RESTORED to the session's (forced) values afterwards
      assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "2048")
      assert(spark.conf.get("spark.sql.files.openCostInBytes") == "256")

      // Hostile packing regime (ADVICE r15): multi-row-group prefix
      // files large enough that honoring the session's 2 KB splits CUTS
      // files into several chunks — the regime where Spark bin-packs a
      // split file's final chunk behind other files and the old
      // per-PARTITION boundary rule could silently drop an interior run
      // piece. The walk reads with splitting neutralized (whole files,
      // per-FILE-stretch boundaries), so it must stay exact here too.
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hc.get("parquet.block.size"))
      val oldPage = Option(hc.get("parquet.page.size"))
      hc.setInt("parquet.block.size", 4096)
      hc.setInt("parquet.page.size", 1024)
      val idx3 = graft.TestDirs("graft_pp_pstats3").toString
      try {
        val big = (0 until 3000).map { i =>
          (i.toLong,
            "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
              s"lambda mu tail$i")
        }.toDF("doc_id", "text")
        PrefixFilterJoin.writeIndex(big, idx3, 1, 2)
        val bigTruth = spark.read.parquet(s"$idx3/prefix/batch=-1")
          .groupBy(col("h")).agg(count(lit(1)).as("n"))
          .filter(col("n") > PrefixFilterJoin.ServeCandidateHotFloor)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(bigTruth.nonEmpty)
        assert(stored(idx3) == bigTruth,
          "run-length pstats diverged on multi-row-group files under forced splits")
        // prove the fixture discriminates: the artifact really has
        // multi-row-group files, and an honest split-honoring read
        // produces MORE partitions than files (i.e. the session confs
        // demanded mid-file cuts the derivation had to be immune to)
        val prefixDir = new java.io.File(s"$idx3/prefix/batch=-1")
        val files = prefixDir.listFiles().filter(_.getName.endsWith(".parquet"))
        val maxGroups = files.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), hc))
          try r.getFooter.getBlocks.size() finally r.close()
        }.max
        assert(maxGroups > 1, "fixture must produce multi-row-group files")
        assert(spark.read.parquet(s"$idx3/prefix/batch=-1")
          .rdd.getNumPartitions > files.length,
          "fixture must make the session confs actually split files")
      } finally {
        oldBlock.fold(hc.unset("parquet.block.size"))(
          hc.set("parquet.block.size", _))
        oldPage.fold(hc.unset("parquet.page.size"))(
          hc.set("parquet.page.size", _))
      }
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldOpen)
    }
  }

  test("candidate bound stays an upper bound across batch partitions (per-partition-cold shingles)") {
    import spark.implicits._
    // a shingle COLD in each of 3 partitions (8 postings ≤ hot floor per
    // partition, so the pstats sidecar stores nothing for it) but hot
    // globally (24 postings): a bound charging the floor ONCE per batch
    // occurrence (F·M = 16) under-counts the true candidate fanout (24)
    // and would authorize a broadcast the budget forbids — the bound
    // must charge F per SERVED PARTITION (F·P·M = 48 here)
    def corpus(ids: Range) =
      ids.map(i => (i.toLong, s"x y z x u$i")).toDF("doc_id", "text")
    val idx = graft.TestDirs("graft_pp_bound").toString
    PrefixFilterJoin.writeIndex(corpus(0 until 8), idx, 1, 2)
    PrefixFilterJoin.appendIndex(corpus(8 until 16), idx, batchId = 1L)
    PrefixFilterJoin.appendIndex(corpus(16 until 24), idx, batchId = 2L)
    val batch = Seq((1000L, "x y z x")).toDF("doc_id", "text")
    val (served, boundOpt) =
      PrefixFilterJoin.pairsAgainstIndexWithBound(spark, batch, idx, 1, 2)
    assert(served.count() == 24L, "every corpus doc shares 2 of 3 shingles (j=2/3)")
    assert(boundOpt.nonEmpty, "this serve is broadcastable — the guard must engage")
    val bound = boundOpt.get
    // independently computed upper bound the formula claims: Σ_h m_h·n_h
    // with m_h over ALL batch shingle occurrences and n_h the corpus
    // PREFIX posting count across every partition
    val n = spark.read.parquet(s"$idx/prefix")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
    val m = batch
      .select(explode(graft.functions.GraftFunctions.ngram_hashes(
        split(col("text"), " "))).as("h"))
    val trueUpper = m.join(n, Seq("h"))
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    assert(trueUpper > PrefixFilterJoin.ServeCandidateHotFloor * 2,
      "fixture must exceed the single-partition charge or the test discriminates nothing")
    assert(bound >= trueUpper,
      s"candidate bound $bound under-counts the true fanout $trueUpper")
  }

  test("hot shingles charge only their stored postings — the cold floor does not stack per partition") {
    import spark.implicits._
    // shingles x/y/z are HOT in every one of 3 partitions (32 postings >
    // floor 8 per partition, stored exactly in pstats), so the tightened
    // bound charges Σ n_h with NO residual F·P cold term for them; only
    // the unique u$i shingles pay the floor. A bound that charged
    // F·P per occurrence on top of the stored postings (the pre-r14
    // formula) inflates P-fold as batches accumulate and pushes trickle
    // serves off the broadcast — the regression this pins against.
    def corpus(ids: Range) =
      ids.map(i => (i.toLong, s"x y z x u$i")).toDF("doc_id", "text")
    val idx = graft.TestDirs("graft_pp_hot").toString
    PrefixFilterJoin.writeIndex(corpus(0 until 32), idx, 1, 2)
    PrefixFilterJoin.appendIndex(corpus(32 until 64), idx, batchId = 1L)
    PrefixFilterJoin.appendIndex(corpus(64 until 96), idx, batchId = 2L)
    val batch = Seq((1000L, "x y z x")).toDF("doc_id", "text")
    val (served, boundOpt) =
      PrefixFilterJoin.pairsAgainstIndexWithBound(spark, batch, idx, 1, 2)
    assert(served.count() == 96L)
    val bound = boundOpt.getOrElse(fail("guard must engage on a trickle serve"))
    // true fanout: Σ_h m_h·n_h over the corpus prefix
    val n = spark.read.parquet(s"$idx/prefix")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
    val m = batch.select(explode(graft.functions.GraftFunctions.ngram_hashes(
      split(col("text"), " "))).as("h"))
    val trueUpper = m.join(n, Seq("h"))
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    assert(bound >= trueUpper, s"bound $bound under-counts $trueUpper")
    // tightness, pinned to the exact formula: F·(P·M − Σ parts_h) + Σ n_h,
    // recomputed independently from the pstats sidecar. The pre-r14
    // formula (F·P·M + Σ n_h) must test strictly LOOSER here — i.e. the
    // fixture actually exercises hot rows (Σ parts > 0)
    val f = PrefixFilterJoin.ServeCandidateHotFloor
    val bigM = m.count()
    val hotAgg = spark.read.parquet(s"$idx/pstats")
      .groupBy(col("h")).agg(sum(col("n")).as("n"), count(lit(1)).as("parts"))
    val hj = m.join(hotAgg, Seq("h"), "left")
      .agg(coalesce(sum(col("n")), lit(0L)),
        coalesce(sum(col("parts")), lit(0L))).head()
    val (hotSum, partsSum) = (hj.getLong(0), hj.getLong(1))
    assert(partsSum > 0, "fixture must make batch shingles hot in stored partitions")
    assert(bound == f * (3 * bigM - partsSum) + hotSum,
      s"bound $bound != per-partition-aware formula")
    assert(bound < f * 3 * bigM + hotSum,
      s"bound $bound still stacks the cold floor per partition on hot shingles")
  }

  test("stray non-numeric batch dirs void the bound instead of crashing the serve") {
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val idx = graft.TestDirs("graft_pp_stray").toString
    PrefixFilterJoin.writeIndex(oldDocs, idx, 4, 5)
    // a tooling leftover that is NOT a parquet partition (empty dir, so
    // spark's partition discovery ignores it) but used to throw
    // NumberFormatException in the bound's batch-dir walk
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/pstats/batch=1.bak"))
    val (servedDf, boundOpt) =
      PrefixFilterJoin.pairsAgainstIndexWithBound(spark, newDocs, idx, 4, 5)
    assert(pairSet(servedDf) == bruteMixed(4, 5),
      "off-contract layout must degrade, never change the answer")
    assert(boundOpt.isEmpty,
      "unparseable batch dir must void the bound (shuffle_hash), not crash")
  }

  test("legacy flat-layout indexes (no batch dirs, no pstats) serve unchanged") {
    // pre-r12 indexes stored sets/ and prefix/ as FLAT parquet dirs with
    // no pstats sidecar: the serve must keep the pre-sidecar behavior —
    // whole-index serve, batch-probe-only guard (bound 0 → broadcast) —
    // and return the identical answer
    val truth = bruteMixed(4, 5)
    val idx = graft.TestDirs("graft_pp_legacy").toString
    PrefixFilterJoin.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx, 4, 5)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("sets", "prefix").foreach { sub =>
      val batchDir = new org.apache.hadoop.fs.Path(s"$idx/$sub/batch=-1")
      val parent = new org.apache.hadoop.fs.Path(s"$idx/$sub")
      fs.listStatus(batchDir).foreach { st =>
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(parent, st.getPath.getName))
      }
      fs.delete(batchDir, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/pstats"), true)
    val (servedDf, bound) = PrefixFilterJoin.pairsAgainstIndexWithBound(
      spark, docs.filter(col("doc_id") % 10 === 7), idx, 4, 5)
    val served = pairSet(servedDf)
    assert(served == truth,
      s"legacy serve diverged: missing=${truth -- served}, extra=${served -- truth}")
    assert(bound == Some(0L),
      "no pstats sidecar → the pre-sidecar batch-probe-only guard (bound 0)")
  }

  test("oversized batches degrade to shuffle_hash with the identical answer") {
    val idx = graft.TestDirs("graft_pp_big").toString
    PrefixFilterJoin.writeIndex(docs.filter(col("doc_id") % 10 =!= 7), idx, 4, 5)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val broadcastAnswer = pairSet(
      PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5))
    spark.conf.set("spark.graft.index.serveBroadcastMaxRows", "1")
    try {
      val fallback = pairSet(
        PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5))
      assert(fallback == broadcastAnswer)
    } finally spark.conf.unset("spark.graft.index.serveBroadcastMaxRows")
    // candidate-fanout guard: with the candidate broadcast budget forced
    // to 1 row, the pstats bound exceeds it and the candidates join must
    // degrade to shuffle_hash — identical answer, no broadcast
    spark.conf.set("spark.graft.ppjoin.serveCandidateBroadcastMaxRows", "1")
    try {
      val guarded = pairSet(
        PrefixFilterJoin.pairsAgainstIndex(spark, newDocs, idx, 4, 5))
      assert(guarded == broadcastAnswer)
    } finally spark.conf.unset("spark.graft.ppjoin.serveCandidateBroadcastMaxRows")
  }
}
