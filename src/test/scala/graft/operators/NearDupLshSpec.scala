package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Operator-level contracts for NearDupLsh beyond the gate queries: the
  * persisted-index incremental lifecycle and the bucket skew guard.
  */
class NearDupLshSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("persisted signature index: incremental pairs equal the recompute flavor") {
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val recompute = pairSet(NearDupLsh.pairsAgainst(newDocs, oldDocs, 0.5d))
    assert(recompute.nonEmpty, "fixture should contain mixed near-dups")
    val idx = graft.TestDirs("graft_lsh_idx_spec").toString
    // append-only lifecycle: the corpus lands in two separate appends
    NearDupLsh.writeIndex(oldDocs.filter(col("doc_id") % 2 === 0), idx)
    NearDupLsh.writeIndex(oldDocs.filter(col("doc_id") % 2 =!= 0), idx)
    val indexed = pairSet(NearDupLsh.pairsAgainstIndex(
      newDocs, NearDupLsh.readIndex(spark, idx), 0.5d))
    assert(indexed == recompute,
      s"indexed flavor diverged: missing=${recompute -- indexed}, extra=${indexed -- recompute}")
  }

  test("compaction migrates a legacy index onto the flat-artifact serve path") {
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val recompute = pairSet(NearDupLsh.pairsAgainst(newDocs, oldDocs, 0.5d))
    assert(recompute.nonEmpty, "fixture should contain mixed near-dups")
    // a pre-partition-layout index: plain signature parquet at the root,
    // no `batch` column, no stats/bands sidecars
    val legacy = graft.TestDirs("graft_lsh_legacy").toString
    NearDupLsh.signatures(oldDocs).write.mode("overwrite").parquet(legacy)
    assert(!NearDupLsh.readIndex(spark, legacy).columns.contains("batch"))
    // compaction is the migration step: it must accept the legacy layout
    // (batch treated as the committed bootstrap) and DERIVE the sidecars
    val target = graft.TestDirs("graft_lsh_migrated").toString
    NearDupLsh.compactIndex(spark, legacy, target)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(NearDupLsh.bandsPath(target))),
      "migration must land the flat sorted band artifact")
    assert(NearDupLsh.readBucketStats(spark, target)
      .agg(sum(col("n"))).head().getLong(0) > 0L,
      "migration must derive the bucket stats sidecar")
    // the migrated index serves through the artifact path, same answer
    val served = pairSet(
      NearDupLsh.pairsAgainstIndexAt(spark, newDocs, target, 0.5d))
    assert(served == recompute,
      s"migrated serve diverged: missing=${recompute -- served}, extra=${served -- recompute}")
  }

  test("persisted bucket stats guard the incremental serve path") {
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val boiler = spark.range(300).select(
      (col("id") + 20000000L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val newBoiler = spark.range(1).select(
      lit(30000000L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val idx = graft.TestDirs("graft_lsh_hot_spec").toString
    // two appends: stats deltas must SUM across batches
    NearDupLsh.writeIndex(oldDocs.unionByName(boiler.filter(col("doc_id") % 2 === 0)), idx)
    NearDupLsh.writeIndex(boiler.filter(col("doc_id") % 2 =!= 0), idx)
    val stats = NearDupLsh.readBucketStats(spark, idx)
    assert(stats.agg(max(col("n"))).head().getLong(0) >= 300L,
      "summed stats must see the full clique across both appends")
    val hot = NearDupLsh.hotBuckets(spark, idx, maxBucket = 100)
    // the clique occupies one over-cap bucket in each of the 8 bands
    assert(hot.count() >= 8L)
    val index = NearDupLsh.readIndex(spark, idx)
    val batch = newDocs.unionByName(newBoiler)
    val unguarded = pairSet(NearDupLsh.pairsAgainstIndex(batch, index, 0.5d))
    val guarded = pairSet(
      NearDupLsh.pairsAgainstIndex(batch, index, 0.5d, Some(hot)))
    // the batch's boilerplate doc pairs with all 300 clique members
    // unguarded; guarded, the clique never fans out
    assert(unguarded.count(_._1 == 30000000L) == 300)
    assert(guarded.count(_._1 == 30000000L) == 0)
    // and ONLY the clique is suppressed: genuine near-dups survive
    assert(guarded == unguarded.filterNot(_._1 == 30000000L),
      s"guard must drop the clique and nothing else")
    assert(guarded.nonEmpty, "fixture should contain mixed near-dups")
  }

  test("hot-stats sidecar: truncated deltas, confident-subset skip list, exact-fallback on mixed layouts") {
    val boiler = spark.range(300).select(
      (col("id") + 20000000L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val idx = graft.TestDirs("graft_lsh_hotside").toString
    NearDupLsh.appendIndex(docs.unionByName(boiler), idx, batchId = 0L)
    NearDupLsh.appendIndex(
      boiler.select((col("doc_id") + 1000L).as("doc_id"), col("text")),
      idx, batchId = 1L)
    // truncation: the sidecar stores ONLY deltas over the floor — the
    // fixture's genuine docs post singleton deltas, the clique posts 300s
    val hotRows = spark.read
      .schema("band INT, band_hash INT, n BIGINT, batch BIGINT")
      .parquet(NearDupLsh.hotStatsPath(idx))
    assert(hotRows.filter(col("n") <= NearDupLsh.HotStatsFloor).count() == 0)
    val fullRows = spark.read.parquet(NearDupLsh.statsPath(idx))
    assert(hotRows.count() < fullRows.count(),
      "sidecar must be a strict truncation of the full stats")
    // on a clique-dominated fixture the sidecar-derived list equals the
    // exact one (every hot delta tops the floor)
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Int, Int)] =
      df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val viaSidecar = keys(NearDupLsh.hotBuckets(spark, idx, maxBucket = 100))
    val exact = keys(NearDupLsh.readBucketStats(spark, idx)
      .filter(col("n") > 100).select(col("band"), col("band_hash")))
    assert(viaSidecar == exact && viaSidecar.size >= 8)
    // strictly-earlier cut: only batch 0's clique counts (300 <= 400 cap
    // needs both batches; at cap 250 batch 0 alone suffices)
    assert(keys(NearDupLsh.hotBuckets(spark, idx, maxBucket = 250,
      maxBatchExclusive = Some(1L))) == keys(
      spark.read.parquet(NearDupLsh.statsPath(idx)).filter(col("batch") < 1)
        .groupBy(col("band"), col("band_hash")).agg(sum(col("n")).as("n"))
        .filter(col("n") > 250).select(col("band"), col("band_hash"))))
    // mixed layout (a pre-upgrade batch lost its hot partition): the
    // subset check must route to the exact full-stats aggregate
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${NearDupLsh.hotStatsPath(idx)}/batch=1"), true)
    assert(keys(NearDupLsh.hotBuckets(spark, idx, maxBucket = 100)) == exact,
      "an incomplete sidecar must fall back to the exact aggregate")
  }

  test("hot sidecar gray zone: sub-floor deltas evade until compaction folds exact totals") {
    import spark.implicits._
    // a 6-doc mini-clique per batch (delta 6 <= floor 8, never stored)
    // over three appends: true bucket size 18 > cap 10, but the sidecar
    // sees nothing — the documented floor x batches evasion, bounded and
    // RESET by compaction, which folds exact totals
    def clique(base: Long) = (0 until 6).map { i =>
      (base + i, "identical boilerplate footer with terms of service and " +
        "a copyright notice repeated on every crawled page of the site")
    }.toDF("doc_id", "text")
    val idx = graft.TestDirs("graft_lsh_gray").toString
    NearDupLsh.appendIndex(clique(100L), idx, batchId = 0L)
    NearDupLsh.appendIndex(clique(200L), idx, batchId = 1L)
    NearDupLsh.appendIndex(clique(300L), idx, batchId = 2L)
    val exact = NearDupLsh.readBucketStats(spark, idx)
      .filter(col("n") > 10).count()
    assert(exact >= 8, "the summed clique must be over-cap in every band")
    val viaSidecar = NearDupLsh.hotBuckets(spark, idx, maxBucket = 10)
    assert(viaSidecar.count() == 0,
      "sub-floor deltas must evade the truncated sidecar (confident subset)")
    // compaction resets the drift: exact totals land in the folded sidecar
    val cpt = graft.TestDirs("graft_lsh_gray_cpt").toString
    NearDupLsh.compactIndex(spark, idx, cpt)
    assert(NearDupLsh.hotBuckets(spark, cpt, maxBucket = 10).count() == exact,
      "compaction must fold exact totals into the hot sidecar")
  }

  test("bucket skew guard drops the degenerate clique without losing planted recall") {
    // 300 identical boilerplate docs: one bucket of 300 in every band —
    // unguarded that is 300·299/2 candidate pairs from each hot key
    val boiler = spark.range(300).select(
      (col("id") + 10000000L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val planted = docs.unionByName(boiler)
    val base = pairSet(NearDupLsh.pairs(docs, 0.5d))
    assert(base.nonEmpty)
    val guarded = pairSet(NearDupLsh.pairs(planted, 0.5d, maxBucket = 100))
    assert(guarded == base,
      "the guard must suppress the clique and ONLY the clique: " +
        s"missing=${base -- guarded}, extra=${guarded -- base}")
    // default cap admits the clique: every boilerplate pair rescored at
    // jaccard 1.0 plus the untouched fixture pairs
    val unguarded = NearDupLsh.pairs(planted, 0.5d).count()
    assert(unguarded == base.size + 300L * 299L / 2L, s"unguarded=$unguarded")
  }

  test("serve joins degrade to shuffle_hash when the batch outgrows the broadcast budget") {
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val idx = graft.TestDirs("graft_lsh_guard_bc").toString
    NearDupLsh.writeIndex(oldDocs, idx)
    val index = NearDupLsh.readIndex(spark, idx)
    val small = pairSet(NearDupLsh.pairsAgainstIndex(newDocs, index, 0.5d))
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // default budget: batch broadcasts (zero corpus motion)
    assert(planOf(NearDupLsh.pairsAgainstIndex(newDocs, index, 0.5d))
      .contains("BroadcastHashJoin"))
    // zero budget = every batch is "oversized": same keys, hash join —
    // completes (no 8 GB broadcast ceiling) with the identical pair set
    spark.conf.set("spark.graft.index.serveBroadcastMaxRows", "0")
    try {
      val plan = planOf(NearDupLsh.pairsAgainstIndex(newDocs, index, 0.5d))
      assert(plan.contains("ShuffledHashJoin"), plan.take(2000))
      val big = pairSet(NearDupLsh.pairsAgainstIndex(newDocs, index, 0.5d))
      assert(big == small,
        s"shuffle_hash fallback diverged: missing=${small -- big}, extra=${big -- small}")
    } finally spark.conf.unset("spark.graft.index.serveBroadcastMaxRows")
  }

  test("path-based serve (flat band artifact) matches the DataFrame serve") {
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val idx = graft.TestDirs("graft_lsh_at_spec").toString
    NearDupLsh.writeIndex(oldDocs, idx)
    val viaDf = pairSet(NearDupLsh.pairsAgainstIndex(
      newDocs, NearDupLsh.readIndex(spark, idx), 0.5d))
    assert(viaDf.nonEmpty)
    // artifact exists and the scan actually uses it (trickle batch →
    // key prune engages too; result must be identical)
    assert(new java.io.File(NearDupLsh.bandsPath(idx)).exists())
    val viaPath = pairSet(NearDupLsh.pairsAgainstIndexAt(
      spark, newDocs, idx, 0.5d))
    assert(viaPath == viaDf,
      s"artifact serve diverged: missing=${viaDf -- viaPath}, extra=${viaPath -- viaDf}")
    // and with the key prune disabled (limit 0 → no isin filter)
    spark.conf.set("spark.graft.index.serveKeyPruneLimit", "0")
    try {
      val unpruned = pairSet(NearDupLsh.pairsAgainstIndexAt(
        spark, newDocs, idx, 0.5d))
      assert(unpruned == viaDf)
    } finally spark.conf.unset("spark.graft.index.serveKeyPruneLimit")
  }

  test("sampled catastrophe tier honors the minimum-sample floor at low caps") {
    // maxBucket=2 makes the RATIO threshold trivially low (est > 10 docs
    // ⟺ a single sampled row); without the absolute floor every key the
    // 1% sample touches would be "catastrophic" and its true pairs lost.
    // With the floor, no key on this 500-doc fixture can reach 25
    // sampled rows, so the sampled tier must drop NOTHING — over-cap
    // buckets fall to the exact capped tier (dropped_buckets > 0).
    val cata = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
    val dropped = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        qe.observedMetrics.get("graft_lsh_catastrophic").foreach(r => cata.set(Some(r.getLong(0))))
        qe.observedMetrics.get("graft_lsh_buckets").foreach(r => dropped.set(Some(r.getLong(0))))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // force the tier ON despite the tiny fixture (the size floor would
    // skip it): the floor-under-test here is the SAMPLE-count floor
    spark.conf.set("spark.graft.lsh.sampledTierMinBytes", "0")
    try {
      val n = NearDupLsh.pairs(docs, 0.5d, maxBucket = 2).count()
      org.apache.spark.sql.graft.GraftPlans.drainListenerBus(spark)
      assert(cata.get().contains(0L),
        s"sampled tier must be inert under the floor: ${cata.get()}")
      assert(dropped.get().exists(_ > 0L), "exact tier should see over-cap buckets")
      assert(n > 0L, "size-2 buckets must still produce their pairs")
      // and under the default SIZE floor, a small parquet corpus skips
      // the sampled tier entirely — identical result, no metric emitted
      spark.conf.unset("spark.graft.lsh.sampledTierMinBytes")
      cata.set(None)
      val nSkip = NearDupLsh.pairs(docs, 0.5d, maxBucket = 2).count()
      org.apache.spark.sql.graft.GraftPlans.drainListenerBus(spark)
      assert(nSkip == n, s"tier on/off must agree: $nSkip vs $n")
      assert(cata.get().isEmpty, "small corpus must not pay the sampled tier")
    } finally {
      spark.conf.unset("spark.graft.lsh.sampledTierMinBytes")
      spark.listenerManager.unregister(listener)
    }
  }

  test("skew guard publishes dropped/max bucket sizes as observed metrics") {
    val boiler = spark.range(300).select(
      (col("id") + 10000000L).as("doc_id"),
      lit("identical boilerplate footer with terms of service and a " +
        "copyright notice repeated on every crawled page of the site").as("text"))
    val captured = new java.util.concurrent.atomic.AtomicReference[Option[(Long, Int)]](None)
    val cata = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        qe.observedMetrics.get("graft_lsh_buckets").foreach { row =>
          captured.set(Some((row.getLong(0), row.getInt(1))))
        }
        qe.observedMetrics.get("graft_lsh_catastrophic").foreach { row =>
          cata.set(Some(row.getLong(0)))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // tiny fixture: force the sampled tier on so both metric streams flow
    spark.conf.set("spark.graft.lsh.sampledTierMinBytes", "0")
    try {
      NearDupLsh.pairs(docs.unionByName(boiler), 0.5d, maxBucket = 100).count()
      org.apache.spark.sql.graft.GraftPlans.drainListenerBus(spark)
      val (dropped, maxBucket) = captured.get().getOrElse(
        fail("graft_lsh_buckets metrics never observed"))
      val catastrophic = cata.get().getOrElse(
        fail("graft_lsh_catastrophic metric never observed"))
      // the clique occupies one >cap bucket in each of the 8 bands;
      // each is dropped by exactly one tier (sampler estimate > 5x cap
      // when >= 6 of the 300 clique docs land in the 1% sample — a
      // seed-deterministic outcome — else the exact capped aggregate)
      assert(dropped + catastrophic >= 8L,
        s"dropped=$dropped catastrophic=$catastrophic")
      // the true max is observable whenever any clique band reached
      // the exact tier; if the sampler caught all 8, max is capped data
      assert(maxBucket >= 300 || catastrophic >= 8L,
        s"max_bucket=$maxBucket catastrophic=$catastrophic")
    } finally {
      spark.conf.unset("spark.graft.lsh.sampledTierMinBytes")
      spark.listenerManager.unregister(listener)
    }
  }
}
