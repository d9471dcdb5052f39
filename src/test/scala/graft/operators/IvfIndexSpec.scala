package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the persisted IVF index maintenance lifecycle
  * (writeIndex / appendIndex / topK / compactIndex) — the ANN recall
  * bound itself is gate-covered by sim_ivf_ann / sim_ivf_stream.
  */
class IvfIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def corpus: DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
  }

  private def queries(e: DataFrame): DataFrame = e.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted

  test("build + append serves exactly the frozen-quantizer inline search") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_lc").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 2 =!= 0), idx, batchId = 0L)
    val frozen = IvfIndex.readCentroids(spark, idx)
    val inline = rows(IvfIndex.searchAssigned(
      IvfIndex.assign(e, "v", frozen), frozen, queries(e), nprobe = 4, k = 5))
    assert(inline.nonEmpty)
    assert(rows(IvfIndex.topK(spark, idx, queries(e), nprobe = 4, k = 5)) == inline,
      "the persisted lifecycle must be lossless GIVEN the frozen quantizer")
  }

  test("redelivered / crash-window appends replace their partitions") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_rd").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), idx, nlist = 16, iters = 2)
    val batch = e.filter(col("vec_id") % 2 =!= 0)
    IvfIndex.appendIndex(batch, idx, batchId = 0L)
    val once = rows(IvfIndex.topK(spark, idx, queries(e), 4, 5))
    // full redelivery under the same id: a no-op by layout
    IvfIndex.appendIndex(batch, idx, batchId = 0L)
    assert(rows(IvfIndex.topK(spark, idx, queries(e), 4, 5)) == once)
    // crash window: the batch partition vanishes mid-write; the
    // strictly-earlier serve hides it, redelivery completes it
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/corpus/batch=0"), true)
    val frozen = IvfIndex.readCentroids(spark, idx)
    val committedOnly = rows(IvfIndex.searchAssigned(
      IvfIndex.assign(e.filter(col("vec_id") % 2 === 0), "v", frozen),
      frozen, queries(e), 4, 5))
    assert(rows(IvfIndex.topK(spark, idx, queries(e), 4, 5,
      maxBatchExclusive = Some(0L))) == committedOnly,
      "maxBatchExclusive must equal a fresh search over committed batches")
    IvfIndex.appendIndex(batch, idx, batchId = 0L)
    assert(rows(IvfIndex.topK(spark, idx, queries(e), 4, 5)) == once)
  }

  test("compaction changes no serve; the watermark carries the uncommitted tail") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_cpt").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 3 === 0), idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 3 === 1), idx, batchId = 0L)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 3 === 2), idx, batchId = 1L)
    val full = rows(IvfIndex.topK(spark, idx, queries(e), 4, 5))
    val cut = rows(IvfIndex.topK(spark, idx, queries(e), 4, 5,
      maxBatchExclusive = Some(1L)))
    // clean-stop fold: everything into batch=-1
    val cptAll = graft.TestDirs("graft_ivf_cpt_all").toString
    IvfIndex.compactIndex(spark, idx, cptAll)
    def batchDirs(root: String): Set[String] =
      new java.io.File(s"$root/corpus").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs(cptAll) == Set("batch=-1"))
    assert(rows(IvfIndex.topK(spark, cptAll, queries(e), 4, 5)) == full)
    // watermarked fold: batch 1 carries under its own id; whole and
    // strictly-earlier serves both unchanged
    val cptW = graft.TestDirs("graft_ivf_cpt_w").toString
    IvfIndex.compactIndex(spark, idx, cptW, throughBatch = 0L)
    assert(batchDirs(cptW) == Set("batch=-1", "batch=1"))
    assert(rows(IvfIndex.topK(spark, cptW, queries(e), 4, 5)) == full)
    assert(rows(IvfIndex.topK(spark, cptW, queries(e), 4, 5,
      maxBatchExclusive = Some(1L))) == cut)
  }

  /** The sim_ivf_drift gate's planted drifted batch: the corpus
    * displaced into 16 novel overlapping regions (offset 1.2 along a
    * vec_id-chosen basis dim), ids disjoint from the standing corpus.
    */
  private def plantedDrift(e: DataFrame): DataFrame = e.select(
    (col("vec_id") + 1000000L).as("vec_id"),
    transform(col("v"),
      (x, i) => x + when(i === pmod(col("vec_id"), lit(16)) * 4, lit(1.2))
        .otherwise(lit(0.0))).as("v"))
    .withColumn("norm2",
      graft.functions.GraftFunctions.dot_product(col("v"), col("v")))

  test("drift metric: fires on the planted shift, silent on a representative append") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dr").toString
    IvfIndex.writeIndex(e, s"$idx/p", nlist = 16, iters = 2)
    IvfIndex.appendIndex(plantedDrift(e), s"$idx/p", batchId = 0L)
    val planted = IvfIndex.driftReport(spark, s"$idx/p").collect()
    assert(planted.length == 1)
    assert(planted.head.getAs[Boolean]("drifted"))
    assert(planted.head.getAs[Double]("distortion_ratio") > 2.0)
    // negative control: the sim_ivf_stream-style representative split
    IvfIndex.writeIndex(e.filter(col("vec_id") % 10 =!= 7), s"$idx/r",
      nlist = 16, iters = 2)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 10 === 7), s"$idx/r", 0L)
    val rep = IvfIndex.driftReport(spark, s"$idx/r").collect()
    assert(rep.length == 1 && !rep.head.getAs[Boolean]("drifted"),
      s"representative append must not fire: ${rep.head}")
    assert(rep.head.getAs[Double]("distortion_ratio") < 1.5)
    // determinism: the report is decimal-aggregated — bit-stable
    assert(IvfIndex.driftReport(spark, s"$idx/p").collect().toSeq
      == planted.toSeq)
  }

  test("drift sidecar is redelivery-idempotent and honors the serve cut") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dri").toString
    IvfIndex.writeIndex(e, idx, nlist = 16, iters = 2)
    val batch = plantedDrift(e)
    IvfIndex.appendIndex(batch, idx, batchId = 0L)
    val once = IvfIndex.driftReport(spark, idx).collect().toSeq
    IvfIndex.appendIndex(batch, idx, batchId = 0L) // redelivery
    assert(IvfIndex.driftReport(spark, idx).collect().toSeq == once,
      "OVERWRITE layout: a redelivered append must not change the report")
    assert(IvfIndex.driftReport(spark, idx, maxBatchExclusive = Some(0L))
      .isEmpty, "the strictly-earlier cut must hide the batch's sidecar")
  }

  test("rebuild: retrain-and-swap restores the new-region serve; watermark " +
      "carries the uncommitted tail re-assigned under the new quantizer") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_rb").toString
    IvfIndex.writeIndex(e, idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(plantedDrift(e), idx, batchId = 0L) // committed
    IvfIndex.appendIndex(
      plantedDrift(e).withColumn("vec_id", col("vec_id") + 1000000L),
      idx, batchId = 1L) // uncommitted
    val rb = graft.TestDirs("graft_ivf_rb_t").toString
    IvfIndex.rebuildIndex(spark, idx, rb, nlist = 16, iters = 5,
      throughBatch = 0L)
    def dirs(root: String): Set[String] =
      new java.io.File(s"$root/corpus").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs(rb) == Set("batch=-1", "batch=1"),
      "committed batches fold; the uncommitted tail carries under its id")
    // the tail is re-assigned under the NEW quantizer: every corpus
    // partition's cells must come from the rebuilt centroid table
    val newAssign = IvfIndex.assign(
      spark.read.parquet(s"$rb/corpus/batch=1")
        .select(col("vec_id"), col("v"), col("norm2")),
      "v", IvfIndex.readCentroids(spark, rb))
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).intValue)).sorted
    val stored = spark.read.parquet(s"$rb/corpus/batch=1")
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).intValue)).sorted
    assert(stored.sameElements(newAssign))
    // serve-cut equivalence: the rebuilt index cut at the watermark is
    // indistinguishable from a rebuild of a source that never had the
    // uncommitted batch (same standing corpus → same training → same
    // quantizer → identical serves on every replay)
    val idx2 = graft.TestDirs("graft_ivf_rb_c").toString
    IvfIndex.writeIndex(e, idx2, nlist = 16, iters = 2)
    IvfIndex.appendIndex(plantedDrift(e), idx2, batchId = 0L)
    val rb2 = graft.TestDirs("graft_ivf_rb_c_t").toString
    IvfIndex.rebuildIndex(spark, idx2, rb2, nlist = 16, iters = 5)
    assert(rows(IvfIndex.topK(spark, rb, queries(e), 8, 5,
      maxBatchExclusive = Some(1L)))
      == rows(IvfIndex.topK(spark, rb2, queries(e), 8, 5)))
  }

  private def driftRows(root: String, batch: Long = -1L): Seq[(Int, Long, Double)] =
    spark.read.parquet(s"$root/drift/batch=$batch")
      .select(col("centroid_id"), col("n"), col("d2_sum").cast("double"))
      .collect().map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  private def driftBatchDirs(root: String): Set[String] =
    new java.io.File(s"$root/drift").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet

  test("compaction carries the build reference verbatim and drops resolved history") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dcp").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 2 =!= 0), idx, batchId = 0L)
    val buildRef = driftRows(idx)
    val cpt = graft.TestDirs("graft_ivf_dcp_a").toString
    IvfIndex.compactIndex(spark, idx, cpt)
    // the reference is the BUILD-TIME distribution, not the fold: a
    // reference that absorbed every committed append could never flag a
    // slow below-threshold shift again (the boiling-frog failure)
    assert(driftRows(cpt) == buildRef,
      "batch=-1 reference must carry verbatim across compaction")
    assert(driftBatchDirs(cpt) == Set("batch=-1"),
      "a cleared (non-drifted) folded append's sidecar is resolved history")
  }

  test("compact-after-drift does NOT clear the alarm; rebuild does") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dal").toString
    IvfIndex.writeIndex(e, idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(plantedDrift(e), idx, batchId = 0L)
    assert(IvfIndex.driftReport(spark, idx).collect()
      .exists(_.getAs[Boolean]("drifted")))
    val full = rows(IvfIndex.topK(spark, idx, queries(e), 8, 5))
    val cpt = graft.TestDirs("graft_ivf_dal_c").toString
    IvfIndex.compactIndex(spark, idx, cpt)
    // corpus rows fold (serve identical), but the flagged batch keeps
    // its sidecar under its own id — compaction must not silently
    // acknowledge a drift the operator never acted on
    assert(rows(IvfIndex.topK(spark, cpt, queries(e), 8, 5)) == full)
    val standing = IvfIndex.driftReport(spark, cpt).collect()
    assert(standing.length == 1 &&
      standing.head.getAs[Number]("batch").longValue == 0L &&
      standing.head.getAs[Boolean]("drifted"),
      s"standing alarm must survive the fold: ${standing.toSeq}")
    // the deliberate response — retrain — is what clears it
    val rb = graft.TestDirs("graft_ivf_dal_r").toString
    IvfIndex.rebuildIndex(spark, cpt, rb, nlist = 16, iters = 5)
    assert(!IvfIndex.driftReport(spark, rb).collect()
      .exists(_.getAs[Boolean]("drifted")))
  }

  test("legacy migrations: no drift dir derives from the fold; a missing " +
      "reference derives from the SOURCE bootstrap and carries appends") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dcl").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(e.filter(col("vec_id") % 2 =!= 0), idx, batchId = 0L)
    val buildRef = driftRows(idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // appends-only legacy: strip just the reference — compaction must
    // re-derive the BUILD-TIME baseline from the source's intact
    // bootstrap (deterministic: equals the stripped original), never
    // from the folded target, and must keep the never-adjudicated
    // append sidecar instead of dropping it as resolved
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/drift/batch=-1"), true)
    val cptRef = graft.TestDirs("graft_ivf_dcl_a").toString
    IvfIndex.compactIndex(spark, idx, cptRef)
    assert(driftRows(cptRef) == buildRef,
      "migration must recover the build-time baseline, not bake in appends")
    assert(driftBatchDirs(cptRef) == Set("batch=-1", "batch=0"))
    // fully legacy: no drift dir at all — the folded bootstrap is the
    // best available baseline; derive it there (and only there)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/drift"), true)
    val cptNone = graft.TestDirs("graft_ivf_dcl_b").toString
    IvfIndex.compactIndex(spark, idx, cptNone)
    val derived = driftRows(cptNone)
    assert(derived.nonEmpty && derived.map(_._2).sum == e.count(),
      "fully-legacy baseline covers the whole folded corpus")
  }

  test("driftReport fails fast with a migration hint on unadjudicable layouts") {
    val e = corpus
    val idx = graft.TestDirs("graft_ivf_dff").toString
    IvfIndex.writeIndex(e, idx, nlist = 16, iters = 2)
    IvfIndex.appendIndex(plantedDrift(e), idx, batchId = 0L)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/drift/batch=-1"), true)
    val noRef = intercept[IllegalArgumentException] {
      IvfIndex.driftReport(spark, idx).collect()
    }
    assert(noRef.getMessage.contains("build-time baseline is missing"),
      s"got: ${noRef.getMessage}")
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/drift"), true)
    val noDir = intercept[IllegalArgumentException] {
      IvfIndex.driftReport(spark, idx).collect()
    }
    assert(noDir.getMessage.contains("predates drift tracking"),
      s"got: ${noDir.getMessage}")
  }

  test("streamed ingest serves identically to one batch-append of the same docs") {
    val e = corpus
    val root = graft.TestDirs("graft_ivf_str").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), s"$root/a", nlist = 16, iters = 2)
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), s"$root/b", nlist = 16, iters = 2)
    graft.streaming.IndexStream.runToCompletion(
      spark, e.filter(col("vec_id") % 2 =!= 0), k = 3,
      graft.streaming.IvfIngest,
      indexRoot = s"$root/a", checkpoint = s"$root/ckpt")
    IvfIndex.appendIndex(e.filter(col("vec_id") % 2 =!= 0), s"$root/b", batchId = 9L)
    assert(rows(IvfIndex.topK(spark, s"$root/a", queries(e), 4, 5))
      == rows(IvfIndex.topK(spark, s"$root/b", queries(e), 4, 5)),
      "micro-batched stream ingest must equal a single append of the same vectors")
  }
}
