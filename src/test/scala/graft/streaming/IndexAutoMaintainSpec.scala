package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.{Bm25Index, IndexGenerations, IvfIndex, NearDupLsh, PrefixFilterJoin}

/** Auto-maintenance WIRED INTO the four ingest streams: with
  * `spark.graft.index.autoMaintain` on, each micro-batch tick appends to
  * the active generation and — when the compaction trigger is due —
  * compacts into `_gen=<batchId>` and adopts it atomically
  * (IndexGenerations). The contracts under test:
  *
  *  - accept/serve decisions across a triggered, adopted swap are
  *    byte-identical to the untriggered run (the serve-invariance of
  *    compaction lifted through the adoption protocol);
  *  - redelivery ACROSS the swap (crash after adopt, before the
  *    checkpoint commit) replays as a no-op;
  *  - a crashed, never-adopted compaction target (main dir or LSH
  *    suffix-sibling artifacts) is invisible, swept, and rebuilt.
  */
class IndexAutoMaintainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def withAutoMaintain[T](trigger: Int)(body: => T): T = {
    spark.conf.set(IndexGenerations.ConfKey, "true")
    spark.conf.set("spark.graft.index.compactMinBatches", trigger.toString)
    try body
    finally {
      spark.conf.unset(IndexGenerations.ConfKey)
      spark.conf.unset("spark.graft.index.compactMinBatches")
    }
  }

  private def acceptedSet(logPath: String): Set[(Long, Int)] =
    spark.read.parquet(logPath).select(col("doc_id"), col("batch"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("LSH stream: auto-maintained accepts ≡ unmaintained; generations adopted") {
    val plain = Files.createTempDirectory("graft_am_lsh_p").toString
    IndexStream.runToCompletion(spark, docs, k = 6,
      NearDupIngest(s"$plain/log", threshold = 0.8, maxBucket = 4096),
      indexRoot = s"$plain/idx", checkpoint = s"$plain/ckpt")
    val auto = Files.createTempDirectory("graft_am_lsh_a").toString
    withAutoMaintain(trigger = 2) {
      IndexStream.runToCompletion(spark, docs, k = 6,
        NearDupIngest(s"$auto/log", threshold = 0.8, maxBucket = 4096),
        indexRoot = s"$auto/idx", checkpoint = s"$auto/ckpt")
    }
    assert(acceptedSet(s"$auto/log") == acceptedSet(s"$plain/log"),
      "accept decisions must be byte-identical across adopted swaps")
    val gens = IndexGenerations.generations(spark, s"$auto/idx")
    assert(gens.size >= 2,
      s"6 batches over trigger 2 must adopt repeatedly, got $gens")
    // the standing signatures are the same corpus either way
    val active = IndexGenerations.activePath(spark, s"$auto/idx")
    assert(active == s"$auto/idx/_gen=${gens.last}")
    assert(NearDupLsh.readIndex(spark, active)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq ==
      NearDupLsh.readIndex(spark, s"$plain/idx")
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq)
    // retention is explicit, never the tick's job: all gens still exist
    val pruned = IndexGenerations.pruneGenerations(spark, s"$auto/idx",
      keepLatest = 1)
    assert(pruned == gens.dropRight(1))
    assert(IndexGenerations.activePath(spark, s"$auto/idx") == active,
      "pruning old generations must not move the active index")
  }

  test("ppjoin stream: auto-maintained accepts ≡ unmaintained") {
    val plain = Files.createTempDirectory("graft_am_pp_p").toString
    IndexStream.runToCompletion(spark, docs, k = 5,
      PpJoinIngest(s"$plain/log", num = 4, den = 5),
      indexRoot = s"$plain/idx", checkpoint = s"$plain/ckpt")
    val auto = Files.createTempDirectory("graft_am_pp_a").toString
    withAutoMaintain(trigger = 2) {
      IndexStream.runToCompletion(spark, docs, k = 5,
        PpJoinIngest(s"$auto/log", num = 4, den = 5),
        indexRoot = s"$auto/idx", checkpoint = s"$auto/ckpt")
    }
    assert(acceptedSet(s"$auto/log") == acceptedSet(s"$plain/log"))
    assert(IndexGenerations.generations(spark, s"$auto/idx").nonEmpty)
  }

  test("BM25 stream: auto-maintained retrieval ≡ unmaintained") {
    def topk(path: String): Seq[(Long, Long, Any, Int)] =
      Bm25Index.topK(spark, path,
        Seq((1L, "table"), (1L, "scan"), (2L, "row"), (2L, "query")), k = 5)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val plain = Files.createTempDirectory("graft_am_bm_p").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 2 === 0), s"$plain/idx")
    IndexStream.runToCompletion(spark,
      docs.filter(col("doc_id") % 2 =!= 0), k = 5, Bm25Ingest,
      indexRoot = s"$plain/idx", checkpoint = s"$plain/ckpt")
    val auto = Files.createTempDirectory("graft_am_bm_a").toString
    Bm25Index.writeIndex(docs.filter(col("doc_id") % 2 === 0), s"$auto/idx")
    withAutoMaintain(trigger = 2) {
      IndexStream.runToCompletion(spark,
        docs.filter(col("doc_id") % 2 =!= 0), k = 5, Bm25Ingest,
        indexRoot = s"$auto/idx", checkpoint = s"$auto/ckpt")
    }
    val gens = IndexGenerations.generations(spark, s"$auto/idx")
    assert(gens.nonEmpty)
    assert(topk(IndexGenerations.activePath(spark, s"$auto/idx"))
      == topk(s"$plain/idx"),
      "retrieval must be identical on the adopted generation")
  }

  test("IVF stream: auto-maintained ANN serve ≡ unmaintained; drift " +
      "sidecars survive the adopted compactions") {
    graft.functions.GraftFunctions.register(spark)
    val e = graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm2").as("qn"))
    def topk(path: String): Seq[(Long, Long)] =
      IvfIndex.topK(spark, path, q, nprobe = 4, k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val plain = Files.createTempDirectory("graft_am_ivf_p").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), s"$plain/idx",
      nlist = 16, iters = 2)
    IndexStream.runToCompletion(spark, e.filter(col("vec_id") % 2 =!= 0),
      k = 5, IvfIngest, indexRoot = s"$plain/idx", checkpoint = s"$plain/ckpt")
    val auto = Files.createTempDirectory("graft_am_ivf_a").toString
    IvfIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), s"$auto/idx",
      nlist = 16, iters = 2)
    withAutoMaintain(trigger = 2) {
      IndexStream.runToCompletion(spark, e.filter(col("vec_id") % 2 =!= 0),
        k = 5, IvfIngest, indexRoot = s"$auto/idx", checkpoint = s"$auto/ckpt")
    }
    val gens = IndexGenerations.generations(spark, s"$auto/idx")
    assert(gens.nonEmpty)
    val active = IndexGenerations.activePath(spark, s"$auto/idx")
    assert(topk(active) == topk(s"$plain/idx"))
    // the adopted generation still adjudicates drift: the build-time
    // reference was carried (never folded), so the report stays armed
    assert(IvfIndex.driftReport(spark, active).collect()
      .forall(!_.getAs[Boolean]("drifted")),
      "representative stream appends must not read as drift")
  }

  test("pruneGenerations sweeps abandoned unadopted targets below the " +
      "adopted head, never at or above it") {
    val root = Files.createTempDirectory("graft_am_prune").toString
    def mk(id: Long, adopted: Boolean): Unit = {
      val d = new java.io.File(s"$root/_gen=$id"); d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("x.parquet"), "x")
      if (adopted) IndexGenerations.adopt(spark, root, id)
    }
    // 1: crashed target whose batch will never redeliver; 2,3: adopted;
    // 7: possibly an in-flight compaction above the adopted head
    mk(1, adopted = false); mk(2, adopted = true)
    mk(3, adopted = true); mk(7, adopted = false)
    new java.io.File(s"$root/_gen=1_stats").mkdirs() // sibling artifact
    assert(IndexGenerations.generations(spark, root) == Seq(2L, 3L))
    val dropped = IndexGenerations.pruneGenerations(spark, root,
      keepLatest = 1)
    assert(dropped == Seq(2L))
    assert(!new java.io.File(s"$root/_gen=1").exists,
      "abandoned unadopted target below the head must be swept")
    assert(!new java.io.File(s"$root/_gen=1_stats").exists)
    assert(!new java.io.File(s"$root/_gen=2").exists)
    assert(new java.io.File(s"$root/_gen=3").exists)
    assert(new java.io.File(s"$root/_gen=7").exists,
      "an id above the adopted head may be mid-write — never swept")
  }

  test("crash windows across the swap: redelivery after adoption no-ops; " +
      "a never-adopted half-written target is swept and rebuilt") {
    val uncrashed = Files.createTempDirectory("graft_am_cr_u").toString
    val crashed = Files.createTempDirectory("graft_am_cr_c").toString
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(6)) === i)
    def tick(root: String, id: Long, b: org.apache.spark.sql.DataFrame): Unit =
      IndexStream.applyBatchMaintained(spark,
        NearDupIngest(s"$root/log", 0.8, 4096), s"$root/idx", id, b)
    withAutoMaintain(trigger = 2) {
      (0 until 6).foreach(i => tick(uncrashed, i.toLong, batch(i)))
      // crashed twin: ticks 0..2, then tick 3 adopts _gen=3 (committed
      // dirs {0,1,2} > trigger) ... and the checkpoint commit is "lost"
      // — batch 3 redelivers
      (0 until 4).foreach(i => tick(crashed, i.toLong, batch(i)))
      val gensAtAdopt = IndexGenerations.generations(spark, s"$crashed/idx")
      assert(gensAtAdopt == Seq(3L),
        s"trigger 2 must adopt at tick 3, got $gensAtAdopt")
      val before = acceptedSet(s"$crashed/log")
      tick(crashed, 3L, batch(3)) // redelivery ACROSS the swap
      assert(acceptedSet(s"$crashed/log") == before,
        "redelivered batch must replay as a no-op on the adopted generation")
      assert(IndexGenerations.generations(spark, s"$crashed/idx") == Seq(3L),
        "redelivery must not re-compact or re-adopt its own generation")
      tick(crashed, 4L, batch(4)) // not due on the fresh generation
      assert(IndexGenerations.generations(spark, s"$crashed/idx") == Seq(3L))
      // crash DURING the next compaction: tick 5's target half-written
      // (main dir and an LSH suffix-sibling), never adopted — invisible,
      // then swept and rebuilt by the re-run tick (due again: the
      // adopted generation holds {-1, 3, 4} committed dirs > trigger)
      val halfMain = new java.io.File(s"$crashed/idx/_gen=5/batch=9999")
      assert(halfMain.mkdirs())
      java.nio.file.Files.writeString(
        halfMain.toPath.resolve("junk.parquet"), "not parquet")
      val halfSib = new java.io.File(s"$crashed/idx/_gen=5_stats")
      assert(halfSib.mkdirs())
      java.nio.file.Files.writeString(
        halfSib.toPath.resolve("junk.parquet"), "not parquet")
      assert(IndexGenerations.activePath(spark, s"$crashed/idx")
        == s"$crashed/idx/_gen=3", "unadopted target must stay invisible")
      tick(crashed, 5L, batch(5))
      assert(!halfMain.exists && !halfSib.toPath.resolve("junk.parquet")
        .toFile.exists,
        "the crashed target must be swept before the fresh compaction")
      assert(IndexGenerations.generations(spark, s"$crashed/idx")
        == Seq(3L, 5L))
      // end state: decisions identical to the uncrashed twin
      assert(acceptedSet(s"$crashed/log") == acceptedSet(s"$uncrashed/log"))
    }
  }
}
