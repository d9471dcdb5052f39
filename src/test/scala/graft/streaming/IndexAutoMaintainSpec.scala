package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.{Bm25Index, IndexGenerations, IvfIndex, NearDupLsh, PrefixFilterJoin}

/** Auto-maintenance WIRED INTO the four ingest streams, specified once
  * over a table of them: with `spark.graft.index.autoMaintain` on, each
  * micro-batch tick appends to the active generation and — when the
  * compaction trigger is due — compacts into `_gen=<batchId>` and adopts
  * it atomically (IndexGenerations). The contracts under test:
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
    spark.conf.set(graft.Tunables.AutoMaintain.key, "true")
    spark.conf.set("spark.graft.index.compactMinBatches", trigger.toString)
    try body
    finally {
      spark.conf.unset(graft.Tunables.AutoMaintain.key)
      spark.conf.unset("spark.graft.index.compactMinBatches")
    }
  }

  private def acceptedSet(logPath: String): Set[(Long, Int)] =
    spark.read.parquet(logPath).select(col("doc_id"), col("batch"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def embeddings = {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
  }

  /** One stream under auto-maintenance: its feed (`k` micro-batches), the
    * index bootstrap, the ingest writing under a run root, the decisions
    * observed at a run root (which must not move across adopted swaps),
    * and the stream's own checks on the (plain, auto) run roots.
    */
  private case class StreamCase(name: String, k: Int, rows: () => DataFrame,
      bootstrap: String => Unit, ingest: String => IndexIngest,
      decisions: String => Any, extra: (String, String) => Unit)

  private def run(c: StreamCase): String = {
    val root = graft.TestDirs("graft_am").toString
    c.bootstrap(s"$root/idx")
    IndexStream.runToCompletion(spark, c.rows(), c.k, c.ingest(root),
      indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
    root
  }

  /** Each stream's auto-maintained run, made once per suite: the LSH one
    * also serves as the crash-window test's uncrashed twin (the same
    * pmod(doc_id, 6) batches at trigger 2).
    */
  private val autoRuns = scala.collection.mutable.Map.empty[String, String]
  private def autoRun(c: StreamCase): String =
    autoRuns.getOrElseUpdate(c.name, withAutoMaintain(trigger = 2)(run(c)))

  private def served(topk: String => Seq[_]): String => Any =
    root => topk(IndexGenerations.activePath(spark, s"$root/idx"))

  private def bm25TopK(path: String): Seq[(Long, Long, Any, Int)] =
    Bm25Index.topK(spark, path,
      Seq((1L, "table"), (1L, "scan"), (2L, "row"), (2L, "query")), k = 5)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.getInt(3))).toSeq
      .sortBy(t => (t._1, t._4))

  private def ivfTopK(path: String): Seq[(Long, Long)] = {
    val q = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm2").as("qn"))
    IvfIndex.topK(spark, path, q, nprobe = 4, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private val lshStream = StreamCase(
    "LSH stream: auto-maintained accepts ≡ unmaintained; generations adopted",
    k = 6, () => docs, _ => (),
    root => NearDupIngest(s"$root/log", threshold = 0.8, maxBucket = 4096),
    root => acceptedSet(s"$root/log"),
    { (plain, auto) =>
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
    })

  private val streams = Seq(
    lshStream,
    StreamCase("ppjoin stream: auto-maintained accepts ≡ unmaintained",
      k = 5, () => docs, _ => (),
      root => PpJoinIngest(s"$root/log", num = 4, den = 5),
      root => acceptedSet(s"$root/log"), (_, _) => ()),
    StreamCase("BM25 stream: auto-maintained retrieval ≡ unmaintained",
      k = 5, () => docs.filter(col("doc_id") % 2 =!= 0),
      idx => Bm25Index.writeIndex(docs.filter(col("doc_id") % 2 === 0), idx),
      _ => Bm25Ingest, served(bm25TopK), (_, _) => ()),
    StreamCase("IVF stream: auto-maintained ANN serve ≡ unmaintained; drift " +
        "sidecars survive the adopted compactions",
      k = 5, () => embeddings.filter(col("vec_id") % 2 =!= 0),
      idx => IvfIndex.writeIndex(embeddings.filter(col("vec_id") % 2 === 0),
        idx, nlist = 16, iters = 2),
      _ => IvfIngest, served(ivfTopK),
      { (_, auto) =>
        // the adopted generation still adjudicates drift: the build-time
        // reference was carried (never folded), so the report stays armed
        assert(IvfIndex.driftReport(spark,
          IndexGenerations.activePath(spark, s"$auto/idx")).collect()
          .forall(!_.getAs[Boolean]("drifted")),
          "representative stream appends must not read as drift")
      }))

  streams.foreach { c =>
    test(c.name) {
      val plain = run(c)
      val auto = autoRun(c)
      assert(c.decisions(auto) == c.decisions(plain),
        "accept/serve decisions must be byte-identical across adopted swaps")
      assert(IndexGenerations.generations(spark, s"$auto/idx").nonEmpty)
      c.extra(plain, auto)
    }
  }

  test("pruneGenerations sweeps abandoned unadopted targets below the " +
      "adopted head, never at or above it") {
    val root = graft.TestDirs("graft_am_prune").toString
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
    // the uncrashed twin is the LSH stream's auto-maintained run: ticks
    // 0..5 over the same pmod(doc_id, 6) batches at trigger 2
    val uncrashed = autoRun(lshStream)
    val crashed = graft.TestDirs("graft_am_cr_c").toString
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(6)) === i)
    def tick(root: String, id: Long, b: org.apache.spark.sql.DataFrame): Unit =
      IndexStream.applyBatchMaintained(spark,
        NearDupIngest(s"$root/log", 0.8, 4096), s"$root/idx", id, b)
    withAutoMaintain(trigger = 2) {
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
