package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Streaming CDC merge: three micro-batches of U/I/D changes applied
  * through foreachBatch, each committing one catalog snapshot. The final
  * state must equal folding the same changes in batch, and every
  * intermediate state must remain time-travel readable — the streaming
  * path adds NO semantics beyond batch MERGE, only incremental arrival.
  */
class CdcMergeStreamSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.cdcm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.cdcm.root",
      graft.TestDirs("graft_cdcm").toString)
    s
  }

  test("three streamed micro-batches equal the batch fold; snapshots accumulate") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE cdcm.ns.acct (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO cdcm.ns.acct VALUES (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)")

    val feed = MemoryStream[(Long, Double, String)](sp)
    val q = CdcMergeStream.start(
      "cdcm.ns.acct",
      feed.toDF().toDF("id", "bal", "op"),
      keyCols = Seq("id"),
      checkpoint = graft.TestDirs("graft_cdcm_ckpt").toString)

    def state(sql: String): Set[(Long, Double)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

    try {
      feed.addData((2L, 25.0, "U"), (5L, 50.0, "I")) // batch 1: update + insert
      q.processAllAvailable()
      assert(state("SELECT id, bal FROM cdcm.ns.acct") ==
        Set((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)))

      feed.addData((3L, 0.0, "D")) // batch 2: delete
      q.processAllAvailable()
      assert(state("SELECT id, bal FROM cdcm.ns.acct") ==
        Set((1L, 10.0), (2L, 25.0), (4L, 40.0), (5L, 50.0)))

      feed.addData((1L, 11.0, "U"), (4L, 0.0, "D"), (6L, 60.0, "I")) // batch 3
      q.processAllAvailable()
    } finally q.stop()

    val finalState = state("SELECT id, bal FROM cdcm.ns.acct")
    assert(finalState == Set((1L, 11.0), (2L, 25.0), (5L, 50.0), (6L, 60.0)))

    // every pre-batch state stays readable: snapshot 1 is the seed insert,
    // snapshots 2..4 are the three streamed merges
    assert(state("SELECT id, bal FROM cdcm.ns.acct VERSION AS OF 1") ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    assert(state("SELECT id, bal FROM cdcm.ns.acct VERSION AS OF 2") ==
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)))
    assert(state("SELECT id, bal FROM cdcm.ns.acct VERSION AS OF 3") ==
      Set((1L, 10.0), (2L, 25.0), (4L, 40.0), (5L, 50.0)))
    assert(state("SELECT id, bal FROM cdcm.ns.acct VERSION AS OF 4") == finalState)
  }

  test("crash between merge commit and checkpoint: re-delivered batch is not double-merged") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE cdcm.ns.crash (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO cdcm.ns.crash VALUES (1, 10.0), (2, 20.0)")
    val appId = CdcMergeStream.appIdFor("/ckpt/crash-test")

    def state(): Set[(Long, Double)] =
      spark.sql("SELECT id, bal FROM cdcm.ns.crash").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet

    // batch 0 applies: delete key 1, insert key 3, update key 2
    val b0 = Seq((1L, 0.0, "D"), (3L, 30.0, "I"), (2L, 25.0, "U"))
      .toDF("id", "bal", "op")
    CdcMergeStream.applyBatch("cdcm.ns.crash", b0, Seq("id"), "op", appId, 0L)
    val afterB0 = state()
    assert(afterB0 == Set((2L, 25.0), (3L, 30.0)))

    // crash window: the merge committed but the checkpoint didn't — a
    // restarted query re-delivers batch 0. Blind re-merge would
    // resurrect key 1's delete as a no-op but re-run I/U on the new
    // base; the txn marker must make the replay a no-op instead.
    val versionsBefore = graft.sources.Manifest.listSnapshots(
      java.nio.file.Paths.get(spark.conf.get("spark.sql.catalog.cdcm.root"), "ns", "crash"))
    CdcMergeStream.applyBatch("cdcm.ns.crash", b0, Seq("id"), "op", appId, 0L)
    assert(state() == afterB0) // no state change
    assert(graft.sources.Manifest.listSnapshots(
      java.nio.file.Paths.get(spark.conf.get("spark.sql.catalog.cdcm.root"), "ns", "crash"))
      == versionsBefore) // and no snapshot committed — the replay was a true no-op

    // the next batch (1) still applies normally after the replay
    val b1 = Seq((3L, 31.0, "U")).toDF("id", "bal", "op")
    CdcMergeStream.applyBatch("cdcm.ns.crash", b1, Seq("id"), "op", appId, 1L)
    assert(state() == Set((2L, 25.0), (3L, 31.0)))

    // a DIFFERENT stream (other checkpoint) is not blocked by this one's marker
    val otherApp = CdcMergeStream.appIdFor("/ckpt/other")
    val b0other = Seq((4L, 40.0, "I")).toDF("id", "bal", "op")
    CdcMergeStream.applyBatch("cdcm.ns.crash", b0other, Seq("id"), "op", otherApp, 0L)
    assert(state() == Set((2L, 25.0), (3L, 31.0), (4L, 40.0)))
    spark.sql("DROP TABLE cdcm.ns.crash")
  }

  test("restart from checkpoint resumes the stream with no re-application") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE cdcm.ns.restart (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO cdcm.ns.restart VALUES (1, 10.0)")
    val ckpt = graft.TestDirs("graft_cdcm_restart").toString

    def state(): Set[(Long, Double)] =
      spark.sql("SELECT id, bal FROM cdcm.ns.restart").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet

    // first incarnation: two batches, then a hard stop (the "crash")
    val feed1 = MemoryStream[(Long, Double, String)](sp)
    val q1 = CdcMergeStream.start("cdcm.ns.restart",
      feed1.toDF().toDF("id", "bal", "op"), Seq("id"), ckpt)
    try {
      feed1.addData((2L, 20.0, "I"))
      q1.processAllAvailable()
      feed1.addData((1L, 11.0, "U"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(state() == Set((1L, 11.0), (2L, 20.0)))

    // second incarnation from the SAME checkpoint: MemoryStream state
    // doesn't survive restarts, so simulate the recovery contract
    // directly — Spark re-delivers the last possibly-uncommitted batch
    // (id 1) to foreachBatch, then feeds new data as batch 2.
    val appId = CdcMergeStream.appIdFor(ckpt)
    val replay = Seq((1L, 11.0, "U")).toDF("id", "bal", "op")
    CdcMergeStream.applyBatch("cdcm.ns.restart", replay, Seq("id"), "op", appId, 1L)
    assert(state() == Set((1L, 11.0), (2L, 20.0))) // replay: no-op

    val next = Seq((3L, 30.0, "I")).toDF("id", "bal", "op")
    CdcMergeStream.applyBatch("cdcm.ns.restart", next, Seq("id"), "op", appId, 2L)
    assert(state() == Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))

    // final state equals the batch fold of all distinct batches — the
    // re-delivered batch contributed exactly once
    spark.sql("DROP TABLE cdcm.ns.restart")
  }

  test("a duplicate key within one micro-batch fails the batch loudly") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE cdcm.ns.dup (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO cdcm.ns.dup VALUES (1, 1.0)")

    val feed = MemoryStream[(Long, Double, String)](sp)
    val q = CdcMergeStream.start(
      "cdcm.ns.dup",
      feed.toDF().toDF("id", "bal", "op"),
      keyCols = Seq("id"),
      checkpoint = graft.TestDirs("graft_cdcm_ckpt2").toString)
    try {
      feed.addData((1L, 2.0, "U"), (1L, 0.0, "D"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      assert(ex.getMessage.contains("multiple rows per key") ||
        Option(ex.getCause).exists(_.getMessage.contains("multiple rows per key")))
      // the failed batch committed nothing — the table still serves the seed
      assert(spark.sql("SELECT id, bal FROM cdcm.ns.dup").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((1L, 1.0)))
    } finally q.stop()
  }
}
