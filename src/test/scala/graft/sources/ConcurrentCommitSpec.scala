package graft.sources

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import java.util.concurrent.TimeUnit.MINUTES
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Concurrent committers must serialize on the manifest: without the
  * commit lock, two appends read the same previous manifest and the
  * second swap silently drops the first writer's files (lost update).
  * Eight threads x five appends each — every row must survive.
  */
class ConcurrentCommitSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.conccat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.conccat.root",
      graft.TestDirs("graft_conc").toString)
    s
  }

  test("parallel appends all survive the manifest merge") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE conccat.ns.p (writer BIGINT, seq BIGINT)")
    val futures = (0 until 8).map { w =>
      Future {
        (0 until 5).foreach { i =>
          Seq((w.toLong, i.toLong)).toDF("writer", "seq")
            .coalesce(1).writeTo("conccat.ns.p").append()
        }
      }
    }
    Await.result(Future.sequence(futures), 5.minutes)
    val rows = spark.table("conccat.ns.p").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for (w <- 0 until 8; i <- 0 until 5) yield (w.toLong, i.toLong)).toSet
    assert(rows == expected,
      s"lost ${expected.diff(rows).size} of ${expected.size} appended rows")
    // every commit left a snapshot: history is complete too
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.conccat.root"), "ns", "p")
    assert(Manifest.listSnapshots(dir).size == 40)
  }

  test("compact waits for the commit lock; a file committed under it survives") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE conccat.ns.c (writer BIGINT, seq BIGINT)")
    (0 until 3).foreach(i =>
      Seq((0L, i.toLong)).toDF("writer", "seq").coalesce(1).writeTo("conccat.ns.c").append())
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.conccat.root"), "ns", "c")
    val committed = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // the holder commits an append inside its own lock scope (the sink's
    // commit re-enters it) and keeps the lock until released
    val holder = Future {
      GraftJsonSink.withCommitLock(dir) {
        Seq((1L, 9L)).toDF("writer", "seq").coalesce(1).writeTo("conccat.ns.c").append()
        committed.countDown()
        release.await(2, MINUTES)
      }
    }
    assert(committed.await(2, MINUTES))
    val compaction = Future(GraftCatalog.compact(dir))
    Thread.sleep(1000)
    assert(!compaction.isCompleted, "compact ran while another committer held the lock")
    release.countDown()
    Await.result(holder, 2.minutes)
    assert(Await.result(compaction, 2.minutes) == (4, 1))
    val rows = spark.table("conccat.ns.c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((0L, 0L), (0L, 1L), (0L, 2L), (1L, 9L)))
  }
}
