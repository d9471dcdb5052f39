package graft.sources

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
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
    assert(GraftJsonSink.listSnapshots(dir).size == 40)
  }
}
