package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Time-based snapshot retention: expireSnapshots(olderThan) bounds a
  * table's manifest history without compact()'s nuke-everything vacuum.
  * Expired versions must fail loudly on VERSION AS OF; retained versions
  * must keep reading (every file they reference survives the orphan
  * sweep); the live table is untouched.
  */
class GraftExpireSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_expspec").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.expcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.expcat.root", root)
    s
  }

  private def tableDir(name: String) = Paths.get(root, "ns", name)

  private def partFiles(name: String): Set[String] = {
    val s = Files.list(tableDir(name))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSet
    finally s.close()
  }

  private def mkTable(name: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE expcat.ns.$name (id BIGINT, bal DOUBLE)")
    Seq(0L, 100L, 200L).foreach { base =>
      (base until base + 100L).map(i => (i, i.toDouble)).toDF("id", "bal")
        .coalesce(1).writeTo(s"expcat.ns.$name").append()
    }
  }

  test("expire drops old versions and sweeps files only history kept alive") {
    mkTable("e1")
    // copy-on-write UPDATE supersedes one file; the old file survives on
    // disk only for pre-update snapshots
    GraftUpdate.update(spark, "expcat.ns.e1",
      col("id") === 250, Map("bal" -> lit(-1.0d)))
    val dir = tableDir("e1")
    assert(Manifest.listSnapshots(dir) == Seq(1L, 2L, 3L, 4L))
    val live = Manifest.read(dir).files.toSet
    assert(partFiles("e1").size > live.size) // superseded file still on disk

    Thread.sleep(20) // snapshot mtimes strictly before the cutoff
    val (expired, swept) = GraftCatalog.expireSnapshots(dir, olderThanMillis = 0L)
    assert(expired == Seq(1L, 2L, 3L))
    assert(swept.nonEmpty) // the superseded pre-update file is gone
    assert(partFiles("e1") == live)

    // expired versions fail loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM expcat.ns.e1 VERSION AS OF 2").collect()
    }
    assert(e.getMessage.contains("no version 2"))
    // the retained (latest) version and the live table still read fully
    assert(spark.sql("SELECT count(*) FROM expcat.ns.e1 VERSION AS OF 4")
      .head().getLong(0) == 300)
    assert(spark.table("expcat.ns.e1").count() == 300)
    assert(spark.table("expcat.ns.e1").filter("id = 250").head().getDouble(1) == -1.0)
    spark.sql("DROP TABLE expcat.ns.e1")
  }

  test("a generous retention horizon expires nothing") {
    mkTable("e2")
    val dir = tableDir("e2")
    val before = partFiles("e2")
    val (expired, swept) =
      GraftCatalog.expireSnapshots(dir, olderThanMillis = 60L * 60 * 1000)
    assert(expired.isEmpty && swept.isEmpty)
    assert(partFiles("e2") == before)
    // full history still time-travels
    assert(spark.sql("SELECT count(*) FROM expcat.ns.e2 VERSION AS OF 1")
      .head().getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM expcat.ns.e2 VERSION AS OF 3")
      .head().getLong(0) == 300)
    spark.sql("DROP TABLE expcat.ns.e2")
  }

  test("expire on a single-snapshot table is a no-op that keeps it readable") {
    import spark.implicits._
    spark.sql("CREATE TABLE expcat.ns.e3 (id BIGINT, bal DOUBLE)")
    Seq((1L, 1.0)).toDF("id", "bal").writeTo("expcat.ns.e3").append()
    Thread.sleep(20)
    val (expired, swept) = GraftCatalog.expireSnapshots(tableDir("e3"), 0L)
    assert(expired.isEmpty && swept.isEmpty) // latest always retained
    assert(spark.sql("SELECT count(*) FROM expcat.ns.e3 VERSION AS OF 1")
      .head().getLong(0) == 1)
    spark.sql("DROP TABLE expcat.ns.e3")
  }
}
