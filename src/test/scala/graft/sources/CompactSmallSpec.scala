package graft.sources

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Incremental small-file compaction: compactSmall bin-packs the tiny
  * files a trickle of appends leaves behind, per partition value, as a
  * NORMAL history-preserving commit — pre-compaction snapshots keep
  * reading (originals stay on disk), the grouped layout survives, stats
  * fold so skipping survives, and expireSnapshots later sweeps the
  * replaced originals once no retained snapshot references them.
  */
class CompactSmallSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_csspec").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.cscat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.cscat.root", root)
    s
  }

  private def tableDir(name: String) = Paths.get(root, "ns", name)

  private def schemaOf(name: String) =
    spark.table(s"cscat.ns.$name").schema

  test("bin-packs small files per partition value, preserving history") {
    import spark.implicits._
    spark.sql("CREATE TABLE cscat.ns.c1 (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    // 6 trickle appends -> 12 small files (2 partition values each)
    (0 until 6).foreach { i =>
      Seq((i.toLong, "a"), (i.toLong + 100, "b"))
        .toDF("id", "grp").coalesce(1).writeTo("cscat.ns.c1").append()
    }
    val dir = tableDir("c1")
    val Manifest(rowsBefore, filesBefore, _, _, _) = Manifest.read(dir)
    assert(filesBefore.size == 12)
    val preSnapshot = Manifest.listSnapshots(dir).last

    val (before, after) =
      GraftCatalog.compactSmall(dir, schemaOf("c1"), minBytes = 10000, targetBytes = 100000)
    assert(before == 12 && after == 2, s"expected 12 -> 2, got $before -> $after")

    // content identical, partition grouping intact
    val Manifest(rowsAfter, filesAfter, _, _, _) = Manifest.read(dir)
    assert(rowsAfter == rowsBefore && filesAfter.size == 2)
    assert(spark.table("cscat.ns.c1").count() == 12)
    assert(spark.sql("SELECT CAST(SUM(id) AS BIGINT) FROM cscat.ns.c1")
      .head().getLong(0) == (0 until 6).map(i => i.toLong + i + 100).sum)
    val parts = GraftParts.read(dir)
    assert(filesAfter.forall(parts.contains),
      "merged files must carry partition-value entries (grouped layout)")
    assert(filesAfter.map(parts(_)).toSet == Set(Some("a"), Some("b")))

    // stats folded: every merged file has a stats entry with exact ranges
    val stats = GraftStats.read(dir, schemaOf("c1"))
    filesAfter.foreach { f =>
      val fs = stats.getOrElse(f, fail(s"no stats for merged file $f"))
      assert(fs.rows == 6)
    }

    // pre-compaction snapshot still reads in full (originals still on disk)
    assert(spark.sql(s"SELECT count(*) FROM cscat.ns.c1 VERSION AS OF $preSnapshot")
      .head().getLong(0) == 12)

    // appends continue normally after the rewrite commit
    Seq((999L, "a")).toDF("id", "grp").coalesce(1).writeTo("cscat.ns.c1").append()
    assert(spark.table("cscat.ns.c1").count() == 13)

    // expiring history now sweeps the replaced originals
    Thread.sleep(20)
    val (expired, swept) = GraftCatalog.expireSnapshots(dir, olderThanMillis = 0L)
    assert(expired.nonEmpty)
    assert(swept.toSet.size == 12, s"expected the 12 originals swept, got $swept")
    assert(spark.table("cscat.ns.c1").count() == 13)
    spark.sql("DROP TABLE cscat.ns.c1")
  }

  test("large files are untouched; too-few small files are a no-op") {
    import spark.implicits._
    spark.sql("CREATE TABLE cscat.ns.c2 (id BIGINT)")
    (0 until 3).foreach { i =>
      Seq(i.toLong).toDF("id").coalesce(1).writeTo("cscat.ns.c2").append()
    }
    val dir = tableDir("c2")
    // minBytes below any file size -> nothing qualifies -> no-op commit
    val snaps = Manifest.listSnapshots(dir).size
    val (b0, a0) = GraftCatalog.compactSmall(dir, schemaOf("c2"), minBytes = 1, targetBytes = 1000)
    assert(b0 == 3 && a0 == 3)
    assert(Manifest.listSnapshots(dir).size == snaps, "no-op must not commit")
    // all three are small -> one merged file
    val (b1, a1) = GraftCatalog.compactSmall(dir, schemaOf("c2"), minBytes = 10000, targetBytes = 100000)
    assert(b1 == 3 && a1 == 1)
    assert(spark.table("cscat.ns.c2").count() == 3)
    spark.sql("DROP TABLE cscat.ns.c2")
  }
}
