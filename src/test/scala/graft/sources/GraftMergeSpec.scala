package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** MERGE semantics: upserts replace, inserts add, deletes vanish; the
  * commit is a snapshot — every pre-merge state stays readable via
  * VERSION AS OF until compact() vacuums history.
  */
class GraftMergeSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graftmerge", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftmerge.root",
      graft.TestDirs("graft_merge").toString)
    s
  }

  test("merge applies U/I/D and preserves time travel") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE graftmerge.ns.m (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("INSERT INTO graftmerge.ns.m VALUES " +
      "(1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")

    val changes = Seq(
      (2L, "b2", 20.0, "U"),   // update row 2
      (4L, "d", 4.5, "I"),     // insert row 4
      (3L, null.asInstanceOf[String], 0.0, "D")) // delete row 3
      .toDF("id", "name", "score", "op")
    val n = GraftMerge.into(spark, "graftmerge.ns.m", changes, Seq("id"))
    assert(n == 3)

    val rows = spark.sql("SELECT id, name, score FROM graftmerge.ns.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.5), (2L, "b2", 20.0), (4L, "d", 4.5)))

    // snapshot 1 (the pre-merge insert) still serves the original state
    val v1 = spark.sql("SELECT id, name, score FROM graftmerge.ns.m VERSION AS OF 1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(v1 == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
  }

  test("duplicate keys in the change feed fail loudly before any write") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE graftmerge.ns.m3 (id BIGINT, v LONG)")
    spark.sql("INSERT INTO graftmerge.ns.m3 VALUES (1, 10), (2, 20)")
    // a D plus a U on the same key has no defined merge order
    val conflicting = Seq((2L, 0L, "D"), (2L, 21L, "U")).toDF("id", "v", "op")
    val e = intercept[IllegalArgumentException] {
      GraftMerge.into(spark, "graftmerge.ns.m3", conflicting, Seq("id"))
    }
    assert(e.getMessage.contains("multiple rows per key"), e.getMessage)
    // nothing was committed: table state and history are untouched
    val rows = spark.sql("SELECT id, v FROM graftmerge.ns.m3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L)))
  }

  test("successive merges chain snapshots; compact vacuums orphans and history") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE graftmerge.ns.m2 (id BIGINT, v LONG)")
    spark.sql("INSERT INTO graftmerge.ns.m2 VALUES (1, 10), (2, 20)")
    GraftMerge.into(spark, "graftmerge.ns.m2",
      Seq((2L, 21L, "U")).toDF("id", "v", "op"), Seq("id"))
    GraftMerge.into(spark, "graftmerge.ns.m2",
      Seq((1L, 0L, "D"), (3L, 30L, "I")).toDF("id", "v", "op"), Seq("id"))

    def state(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state("SELECT * FROM graftmerge.ns.m2") == Set((2L, 21L), (3L, 30L)))
    assert(state("SELECT * FROM graftmerge.ns.m2 VERSION AS OF 1") ==
      Set((1L, 10L), (2L, 20L)))
    assert(state("SELECT * FROM graftmerge.ns.m2 VERSION AS OF 2") ==
      Set((1L, 10L), (2L, 21L)))

    // compact: one data file, orphans gone, history restarted
    val root = spark.conf.get("spark.sql.catalog.graftmerge.root")
    val dir = java.nio.file.Paths.get(root, "ns", "m2")
    val (before, after) = GraftCatalog.compact(dir)
    assert(after == 1)
    val partFiles = Files.list(dir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (partFiles.hasNext) names += partFiles.next().getFileName.toString
    assert(names.count(_.startsWith("part-")) == 1, names.mkString(","))
    assert(state("SELECT * FROM graftmerge.ns.m2") == Set((2L, 21L), (3L, 30L)))
    assert(Manifest.listSnapshots(dir) == Seq(1L))
  }

  test("schema evolution: a wider change feed ADDs columns; off by default") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE graftmerge.ns.ev (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graftmerge.ns.ev VALUES (1, 'a'), (2, 'b')")
    val changes = Seq(
      (2L, "b2", 0.9, "U"),
      (3L, "c", 0.5, "I"))
      .toDF("id", "name", "quality", "op")
    // without the flag: loud failure, nothing written
    val e = intercept[Exception](
      GraftMerge.into(spark, "graftmerge.ns.ev", changes, Seq("id")))
    assert(e.getMessage.contains("quality"), e.getMessage)
    assert(spark.table("graftmerge.ns.ev").columns.toSeq == Seq("id", "name"))

    val n = GraftMerge.into(spark, "graftmerge.ns.ev", changes, Seq("id"),
      evolveSchema = true)
    assert(n == 3)
    val rows = spark.sql(
      "SELECT id, name, quality FROM graftmerge.ns.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // the untouched row null-fills the evolved column
    assert(rows == Seq((1L, "a", None), (2L, "b2", Some(0.9)), (3L, "c", Some(0.5))))
    spark.sql("DROP TABLE graftmerge.ns.ev")
  }
}
