package graft.sources

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** SQL DELETE FROM on graft-json catalog tables: copy-on-write commits
  * planned by the stats layer — untouched files survive by proof, fully
  * matching files drop without being read, mixed files rewrite survivors.
  */
class DeleteWhereSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_delete").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.delcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.delcat.root", root)
    s
  }

  private def dataFiles(table: String): Seq[String] =
    Manifest.read(Paths.get(root, "ns", table)).files

  private def mkTable(name: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE delcat.ns.$name (id BIGINT, s STRING)")
    Seq(0L, 100L, 200L).foreach { base =>
      (base until base + 100L).map(i => (i, s"v$i")).toDF("id", "s")
        .coalesce(1).writeTo(s"delcat.ns.$name").append()
    }
  }

  test("delete rewrites only the covering file; others survive by stats proof") {
    mkTable("t1")
    val before = dataFiles("t1")
    assert(before.size == 3)
    spark.sql("DELETE FROM delcat.ns.t1 WHERE id >= 150 AND id < 160")
    val after = dataFiles("t1")
    // files 1 and 3 untouched (same names); file 2 replaced by a rewrite
    assert(after.size == 3)
    assert(before.toSet.intersect(after.toSet).size == 2)
    assert(spark.table("delcat.ns.t1").count() == 290)
    assert(spark.sql("SELECT count(*) FROM delcat.ns.t1 WHERE id BETWEEN 150 AND 159")
      .head().getLong(0) == 0)
    // skipping still works against the rewritten file's fresh stats
    assert(spark.sql("SELECT s FROM delcat.ns.t1 WHERE id = 160").head().getString(0) == "v160")
    spark.sql("DROP TABLE delcat.ns.t1")
  }

  test("a fully matching file drops from the manifest without a rewrite") {
    mkTable("t2")
    val before = dataFiles("t2")
    spark.sql("DELETE FROM delcat.ns.t2 WHERE id >= 100 AND id < 200")
    val after = dataFiles("t2")
    assert(after.size == 2)
    // both survivors are ORIGINAL files — no rewrite happened anywhere
    assert(after.toSet.subsetOf(before.toSet))
    assert(spark.table("delcat.ns.t2").count() == 200)
    spark.sql("DROP TABLE delcat.ns.t2")
  }

  test("pre-delete snapshots keep serving through VERSION AS OF") {
    mkTable("t3")
    spark.sql("DELETE FROM delcat.ns.t3 WHERE id < 50")
    assert(spark.table("delcat.ns.t3").count() == 250)
    // snapshot 3 = after the third append, before the delete
    assert(spark.sql("SELECT count(*) FROM delcat.ns.t3 VERSION AS OF 3")
      .head().getLong(0) == 300)
    // snapshot 4 = the delete commit
    assert(spark.sql("SELECT count(*) FROM delcat.ns.t3 VERSION AS OF 4")
      .head().getLong(0) == 250)
    spark.sql("DROP TABLE delcat.ns.t3")
  }

  test("three-valued logic: rows where the predicate is UNKNOWN survive") {
    import spark.implicits._
    spark.sql("CREATE TABLE delcat.ns.t4 (id BIGINT, s STRING)")
    Seq((1L, "a"), (2L, null), (3L, "b")).toDF("id", "s")
      .coalesce(1).writeTo("delcat.ns.t4").append()
    spark.sql("DELETE FROM delcat.ns.t4 WHERE s < 'b'") // null < 'b' is UNKNOWN
    val left = spark.table("delcat.ns.t4").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(2L, 3L))
    // IN with a NULL element: unmatched rows are UNKNOWN, matched delete
    spark.sql("DELETE FROM delcat.ns.t4 WHERE s IN ('b', NULL)")
    assert(spark.table("delcat.ns.t4").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // IS NULL is definite
    spark.sql("DELETE FROM delcat.ns.t4 WHERE s IS NULL")
    assert(spark.table("delcat.ns.t4").count() == 0)
    spark.sql("DROP TABLE delcat.ns.t4")
  }

  test("delete everything empties the table but keeps it readable") {
    mkTable("t5")
    spark.sql("DELETE FROM delcat.ns.t5 WHERE id >= 0")
    assert(spark.table("delcat.ns.t5").count() == 0)
    assert(dataFiles("t5").isEmpty)
    // still writable after
    spark.sql("INSERT INTO delcat.ns.t5 VALUES (7, 'x')")
    assert(spark.table("delcat.ns.t5").count() == 1)
    spark.sql("DROP TABLE delcat.ns.t5")
  }
}
