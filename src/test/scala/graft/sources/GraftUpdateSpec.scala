package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** UPDATE ... SET ... WHERE on graft-json catalog tables: copy-on-write
  * commits planned by the stats layer — files the predicate provably
  * misses survive in the manifest WITHOUT being read or rewritten; the
  * touched files rewrite through the distributed sink with fresh stats.
  */
class GraftUpdateSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_updspec").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.updcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.updcat.root", root)
    s
  }

  private def dataFiles(table: String): Seq[String] =
    Manifest.read(Paths.get(root, "ns", table)).files

  private def mkTable(name: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE updcat.ns.$name (id BIGINT, s STRING, bal DOUBLE)")
    Seq(0L, 100L, 200L).foreach { base =>
      (base until base + 100L).map(i => (i, s"v$i", i.toDouble)).toDF("id", "s", "bal")
        .coalesce(1).writeTo(s"updcat.ns.$name").append()
    }
  }

  test("update rewrites only the covering file; expression sees the old row") {
    mkTable("u1")
    val before = dataFiles("u1")
    assert(before.size == 3)
    val n = GraftUpdate.update(spark, "updcat.ns.u1",
      col("id") >= 150 && col("id") < 160,
      Map("bal" -> (col("bal") + 1000.0d), "s" -> concat(col("s"), lit("!"))))
    assert(n == 300)
    val after = dataFiles("u1")
    assert(after.size == 3)
    // files 1 and 3 survive by stats proof with their ORIGINAL names
    assert(before.toSet.intersect(after.toSet).size == 2)
    // updated band reflects both SET expressions, evaluated on old values
    val band = spark.table("updcat.ns.u1").filter("id >= 150 AND id < 160")
      .orderBy("id").collect()
    assert(band.length == 10)
    assert(band.head.getString(1) == "v150!" && band.head.getDouble(2) == 1150.0)
    // rows outside the band are untouched, including in the rewritten file
    assert(spark.table("updcat.ns.u1").filter("id = 160").head().getString(1) == "v160")
    assert(spark.table("updcat.ns.u1").filter("id = 50").head().getDouble(2) == 50.0)
    // totals: 10 rows gained 1000 each
    assert(spark.table("updcat.ns.u1").agg(sum("bal")).head().getDouble(0)
      == (0 until 300).map(_.toDouble).sum + 10000.0)
    spark.sql("DROP TABLE updcat.ns.u1")
  }

  test("stats skipping still plans correctly after the rewrite; history serves") {
    mkTable("u2")
    GraftUpdate.update(spark, "updcat.ns.u2",
      col("id") === 250, Map("bal" -> lit(-1.0d)))
    // fresh stats on the rewritten file keep point lookups selective
    assert(spark.table("updcat.ns.u2").filter("id = 250").head().getDouble(2) == -1.0)
    assert(spark.table("updcat.ns.u2").filter("id = 5").head().getDouble(2) == 5.0)
    // pre-update snapshot (version 3 = third append) still serves old value
    val vOld = spark.sql(
      "SELECT bal FROM updcat.ns.u2 VERSION AS OF 3 WHERE id = 250").head().getDouble(0)
    assert(vOld == 250.0)
    spark.sql("DROP TABLE updcat.ns.u2")
  }

  test("update cleans up its staging directory") {
    import scala.jdk.CollectionConverters._
    def stagingDirs: Set[String] = {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_update")).toSet
      finally s.close()
    }
    mkTable("u4")
    val before = stagingDirs
    GraftUpdate.update(spark, "updcat.ns.u4",
      col("id") === 42, Map("bal" -> lit(0.0d)))
    assert(stagingDirs == before) // no leaked graft_update temp dirs
    spark.sql("DROP TABLE updcat.ns.u4")
  }

  test("UNKNOWN predicate keeps the row — SQL three-valued semantics") {
    import spark.implicits._
    spark.sql("CREATE TABLE updcat.ns.u3 (id BIGINT, s STRING, bal DOUBLE)")
    Seq((1L, "a", 1.0), (2L, null.asInstanceOf[String], 2.0), (3L, "c", 3.0))
      .toDF("id", "s", "bal").coalesce(1).writeTo("updcat.ns.u3").append()
    GraftUpdate.update(spark, "updcat.ns.u3",
      col("s") =!= "a", Map("bal" -> lit(0.0d)))
    val rows = spark.table("updcat.ns.u3").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // s = null row: predicate UNKNOWN → untouched
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 0.0)))
    spark.sql("DROP TABLE updcat.ns.u3")
  }
}
