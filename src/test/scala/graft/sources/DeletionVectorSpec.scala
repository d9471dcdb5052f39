package graft.sources

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Merge-on-read deletion vectors (`spark.graft.delete.mode=mor`):
  * DELETE records per-file deleted ordinals in the manifest instead of
  * rewriting data files; scans subtract them, rewrites materialize them.
  */
class DeletionVectorSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_dv").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.dvcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.dvcat.root", root)
    s
  }

  private def tdir(table: String) = Paths.get(root, "ns", table)
  private def dataFiles(table: String): Seq[String] =
    Manifest.read(tdir(table)).files
  private def dvsOf(table: String): Map[String, Seq[Int]] =
    Manifest.read(tdir(table)).dvs

  private def withMor[A](body: => A): A = {
    spark.conf.set("spark.graft.delete.mode", "mor")
    try body finally spark.conf.set("spark.graft.delete.mode", "cow")
  }

  private def mkTable(name: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE dvcat.ns.$name (id BIGINT, s STRING)")
    Seq(0L, 100L, 200L).foreach { base =>
      (base until base + 100L).map(i => (i, s"v$i")).toDF("id", "s")
        .coalesce(1).writeTo(s"dvcat.ns.$name").append()
    }
  }

  test("MOR delete rewrites no data file; the vector subtracts at read") {
    mkTable("m1")
    val before = dataFiles("m1")
    withMor { spark.sql("DELETE FROM dvcat.ns.m1 WHERE id >= 150 AND id < 160") }
    // every data file survives BY NAME — the delete was manifest-only
    assert(dataFiles("m1") == before)
    val dvs = dvsOf("m1")
    assert(dvs.size == 1 && dvs.head._2.length == 10)
    assert(spark.table("dvcat.ns.m1").count() == 290)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m1 WHERE id BETWEEN 150 AND 159")
      .head().getLong(0) == 0)
    // surviving rows of the vectored file still read
    assert(spark.sql("SELECT s FROM dvcat.ns.m1 WHERE id = 160").head().getString(0) == "v160")
    spark.sql("DROP TABLE dvcat.ns.m1")
  }

  test("MOR result multiset equals copy-on-write on the same deletes") {
    mkTable("m2"); mkTable("m2cow")
    val pred = "id IN (3, 77, 154, 155, 208, 299) OR (id >= 120 AND id < 140)"
    withMor { spark.sql(s"DELETE FROM dvcat.ns.m2 WHERE $pred") }
    spark.sql(s"DELETE FROM dvcat.ns.m2cow WHERE $pred")
    val a = spark.table("dvcat.ns.m2").collect().map(_.toString).sorted.toSeq
    val b = spark.table("dvcat.ns.m2cow").collect().map(_.toString).sorted.toSeq
    assert(a == b && a.size == 274)
    spark.sql("DROP TABLE dvcat.ns.m2"); spark.sql("DROP TABLE dvcat.ns.m2cow")
  }

  test("a second MOR delete unions ordinals; full-file deletion drops the file") {
    mkTable("m3")
    withMor {
      spark.sql("DELETE FROM dvcat.ns.m3 WHERE id >= 150 AND id < 160")
      spark.sql("DELETE FROM dvcat.ns.m3 WHERE id >= 155 AND id < 170")
      assert(dvsOf("m3").head._2.length == 20)
      assert(spark.table("dvcat.ns.m3").count() == 280)
      // delete the rest of the middle file: it must DROP, vector and all
      spark.sql("DELETE FROM dvcat.ns.m3 WHERE id >= 100 AND id < 200")
      assert(dataFiles("m3").size == 2)
      assert(dvsOf("m3").isEmpty)
      assert(spark.table("dvcat.ns.m3").count() == 200)
    }
    spark.sql("DROP TABLE dvcat.ns.m3")
  }

  test("VERSION AS OF replays the vectors in force at each snapshot") {
    mkTable("m4")
    withMor {
      spark.sql("DELETE FROM dvcat.ns.m4 WHERE id < 10")
      spark.sql("DELETE FROM dvcat.ns.m4 WHERE id >= 290")
    }
    // v3 = after third append; v4 = first delete; v5 = second delete
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m4 VERSION AS OF 3").head().getLong(0) == 300)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m4 VERSION AS OF 4").head().getLong(0) == 290)
    assert(spark.sql("SELECT sum(id) FROM dvcat.ns.m4 VERSION AS OF 4").head().getLong(0) ==
      (10L until 300L).sum)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m4 VERSION AS OF 5").head().getLong(0) == 280)
    spark.sql("DROP TABLE dvcat.ns.m4")
  }

  test("appends after a MOR delete keep the vector; compaction materializes it") {
    import spark.implicits._
    mkTable("m5")
    withMor { spark.sql("DELETE FROM dvcat.ns.m5 WHERE id >= 40 AND id < 60") }
    (300L until 310L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).writeTo("dvcat.ns.m5").append()
    assert(dvsOf("m5").size == 1)
    assert(spark.table("dvcat.ns.m5").count() == 290)
    val sch = spark.table("dvcat.ns.m5").schema
    GraftCatalog.compact(tdir("m5"), Some(sch))
    assert(dvsOf("m5").isEmpty)
    assert(spark.table("dvcat.ns.m5").count() == 290)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m5 WHERE id BETWEEN 40 AND 59")
      .head().getLong(0) == 0)
    // recollected stats still skip: the compacted file's range is live-only
    assert(spark.sql("SELECT s FROM dvcat.ns.m5 WHERE id = 60").head().getString(0) == "v60")
    spark.sql("DROP TABLE dvcat.ns.m5")
  }

  test("UPDATE after a MOR delete cannot resurrect deleted rows") {
    import org.apache.spark.sql.functions.{col, lit, concat}
    mkTable("m6")
    withMor { spark.sql("DELETE FROM dvcat.ns.m6 WHERE id >= 150 AND id < 160") }
    // the update touches the vectored file's range — its vector must
    // materialize before the staging rewrite
    GraftUpdate.update(spark, "dvcat.ns.m6",
      col("id").between(140, 180), Map("s" -> concat(lit("u"), col("s"))))
    assert(spark.table("dvcat.ns.m6").count() == 290)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m6 WHERE id BETWEEN 150 AND 159")
      .head().getLong(0) == 0)
    assert(spark.sql("SELECT s FROM dvcat.ns.m6 WHERE id = 145").head().getString(0) == "uv145")
    assert(spark.sql("SELECT s FROM dvcat.ns.m6 WHERE id = 20").head().getString(0) == "v20")
    assert(dvsOf("m6").isEmpty) // touched file's vector was materialized
    spark.sql("DROP TABLE dvcat.ns.m6")
  }

  test("small-file compaction materializes member vectors and keeps others") {
    mkTable("m7")
    withMor {
      spark.sql("DELETE FROM dvcat.ns.m7 WHERE id >= 10 AND id < 20")   // file 1
      spark.sql("DELETE FROM dvcat.ns.m7 WHERE id >= 210 AND id < 215") // file 3
    }
    assert(dvsOf("m7").size == 2)
    val sch = spark.table("dvcat.ns.m7").schema
    // bin-pack ONLY the first two files (threshold between their sizes
    // won't split them — use a big min so all three merge into one bin)
    val (nBefore, nAfter) = GraftCatalog.compactSmall(
      tdir("m7"), sch, minBytes = 1L << 20, targetBytes = 1L << 22)
    assert(nBefore == 3 && nAfter == 1)
    assert(dvsOf("m7").isEmpty)
    assert(spark.table("dvcat.ns.m7").count() == 285)
    assert(spark.sql("SELECT count(*) FROM dvcat.ns.m7 WHERE id BETWEEN 10 AND 19")
      .head().getLong(0) == 0)
    spark.sql("DROP TABLE dvcat.ns.m7")
  }

  test("a tailing stream fails loudly when a MOR delete lands mid-stream") {
    import spark.implicits._
    spark.sql("CREATE TABLE dvcat.ns.m8 (id BIGINT, s STRING)")
    (0L until 50L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).writeTo("dvcat.ns.m8").append()
    val name = s"dv_m8_${System.nanoTime()}"
    val q = spark.readStream.table("dvcat.ns.m8")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        graft.TestDirs("dv_stream_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 50)
      // rows already emitted get deleted by vector — not an append; the
      // next batch must fail, not silently diverge from the table
      withMor { spark.sql("DELETE FROM dvcat.ns.m8 WHERE id < 5") }
      val ex = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("deletion vectors")),
        messages(ex).mkString(" | "))
      assert(spark.table(name).count() == 50)
    } finally q.stop()
    spark.sql("DROP TABLE dvcat.ns.m8")
  }

  test("MERGE and ZORDER after a MOR delete produce vector-free correct tables") {
    import spark.implicits._
    mkTable("m9")
    withMor { spark.sql("DELETE FROM dvcat.ns.m9 WHERE id < 30") }
    // zorder is a full rewrite through the (vector-aware) scan
    GraftOptimize.zorderBy(spark, "dvcat.ns.m9", "id", "id", 2)
    assert(dvsOf("m9").isEmpty)
    assert(spark.table("dvcat.ns.m9").count() == 270)
    assert(spark.sql("SELECT min(id) FROM dvcat.ns.m9").head().getLong(0) == 30)
    // and a merge over the materialized state behaves as ever
    val changes = Seq((30L, "patched", "U"), (31L, null.asInstanceOf[String], "D"))
      .toDF("id", "s", "op")
    GraftMerge.into(spark, "dvcat.ns.m9", changes, Seq("id"))
    assert(spark.table("dvcat.ns.m9").count() == 269)
    assert(spark.sql("SELECT s FROM dvcat.ns.m9 WHERE id = 30").head().getString(0) == "patched")
    spark.sql("DROP TABLE dvcat.ns.m9")
  }
}
