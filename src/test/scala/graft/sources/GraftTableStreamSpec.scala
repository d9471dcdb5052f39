package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Streaming FROM a catalog table: each committed snapshot becomes a
  * micro-batch of exactly the appended rows — no reprocessing, no loss —
  * and a non-append commit in the consumed range fails the stream
  * loudly instead of double-counting survivors.
  */
class GraftTableStreamSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.tscat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.tscat.root",
      graft.TestDirs("graft_ts").toString)
    s
  }

  test("appends surface as micro-batches, exactly once") {
    spark.sql("CREATE TABLE tscat.ns.log (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tscat.ns.log VALUES (1, 1.0), (2, 2.0)")

    val name = s"tstream_${System.nanoTime()}"
    val q = spark.readStream.table("tscat.ns.log")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        graft.TestDirs("graft_ts_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)

      spark.sql("INSERT INTO tscat.ns.log VALUES (3, 3.0)")
      q.processAllAvailable()
      assert(spark.table(name).count() == 3)

      spark.sql("INSERT INTO tscat.ns.log VALUES (4, 4.0), (5, 5.0)")
      q.processAllAvailable()
      val ids = spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L, 5L), s"duplicated or lost rows: $ids")
    } finally q.stop()
  }

  test("a rewrite in the consumed range fails the stream, not the results") {
    spark.sql("CREATE TABLE tscat.ns.rw (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tscat.ns.rw VALUES (1, 1.0), (2, 2.0)")
    val name = s"tstream_rw_${System.nanoTime()}"
    val q = spark.readStream.table("tscat.ns.rw")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        graft.TestDirs("graft_ts_ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
      // copy-on-write DELETE rewrites the file holding id=1 — the next
      // batch would double-count id=2's surviving row if it diffed naively
      spark.sql("DELETE FROM tscat.ns.rw WHERE id = 1")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("append-only")),
        messages(ex).mkString(" | "))
      // the sink never saw a duplicate
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }
}
