package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The auto-maintenance policy layer: `PersistedIndex.maintain` compacts
  * ONLY when the committed batch-dir count exceeds
  * `spark.graft.index.compactMinBatches` (a long-running ingest calls
  * it per micro-batch; not-due = one directory listing), and the
  * catalog's `maintain` bin-packs small files past its own threshold
  * and expires snapshots at the retention horizon. Serve decisions must
  * be unchanged through a triggered maintenance — the compaction
  * equivalence itself is pinned per index by the compactIndex specs;
  * here the POLICY is under test, once per index through the contract.
  */
class IndexMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def withTrigger[T](n: Int)(body: => T): T = {
    spark.conf.set("spark.graft.index.compactMinBatches", n.toString)
    try body
    finally spark.conf.unset("spark.graft.index.compactMinBatches")
  }

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)

  private def batchDirs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).toSet

  private lazy val embeddings: DataFrame = graft.Tables.table(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .withColumn("norm2",
      graft.functions.GraftFunctions.dot_product(col("v"), col("v")))

  /** One index's policy case: the bootstrap at a path, the appends (the
    * trigger sits at their count, so all but the last leave maintenance
    * not due), and a serve that a triggered maintenance must not change.
    */
  private case class Policy(name: String, index: PersistedIndex,
      bootstrap: String => Unit, appends: () => Seq[DataFrame],
      serve: String => Any)

  private def ppStanding = docs.filter(col("doc_id") % 10 =!= 7)

  private val policies = Seq(
    Policy("LSH maintain: fires past the threshold, no-op below, serve unchanged",
      NearDupLsh,
      idx => NearDupLsh.writeIndex(docs.filter(col("doc_id") % 5 === 0), idx),
      () => (1 to 3).map(i => docs.filter(col("doc_id") % 5 === i)),
      p => NearDupLsh.pairsAgainstIndexAt(spark,
        docs.filter(col("doc_id") % 5 === 4), p, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet),
    Policy("BM25 maintain: threshold on postings dirs, ranking unchanged",
      Bm25Index,
      idx => Bm25Index.writeIndex(docs.filter(col("doc_id") % 4 === 0), idx),
      () => (1 to 2).map(i => docs.filter(col("doc_id") % 4 === i)),
      p => Bm25Index.topK(spark, p,
        Seq(1L -> "customer", 1L -> "join", 2L -> "batch"), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet),
    Policy("IVF maintain: threshold on corpus dirs, ANN serve unchanged",
      IvfIndex,
      idx => IvfIndex.writeIndex(embeddings.filter(col("vec_id") % 3 === 0),
        idx, nlist = 8, iters = 1),
      () => (1 to 2).map(i => embeddings.filter(col("vec_id") % 3 === i)),
      p => IvfIndex.topK(spark, p, embeddings.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm2").as("qn")), nprobe = 3, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet),
    Policy("ppjoin maintain: threshold on sets dirs, exact serve unchanged",
      PrefixFilterJoin,
      idx => PrefixFilterJoin.writeIndex(
        ppStanding.filter(col("doc_id") % 3 === 0), idx, 4, 5),
      () => (1 to 2).map(i => ppStanding.filter(col("doc_id") % 3 === i)),
      p => PrefixFilterJoin.pairsAgainstIndex(spark,
        docs.filter(col("doc_id") % 10 === 7), p, 4, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))

  policies.foreach { c =>
    test(c.name) {
      val appends = c.appends()
      withTrigger(appends.size) {
        val root = graft.TestDirs("graft_mt").toString
        val idx = s"$root/idx"
        c.bootstrap(idx)
        appends.init.zipWithIndex.foreach { case (b, i) =>
          c.index.appendIndex(b, idx, i.toLong)
        }
        // bootstrap + all but the last append: not over the threshold
        assert(!c.index.maintain(spark, idx, s"$root/idx2"))
        assert(!new java.io.File(s"$root/idx2").exists,
          "not-due maintenance must not touch the target")
        c.index.appendIndex(appends.last, idx, appends.size - 1L)
        val before = c.serve(idx)
        assert(c.index.maintain(spark, idx, s"$root/idx2"), "one dir past: due")
        assert(batchDirs(c.index.batchedDirs(s"$root/idx2").head) ==
          Set("batch=-1"))
        assert(c.serve(s"$root/idx2") == before,
          "a triggered maintenance must not change a serve decision")
        // freshly compacted index: one dir, not due again
        assert(!c.index.maintain(spark, s"$root/idx2", s"$root/idx3"))
      }
    }
  }

  test("watermarked maintain carries the uncommitted tail") {
    withTrigger(1) {
      val root = graft.TestDirs("graft_mt_wm").toString
      val idx = s"$root/idx"
      NearDupLsh.writeIndex(docs.filter(col("doc_id") % 3 === 0), idx)
      NearDupLsh.appendIndex(docs.filter(col("doc_id") % 3 === 1), idx, 0L)
      NearDupLsh.appendIndex(docs.filter(col("doc_id") % 3 === 2), idx, 1L)
      // only batches <= 0 count toward the trigger AND fold; batch 1
      // (uncommitted) carries under its own id
      assert(NearDupLsh.maintain(spark, idx, s"$root/idx2", throughBatch = 0L))
      assert(batchDirs(s"$root/idx2") == Set("batch=-1", "batch=1"))
    }
  }

  test("catalog maintain: compacts past the file threshold, expires history") {
    val root = graft.TestDirs("graft_mt_cat").toString
    spark.conf.set("spark.sql.catalog.mtcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mtcat.root", root)
    spark.conf.set("spark.graft.catalog.maintainMaxFiles", "4")
    spark.conf.set("spark.graft.catalog.maintainSmallBytes", "10000")
    spark.conf.set("spark.graft.catalog.snapshotRetentionMs", "0")
    try {
      import spark.implicits._
      spark.sql("CREATE TABLE mtcat.ns.m1 (id BIGINT, s STRING)")
      (0 until 6).foreach(i => Seq((i.toLong, s"v$i")).toDF("id", "s")
        .coalesce(1).writeTo("mtcat.ns.m1").append())
      val dirPath = java.nio.file.Paths.get(root, "ns", "m1")
      val beforeRows = spark.table("mtcat.ns.m1").orderBy("id").collect().toSeq
      val (b, a, expired) = graft.sources.GraftCatalog.maintain(
        spark, dirPath, spark.table("mtcat.ns.m1").schema)
      assert(b == 6 && a < b, s"expected a compaction, got $b -> $a")
      assert(expired > 0, "retention 0 must expire pre-maintenance snapshots")
      assert(spark.table("mtcat.ns.m1").orderBy("id").collect().toSeq == beforeRows,
        "maintenance must not change the table's content")
      // steady state: below the threshold, compaction is a no-op
      val (b2, a2, _) = graft.sources.GraftCatalog.maintain(
        spark, dirPath, spark.table("mtcat.ns.m1").schema)
      assert(b2 == a2)
    } finally {
      Seq("spark.graft.catalog.maintainMaxFiles",
        "spark.graft.catalog.maintainSmallBytes",
        "spark.graft.catalog.snapshotRetentionMs").foreach(spark.conf.unset)
    }
  }
}
