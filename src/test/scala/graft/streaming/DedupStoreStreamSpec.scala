package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.sources.Manifest

/** Streaming store-mediated dedup across MANY micro-batches: with the
  * corpus split into four files and maxFilesPerTrigger=1, duplicate
  * content arrives in different batches and only the first-seen hash
  * may survive; a restart from the checkpoint must add nothing (the
  * txn marker makes re-delivered batches no-ops).
  */
class DedupStoreStreamSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.dscat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.dscat.root",
      graft.TestDirs("graft_dsspec").toString)
    s
  }

  test("multi-batch dedup equals global batch dedup; restart is a no-op") {
    val sp = spark
    import sp.implicits._
    // 40 docs, every text duplicated once ACROSS the file split so the
    // second copy arrives in a later micro-batch
    val feed = graft.TestDirs("graft_ds_feed").toString
    val docs = (0 until 40).map { i =>
      (i.toLong, s"text of doc ${i % 20}", "en", "synth", 10L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(feed)

    spark.sql("CREATE TABLE dscat.ns.store (sig STRING, doc_id BIGINT, text STRING)")
    val ckpt = graft.TestDirs("graft_ds_ckpt").toString
    DedupStoreStream.runToCompletion(spark, feed, "dscat.ns.store",
      checkpoint = ckpt, maxFilesPerTrigger = Some(1), glob = "*.parquet")

    val store = spark.table("dscat.ns.store")
    assert(store.count() == 20, "one row per distinct text")
    assert(store.select(col("sig")).distinct().count() == 20)
    // every survivor is ONE of the two ids that carried its text (file
    // arrival order under equal mtimes is not deterministic, so which
    // of the two wins is not — membership and uniqueness are)
    val rows = store.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.forall { case (id, text) => text == s"text of doc ${id % 20}" })
    assert(rows.map(_._2).toSet.size == 20)

    // restart from the same checkpoint: AvailableNow re-lists, nothing
    // new arrives, and re-delivered batches are marker-skipped
    DedupStoreStream.runToCompletion(spark, feed, "dscat.ns.store",
      checkpoint = ckpt, maxFilesPerTrigger = Some(1), glob = "*.parquet")
    assert(spark.table("dscat.ns.store").count() == 20)
    spark.sql("DROP TABLE dscat.ns.store")
  }

  test("a re-delivered batch commits nothing and changes no row") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE dscat.ns.replay (sig STRING, doc_id BIGINT, text STRING)")
    val dir = graft.sources.GraftCatalog.tableDir(spark, "dscat.ns.replay")
    val batch = (0 until 6).map(i => (i.toLong, s"text of doc ${i % 3}", "en", "synth", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def rows = spark.table("dscat.ns.replay").collect().toSet
    DedupStoreStream.applyBatch(spark, "dscat.ns.replay", "app", 0L, batch)
    val snapshots = Manifest.listSnapshots(dir)
    val stored = rows
    assert(stored.size == 3)
    DedupStoreStream.applyBatch(spark, "dscat.ns.replay", "app", 0L, batch)
    assert(Manifest.listSnapshots(dir) == snapshots)
    assert(rows == stored)
    spark.sql("DROP TABLE dscat.ns.replay")
  }
}
