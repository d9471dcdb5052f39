package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the persisted multi-probe LSH ANN lifecycle
  * (writeIndex / appendIndex / topK / compactIndex / maintain) — the
  * recall bound itself is gate-covered by sim_lsh_ann_persisted's
  * verdict (0.8 bar + served ≡ inline).
  */
class LshAnnIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // a small deterministic ±1 plane table of its own: the operator owns
  // its quantizer params; the gate pins parity with Similarity's table
  private val planes: Seq[Seq[Double]] = (0 until 8).map { p =>
    (0 until 64).map { i =>
      if (((p * 64 + i) * 2654435761L % 3) == 1L) 1.0 else -1.0
    }.toSeq
  }

  private def corpus: DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
  }

  private def queries(e: DataFrame): DataFrame = e.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("norm2").as("qn"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq.sorted

  test("build + append under the frozen planes ≡ one-shot build (lossless " +
      "lifecycle); bucket partitions exist") {
    val e = corpus
    val root = graft.TestDirs("graft_lsha_lc").toString
    LshAnnIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), s"$root/a",
      planes, bands = 2)
    LshAnnIndex.appendIndex(e.filter(col("vec_id") % 2 =!= 0), s"$root/a", 0L)
    LshAnnIndex.writeIndex(e, s"$root/b", planes, bands = 2)
    val got = rows(LshAnnIndex.topK(spark, s"$root/a", queries(e),
      probeBits = 2, k = 5))
    assert(got.nonEmpty)
    assert(got == rows(LshAnnIndex.topK(spark, s"$root/b", queries(e),
      probeBits = 2, k = 5)))
    // the bucket layout is really on disk: band=*/band_val=* partitions
    val buckets = new java.io.File(s"$root/a/corpus/batch=-1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(buckets == Set("band=0", "band=1"), s"got $buckets")
  }

  test("redelivered append replaces its partitions; serve cut hides a " +
      "half-landed batch") {
    val e = corpus
    val idx = graft.TestDirs("graft_lsha_rd").toString
    LshAnnIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), idx,
      planes, bands = 2)
    val batch = e.filter(col("vec_id") % 2 =!= 0)
    LshAnnIndex.appendIndex(batch, idx, 0L)
    val once = rows(LshAnnIndex.topK(spark, idx, queries(e), 2, 5))
    LshAnnIndex.appendIndex(batch, idx, 0L) // redelivery
    assert(rows(LshAnnIndex.topK(spark, idx, queries(e), 2, 5)) == once)
    val committedOnly = rows(LshAnnIndex.topK(spark, idx, queries(e), 2, 5,
      maxBatchExclusive = Some(0L)))
    val fresh = graft.TestDirs("graft_lsha_rd_c").toString
    LshAnnIndex.writeIndex(e.filter(col("vec_id") % 2 === 0), fresh,
      planes, bands = 2)
    assert(committedOnly ==
      rows(LshAnnIndex.topK(spark, fresh, queries(e), 2, 5)),
      "the strictly-earlier cut must equal a fresh build on committed docs")
  }

  test("compaction changes no serve; watermark carries the tail; maintain " +
      "triggers on the committed dir count") {
    val e = corpus
    val idx = graft.TestDirs("graft_lsha_cpt").toString
    LshAnnIndex.writeIndex(e.filter(col("vec_id") % 3 === 0), idx,
      planes, bands = 2)
    LshAnnIndex.appendIndex(e.filter(col("vec_id") % 3 === 1), idx, 0L)
    LshAnnIndex.appendIndex(e.filter(col("vec_id") % 3 === 2), idx, 1L)
    val full = rows(LshAnnIndex.topK(spark, idx, queries(e), 2, 5))
    val cut = rows(LshAnnIndex.topK(spark, idx, queries(e), 2, 5,
      maxBatchExclusive = Some(1L)))
    def dirs(root: String): Set[String] =
      new java.io.File(s"$root/corpus").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    val cptAll = graft.TestDirs("graft_lsha_cpt_a").toString
    LshAnnIndex.compactIndex(spark, idx, cptAll)
    assert(dirs(cptAll) == Set("batch=-1"))
    assert(rows(LshAnnIndex.topK(spark, cptAll, queries(e), 2, 5)) == full)
    val cptW = graft.TestDirs("graft_lsha_cpt_w").toString
    LshAnnIndex.compactIndex(spark, idx, cptW, throughBatch = 0L)
    assert(dirs(cptW) == Set("batch=-1", "batch=1"))
    assert(rows(LshAnnIndex.topK(spark, cptW, queries(e), 2, 5)) == full)
    assert(rows(LshAnnIndex.topK(spark, cptW, queries(e), 2, 5,
      maxBatchExclusive = Some(1L))) == cut)
    // maintain: 3 committed dirs vs trigger 3 → not due; trigger 2 → due
    spark.conf.set("spark.graft.index.compactMinBatches", "3")
    try {
      val t1 = graft.TestDirs("graft_lsha_mt_a").toString
      assert(!LshAnnIndex.maintain(spark, idx, s"$t1/x"))
      assert(!new java.io.File(s"$t1/x").exists)
      spark.conf.set("spark.graft.index.compactMinBatches", "2")
      val t2 = graft.TestDirs("graft_lsha_mt_b").toString
      assert(LshAnnIndex.maintain(spark, idx, s"$t2/x"))
      assert(rows(LshAnnIndex.topK(spark, s"$t2/x", queries(e), 2, 5)) == full)
    } finally spark.conf.unset("spark.graft.index.compactMinBatches")
  }

  test("probe fan-out is query-side only: candidates grow with probeBits, " +
      "the indexed relation is byte-identical") {
    val e = corpus
    val idx = graft.TestDirs("graft_lsha_pb").toString
    LshAnnIndex.writeIndex(e, idx, planes, bands = 2)
    // recall is monotone in probeBits on the planted-cluster fixture
    def recall(pb: Int): Double = {
      val ann = rows(LshAnnIndex.topK(spark, idx, queries(e), pb, 5))
        .map(t => (t._1, t._2)).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      val brute = e.select(col("vec_id").as("neighbor_id"), col("v"),
          col("norm2"))
        .join(broadcast(queries(e)), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(graft.functions.GraftFunctions.dot_product(col("qv"), col("v")) /
            (sqrt(col("qn")) * sqrt(col("norm2"))), 6).as("cosine"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ann.count(brute.contains).toDouble / brute.size
    }
    val r0 = recall(0)
    val r4 = recall(4)
    assert(r4 >= r0, s"multi-probe must not lose recall: $r0 -> $r4")
  }
}
