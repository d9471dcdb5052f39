package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("brute-force topk: 5 ranked neighbors per query, sane cosines, no self") {
    val out = graft.SparkEntry.queries("sim_brute_topk")(spark, dir).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 10L).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      // ranks ordered by descending cosine
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
    }
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("LSH ANN results are true cosines and recall a meaningful share of brute-force") {
    val brute = graft.SparkEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annRows = Similarity.lshAnn(spark, dir).collect()
    val ann = annRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // each ANN hit carries the exact cosine a brute-force scorer computes
    val bruteCos = graft.SparkEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cosine"))).toMap
    annRows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      bruteCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    val recall = (ann & brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"ANN recall@5 $recall") // 2-band/8-bit LSH on near-random vectors
    assert(ann.nonEmpty)
  }

  test("multi-probe LSH: recall rises with probeBits at bounded candidate cost") {
    val brute = graft.SparkEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(pb: Int): Double = {
      val ann = Similarity.lshAnn(spark, dir, probeBits = pb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann & brute).size.toDouble / brute.size
    }
    val r0 = recallAt(0)
    val r4 = recallAt(4)
    // measured on this fixture: 0.38 single-probe → 0.90 at probeBits=4
    // (0.50 → 0.96–0.98 at the larger SFs) — the sim_lsh_ann verdict
    // bar (0.8) needs the multi-probe path
    assert(r4 >= 0.8, s"multi-probe recall@5 $r4")
    assert(r4 > r0, s"multi-probe ($r4) must beat single-probe ($r0)")
    // candidate cost: the fan-out lives on the QUERY side only — each
    // band probes exactly (1 + probeBits) buckets, so the candidate
    // relation grows at most 5× while the corpus side is untouched
    val e = graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
    def candidates(pb: Int): Long = {
      val probeVals = col("band_val") +: (0 until pb).map(b =>
        col("band_val").bitwiseXOR(lit(1 << b)))
      val q = Similarity.withBands(e.filter(col("vec_id") < 10))
        .select(col("band"), explode(array(probeVals: _*)).as("band_val"),
          col("vec_id").as("query_id"))
      Similarity.withBands(e)
        .select(col("band"), col("band_val"), col("vec_id").as("neighbor_id"))
        .join(q, Seq("band", "band_val"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .count()
    }
    val c0 = candidates(0)
    val c4 = candidates(4)
    assert(c4 <= 5 * c0,
      s"probe fan-out must bound candidate growth: $c0 -> $c4")
    assert(c4 > c0)
  }

  test("IVF ANN: valid cosines, deterministic, better recall than blind chance") {
    val brute = graft.SparkEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = Similarity.ivfAnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Similarity.ivfAnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf1 == ivf2) // deterministic training + ties
    val recall = (ivf1 & brute).size.toDouble / brute.size
    // probing 4/16 cells of a near-random corpus: recall ≈ cell mass
    // visited at minimum; genuinely clustered data would be far higher
    assert(recall >= 0.2, s"IVF recall@5 $recall")
    assert(ivf1.nonEmpty)
  }

  test("ANN gate verdicts: full top-5 returned, recall bounds hold") {
    for (name <- Seq("sim_lsh_ann", "sim_ivf_ann")) {
      val row = graft.SparkEntry.queries(name)(spark, dir).collect()(0)
      assert(row.getAs[Long]("n_queries") == 10L, name)
      assert(row.getAs[Long]("n_exact") == 50L, name)
      assert(row.getAs[Long]("results_ok") == 1L, name)
      assert(row.getAs[Long]("recall_ok") == 1L, name)
    }
  }

  test("IVF farthest-first init: deterministic, distinct well-separated seeds") {
    val e = graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val c1 = graft.operators.IvfIndex.farthestFirstInit(e, "v", 8)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val c2 = graft.operators.IvfIndex.farthestFirstInit(e.repartition(7), "v", 8)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(c1.toSeq == c2.toSeq) // partitioning-independent
    assert(c1.length == 8)
    assert(c1.map(_._2).distinct.length == 8) // seeds are distinct vectors
    // training with farthest seeds converges to valid centroids
    val trained = graft.operators.IvfIndex.train(e, "v", nlist = 8, iters = 1,
      init = "farthest")
    assert(trained.count() >= 1)
  }

  test("IVF autoParams follow the sqrt rule with floors") {
    assert(graft.operators.IvfIndex.autoParams(100L) == ((16, 4)))
    assert(graft.operators.IvfIndex.autoParams(1000000L) == ((1000, 125)))
    assert(graft.operators.IvfIndex.autoParams(10000000000L)._1 == 65536)
  }

  test("int8 quantization: values in range, reconstruction within one step") {
    val rows = graft.SparkEntry.queries("sim_quantize_int8")(spark, dir).collect()
    rows.foreach { r =>
      val mn = r.getDouble(1)
      val scale = r.getDouble(2)
      val q8 = r.getString(3).split(",").map(_.toInt).toSeq
      assert(q8.forall(v => v >= -128 && v <= 128))
      // reconstruct: mn + (q+128)*scale must be within one quant step
      assert(scale > 0)
      q8.foreach { v => assert((v + 128) * scale <= (255.0 * scale) + 1e-9) }
    }
  }

  test("near-dup pairs are symmetric-free and above threshold") {
    val rows = graft.SparkEntry.queries("sim_neardup_pairs")(spark, dir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.4))
  }

  test("ANN paths leave nothing in the block manager") {
    // the 100 TB contract: every inline ANN flavor recomputes from scan
    // — a full-corpus cache() would evict chaotically at scale, and a
    // leaked entry here means some path quietly reintroduced one.
    // Other suites' checkpointed RDDs stay until a GC, so only the ids
    // the ANN queries add count.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("sim_lsh_ann", "sim_ivf_ann", "sim_ivf_persisted", "sim_ivfpq_ann")
      .filter(graft.SparkEntry.queries.contains)
      .foreach(n => graft.SparkEntry.queries(n)(spark, dir).count())
    val cached = spark.sparkContext.getPersistentRDDs -- before
    assert(cached.isEmpty,
      s"leaked block-manager entries: ${cached.values.map(_.name).mkString(", ")}")
  }
}
