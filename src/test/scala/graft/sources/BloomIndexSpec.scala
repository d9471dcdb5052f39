package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.sources.{EqualTo, In, Or}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Per-file Bloom-filter index: equality lookups prune files whose
  * min/max ranges all overlap (where the stats layer can never prune).
  * Asserts the no-false-negative contract, persistence, rename folding,
  * int→bigint widening survival, and the planned-file reduction on a
  * real catalog scan with results equal to the unpruned evaluation.
  */
class BloomIndexSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_bloom").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.bloomcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.bloomcat.root", root)
    s
  }

  private def plannedFiles(df: DataFrame): Int = {
    df.collect()
    def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case q: QueryStageExec => scan(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scan)
    }
    val scans = scan(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.map(_.inputPartitions.size).sum
  }

  test("no false negatives over longs and strings") {
    val rnd = new scala.util.Random(42)
    val longs = Seq.fill(500)(rnd.nextLong())
    val strs = Seq.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString)
    val bL = new GraftBloom.Builder(500, 12)
    val bS = new GraftBloom.Builder(500, 12)
    longs.foreach(v => GraftBloom.hashPair(v).foreach { case (a, b) => bL.add(a, b) })
    strs.foreach(v =>
      GraftBloom.hashPair(UTF8String.fromString(v)).foreach { case (a, b) => bS.add(a, b) })
    val cL = bL.result(); val cS = bS.result()
    longs.foreach { v =>
      val (h1, h2) = GraftBloom.hashPair(v).get
      assert(cL.mightContain(h1, h2), s"false negative for long $v")
    }
    strs.foreach { v =>
      val (h1, h2) = GraftBloom.hashPair(UTF8String.fromString(v)).get
      assert(cS.mightContain(h1, h2), s"false negative for string $v")
    }
    // false-positive rate sane at 12 bits/key (~0.4% expected; allow 5%)
    val fp = (0 until 2000).count { i =>
      val v = rnd.nextLong()
      !longs.contains(v) && {
        val (h1, h2) = GraftBloom.hashPair(v).get
        cL.mightContain(h1, h2)
      }
    }
    assert(fp < 100, s"false-positive rate too high: $fp/2000")
  }

  test("int values hash identically to their widened long") {
    val (i1, i2) = GraftBloom.hashPair(12345).get
    val (l1, l2) = GraftBloom.hashPair(12345L).get
    assert(i1 == l1 && i2 == l2)
  }

  test("all-null column bloom is definitively empty") {
    val b = new GraftBloom.Builder(100, 12)
    val cb = b.result()
    assert(cb.m == 0)
    val (h1, h2) = GraftBloom.hashPair(7L).get
    assert(!cb.mightContain(h1, h2))
  }

  test("sidecar write/read roundtrip preserves membership decisions") {
    val dir = graft.TestDirs("bloom_rt")
    val b = new GraftBloom.Builder(100, 12)
    val vals = (0L until 100L).map(_ * 7L)
    vals.foreach(v => GraftBloom.hashPair(v).foreach { case (x, y) => b.add(x, y) })
    GraftBloom.write(dir, Map("f1.json" -> Map("id" -> b.result())))
    val back = GraftBloom.read(dir)("f1.json")("id")
    (0L until 1000L).foreach { v =>
      val (h1, h2) = GraftBloom.hashPair(v).get
      assert(back.mightContain(h1, h2) == b.result().mightContain(h1, h2))
    }
  }

  test("equality lookup prunes files min/max cannot, results exact") {
    import spark.implicits._
    spark.sql("CREATE TABLE bloomcat.ns.t (id BIGINT, v DOUBLE)")
    // 4 interleaved files: file r holds ids with id % 8 == r, so every
    // file spans [r, 392+r] — range skipping can never prune an equality
    (0 until 4).foreach { r =>
      (0L until 400L).filter(_ % 8 == r).map(i => (i, i / 10.0))
        .toDF("id", "v").coalesce(1)
        .writeTo("bloomcat.ns.t").append()
    }
    val tdir = Paths.get(root, "ns", "t")
    val schema = spark.table("bloomcat.ns.t").schema
    val before = plannedFiles(spark.table("bloomcat.ns.t").filter($"id" === 17L))
    assert(before == 4, s"stats alone should keep all 4 files, kept $before")
    val (indexed, covered) = GraftCatalog.buildBloomIndex(tdir, schema, Seq("id"))
    assert(indexed == 4 && covered == 0)
    // present key: exactly the one holding file survives
    val hit = spark.table("bloomcat.ns.t").filter($"id" === 17L) // 17 % 8 = 1
    assert(plannedFiles(hit) == 1)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(17L))
    // absent-but-in-range key (id % 8 == 5 was never written): zero files
    val miss = spark.table("bloomcat.ns.t").filter($"id" === 13L)
    assert(plannedFiles(miss) == 0)
    assert(miss.count() == 0)
    // IN over two files
    val in2 = spark.table("bloomcat.ns.t").filter($"id".isin(17L, 26L)) // r=1, r=2
    assert(plannedFiles(in2) == 2)
    assert(in2.collect().map(_.getLong(0)).sorted.toSeq == Seq(17L, 26L))
    // incremental: a fresh (unindexed) append is always scanned
    Seq((13L, 1.3)).toDF("id", "v").coalesce(1).writeTo("bloomcat.ns.t").append()
    val after = spark.table("bloomcat.ns.t").filter($"id" === 13L)
    assert(plannedFiles(after) == 1) // 4 indexed prune, the new file passes
    assert(after.count() == 1)
    val (indexed2, covered2) = GraftCatalog.buildBloomIndex(tdir, schema, Seq("id"))
    assert(indexed2 == 1 && covered2 == 4)
  }

  test("index survives int→bigint widening") {
    import spark.implicits._
    spark.sql("CREATE TABLE bloomcat.ns.w (q INT, tag STRING)")
    (0 until 3).foreach { r =>
      (0 until 300).filter(_ % 4 == r).map(i => (i, s"t$i"))
        .toDF("q", "tag").coalesce(1)
        .writeTo("bloomcat.ns.w").append()
    }
    val tdir = Paths.get(root, "ns", "w")
    GraftCatalog.buildBloomIndex(tdir, spark.table("bloomcat.ns.w").schema, Seq("q", "tag"))
    spark.sql("ALTER TABLE bloomcat.ns.w ALTER COLUMN q TYPE BIGINT")
    val hit = spark.table("bloomcat.ns.w").filter($"q" === 9L) // 9 % 4 = 1
    assert(plannedFiles(hit) == 1)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // string column in the same index still prunes too
    val shit = spark.table("bloomcat.ns.w").filter($"tag" === "t10") // 10 % 4 = 2
    assert(plannedFiles(shit) == 1)
  }

  test("index follows RENAME COLUMN") {
    import spark.implicits._
    spark.sql("CREATE TABLE bloomcat.ns.r (id BIGINT, v DOUBLE)")
    (0 until 3).foreach { r =>
      (0L until 300L).filter(_ % 4 == r).map(i => (i, i / 10.0))
        .toDF("id", "v").coalesce(1)
        .writeTo("bloomcat.ns.r").append()
    }
    val tdir = Paths.get(root, "ns", "r")
    GraftCatalog.buildBloomIndex(tdir, spark.table("bloomcat.ns.r").schema, Seq("id"))
    spark.sql("ALTER TABLE bloomcat.ns.r RENAME COLUMN id TO doc_id")
    val hit = spark.table("bloomcat.ns.r").filter($"doc_id" === 9L)
    assert(plannedFiles(hit) == 1)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("mayMatch is conservative for unknown shapes and columns") {
    val b = new GraftBloom.Builder(10, 12)
    GraftBloom.hashPair(1L).foreach { case (x, y) => b.add(x, y) }
    val blooms = Map("id" -> b.result())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    assert(GraftBloom.mayMatch(EqualTo("other", 5L), blooms, schema)) // unindexed col
    assert(GraftBloom.mayMatch(
      org.apache.spark.sql.sources.GreaterThan("id", 5L), blooms, schema)) // range shape
    assert(GraftBloom.mayMatch(Or(EqualTo("id", 1L), EqualTo("id", 999L)), blooms, schema))
    // IN with a present member can never be pruned (no false negatives)
    assert(GraftBloom.mayMatch(In("id", Array(1L, null)), blooms, schema))
  }
}
