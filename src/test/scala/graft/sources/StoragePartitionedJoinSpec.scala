package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Storage-partitioned joins: two catalog tables identity-partitioned on
  * the same key report their layout as a KeyGroupedPartitioning, and the
  * join runs with NO shuffle on either side — the DSv2 lakehouse
  * equivalent of bucketed tables. The grouped layout must also be
  * invisible to correctness: results equal the ungrouped plan, and any
  * coverage gap degrades to the flat per-file scan.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.spjcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.spjcat.root",
      graft.TestDirs("graft_spj").toString)
    s
  }

  private def mkTables(): Unit = {
    import spark.implicits._
    spark.sql("CREATE TABLE spjcat.ns.sales (region BIGINT, amount DOUBLE) PARTITIONED BY (region)")
    spark.sql("CREATE TABLE spjcat.ns.targets (region BIGINT, target DOUBLE) PARTITIONED BY (region)")
    (0L until 8000L).map(i => (i % 8, i.toDouble))
      .toDF("region", "amount").repartition(4)
      .writeTo("spjcat.ns.sales").append()
    (0L until 8L).map(r => (r, r * 1000.0))
      .toDF("region", "target").coalesce(1)
      .writeTo("spjcat.ns.targets").append()
  }

  test("same-key partitioned tables join without any shuffle") {
    mkTables()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined = spark.table("spjcat.ns.sales")
        .join(spark.table("spjcat.ns.targets"), "region")
        .groupBy("region")
        .agg(org.apache.spark.sql.functions.expr(
          "CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS total"),
          org.apache.spark.sql.functions.max("target"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(region"),
        s"storage-partitioned join must not shuffle the join keys:\n$plan")
      val grouped = joined.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet

      // ungrouped control: same query with v2 bucketing off
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val flat = joined.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(grouped == flat && grouped.size == 8)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("partitioned appends cluster by value: at most one file per value per commit") {
    import spark.implicits._
    spark.sql("CREATE TABLE spjcat.ns.f (k BIGINT, v DOUBLE) PARTITIONED BY (k)")
    // 4 input partitions x 8 values — an unclustered write would cut up
    // to 32 files; the declared distribution bounds it at 8
    (0L until 800L).map(i => (i % 8, i.toDouble)).toDF("k", "v")
      .repartition(4).writeTo("spjcat.ns.f").append()
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.spjcat.root"), "ns", "f")
    val files = Manifest.read(dir).files
    assert(files.size <= 8, s"expected <=8 files, got ${files.size}")
    assert(spark.table("spjcat.ns.f").count() == 800)
  }

  test("grouped scan covers all rows and respects stats skipping") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      assert(spark.table("spjcat.ns.sales").count() == 8000)
      // per-partition-value files: a region filter plans exactly one group
      val one = spark.table("spjcat.ns.sales").filter("region = 3")
      assert(one.count() == 1000)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("compaction drops the grouped layout but keeps results") {
    import spark.implicits._
    spark.sql("CREATE TABLE spjcat.ns.c (k BIGINT, v DOUBLE) PARTITIONED BY (k)")
    (0L until 100L).map(i => (i % 4, i.toDouble)).toDF("k", "v")
      .coalesce(2).writeTo("spjcat.ns.c").append()
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.spjcat.root"), "ns", "c")
    GraftCatalog.compact(dir, Some(spark.table("spjcat.ns.c").schema))
    assert(!java.nio.file.Files.exists(dir.resolve(GraftParts.PartsName)))
    assert(spark.table("spjcat.ns.c").count() == 100)
  }
}
