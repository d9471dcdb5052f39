package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The catalog scan reports manifest-derived statistics
  * (SupportsReportStatistics): without them Spark prices every graft
  * table at defaultSizeInBytes and a small dimension stored in the
  * catalog never auto-broadcasts. These specs pin (a) the reported
  * numbers, (b) that file skipping shrinks them, and (c) the planner
  * consequence — an unhinted join against a big relation picks
  * BroadcastHashJoin with the graft side as the build side.
  */
class ScanStatisticsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.statcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.statcat.root",
      graft.TestDirs("graft_scan_stats").toString)
    s
  }

  test("scan reports on-disk size and row count from the manifest") {
    spark.sql("CREATE TABLE statcat.ns.dim (id BIGINT, name STRING)")
    spark.sql("INSERT INTO statcat.ns.dim VALUES (1,'a'), (2,'b'), (3,'c')")
    val stats = spark.table("statcat.ns.dim")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)), stats)
    // bytes = actual json file size: tiny, and far below any threshold
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 4096, stats)
  }

  test("file skipping shrinks the reported statistics") {
    spark.sql("CREATE TABLE statcat.ns.skiptab (k BIGINT, v STRING)")
    // two committed files with disjoint key ranges
    spark.sql("INSERT INTO statcat.ns.skiptab " +
      "SELECT id, concat('lo', id) FROM range(0, 100)")
    spark.sql("INSERT INTO statcat.ns.skiptab " +
      "SELECT id, concat('hi', id) FROM range(1000, 1400)")
    val all = spark.table("statcat.ns.skiptab")
      .queryExecution.optimizedPlan.stats
    assert(all.rowCount.contains(BigInt(500)), all)
    val pruned = spark.table("statcat.ns.skiptab").filter(col("k") < 50)
    val ps = pruned.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.get
    // range() writes 4 slice-files per INSERT; k<50 keeps the two
    // slices of the lo insert that can hold k in [0,50) — 50 rows
    assert(ps.rowCount.contains(BigInt(50)), ps)
    assert(ps.sizeInBytes < all.sizeInBytes, (ps, all))
  }

  test("small graft table auto-broadcasts against a big side, unhinted") {
    spark.sql("CREATE TABLE statcat.ns.bdim (id BIGINT, label STRING)")
    spark.sql("INSERT INTO statcat.ns.bdim " +
      "SELECT id, concat('label_', id) FROM range(0, 50)")
    // range(4M) prices at ~32 MB — over the 10 MB auto-broadcast
    // threshold — so the ONLY broadcastable side is the graft table,
    // and only because its scan reports real statistics
    val big = spark.range(4000000).select(
      (col("id") % 50).as("id"), (col("id") * 2).as("payload"))
    val joined = big.join(spark.table("statcat.ns.bdim"), "id")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(joined.count() == 4000000L)
  }
}
