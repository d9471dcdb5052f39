package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** OPTIMIZE ZORDER BY: after the clustering rewrite, a 2-D box predicate
  * must plan strictly fewer files than the single-column layout allowed,
  * with the row multiset unchanged and the pre-optimize snapshot still
  * time-travel readable.
  */
class GraftOptimizeSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.optcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.optcat.root",
      graft.TestDirs("graft_opt").toString)
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
    scan(df.queryExecution.executedPlan).map(_.inputPartitions.size).sum
  }

  test("z-order rewrite makes 2-D box predicates prune; rows unchanged; history serves") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE optcat.ns.grid (x BIGINT, y BIGINT, v DOUBLE)")
    // 64k points on a 256x256 grid, ingested clustered on x ONLY —
    // a y-selective box can't prune this layout
    val pts = sp.range(65536).selectExpr(
      "id div 256 AS x", "id % 256 AS y", "CAST(id % 97 AS DOUBLE) AS v")
    pts.repartitionByRange(16, org.apache.spark.sql.functions.col("x"))
      .writeTo("optcat.ns.grid").append()

    // the second dimension is the interesting one: an x-clustered layout
    // cannot prune a y-only predicate at all
    def ybox = spark.table("optcat.ns.grid").filter("y >= 64 AND y < 96")
    val before = plannedFiles(ybox)
    assert(before == 16, s"x-clustered layout must scan everything: $before")
    val total = spark.table("optcat.ns.grid").count()
    val yboxRows = ybox.count()
    assert(yboxRows == 256L * 32L)

    val n = GraftOptimize.zorderBy(spark, "optcat.ns.grid", "x", "y", 16)
    assert(n == total)

    val after = plannedFiles(ybox)
    assert(after <= before / 2,
      s"z-order must shrink the planned file set: before=$before after=$after")
    assert(ybox.count() == yboxRows)
    // full-table row multiset unchanged (checksum over all columns)
    val sums = spark.table("optcat.ns.grid")
      .selectExpr("sum(x)", "sum(y)", "sum(v)", "count(*)").head()
    val expect = pts.selectExpr("sum(x)", "sum(y)", "sum(v)", "count(*)").head()
    assert(sums == expect)

    // snapshot 1 (pre-optimize) still serves the original state
    val v1 = spark.sql("SELECT count(*) FROM optcat.ns.grid VERSION AS OF 1").head().getLong(0)
    assert(v1 == total)
  }
}
