package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** CREATE TABLE AS SELECT and REPLACE TABLE AS SELECT through the
  * catalog: Spark decomposes both into createTable/dropTable + the
  * sink's committed write for non-staging catalogs, so the derived
  * table materializes with the query's schema and rows.
  */
class CtasSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.ctascat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.ctascat.root",
      graft.TestDirs("graft_ctas").toString)
    s
  }

  test("CTAS materializes the query; RTAS swaps schema and contents") {
    spark.sql("CREATE TABLE ctascat.ns.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ctascat.ns.src VALUES (1, 1.5), (2, 2.5)")

    spark.sql("CREATE TABLE ctascat.ns.derived AS " +
      "SELECT id, v * 2 AS v2 FROM ctascat.ns.src")
    val rows = spark.table("ctascat.ns.derived").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows == Set((1L, 3.0), (2L, 5.0)))

    spark.sql("REPLACE TABLE ctascat.ns.derived AS " +
      "SELECT id, CAST(id AS STRING) AS s FROM ctascat.ns.src")
    val replaced = spark.table("ctascat.ns.derived")
    assert(replaced.columns.toSeq == Seq("id", "s"))
    assert(replaced.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "1"), (2L, "2")))

    // CTAS into an existing table fails; IF NOT EXISTS is a no-op
    intercept[Exception](
      spark.sql("CREATE TABLE ctascat.ns.derived AS SELECT 1 AS x"))
    spark.sql("CREATE TABLE IF NOT EXISTS ctascat.ns.derived AS SELECT 1 AS x")
    assert(spark.table("ctascat.ns.derived").columns.toSeq == Seq("id", "s"))
  }
}
