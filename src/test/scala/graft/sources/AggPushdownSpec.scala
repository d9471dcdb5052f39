package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Aggregate pushdown answers global count/min/max from the manifest +
  * stats sidecar. The headline test PROVES no data file is opened by
  * deleting them all from disk first; the rest pin exactness at the
  * boundaries (nulls, NaN poisoning, deletion vectors, filters, group-by)
  * where pushdown must refuse and fall back to the reading scan.
  */
class AggPushdownSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.aggcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.aggcat.root",
      graft.TestDirs("graft_aggpush").toString)
    s
  }
  private def root = spark.conf.get("spark.sql.catalog.aggcat.root")

  test("count/min/max answered with zero data files opened") {
    spark.sql("CREATE TABLE aggcat.ns.m (k BIGINT, s STRING, d DOUBLE)")
    spark.sql("INSERT INTO aggcat.ns.m VALUES (5,'b',1.5), (1,'a',2.5), (9,NULL,3.5)")
    spark.sql("INSERT INTO aggcat.ns.m VALUES (12,'z',0.5), (3,'c',NULL)")
    // destroy every data file: only manifest + stats + schema remain, so
    // any plan that reads data now throws
    val dirStream = Files.list(Paths.get(root, "ns", "m"))
    try dirStream.iterator().forEachRemaining { p =>
      if (!p.getFileName.toString.startsWith("_")) Files.delete(p)
    } finally dirStream.close()
    val df = spark.sql(
      "SELECT count(*), min(k), max(k), min(s), max(s), min(d), max(d), count(s) " +
        "FROM aggcat.ns.m")
    assert(df.queryExecution.executedPlan.toString.contains("pushed aggregation"),
      df.queryExecution.executedPlan.toString)
    val r = df.head()
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) == 1L && r.getLong(2) == 12L)
    assert(r.getString(3) == "a" && r.getString(4) == "z")
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 3.5)
    assert(r.getLong(7) == 4L) // one null s
  }

  test("all-null column: min/max are null, count is zero") {
    spark.sql("CREATE TABLE aggcat.ns.nulls (k BIGINT, s STRING)")
    spark.sql("INSERT INTO aggcat.ns.nulls VALUES (1,NULL), (2,NULL)")
    val r = spark.sql("SELECT min(s), max(s), count(s) FROM aggcat.ns.nulls").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
  }

  test("filters, group-by, NaN, and deletion vectors refuse pushdown but stay correct") {
    spark.sql("CREATE TABLE aggcat.ns.fb (k BIGINT, d DOUBLE)")
    // one file for all four rows: the later MoR DELETE must leave a
    // deletion vector on a file with survivors (a single-row file would
    // simply drop from the manifest and there'd be no vector to refuse on)
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "d")
      .coalesce(1).writeTo("aggcat.ns.fb").append()
    // WHERE present: every filter is a residual, so the aggregate must
    // come from the reading scan
    val filtered = spark.sql("SELECT count(*) FROM aggcat.ns.fb WHERE k > 2")
    assert(!filtered.queryExecution.executedPlan.toString.contains("pushed aggregation"))
    assert(filtered.head().getLong(0) == 2L)
    // group-by: not answerable from global stats
    val grouped = spark.sql(
      "SELECT k, count(*) FROM aggcat.ns.fb GROUP BY k ORDER BY k")
    assert(!grouped.queryExecution.executedPlan.toString.contains("pushed aggregation"))
    assert(grouped.count() == 4L)
    // NaN poisons the double range: min/max must read, and Spark's NaN
    // ordering (greatest double) must come from real evaluation
    spark.sql("INSERT INTO aggcat.ns.fb VALUES (5, cast('NaN' as double))")
    val nan = spark.sql("SELECT min(d), max(d) FROM aggcat.ns.fb")
    assert(!nan.queryExecution.executedPlan.toString.contains("pushed aggregation"))
    val nr = nan.head()
    assert(nr.getDouble(0) == 1.0 && nr.getDouble(1).isNaN)
    // a deletion vector disqualifies min/max (deleted row's value is
    // unknowable from stats) but count(*) still pushes — it subtracts
    // vector lengths
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql("DELETE FROM aggcat.ns.fb WHERE k = 1")
    finally spark.conf.unset("spark.graft.delete.mode")
    val cnt = spark.sql("SELECT count(*) FROM aggcat.ns.fb")
    assert(cnt.queryExecution.executedPlan.toString.contains("pushed aggregation"),
      cnt.queryExecution.executedPlan.toString)
    assert(cnt.head().getLong(0) == 4L)
    val mm = spark.sql("SELECT min(k) FROM aggcat.ns.fb")
    assert(!mm.queryExecution.executedPlan.toString.contains("pushed aggregation"))
    assert(mm.head().getLong(0) == 2L)
  }

  test("time travel aggregates against the versioned state") {
    spark.sql("CREATE TABLE aggcat.ns.tt (k BIGINT)")
    spark.sql("INSERT INTO aggcat.ns.tt VALUES (1), (2)")
    spark.sql("INSERT INTO aggcat.ns.tt VALUES (3)")
    val v1 = spark.sql("SELECT count(*), max(k) FROM aggcat.ns.tt VERSION AS OF 1")
    assert(v1.queryExecution.executedPlan.toString.contains("pushed aggregation"),
      v1.queryExecution.executedPlan.toString)
    val r = v1.head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    val now = spark.sql("SELECT count(*), max(k) FROM aggcat.ns.tt").head()
    assert(now.getLong(0) == 3L && now.getLong(1) == 3L)
  }
}
