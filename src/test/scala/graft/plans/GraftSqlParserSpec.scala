package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The injected SQL maintenance surface: OPTIMIZE ZORDER BY / COMPACT
  * SMALL FILES and VACUUM RETAIN parse to runnable command plans;
  * everything else falls through to the stock parser untouched. The
  * shared test JVM can't rebuild its session with the extension
  * installed, so the spec drives the parser object directly and
  * executes the parsed plans against a real catalog table — the same
  * plans a configured session would run.
  */
class GraftSqlParserSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_sqlparser").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.sqlcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.sqlcat.root", root)
    s
  }

  private def run(sql: String): Seq[org.apache.spark.sql.Row] = {
    val plan = GraftSqlParser.maintenance(sql)
      .getOrElse(fail(s"did not parse as maintenance: $sql"))
    org.apache.spark.sql.GraftExtensionsTestBridge.execute(spark, plan)
  }

  test("standard SQL is never intercepted") {
    assert(GraftSqlParser.maintenance("SELECT 1").isEmpty)
    assert(GraftSqlParser.maintenance(
      "CREATE TABLE t (optimize BIGINT, vacuum STRING)").isEmpty)
    assert(GraftSqlParser.maintenance("SELECT * FROM optimize_log").isEmpty)
  }

  test("OPTIMIZE COMPACT / VACUUM / ZORDER parse and run end to end") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE sqlcat.ns.m (id BIGINT, v DOUBLE)")
    (0 until 5).foreach { i =>
      Seq((i.toLong, i * 1.5)).toDF("id", "v").coalesce(1)
        .writeTo("sqlcat.ns.m").append()
    }

    val compacted = run(
      "OPTIMIZE sqlcat.ns.m COMPACT SMALL FILES MIN 10000 TARGET 100000")
    assert(compacted.head.getLong(0) == 5 && compacted.head.getLong(1) == 1,
      compacted.mkString(","))

    Thread.sleep(20)
    val vacuumed = run("VACUUM sqlcat.ns.m RETAIN 0 HOURS")
    assert(vacuumed.head.getLong(0) >= 1, vacuumed.mkString(","))
    assert(spark.table("sqlcat.ns.m").count() == 5)

    val zordered = run("OPTIMIZE sqlcat.ns.m ZORDER BY (id, v) INTO 2 FILES")
    assert(zordered.head.getLong(0) == 5, zordered.mkString(","))
    assert(spark.sql("SELECT CAST(SUM(id) AS BIGINT) FROM sqlcat.ns.m")
      .head().getLong(0) == 10L)
    spark.sql("DROP TABLE sqlcat.ns.m")
  }

  test("WAP branch DDL parses and runs the full create/stage/publish cycle") {
    val sp = spark
    import sp.implicits._
    spark.sql("CREATE TABLE sqlcat.ns.w (id BIGINT, v DOUBLE)")
    Seq((1L, 1.0)).toDF("id", "v").writeTo("sqlcat.ns.w").append()

    run("ALTER TABLE sqlcat.ns.w CREATE BRANCH audit")
    Seq((2L, 2.0)).toDF("id", "v")
      .writeTo("sqlcat.ns.w").option("branch", "audit").append()
    assert(spark.table("sqlcat.ns.w").count() == 1)
    assert(spark.sql("SELECT count(*) FROM sqlcat.ns.w VERSION AS OF 'audit'")
      .head().getLong(0) == 2)

    val published = run("ALTER TABLE sqlcat.ns.w PUBLISH BRANCH audit")
    assert(published.head.getLong(0) > 0, published.mkString(","))
    assert(spark.table("sqlcat.ns.w").count() == 2)

    run("ALTER TABLE sqlcat.ns.w CREATE BRANCH scratch")
    run("ALTER TABLE sqlcat.ns.w DROP BRANCH scratch")
    assert(graft.sources.Manifest.listBranches(
      java.nio.file.Paths.get(root, "ns", "w")).isEmpty)

    // plain ALTER TABLE statements still reach the stock parser
    assert(GraftSqlParser.maintenance(
      "ALTER TABLE sqlcat.ns.w ADD COLUMN extra BIGINT").isEmpty)
    spark.sql("DROP TABLE sqlcat.ns.w")
  }
}
