package graft.sources

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Write-audit-publish branches: staged rows are invisible to main
  * readers, auditable via VERSION AS OF '<branch>', publish is an atomic
  * fast-forward that fails (changing nothing) if main advanced since the
  * fork, and dropped branches leave main untouched.
  */
class WapBranchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshTable(): (String, java.nio.file.Path) = {
    val root = graft.TestDirs("graft_wap").toString
    val cat = s"wap${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.g.t (k BIGINT, v STRING)")
    (s"$cat.g.t", Paths.get(root, "g", "t"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("staged branch rows are invisible on main until publish") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "base"), (2L, "base")).toDF("k", "v").writeTo(t).append()

    GraftCatalog.createBranch(dir, "audit")
    Seq((3L, "staged"), (4L, "staged")).toDF("k", "v")
      .writeTo(t).option("branch", "audit").append()

    // main unchanged; branch sees base + staged (fork carries history)
    assert(rows(spark.table(t)) == Set((1L, "base"), (2L, "base")))
    assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 'audit'")) ==
      Set((1L, "base"), (2L, "base"), (3L, "staged"), (4L, "staged")))

    val v = GraftCatalog.publishBranch(dir, "audit")
    assert(v > 0)
    assert(rows(spark.table(t)) ==
      Set((1L, "base"), (2L, "base"), (3L, "staged"), (4L, "staged")))
    // the branch is consumed by publish
    assert(Manifest.listBranches(dir).isEmpty)
  }

  test("publish fails atomically when main advanced since the fork") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "base")).toDF("k", "v").writeTo(t).append()

    GraftCatalog.createBranch(dir, "audit")
    Seq((2L, "staged")).toDF("k", "v")
      .writeTo(t).option("branch", "audit").append()
    // concurrent main commit AFTER the fork
    Seq((9L, "concurrent")).toDF("k", "v").writeTo(t).append()

    val e = intercept[IllegalArgumentException] {
      GraftCatalog.publishBranch(dir, "audit")
    }
    assert(e.getMessage.contains("main advanced"))
    // nothing changed: main keeps both its commits, branch still exists
    assert(rows(spark.table(t)) == Set((1L, "base"), (9L, "concurrent")))
    assert(Manifest.listBranches(dir) == Seq("audit"))
    // recovery: re-fork from the new head and re-stage
    GraftCatalog.dropBranch(dir, "audit")
    GraftCatalog.createBranch(dir, "audit2")
    Seq((2L, "staged")).toDF("k", "v")
      .writeTo(t).option("branch", "audit2").append()
    GraftCatalog.publishBranch(dir, "audit2")
    assert(rows(spark.table(t)) ==
      Set((1L, "base"), (9L, "concurrent"), (2L, "staged")))
  }

  test("dropBranch discards staged rows; writes to unknown branches fail") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "base")).toDF("k", "v").writeTo(t).append()
    GraftCatalog.createBranch(dir, "audit")
    Seq((2L, "staged")).toDF("k", "v")
      .writeTo(t).option("branch", "audit").append()
    GraftCatalog.dropBranch(dir, "audit")
    assert(rows(spark.table(t)) == Set((1L, "base")))
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 'audit'").collect()
    }
    // staging to a branch that was never created is loud
    val err = intercept[Exception] {
      Seq((3L, "x")).toDF("k", "v").writeTo(t).option("branch", "nope").append()
    }
    assert(err.getMessage.contains("createBranch") ||
      Option(err.getCause).exists(_.getMessage.contains("createBranch")))
  }

  test("branch snapshots stay out of main history until publish; aggregates push down on branch reads") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo(t).append()
    GraftCatalog.createBranch(dir, "audit")
    Seq((3L, "c")).toDF("k", "v").writeTo(t).option("branch", "audit").append()
    // count on the branch answers from the branch manifest
    val n = spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 'audit'")
      .head().getLong(0)
    assert(n == 3L)
    // main count unchanged
    assert(spark.table(t).count() == 2L)
    // the staged snapshot is ref-tagged and NOT part of main history
    val staged = Manifest.listSnapshots(dir)
      .filter(v => Manifest.snapshotRef(dir, v).contains("audit"))
    assert(staged.nonEmpty)
    assert(Manifest.listMainSnapshots(dir).intersect(staged).isEmpty)
    // numeric VERSION AS OF of a staged snapshot refuses loudly instead
    // of leaking unaudited rows to a main reader
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF ${staged.head}").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("branch 'audit'")))
    // TIMESTAMP AS OF "now" resolves to the latest MAIN state (2 rows),
    // not the younger staged branch snapshot
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF '2035-01-01 00:00:00'")
      .head().getLong(0) == 2L)
    // publish folds the staged snapshot into main history
    GraftCatalog.publishBranch(dir, "audit")
    assert(Manifest.snapshotRef(dir, staged.head).isEmpty)
    assert(Manifest.listMainSnapshots(dir).contains(staged.head))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF ${staged.head}")
      .head().getLong(0) == 3L)
  }

  test("dropped branch leaves no numbered-history entries") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "base")).toDF("k", "v").writeTo(t).append()
    GraftCatalog.createBranch(dir, "audit")
    Seq((2L, "staged")).toDF("k", "v")
      .writeTo(t).option("branch", "audit").append()
    val staged = Manifest.listSnapshots(dir)
      .filter(v => Manifest.snapshotRef(dir, v).contains("audit"))
    assert(staged.nonEmpty)
    GraftCatalog.dropBranch(dir, "audit")
    // the staged snapshots are gone; main history is exactly its own commits
    assert(Manifest.listSnapshots(dir).intersect(staged).isEmpty)
    assert(Manifest.listSnapshots(dir) ==
      Manifest.listMainSnapshots(dir))
  }

  test("branch names with path separators are rejected before path resolution") {
    val (t, dir) = freshTable()
    // VERSION AS OF '<str>' reaches loadTable(ident, version) — the arm
    // the SQL-parser [\w-]+ validation does NOT cover
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF '../escape'").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("branch name")))
    intercept[IllegalArgumentException] { GraftCatalog.dropBranch(dir, "../x") }
    intercept[IllegalArgumentException] { GraftCatalog.publishBranch(dir, "a/b") }
    intercept[IllegalArgumentException] { GraftCatalog.createBranch(dir, "a/../b") }
  }

  test("compacting main keeps the files a live branch references") {
    import spark.implicits._
    val (t, dir) = freshTable()
    Seq((1L, "base")).toDF("k", "v").coalesce(1).writeTo(t).append()
    Seq((2L, "base")).toDF("k", "v").coalesce(1).writeTo(t).append()
    GraftCatalog.createBranch(dir, "audit")
    Seq((3L, "staged")).toDF("k", "v").writeTo(t).option("branch", "audit").append()

    GraftCatalog.compact(dir)
    assert(rows(spark.table(t)) == Set((1L, "base"), (2L, "base")))
    assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 'audit'")) ==
      Set((1L, "base"), (2L, "base"), (3L, "staged")))
  }
}
