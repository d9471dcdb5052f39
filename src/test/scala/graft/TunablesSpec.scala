package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexGenerations, NearDupLsh}
import graft.sources.{GraftCatalog, Manifest}

/** The non-numeric tunables at the engine's own reads: booleans are
  * `true`/`false` in any case, `delete.mode` is `cow|mor` in any case,
  * and anything else fails naming the key. Also the catalog maintain
  * file cap, whose out-of-int-range values once wrapped to 0. (The
  * numeric tunables' table lives in `IndexLifecycleSpec`.)
  */
class TunablesSpec extends AnyFunSuite {
  import TunablesSpec._

  private lazy val root = graft.TestDirs("graft_tunables").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.tuncat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.tuncat.root", root)
    s
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] = {
    df.collect()
    def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case q: QueryStageExec => scan(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scan)
    }
    scan(df.queryExecution.executedPlan)
  }

  /** A one-file parquet table of `n` ids in many small row groups. */
  private lazy val rowGroupTable: String = {
    import spark.implicits._
    spark.sql("CREATE TABLE tuncat.ns.rg (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    withConf("spark.graft.parquet.rowGroupBytes", "65536") {
      (0L until 40000L).map(i => (i, f"r$i%06d")).toDF("id", "s")
        .coalesce(1).writeTo("tuncat.ns.rg").append()
    }
    "tuncat.ns.rg"
  }

  private def mkJsonTable(name: String, files: Int): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE tuncat.ns.$name (id BIGINT, s STRING)")
    (0 until files).foreach { f =>
      (f * 10L until f * 10L + 10L).map(i => (i, s"v$i")).toDF("id", "s")
        .coalesce(1).writeTo(s"tuncat.ns.$name").append()
    }
  }

  test("catalog.columnarRead and rowGroupSkip read TRUE and False in any case") {
    val point = () => spark.table(rowGroupTable).filter("id = 25000")
    def columnar(v: String) =
      withConf("spark.graft.catalog.columnarRead", v)(scans(point()).map(_.supportsColumnar))
    assert(columnar("TRUE") == Seq(true), "TRUE must keep the columnar reader")
    assert(columnar("False") == Seq(false), "False must select the row reader")
    def decoded(v: String) = withConf("spark.graft.catalog.rowGroupSkip", v) {
      val df = point()
      val rows = scans(df).map(_.metrics("numOutputRows").value).sum
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(25000L))
      rows
    }
    assert(decoded("TRUE") <= 40000L / 2, "TRUE must keep row-group skipping on")
    assert(decoded("FALSE") == 40000L, "FALSE must read every row group")
  }

  test("delete.mode reads MOR in any case; any other mode fails naming the key") {
    mkJsonTable("mor", 2)
    try {
      val dir = Paths.get(root, "ns", "mor")
      val before = Manifest.read(dir).files
      withConf("spark.graft.delete.mode", "MOR") {
        spark.sql("DELETE FROM tuncat.ns.mor WHERE id = 3")
      }
      assert(Manifest.read(dir).files == before, "MOR must rewrite no data file")
      assert(Manifest.read(dir).dvs.values.map(_.size).sum == 1)
      withConf("spark.graft.delete.mode", "merge-on-read") {
        val ex = failure("spark.graft.delete.mode")(
          spark.sql("DELETE FROM tuncat.ns.mor WHERE id = 4"))
        assert(ex.getMessage.contains("merge-on-read"))
      }
      assert(spark.table("tuncat.ns.mor").count() == 19)
    } finally spark.sql("DROP TABLE tuncat.ns.mor")
  }

  test("catalog.maintainMaxFiles past the int range fails naming the key, never wraps to 0") {
    mkJsonTable("mt", 2)
    try {
      val dir = Paths.get(root, "ns", "mt")
      val schema = spark.table("tuncat.ns.mt").schema
      withConf("spark.graft.catalog.maintainMaxFiles", "4294967296") {
        val ex = failure("spark.graft.catalog.maintainMaxFiles")(
          GraftCatalog.maintain(spark, dir, schema))
        assert(ex.getMessage.contains("4294967296"))
      }
      assert(Manifest.read(dir).files.size == 2, "a rejected cap must compact nothing")
      val (before, after, _) = GraftCatalog.maintain(spark, dir, schema)
      assert(before == 2 && after == 2, "2 files are under the default cap")
    } finally spark.sql("DROP TABLE tuncat.ns.mt")
  }

  test("boolean and enum tunables: malformed values fail naming the key") {
    mkJsonTable("flags", 1)
    val idx = graft.TestDirs("graft_tunables_idx").toString
    // every non-numeric tunable, read where the engine reads it, with
    // its legal values in an unusual case
    val readers: Map[Tunables.Entry[_], (Seq[String], () => Any)] = Map(
      Tunables.ColumnarRead -> (Seq("True", "FALSE") ->
        (() => spark.table(rowGroupTable).filter("id = 1").collect())),
      Tunables.RowGroupSkip -> (Seq("TRUE", "False") ->
        (() => spark.table(rowGroupTable).filter("id = 1").collect())),
      Tunables.AutoMaintain -> (Seq("FALSE") ->
        (() => IndexGenerations.maintainTick(spark, idx, idx, 1L, NearDupLsh))),
      Tunables.DeleteMode -> (Seq("COW", "Mor") ->
        (() => spark.sql("DELETE FROM tuncat.ns.flags WHERE id = -1"))))
    try {
      assert(readers.keySet ==
        Tunables.all.filterNot(_.isInstanceOf[Tunables.Num]).toSet)
      readers.foreach { case (entry, (legal, read)) =>
        Seq("yes", "1", "", "tru").foreach { bad =>
          withConf(entry.key, bad) {
            val ex = failure(entry.key)(read())
            assert(ex.getMessage.contains(s"'$bad'"), s"${entry.key}=$bad: ${ex.getMessage}")
          }
        }
        legal.foreach(v => withConf(entry.key, v)(read()))
      }
    } finally spark.sql("DROP TABLE tuncat.ns.flags")
  }
}

object TunablesSpec extends Assertions {

  /** The IllegalArgumentException naming `key` that `body` throws,
    * possibly wrapped by Spark's execution layers.
    */
  def failure(key: String)(body: => Any): IllegalArgumentException = {
    val thrown = intercept[Throwable](body)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    chain(thrown).collectFirst {
      case e: IllegalArgumentException if e.getMessage.contains(key) => e
    }.getOrElse(fail(s"expected a failure naming $key, got $thrown"))
  }
}
