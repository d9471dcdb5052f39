package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Append-only schema evolution: ADD COLUMN widens the table without
  * touching any data file — rows written before the change null-fill the
  * new trailing columns at read time, and every layer above (skipping
  * stats, DELETE, time travel) keeps working across the boundary.
  */
class SchemaEvolutionSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.evocat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.evocat.root",
      graft.TestDirs("graft_evo").toString)
    s
  }

  test("ADD COLUMN null-fills old rows; new writes carry the column") {
    spark.sql("CREATE TABLE evocat.ns.e (id BIGINT, s STRING)")
    spark.sql("INSERT INTO evocat.ns.e VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE evocat.ns.e ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO evocat.ns.e VALUES (3, 'c', 9.5)")

    val rows = spark.sql("SELECT id, s, score FROM evocat.ns.e ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))

    // filters on the new column see nulls in old rows (three-valued)
    assert(spark.sql("SELECT count(*) FROM evocat.ns.e WHERE score > 1.0")
      .head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM evocat.ns.e WHERE score IS NULL")
      .head().getLong(0) == 2)
    spark.sql("DROP TABLE evocat.ns.e")
  }

  test("DELETE with a predicate on the evolved column crosses old files safely") {
    spark.sql("CREATE TABLE evocat.ns.d (id BIGINT)")
    spark.sql("INSERT INTO evocat.ns.d VALUES (1), (2)")
    spark.sql("ALTER TABLE evocat.ns.d ADD COLUMN tag STRING")
    spark.sql("INSERT INTO evocat.ns.d VALUES (3, 'drop'), (4, 'keep')")
    spark.sql("DELETE FROM evocat.ns.d WHERE tag = 'drop'")
    // old rows have tag NULL → predicate UNKNOWN → they survive
    assert(spark.sql("SELECT id FROM evocat.ns.d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    spark.sql("DROP TABLE evocat.ns.d")
  }

  test("time travel reads pre-evolution snapshots under the widened schema") {
    spark.sql("CREATE TABLE evocat.ns.t (id BIGINT)")
    spark.sql("INSERT INTO evocat.ns.t VALUES (1)")
    spark.sql("ALTER TABLE evocat.ns.t ADD COLUMN v INT")
    spark.sql("INSERT INTO evocat.ns.t VALUES (2, 7)")
    val v1 = spark.sql("SELECT * FROM evocat.ns.t VERSION AS OF 1").collect()
    assert(v1.length == 1 && v1.head.getLong(0) == 1L && v1.head.isNullAt(1))
    spark.sql("DROP TABLE evocat.ns.t")
  }

  test("DROP COLUMN hides old data without rewriting; the name is tombstoned") {
    spark.sql("CREATE TABLE evocat.ns.d (id BIGINT, s STRING, bal DOUBLE)")
    spark.sql("INSERT INTO evocat.ns.d VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    spark.sql("ALTER TABLE evocat.ns.d DROP COLUMN s")
    // old files still carry the s key; the reader lexes and discards it
    val rows = spark.sql("SELECT id, bal FROM evocat.ns.d ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 1.5), (2L, 2.5)))
    assert(!spark.table("evocat.ns.d").columns.contains("s"))
    // post-drop writes render only the surviving columns
    spark.sql("INSERT INTO evocat.ns.d VALUES (3, 3.5)")
    assert(spark.table("evocat.ns.d").count() == 3)
    // re-adding a dropped name is rejected: old files keep the key at
    // its ORIGINAL position, and a trailing-position coincidence would
    // make the positional reader resurrect old values (or crash on a
    // type change) — the tombstone forces a fresh name instead
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.d ADD COLUMN s STRING"))
    assert(ex.getMessage.contains("previously dropped"), ex.getMessage)
    spark.sql("ALTER TABLE evocat.ns.d ADD COLUMN s2 STRING")
    spark.sql("INSERT INTO evocat.ns.d VALUES (4, 4.5, 'fresh')")
    assert(spark.sql("SELECT s2 FROM evocat.ns.d WHERE id = 4").head().getString(0) == "fresh")
    assert(spark.sql("SELECT s2 FROM evocat.ns.d WHERE id = 1").head().isNullAt(0))
    spark.sql("DROP TABLE evocat.ns.d")
  }

  test("dropping the TRAILING column then reading old files stays correct") {
    spark.sql("CREATE TABLE evocat.ns.dt (id BIGINT, s STRING)")
    spark.sql("INSERT INTO evocat.ns.dt VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE evocat.ns.dt DROP COLUMN s")
    assert(spark.table("evocat.ns.dt").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // the dangerous shape the tombstone exists for: a re-added trailing
    // column would align with the old key's position
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.dt ADD COLUMN s DOUBLE"))
    assert(ex.getMessage.contains("previously dropped"), ex.getMessage)
    spark.sql("DROP TABLE evocat.ns.dt")
  }

  test("ALTER COLUMN TYPE widens int to long without rewriting files") {
    spark.sql("CREATE TABLE evocat.ns.w (id BIGINT, qty INT)")
    spark.sql("INSERT INTO evocat.ns.w VALUES (1, 10), (2, 20)")
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.evocat.root"), "ns", "w")
    val filesBefore = Manifest.read(dir).files.toSet
    spark.sql("ALTER TABLE evocat.ns.w ALTER COLUMN qty TYPE BIGINT")
    assert(Manifest.read(dir).files.toSet == filesBefore) // metadata-only
    // old int literals re-parse as long; new 64-bit values append fine
    spark.sql("INSERT INTO evocat.ns.w VALUES (3, 4000000000)")
    val rows = spark.sql("SELECT id, qty FROM evocat.ns.w ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 4000000000L)))
    // time travel reads the pre-widen snapshot under the widened schema
    assert(spark.sql("SELECT sum(qty) FROM evocat.ns.w VERSION AS OF 1")
      .head().getLong(0) == 30L)
    spark.sql("DROP TABLE evocat.ns.w")
  }

  test("stats skipping survives widening: old min/max still prune files") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        case q: QueryStageExec => scan(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scan)
      }
      scan(df.queryExecution.executedPlan).map(_.inputPartitions.size).sum
    }
    spark.sql("CREATE TABLE evocat.ns.ws (id BIGINT, qty INT)")
    spark.sql("INSERT INTO evocat.ns.ws VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE evocat.ns.ws ALTER COLUMN qty TYPE BIGINT")
    spark.sql("INSERT INTO evocat.ns.ws VALUES (3, 4000000000)")
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.evocat.root"), "ns", "ws")
    val nFiles = Manifest.read(dir).files.size
    val t = spark.table("evocat.ns.ws")
    assert(plannedFiles(t) == nFiles) // no filter: all files
    // every pre-widen file's int stats, re-typed long, prune it; only
    // the post-widen file survives the planning
    val wide = t.filter("qty > 3000000000")
    assert(plannedFiles(wide) == 1)
    assert(wide.count() == 1)
    spark.sql("DROP TABLE evocat.ns.ws")
  }

  test("RENAME COLUMN is metadata-only: old files read under the new name") {
    spark.sql("CREATE TABLE evocat.ns.rn (id BIGINT, amount DOUBLE)")
    spark.sql("INSERT INTO evocat.ns.rn VALUES (1, 10.0), (2, 20.0)")
    spark.sql("ALTER TABLE evocat.ns.rn RENAME COLUMN amount TO price")
    spark.sql("INSERT INTO evocat.ns.rn VALUES (3, 30.0)")
    // old files carry key "amount", new files "price" — both bind to price
    val rows = spark.sql(
      "SELECT id, price FROM evocat.ns.rn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // filters and row-level ops on the renamed column cross old files
    assert(spark.sql(
      "SELECT count(*) FROM evocat.ns.rn WHERE price >= 20.0")
      .head().getLong(0) == 2)
    GraftUpdate.update(spark, "evocat.ns.rn",
      org.apache.spark.sql.functions.col("id") === 1L,
      Map("price" -> (org.apache.spark.sql.functions.col("price") +
        org.apache.spark.sql.functions.lit(1.0))))
    assert(spark.sql("SELECT price FROM evocat.ns.rn WHERE id = 1")
      .head().getDouble(0) == 11.0)
    spark.sql("DELETE FROM evocat.ns.rn WHERE price = 20.0")
    assert(spark.table("evocat.ns.rn").count() == 2)
    // chained rename: price -> cost still answers for the original key
    spark.sql("ALTER TABLE evocat.ns.rn RENAME COLUMN price TO cost")
    assert(spark.sql("SELECT CAST(SUM(cost) AS BIGINT) FROM evocat.ns.rn")
      .head().getLong(0) == 41L)
    // name-reuse hazards are rejected: former names stay reserved
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.rn ADD COLUMN amount DOUBLE"))
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.rn RENAME COLUMN id TO price"))
    // dropping a renamed column tombstones its whole name history
    spark.sql("ALTER TABLE evocat.ns.rn ADD COLUMN note STRING")
    spark.sql("ALTER TABLE evocat.ns.rn DROP COLUMN cost")
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.rn ADD COLUMN amount DOUBLE"))
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.rn ADD COLUMN cost DOUBLE"))
    spark.sql("DROP TABLE evocat.ns.rn")
  }

  test("unsupported evolutions are rejected loudly") {
    spark.sql("CREATE TABLE evocat.ns.r (id BIGINT, s STRING)")
    // lossy/narrowing type changes are rejected; only int->long/double widen
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.r ALTER COLUMN id TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.r ALTER COLUMN id TYPE DOUBLE")) // long->double loses >2^53
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.r ALTER COLUMN s TYPE BIGINT"))
    // dropping every column must fail (second drop hits the last-column guard)
    intercept[Exception](spark.sql("ALTER TABLE evocat.ns.r DROP COLUMNS (id, s)"))
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.r ADD COLUMN m MAP<STRING,STRING>"))
    intercept[Exception](
      spark.sql("ALTER TABLE evocat.ns.r ADD COLUMN x BIGINT FIRST"))
    intercept[Exception](spark.sql("ALTER TABLE evocat.ns.r ADD COLUMN id BIGINT"))
    // the table is still intact and readable
    spark.sql("INSERT INTO evocat.ns.r VALUES (1, 'ok')")
    assert(spark.table("evocat.ns.r").count() == 1)
    spark.sql("DROP TABLE evocat.ns.r")
  }
}
