package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.GraftFunctions

class FoldKnownArraySizeGuardsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("inferred size-guard over an inline array folds away") {
    GraftFunctions.register(spark) // installs the rule
    val df = Seq(("a b c d e", 1L), ("f g h i j", 2L)).toDF("text", "id")
      .select(col("id"),
        posexplode(array((0 until 4).map(j =>
          GraftFunctions.minhash_sig(
            GraftFunctions.ngram_hashes(split(col("text"), " ")))(j)): _*))
          .as(Seq("band", "v")))
    val optimized = df.queryExecution.optimizedPlan.toString
    // without the rule the pushed guard inlines minhash_sig once per
    // array slot inside a Filter — the 30-50x blowup this rule prevents
    val filterLines = optimized.linesIterator.filter(_.contains("Filter")).toList
    assert(!filterLines.exists(_.contains("minhash_sig")),
      s"guard not folded:\n$optimized")
    assert(df.count() === 8) // 2 rows x 4 slots; semantics intact
  }

  test("ngram emptiness guard rewrites to the cheap token-count test") {
    GraftFunctions.register(spark)
    // explode over a computed shingle relation: InferFiltersFromGenerate
    // guards it with size(ngram_hashes(...)) > 0, and pushdown would land
    // that full per-document hashing pass on the scan a second time —
    // the rule must rewrite it to size(tokens) >= 3
    val df = Seq(("a b c d e", 1L), ("x y", 2L), (null: String, 3L))
      .toDF("text", "doc_id")
      .select(col("doc_id"),
        GraftFunctions.ngram_hashes(
          split(coalesce(col("text"), lit("")), " ")).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val filterLines = optimized.linesIterator.filter(_.contains("Filter")).toList
    assert(!filterLines.exists(_.contains("ngram_hashes")),
      s"ngram guard not rewritten:\n$optimized")
    // semantics intact: only the 5-token doc shingles (3 windows); the
    // 2-token and null docs are dropped by the rewritten guard exactly
    // as by the original
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).distinct.toSeq === Seq(1L))
    assert(rows.length === 3)
  }

  test("a rewritten guard that repeats an explicit filter conjunct is dropped") {
    GraftFunctions.register(spark)
    // PrefixFilterJoin's sets shape over a scan (a local relation would
    // fold the filter into its data): the explicit filter counts the same
    // tokens the ngram pass reads, so the rewritten guard repeats it, and
    // two reads of the relation only plan alike if one copy remains
    val tokens = split(coalesce(col("text"), lit("")), " ")
    val df = graft.Tables.table(spark, s"${graft.PathGuardSpec.TestDataRoot}/sf0.001", "documents")
      .filter(size(tokens) >= 3)
      .select(col("doc_id"), GraftFunctions.ngram_hashes(tokens).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val guards = optimized.linesIterator.filter(_.contains("Filter"))
      .map("size\\(split\\(coalesce".r.findAllIn(_).size).sum
    assert(guards == 1, s"token-count conjuncts:\n$optimized")
  }

  test("real predicates on the same filter survive the fold") {
    GraftFunctions.register(spark)
    val df = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
      .select(col("a"), explode(array(col("a") + 1, col("b") * 2)).as("v"))
      .filter(col("a") > 1)
    // the filter's effect survives (over a LocalRelation the optimizer
    // folds it into the data — values are the proof, not plan shape)
    assert(df.collect().map(_.getLong(1)).sorted.toSeq === Seq(6L, 12L))
  }
}
