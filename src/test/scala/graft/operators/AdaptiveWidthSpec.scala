package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Width-derivation contracts for the scale-adaptive candidate pin
  * (VERDICT r17 #5): the pin width keys on the CANDIDATE subtree's
  * plan-stat bytes — which price in the shingle explosion and bucket
  * pairing — not on the raw corpus relation's, and it clamps into
  * [1, maxWidth] under the configurable per-partition byte budget.
  */
class AdaptiveWidthSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val budgetKey = "spark.graft.repartitionBytesPerPartition"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def withBudget[T](bytes: Long)(body: => T): T = {
    spark.conf.set(budgetKey, bytes.toString)
    try body finally spark.conf.unset(budgetKey)
  }

  private def pinWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
        r.optNumPartitions.get
    }

  /** The width of the candidate pin: the explicit-width repartition
    * keyed on (doc_a, doc_b), or 1 when the pin was skipped.
    */
  private def pinWidth(df: org.apache.spark.sql.DataFrame): Int = {
    val pins = df.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression if r.optNumPartitions.isDefined &&
          r.partitionExpressions.flatMap(_.references.map(_.name)) ==
            Seq("doc_a", "doc_b") =>
        r.optNumPartitions.get
    }
    assert(pins.size <= 1, s"one candidate pin expected, got $pins")
    pins.headOption.getOrElse(1)
  }

  test("of() clamps into [1, maxWidth] under the byte budget") {
    val d = docs
    val bytes = d.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes > 0)
    assert(withBudget(Long.MaxValue / 4)(AdaptiveWidth.of(d, 32)) == 1)
    assert(withBudget(1L)(AdaptiveWidth.of(d, 32)) == 32)
    val mid = (bytes / 2).toLong.max(1L)
    val w = withBudget(mid)(AdaptiveWidth.of(d, 32))
    assert(w >= 2 && w <= 32)
  }

  test("bench regime: default budget skips the candidate pin (width 1)") {
    assert(pinWidth(PrefixFilterJoin.pairs(docs, 4, 5)) == 1)
  }

  test("candidate pin width responds to the candidate subtree's bytes") {
    // tiny budget stands in for the tiny-corpus/huge-candidate regime:
    // the width must re-engage (clamped to shuffle.partitions) and the
    // pinned repartition must be IN the plan — the hazard VERDICT r17
    // #3 named (pin skipped, rescore serialized) cannot occur when the
    // candidate bytes demand width
    withBudget(64L) {
      val df = PrefixFilterJoin.pairs(docs, 4, 5)
      val w = pinWidth(df)
      assert(w == spark.conf.get("spark.sql.shuffle.partitions").toInt,
        s"tiny budget must clamp the pin to full width, got $w")
      assert(pinWidths(df).contains(w),
        "the pinned repartition must appear in the optimized plan")
    }
  }

  test("pin width is never LOOSER than the r17 corpus derivation") {
    // the combined width is max(corpus term, candidate term): Catalyst's
    // width-ratio scaling can shrink the candidate estimate below the
    // corpus bytes (candidates project to two longs — measured at
    // sf0.001: candidate-only width 1 where the corpus width was >= 2),
    // so the corpus term must remain the floor
    val corpusBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val budget = (corpusBytes / 2).toLong.max(1L)
    withBudget(budget) {
      val corpusW = AdaptiveWidth.of(docs, 32)
      assert(corpusW >= 2, s"fixture too small for the floor check: $corpusW")
      val w = pinWidth(PrefixFilterJoin.pairs(docs, 4, 5))
      assert(w >= corpusW,
        s"combined width $w fell below the corpus floor $corpusW")
    }
  }

  test("LSH candidate pin keys on its candidate subtree too") {
    withBudget(64L) {
      assert(pinWidth(NearDupLsh.pairs(docs, threshold = 0.5d)) ==
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
    }
  }
}
