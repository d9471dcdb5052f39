package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PathGuardSpec, SparkTestSession}
import graft.functions.GraftFunctions

/** Exactness of the in-line prefix-filter join at every corpus width.
  * Above width 1 the rarest-first order is counted over a 1/w sample of
  * the docs, a different total order than the full-frequency one of
  * width 1; the pairs and their scores must not change. The per-partition
  * byte budget picks the width on small corpora: `Long.MaxValue` forces
  * width 1 (the synthetic source reports no size, so its default is the
  * full width) and 64 bytes the full width. Every run must equal an
  * all-pairs Jaccard computed in Scala from the shingle sets.
  */
class PpjoinSampledOrderSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val budgetKey = "spark.graft.repartitionBytesPerPartition"
  private val budgets = Seq(None, Some(Long.MaxValue), Some(64L))

  private def session(budget: Option[Long]): SparkSession = {
    val s = spark.newSession()
    budget.foreach(b => s.conf.set(budgetKey, b.toString))
    s
  }

  private val corpora: Seq[(String, SparkSession => DataFrame)] = Seq(
    "sf0.01 documents" -> (s => graft.Tables.table(s, s"${PathGuardSpec.TestDataRoot}/sf0.01",
      "documents").select(col("doc_id"), col("n_chars"), col("text"))),
    // 5% of the docs are one-word-substitution copies of their predecessor
    "synthetic planted near-dups" -> (s => s.read.format("graft-docs")
      .option("rows", 1500).option("partitions", 4).option("seed", 7)
      .option("vocabSize", 5000).option("dupRate", 0.05).load()
      .select(col("doc_id"), col("n_chars"), col("text"))),
    // 11 distinct tokens each, so 9 shingles, 8 of them shared:
    // jaccard 8/10, exactly the threshold, which the prefix of
    // |d| - ceil(t·|d|) + 1 = 2 shingles finds and a 1-shingle prefix
    // misses (the unshared shingle ranks first in both docs)
    "a pair at exactly 4/5" -> { s =>
      val tail = (2 to 11).map(i => f"t$i%02d").mkString(" ")
      s.createDataFrame(Seq(1L -> s"a01 $tail", 2L -> s"b01 $tail"))
        .toDF("doc_id", "text").select(col("doc_id"), length(col("text")).cast("long")
          .as("n_chars"), col("text"))
    })

  private type Pair = (Long, Long, Double)

  /** Every pair with jaccard >= 4/5 (and n_chars within `charWindow`
    * when it is >= 0), by merging each pair's sorted shingle sets.
    */
  private def brute(docs: DataFrame, charWindow: Int): Set[Pair] = {
    GraftFunctions.register(docs.sparkSession)
    val sets = docs
      .select(col("doc_id"), col("n_chars"),
        GraftFunctions.ngram_hashes(split(coalesce(col("text"), lit("")), " ")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .filter(_._3.nonEmpty).sortBy(_._1)
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var (i, j, inter) = (0, 0, 0)
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
      inter.toDouble / (a.length + b.length - inter)
    }
    (for {
      x <- sets.indices.iterator
      y <- (x + 1) until sets.length
      (ida, nca, sa) = sets(x)
      (idb, ncb, sb) = sets(y)
      if charWindow < 0 || math.abs(nca - ncb) <= charWindow
      jac = jaccard(sa, sb)
      if jac >= 0.8
    } yield (ida, idb, jac)).toSet
  }

  private def rows(df: DataFrame): Set[Pair] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  for ((name, load) <- corpora; charWindow <- Seq(-1, 16)) {
    val variant = if (charWindow < 0) "plain" else s"charWindow = $charWindow"
    test(s"$name, $variant: pairs equal the all-pairs Jaccard at every width") {
      val truth = brute(load(spark), charWindow)
      assert(truth.nonEmpty, s"$name should hold near-dup pairs")
      val widths = budgets.map { b =>
        val s = session(b)
        val docs = load(s)
        val w = AdaptiveWidth.of(docs, s.conf.get("spark.sql.shuffle.partitions").toInt)
        val df = PrefixFilterJoin.pairs(docs, num = 4, den = 5, charWindow = charWindow)
        if (w > 1) {
          val spread = df.queryExecution.optimizedPlan.collect {
            case r: RepartitionByExpression if r.optNumPartitions.contains(w) => r
          }
          assert(spread.nonEmpty, s"budget $b: no doc_id repartition to width $w")
        }
        val got = rows(df)
        assert(got == truth, s"budget $b (width $w): missing ${truth -- got}, extra ${got -- truth}")
        w
      }
      assert(widths.contains(1) && widths.exists(_ > 1), s"widths run: $widths")
    }
  }
}
