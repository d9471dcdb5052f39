package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftPlans
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.PlanWalk

/** `GraftPlans.clusteredAggregate`: the rows and partitioning of
  * `df.repartition(w, k).groupBy(g).agg(...)` from one exchange with the
  * partial aggregate below it.
  */
class ClusteredAggregateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Six splits of rows with duplicates and nulls in the cluster key and
    * in another grouping column.
    */
  private lazy val input: DataFrame = {
    val schema = new StructType().add("k", StringType).add("v", StringType).add("x", LongType)
    val rows = for (i <- 0 until 600) yield Row(
      if (i % 7 == 0) null else s"d${i % 5}",
      if (i % 11 == 0) null else s"v${i % 3}",
      (i % 4).toLong)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 6), schema)
  }

  private def clustered(df: DataFrame, width: Int): DataFrame =
    GraftPlans.clusteredAggregate(df, Seq(col("k")), width,
      Seq(col("k"), col("v")), Seq(count(lit(1)).as("n"), sum(col("x")).as("s")))

  private def stock(df: DataFrame, width: Int): DataFrame =
    df.repartition(width, col("k")).groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))

  private def rowsOf(df: DataFrame): Set[(String, String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanWalk.nodes(df.queryExecution.executedPlan).map(_._2)
  }

  private def exchanges(plan: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    plan.collect { case e: ShuffleExchangeExec => e }

  /** The operator an exchange reads, through its codegen wrapper. */
  private def below(e: ShuffleExchangeExec): SparkPlan = e.child match {
    case w: WholeStageCodegenExec => w.child
    case other => other
  }

  test("rows equal repartition(w, k) then groupBy, null keys grouped null-safe") {
    for (width <- Seq(1, 3, 4)) {
      val got = rowsOf(clustered(input, width))
      assert(got == rowsOf(stock(input, width)), s"width $width")
      assert(got.exists(_._1 == null) && got.exists(_._2 == null))
      assert(got.toSeq.map(_._3).sum == 600L)
    }
  }

  test("the partial aggregate sits directly under the one keyed exchange") {
    val plan = executed(clustered(input, 3))
    val ex = exchanges(plan)
    assert(ex.size == 1, plan.mkString("\n"))
    assert(ex.head.shuffleOrigin == REPARTITION_BY_NUM)
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 3)
        assert(h.expressions.map { case a: AttributeReference => a.name } == Seq("k"))
      case other => fail(s"unexpected partitioning $other")
    }
    below(ex.head) match {
      case partial: HashAggregateExec =>
        assert(partial.requiredChildDistributionExpressions.isEmpty, partial)
      case other => fail(s"the exchange reads $other, not the partial aggregate")
    }
    // the partial aggregate combined before the exchange: fewer records
    // crossed it than the input has rows
    val written = ex.head.metrics("shuffleRecordsWritten").value
    assert(written < 600L && written == input.rdd.mapPartitions(it =>
      Iterator(it.map(r => (r.getString(0), r.getString(1))).toSet.size)).sum().toLong)
  }

  test("width 1 plans SinglePartition") {
    val ex = exchanges(executed(clustered(input, 1)))
    assert(ex.map(_.outputPartitioning) == Seq(SinglePartition), ex)
    assert(below(ex.head).isInstanceOf[HashAggregateExec], ex.head)
  }

  test("a cached result keeps HashPartitioning(k, w): groupBy(k) plans no exchange") {
    val cached = clustered(input, 3).cache()
    try {
      val perKey = cached.groupBy("k").agg(sum("n").as("n"))
      val plan = executed(perKey)
      // only the cached plan's own exchange, which ran once below the cache
      val ex = exchanges(plan)
      assert(ex.size == 1, plan.mkString("\n"))
      assert(ex.head.outputPartitioning.isInstanceOf[HashPartitioning])
      assert(perKey.rdd.getNumPartitions == 3)
      assert(perKey.collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap ==
        input.groupBy("k").count().collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap)
    } finally cached.unpersist()
  }

  test("a cluster key outside the grouping, a DISTINCT aggregate or a stream throws") {
    intercept[IllegalArgumentException](GraftPlans.clusteredAggregate(input, Seq(col("x")), 2,
      Seq(col("k"), col("v")), Seq(count(lit(1)))))
    intercept[IllegalArgumentException](GraftPlans.clusteredAggregate(input, Seq(upper(col("k"))), 2,
      Seq(upper(col("k"))), Seq(count(lit(1)))))
    intercept[IllegalArgumentException](GraftPlans.clusteredAggregate(input, Seq(col("k")), 2,
      Seq(col("k")), Seq(countDistinct(col("v")))))
    intercept[IllegalArgumentException](GraftPlans.clusteredAggregate(input, Seq(col("k")), 0,
      Seq(col("k")), Seq(count(lit(1)))))
    val stream = spark.readStream.format("rate").load()
    intercept[IllegalArgumentException](GraftPlans.clusteredAggregate(stream, Seq(col("value")), 2,
      Seq(col("value")), Seq(count(lit(1)))))
  }

  test("an empty input plans and returns no rows") {
    val empty = input.filter(lit(false))
    assert(clustered(empty, 3).collect().isEmpty)
    assert(clustered(input.limit(0), 3).collect().isEmpty)
  }

  test("concurrent installs register every strategy and rule exactly once") {
    val pool = Executors.newFixedThreadPool(8)
    try for (_ <- 0 until 20) {
      val session = spark.newSession()
      val start = new CountDownLatch(1)
      val done = (0 until 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            i % 3 match {
              case 0 => GraftPlans.install(session)
              case 1 => GraftPlans.installOptimizations(session)
              case _ => graft.functions.GraftFunctions.register(session)
            }
          }
        })
      }
      start.countDown()
      done.foreach(_.get(1, TimeUnit.MINUTES))
      val strategies = session.experimental.extraStrategies
      assert(strategies.count(_ == TopKPerKeyStrategy) == 1, strategies)
      assert(strategies.count(_ == ClusteredAggregateStrategy) == 1, strategies)
      assert(strategies.size == 2, strategies)
      val rules = session.experimental.extraOptimizations
      assert(rules.count(_ == TopKRewriteRule) == 1, rules)
      assert(rules.count(_ == FoldKnownArraySizeGuards) == 1, rules)
    } finally pool.shutdownNow()
  }
}
