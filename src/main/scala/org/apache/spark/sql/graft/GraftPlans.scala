package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.catalyst.rules.Rule
import graft.plans.{ClusteredAggregate, ClusteredAggregateStrategy, TopKPerKey,
  TopKPerKeyStrategy, TopKRewriteRule}

/** Column-API surface for the engine's custom operators. Lives inside the
  * `org.apache.spark.sql` namespace because constructing a Dataset from a
  * custom LogicalPlan (`Dataset.ofRows`) and converting public `Column`s
  * to Catalyst expressions are `private[sql]` — the standard shim pattern
  * for Spark extension libraries.
  */
object GraftPlans {

  /** Every planner strategy of the engine's custom logical nodes. */
  private val strategies = Seq(TopKPerKeyStrategy, ClusteredAggregateStrategy)

  /** Ensure the planner knows every custom strategy (idempotent; the
    * sanctioned runtime hook for session-scoped strategies). The
    * read-modify-write of the session's strategy list holds the
    * session's experimental-methods lock, so concurrent installs (one
    * per query built) never drop each other's update; every graft
    * strategy goes in with one assignment.
    */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    val cur = spark.experimental.extraStrategies
    val missing = strategies.filterNot(cur.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = cur ++ missing
  }

  /** Add `rules` to the session's extra optimizer rules, each once, under
    * the same lock as [[install]].
    */
  def addOptimizations(spark: SparkSession, rules: Rule[logical.LogicalPlan]*): Unit =
    spark.experimental.synchronized {
      val cur = spark.experimental.extraOptimizations
      val missing = rules.filterNot(cur.contains)
      if (missing.nonEmpty) spark.experimental.extraOptimizations = cur ++ missing
    }

  /** Additionally enable the automatic `row_number() <= k` → TopKPerKey
    * rewrite (opt-in; see graft.plans.TopKRewriteRule).
    */
  def installOptimizations(spark: SparkSession): Unit = {
    install(spark)
    addOptimizations(spark, TopKRewriteRule)
  }

  /** Wrap a Catalyst expression as a public Column (`ExpressionUtils
    * .column` is `private[sql]` territory — the same shim rationale as
    * the rest of this object). Used by operators that construct
    * parameterized expressions directly (e.g. IvfIndex's map-side
    * nearest-centroid assignment, whose baked centroid matrix has no
    * literal encoding).
    */
  def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (inverse of [[exprColumn]]). */
  def columnExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until the SparkContext's async listener bus has delivered
    * every queued event (bounded by `timeoutMillis`). Measurement code
    * that reads SparkListener-accumulated metrics (e.g. StageRecorder's
    * shuffle-byte counters) needs this barrier — a fixed sleep
    * undercounts whenever stage-completed events arrive late under
    * load. `SparkContext.listenerBus` is `private[spark]`, hence this
    * lives in the shim package; it is the same barrier Spark's own
    * listener tests use.
    */
  def drainListenerBus(spark: SparkSession, timeoutMillis: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Delete `dir`, with everything under it, when the JVM exits: Spark's
    * own temp-dir shutdown hook, whose `ShutdownHookManager` is
    * `private[spark]`.
    */
  def deleteOnShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** First k rows per key group under `order` (pass a total order for
    * deterministic results). Plans to the two-phase heap operator —
    * see graft.plans.TopKPerKey.
    *
    * Key/order Columns are resolved by borrowing the analyzer's own work:
    * the analyzed `sortWithinPartitions` / `repartition` plans yield
    * fully-resolved SortOrder / key expressions against the same child.
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    require(keys.nonEmpty,
      "topKPerKey requires at least one key; for global top-k use orderBy(...).limit(k) " +
        "(TakeOrderedAndProject), which is already optimal")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    install(spark)
    val sortPlan = ClassicConversions.castToImpl(df.sortWithinPartitions(order: _*))
      .queryExecution.analyzed.asInstanceOf[logical.Sort]
    val keyPlan = ClassicConversions.castToImpl(df.repartition(keys: _*))
      .queryExecution.analyzed.asInstanceOf[logical.RepartitionByExpression]
    val plan = TopKPerKey(keyPlan.partitionExpressions, sortPlan.order, k, sortPlan.child)
    org.apache.spark.sql.classic.Dataset.ofRows(
      ClassicConversions.castToImpl(spark), plan)
  }

  /** `df.groupBy(grouping).agg(aggs)`, hash-partitioned on `clusterBy`
    * into exactly `width` partitions (one at width 1) by one exchange,
    * with the partial aggregate below it: the rows and partitioning of
    * `df.repartition(width, clusterBy).groupBy(grouping).agg(aggs)`,
    * but each input split ships its distinct groups instead of its rows.
    * See graft.plans.ClusteredAggregate. `clusterBy` must be non-empty
    * grouping columns, the aggregates must have no DISTINCT, and `df`
    * must not be streaming; anything else throws
    * `IllegalArgumentException`.
    */
  def clusteredAggregate(df: DataFrame, clusterBy: Seq[Column], width: Int,
      grouping: Seq[Column], aggs: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    require(clusterBy.nonEmpty, "clusteredAggregate requires at least one cluster key")
    require(aggs.nonEmpty, "clusteredAggregate requires at least one aggregate")
    require(width >= 1, s"width must be >= 1, got $width")
    require(!df.isStreaming, "clusteredAggregate does not plan streaming aggregates")
    val spark = df.sparkSession
    install(spark)
    val agg = ClassicConversions.castToImpl(df.groupBy(grouping: _*).agg(aggs.head, aggs.tail: _*))
      .queryExecution.analyzed.asInstanceOf[logical.Aggregate]
    val keys = ClassicConversions.castToImpl(df.repartition(clusterBy: _*))
      .queryExecution.analyzed.asInstanceOf[logical.RepartitionByExpression]
      .partitionExpressions
    for (k <- keys) require(k.isInstanceOf[Attribute] &&
      agg.groupingExpressions.exists(_.semanticEquals(k)),
      s"cluster key $k is not a grouping column of ${agg.groupingExpressions.mkString(", ")}")
    require(!agg.aggregateExpressions.exists(_.exists {
      case a: AggregateExpression => a.isDistinct
      case _ => false
    }), "clusteredAggregate does not plan DISTINCT aggregates")
    org.apache.spark.sql.classic.Dataset.ofRows(
      ClassicConversions.castToImpl(spark), ClusteredAggregate(keys, width, agg))
  }

  /** Translate a `Column` predicate over `df` into data-source `Filter`s
    * (the representation the stats-skipping layer plans with). Conjuncts
    * that have no Filter form are dropped — callers must treat the
    * result as a NECESSARY condition (sound for pruning: fewer filters
    * only keep more files). Resolution borrows the analyzer's own work
    * on a throwaway `df.filter(cond)` plan, the same trick topKPerKey
    * uses; translateFilter itself is `private[sql]`, hence the shim.
    */
  def translateFilters(df: DataFrame, cond: Column): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, PredicateHelper}
    import org.apache.spark.sql.execution.datasources.DataSourceStrategy
    object Split extends PredicateHelper {
      def conjuncts(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
    }
    // the OPTIMIZED plan, not the analyzed one: analysis leaves literals
    // wrapped in unfoldable casts (id >= cast(150 as bigint)) that
    // translateFilter rejects; constant folding normalizes them
    val optimized = ClassicConversions.castToImpl(df.filter(cond))
      .queryExecution.optimizedPlan
    optimized.collect { case logical.Filter(c, _) => Split.conjuncts(c) }
      .flatten
      .flatMap(e =>
        DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false))
      .toArray
  }
}
