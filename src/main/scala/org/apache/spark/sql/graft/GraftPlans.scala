package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.classic.ClassicConversions
import graft.plans.{TopKPerKey, TopKPerKeyStrategy, TopKRewriteRule}

/** Column-API surface for the engine's custom operators. Lives inside the
  * `org.apache.spark.sql` namespace because constructing a Dataset from a
  * custom LogicalPlan (`Dataset.ofRows`) and converting public `Column`s
  * to Catalyst expressions are `private[sql]` — the standard shim pattern
  * for Spark extension libraries.
  */
object GraftPlans {

  /** Ensure the planner knows the custom strategy (idempotent; the
    * sanctioned runtime hook for session-scoped strategies).
    */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies = cur :+ TopKPerKeyStrategy
  }

  /** Additionally enable the automatic `row_number() <= k` → TopKPerKey
    * rewrite (opt-in; see graft.plans.TopKRewriteRule).
    */
  def installOptimizations(spark: SparkSession): Unit = {
    install(spark)
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations = cur :+ TopKRewriteRule
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
