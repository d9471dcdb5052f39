package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Logical aggregate whose one shuffle is `repartition(width, clusterBy)`:
  * the result is hash-partitioned on `clusterBy` into exactly `width`
  * partitions (one partition at width 1), like the aggregate of a
  * repartitioned input, but the map-side partial aggregate runs BELOW the
  * exchange, so only each input split's distinct groups cross it. Stock
  * planning of `groupBy(g)` over `repartition(width, k)` puts both
  * aggregate phases above the exchange and ships every input row.
  *
  * `child` is the aggregate. `clusterBy` must be grouping attributes (so
  * every group lands in one partition) and the aggregates must have no
  * DISTINCT; `GraftPlans.clusteredAggregate` checks both where it builds
  * the node. Opt-in: only plans that contain this node change.
  */
case class ClusteredAggregate(
    clusterBy: Seq[Expression],
    width: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): ClusteredAggregate =
    copy(child = newChild)

  def partitioning: Partitioning =
    if (width == 1) SinglePartition else HashPartitioning(clusterBy, width)
}

/** Plans [[ClusteredAggregate]] with Spark's own aggregate planning
  * (`PhysicalAggregation` + `AggUtils`), then puts the node's exchange
  * between the two phases: `final ← Exchange(partitioning) ← partial`.
  * The exchange is `REPARTITION_BY_NUM`, the origin `repartition(n, k)`
  * plans with, so AQE never coalesces or splits it and the width holds;
  * its partitioning satisfies the final phase's clustering on the
  * grouping, so EnsureRequirements adds nothing. A child the optimizer
  * rewrote into something other than an aggregate (an empty input's
  * local relation) gets the exchange on top instead.
  */
object ClusteredAggregateStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c @ ClusteredAggregate(_, _, PhysicalAggregation(grouping, aggs, results, child)) =>
      val finalAgg = AggUtils.planAggregateWithoutDistinct(grouping,
        aggs.map(_.asInstanceOf[AggregateExpression]), results, planLater(child)).head
      finalAgg.mapChildren(partial =>
        ShuffleExchangeExec(c.partitioning, partial, REPARTITION_BY_NUM)) :: Nil
    case c: ClusteredAggregate =>
      ShuffleExchangeExec(c.partitioning, planLater(c.child), REPARTITION_BY_NUM) :: Nil
    case _ => Nil
  }
}
