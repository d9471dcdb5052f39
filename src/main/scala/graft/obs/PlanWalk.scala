package graft.obs

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One operator of a physical plan with its non-zero SQL metrics, at its
  * depth below the root.
  */
final case class OpRow(depth: Int, node: String, metrics: Seq[(String, Long)])

/** Walks a physical plan as it finally ran. Adaptive plans are read
  * through their current (after execution: final) plan and query stages
  * through the plan they wrap. The walk also descends where `children`
  * stops: into broadcast and shuffle subtrees behind a query stage, into
  * subquery plans, and into the plan behind a cached relation. A reused
  * exchange or subquery is listed once, as itself; the subtree it reuses
  * appears where it first ran.
  */
object PlanWalk {

  def nodes(root: SparkPlan): Seq[(Int, SparkPlan)] = {
    val out = Seq.newBuilder[(Int, SparkPlan)]
    def go(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan, depth)
      case s: QueryStageExec => go(s.plan, depth)
      case other =>
        out += depth -> other
        val below = other match {
          case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
          case _ => other.children
        }
        (below ++ other.subqueries).foreach(go(_, depth + 1))
    }
    go(root, 0)
    out.result()
  }

  def operators(root: SparkPlan): Seq[OpRow] = nodes(root).map { case (depth, p) =>
    OpRow(depth, p.nodeName, p.metrics.toSeq.map { case (k, m) => k -> m.value }
      .filter(_._2 > 0).sortBy(_._1))
  }
}
