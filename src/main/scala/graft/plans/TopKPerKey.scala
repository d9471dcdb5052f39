package graft.plans

import java.util.{PriorityQueue => JPriorityQueue}
import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReferences
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateOrdering, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode}

/** Logical per-key top-k: the first `k` rows of each key group under
  * `order` (give a total order for determinism). Unlike the
  * `row_number() <= k` window pattern — which shuffles EVERY row and
  * fully sorts every partition — this plans to a two-phase heap
  * selection: partial top-k per input partition, shuffle only the
  * survivors (≤ k rows per key per partition), final top-k after the
  * exchange. At 100 TB with small k the shuffle shrinks by orders of
  * magnitude and nothing is ever fully sorted.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical two-phase selection. `partial = true` runs on whatever
  * partitioning the child has and keeps per-key bounded heaps (over a
  * configurable key cap, extra keys' rows stream through un-pruned — a
  * superset is a correct partial result). The final node demands
  * clustering AND (key, order) sort order, so EnsureRequirements inserts
  * one hash exchange plus a spill-safe SortExec over the pre-pruned rows;
  * the final pass is then a streaming "first k per group" with O(1)
  * state — no cardinality limit at any key count.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The final phase is a stateless-per-row streaming transform over
    * sorted input (two mutable scalars of state), so it fuses into the
    * whole-stage span like FilterExec — no codegen boundary between the
    * sort above the exchange and whatever consumes the top-k rows. The
    * partial phase buffers per-key heaps (a blocking shape, like
    * SortExec's consume side) and stays interpreted; it ends the scan
    * span, which is the price of heap pruning before the shuffle.
    */
  override def supportCodegen: Boolean = !partial

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    // group-change detection via an UnsafeRow key projection — the same
    // pattern HashAggregateExec uses for grouping keys, correct for any
    // key type (strings/decimals/structs) without per-type compare code
    val prevKey = ctx.addMutableState(
      "org.apache.spark.sql.catalyst.expressions.UnsafeRow", "topkPrevKey")
    val emitted = ctx.addMutableState("int", "topkEmitted")
    ctx.currentVars = input
    val keyEval = GenerateUnsafeProjection.createCode(
      ctx, bindReferences(keys, child.output))
    s"""
       |${keyEval.code}
       |if ($prevKey == null || !${keyEval.value}.equals($prevKey)) {
       |  $prevKey = ${keyEval.value}.copy();
       |  $emitted = 0;
       |}
       |if ($emitted < $k) {
       |  $emitted += 1;
       |  ${consume(ctx, input)}
       |}
     """.stripMargin
  }

  private def groupOrdering: Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) ++ order

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // Final phase consumes (key, order)-sorted input: EnsureRequirements
  // plants a spill-safe SortExec over the pruned shuffle output, making
  // final-phase state O(1) regardless of key cardinality.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Nil :: Nil else groupOrdering :: Nil

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else groupOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val maxKeys = graft.Tunables.TopkMaxKeysInMemory(session.sessionState.conf)
    if (partial) {
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val rowOrdering = GenerateOrdering.generate(sortOrder, childOutput)
        // max-heap per key: head = current worst of the kept k. Keys are
        // probed with the projection's reused buffer and copied only on
        // first insert; kept rows are copied InternalRows (no UnsafeRow
        // cast — children are free to emit any InternalRow). Above
        // `maxKeys` distinct keys the pass degrades gracefully: rows of
        // keys beyond the cap stream through un-pruned (a superset is
        // always a correct partial result; the final phase re-prunes).
        val heaps = mutable.LinkedHashMap.empty[UnsafeRow, JPriorityQueue[InternalRow]]
        new Iterator[InternalRow] {
          private var passThrough: InternalRow = _
          private var drain: Iterator[InternalRow] = _

          private def consume(): Unit = {
            while (passThrough == null && iter.hasNext) {
              val row = iter.next()
              val probe = keyProj(row)
              var heap = heaps.getOrElse(probe, null)
              if (heap == null) {
                if (heaps.size >= maxKeys) {
                  passThrough = row
                  return
                }
                heap = new JPriorityQueue[InternalRow](limit + 1, rowOrdering.reversed())
                heaps.put(probe.copy(), heap)
              }
              if (heap.size < limit) {
                heap.add(row.copy())
              } else if (rowOrdering.compare(row, heap.peek()) < 0) {
                heap.poll()
                heap.add(row.copy())
              }
            }
          }

          override def hasNext: Boolean = {
            if (passThrough != null) return true
            consume()
            if (passThrough != null) return true
            if (drain == null) drain = heaps.valuesIterator.flatMap { heap =>
              val arr = new Array[InternalRow](heap.size)
              var i = arr.length - 1
              while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // emit best-first
              arr.iterator
            }
            drain.hasNext
          }

          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            if (passThrough != null) { val r = passThrough; passThrough = null; r }
            else drain.next()
          }
        }
      }
    } else {
      // Streaming first-k-per-group over (key, order)-sorted input.
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        new Iterator[InternalRow] {
          private var currentKey: UnsafeRow = _
          private var emitted = 0
          private var pending: InternalRow = _

          private def advance(): Unit = {
            while (pending == null && iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              if (currentKey == null || key != currentKey) {
                currentKey = key.copy()
                emitted = 0
              }
              if (emitted < limit) {
                emitted += 1
                pending = row
              }
            }
          }

          override def hasNext: Boolean = { advance(); pending != null }

          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = pending; pending = null; r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerKey → partial + final exec pair. */
object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}
