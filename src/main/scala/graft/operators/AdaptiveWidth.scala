package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive repartition width for compute-heavy corpus passes.
  *
  * The dedup/similarity pipelines historically pinned their corpus and
  * candidate relations to `defaultParallelism` / `shuffle.partitions`
  * wide REPARTITION_BY_NUM exchanges ("one input file" parallelism).
  * Explicit-width repartitions are invisible to AQE coalescing, so at
  * bench scale (a 0.6 MB corpus) every downstream stage ran 32 tasks of
  * a few-KB each — and stage-level probes (OPTIMIZATION_r17.md §2) pin
  * ~60–150 ms of FIXED cost per task (shuffle file create/open and
  * mmap/unmap syscalls, codegen class wiring), so the pinned stages were
  * paying ~10× their useful compute in per-task overhead.
  *
  * This helper derives the width from the relation's optimizer plan-stat
  * size instead (guide §2: make partitioning scale-adaptive — derive
  * from input size — rather than a constant tuned for either local mode
  * or the cluster): bytes / `spark.graft.repartitionBytesPerPartition`
  * (default 8 MB), clamped to [1, maxWidth]. Width 1 means "do not
  * repartition at all" — the scan's native splitting (maxPartitionBytes)
  * already bounds per-task input, and skipping the exchange removes its
  * map stage and its 32-reducer fan-out outright.
  *
  * The 8 MB default keeps the SCALE behavior byte-identical to the old
  * constants: any corpus at or above 256 MB (= 8 MB × 32, exactly the
  * sampled-tier floor in NearDupLsh) clamps back to the old width on a
  * 32-core session, so scale-workload-sized runs keep their measured plans
  * — only the small-corpus regime sheds the fixed overhead. Relations
  * whose sources report no statistics default to Long.MaxValue bytes and
  * take the old full-width path — the conservative direction.
  */
object AdaptiveWidth {

  /** Plan-stat-derived width, clamped to [1, maxWidth]. */
  def of(df: DataFrame, maxWidth: Int): Int = {
    val budget = graft.Tunables.RepartitionBytesPerPartition(df.sparkSession)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val w = (bytes + budget - 1) / budget
    if (w >= maxWidth) maxWidth else math.max(1L, w.toLong).toInt
  }

  /** Round-robin corpus spread for a heavy per-row pass: repartition to
    * the adaptive width (capped at defaultParallelism, the old
    * constant), or pass through untouched when one partition's worth —
    * the scan's own splitting is parallelism enough.
    */
  def spread(df: DataFrame): DataFrame = {
    val w = of(df, df.sparkSession.sparkContext.defaultParallelism)
    if (w > 1) df.repartition(w) else df
  }
}
