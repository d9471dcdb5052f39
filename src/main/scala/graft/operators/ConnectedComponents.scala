package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the clustering step that turns pairwise near-duplicate edges into
  * dedup groups (every member maps to the component's minimum id, the
  * canonical document).
  *
  * Each round every vertex takes the min of its own label and its
  * neighbors' labels; convergence in O(component diameter) rounds. Near-
  * dup graphs are unions of small dense clusters (diameter 2–3), so this
  * converges in a handful of rounds even at corpus scale; each round is
  * one shuffle on vertex ids. Each round's labels are materialized with
  * localCheckpoint to CUT LINEAGE — without it the logical plan nests one
  * level per round and analysis/codegen blow up exponentially (the
  * classic iterative-DataFrame trap). The loop stops when a round
  * changes nothing (one count, never a collect).
  */
object ConnectedComponents {

  /** Incremental update: fold a new batch's edges into STANDING
    * component assignments without re-running propagation over the
    * standing graph — the crawl-ingest shape, where yesterday's corpus
    * is already clustered and today's batch contributes new↔old and
    * new↔new near-dup edges (e.g. from a `PrefixFilterJoin`/`NearDupLsh`
    * index serve).
    *
    * Standing components CONTRACT to single vertices: each new-edge
    * endpoint maps through its standing label (identity for vertices
    * the standing assignment has never seen — new docs, or old
    * singletons gaining their first edge), intra-component edges
    * vanish, and min-label propagation runs only on the contracted
    * graph — O(batch edges), never O(standing corpus). Because a
    * standing label IS the min member id of its component, the min over
    * the contracted graph equals the min over the merged member sets,
    * so the result is exactly `run(standingEdges ∪ newEdges)` — the
    * equivalence the spec and the gate oracle both pin. Untouched
    * standing rows pass through a single relabel join (broadcast when
    * the contracted graph is batch-sized; at most 2·|newEdges| + |batch|
    * rows), the only full-standing-width operation in the update.
    *
    * standing: (id, component) — a previous `run`/`incremental` output.
    * newEdges: (src, dst) long pairs, interpreted undirected.
    * Returns (id, component) covering every standing vertex plus every
    * vertex appearing in a new edge.
    */
  def incremental(standing: DataFrame, newEdges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // read before any job runs, so a malformed value fails fast
    val relabelMaxRows = graft.Tunables.CcRelabelBroadcastMaxRows(standing.sparkSession)
    val lbl = standing.select(col("id"), col("component"))
      .localCheckpoint(true)
    val contractedEdges = newEdges.select(col("src"), col("dst"))
      .join(lbl.select(col("id").as("src"), col("component").as("src_c")),
        Seq("src"), "left")
      .join(lbl.select(col("id").as("dst"), col("component").as("dst_c")),
        Seq("dst"), "left")
      .select(coalesce(col("src_c"), col("src")).as("src"),
        coalesce(col("dst_c"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val contracted = run(contractedEdges, maxIter).localCheckpoint(true)
    // relabel map: contracted vertex → merged component. Contracted
    // vertices that are standing labels re-point their whole component;
    // the rest are batch vertices (disjoint from standing labels — a
    // label maps to itself through the contraction, so it stays a
    // contracted vertex id only on the standing side). Counting the
    // checkpointed frame is cheap; batch-sized maps broadcast, a
    // degenerate mega-batch falls back to a shuffle join.
    val relabel0 = contracted
      .select(col("id").as("component"), col("component").as("next"))
    val relabel =
      if (contracted.count() <= relabelMaxRows) broadcast(relabel0) else relabel0
    val updatedStanding = lbl.join(relabel, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("next"), col("component")).as("component"))
    val batchVerts = contracted.join(lbl.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("component"))
    updatedStanding.union(batchVerts)
  }

  /** edges: (src, dst) long pairs, interpreted undirected. Returns
    * (id, component) for every vertex appearing in any edge, where
    * component = min vertex id reachable.
    */
  def run(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val propagated = labels
        .join(sym, labels("id") === sym("src"))
        .select(col("dst").as("id"), col("component"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      changed = propagated.join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") =!= col("old"))
        .count()
      labels = propagated
      iter += 1
    }
    labels
  }
}
