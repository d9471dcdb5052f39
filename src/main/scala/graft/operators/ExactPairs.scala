package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The exact-Jaccard tail shared by every candidate generator (the
  * prefix-filter join and MinHash LSH): pin the candidate pairs, drop
  * duplicate pairs, and rescore each surviving pair against the shingle
  * sets. Generators differ only in how they bound candidates; everything
  * from the `(doc_a, doc_b)` frame on is written here once.
  */
object ExactPairs {

  /** Exact pairs `(doc_a, doc_b, jaccard)` with `jaccard >= threshold`
    * among `candidates` (columns `doc_a`, `doc_b`, possibly repeated).
    * `sets` is `(doc_id, sh)` with `sh` a sorted hashed shingle set;
    * `docs` is the corpus the candidates came from, used only to size
    * the pin.
    */
  def rescore(candidates: DataFrame, docs: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val shufflePartitions =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // One exchange, not two: an explicit-width repartition on the pair
    // key is reused by dropDuplicates' aggregate, and the explicit width
    // keeps AQE from coalescing the bytes-small but compute-heavy
    // candidate set to ~1 partition, which would serialize the rescore.
    // The width is the max of the corpus derivation and the candidate
    // subtree's own (see AdaptiveWidth): the candidate estimate prices in
    // the explosion and pairing operators, while Catalyst's width-ratio
    // scaling can shrink it below the corpus bytes (candidates project to
    // two longs), so the corpus term stays the floor. Width 1 (every
    // bench-scale corpus) skips the pin and lets dropDuplicates' own
    // exchange coalesce under AQE. True pair volume is invisible to
    // static stats; AQE's byte-based sizing of the downstream exchanges
    // stays the guard. The width is readable from the plan: the
    // repartition keyed on (doc_a, doc_b), absent when w = 1.
    val w = math.max(AdaptiveWidth.of(docs, shufflePartitions),
      AdaptiveWidth.of(candidates, shufflePartitions))
    val pinned =
      if (w > 1) candidates.repartition(w, col("doc_a"), col("doc_b")) else candidates
    // Stacked rescore: each pair becomes two (doc_a, doc_b, role, doc_id)
    // rows so ONE join against `sets` attaches both shingle arrays (one
    // corpus scan and ngram pass, not two). doc_a and doc_b stay plain
    // columns and only struct(role, doc_id) is exploded, so the dedup's
    // hash partitioning on (doc_a, doc_b) survives the Generate and the
    // stream side of a broadcast join: when AQE broadcasts `sets` (every
    // bench-scale run) the regroup needs no exchange. A struct pair key
    // would hide that partitioning and ship both arrays of every pair
    // through one more shuffle (at sf0.1, 11.7 of dd_jaccard_ppjoin's
    // 18.9 MB). When `sets` is shuffled (1M docs), the stacked rows and
    // `sets` meet on doc_id and then regroup on the pair. Two lookups of
    // `sets`, one per side, would drop the stack but shuffle the
    // corpus-sized `sets` twice there (1M ppjoin: 2.89 -> 3.45 GB).
    val stacked = pinned
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), explode(array(
        struct(lit(0).as("role"), col("doc_a").as("doc_id")),
        struct(lit(1).as("role"), col("doc_b").as("doc_id")))).as("x"))
      .select(col("doc_a"), col("doc_b"), col("x.role").as("role"),
        col("x.doc_id").as("doc_id"))
    stacked.join(sets.select(col("doc_id"), col("sh")), Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      // exactly one non-null per role within a pair, so first() is
      // deterministic in value
      .agg(
        first(when(col("role") === 0, col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(col("role") === 1, col("sh")), ignoreNulls = true).as("sh_b"))
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.sorted_set_jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
  }
}
