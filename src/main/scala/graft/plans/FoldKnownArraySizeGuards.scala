package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, CreateArray, Expression, GreaterThan, GreaterThanOrEqual, Literal, PredicateHelper, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.NGramHashes

/** Drops filter conjuncts that are provably true once `size` of an
  * inline-constructed array is folded to its static length.
  *
  * Why this exists: `InferFiltersFromGenerate` guards every
  * `explode(arr)` with `size(arr) > 0`, and predicate pushdown
  * substitutes the array-building expression into that guard on its way
  * to the scan. For an expensive computed array the guard then re-runs
  * the entire construction once per referenced slot — measured 30-50x
  * the cost of the real work for `posexplode(bands)` over a
  * minhash-over-ngram pipeline at 1M documents. But `CreateArray(e1..en)`
  * has a statically known size: the guard is `n > 0`, true at plan time,
  * and none of e1..en ever needs evaluating.
  *
  * The engine's own operators avoid the trap structurally (they explode
  * literal index sequences — see NearDupLsh.bandRows); this rule protects
  * the natural `explode(array(...))` style in user queries and the
  * remaining stacked-rescore explodes. It runs in
  * `experimental.extraOptimizations` (after the main batches, i.e. after
  * inference and pushdown have produced the guard), so it must finish
  * the job itself: fold, evaluate, and prune satisfied conjuncts.
  */
object FoldKnownArraySizeGuards extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val original = splitConjunctivePredicates(cond)
      val conjuncts = original
        .map { c =>
          c.transformUp {
            // size(ngram_hashes(x)) > 0  ⟺  size(x) >= 3: NGramHashes
            // emits the empty array below 3 tokens and at least one
            // distinct window hash from 3 up, and is null-intolerant, so
            // the null path matches too (size(null ngram, false) > 0 and
            // size(null x, false) >= 3 are both null ⇒ filtered). The
            // inferred generate-guard over an exploded shingle relation
            // otherwise re-runs the WHOLE per-document hashing pass a
            // second time once pushdown lands it on the scan — the same
            // trap as the CreateArray case below, but for a
            // dynamically-sized array where only the emptiness test is
            // statically characterizable.
            case GreaterThan(Size(ng: NGramHashes, legacy), Literal(0, _)) =>
              GreaterThanOrEqual(Size(ng.child, legacy),
                Literal(NGramHashes.N))
          }
        }
      val kept = conjuncts.filterNot { c =>
        val folded = c.transformUp {
          // CreateArray is non-null with exactly children.length elements;
          // size() never observes the element VALUES, so skipping their
          // evaluation is unobservable (even for nondeterministic ones)
          case Size(ca: CreateArray, _) => Literal(ca.children.length)
        }
        folded.foldable && folded.eval(null) == true
      }.foldLeft(Seq.empty[Expression]) { (seen, c) =>
        // a rewritten guard that repeats an explicit token-count filter
        // is dropped, so the filter reads as if no guard was inferred
        if (c.deterministic && seen.exists(_.semanticEquals(c))) seen else seen :+ c
      }
      if (kept.length == original.length && kept.corresponds(original)(_ eq _)) f
      else kept.reduceOption(And).map(Filter(_, child)).getOrElse(child)
  }
}
