package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization encode/reconstruct as pure column expressions.
  *
  * A d-dim vector splits into `sub` subspaces of `dim`; each subvector
  * is replaced by the index of its nearest codebook entry (squared-L2,
  * expanded as x·x − 2·x·c + c·c so both engines of the oracle replay
  * the identical IEEE sequence; ties break to the FIRST minimum —
  * `array_position` semantics). Codes are 1-based so they line up with
  * SQL `list_indexof` in the DuckDB replay.
  *
  * Everything is per-row expression work inside whole-stage codegen —
  * sub·|codebook| fused dot products of `dim` doubles, no shuffle, no
  * UDF. At 100 TB this is the compression pass that turns a 256 GB/1B
  * float32 corpus into ~a few GB of codes: encode once at ingest, scan
  * codes at serve time, reconstruct only for scoring.
  *
  * The codebook here is caller-provided (the gate query uses a
  * deterministic slice of the corpus so DuckDB can replay it; production
  * trains per-subspace k-means — the expressions are unchanged).
  */
object PqEncoder {

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** ‖codebook(c)'s sp-th subvector‖² folded on the driver with the
    * DotProduct loop's exact multiply/add order, so the literal is
    * bit-identical to dot(cs, cs) (the normLut rule).
    */
  private def selfDot(codebook: IndexedSeq[Seq[Double]], c: Int,
      sp: Int, dim: Int): Double =
    codebook(c).slice(sp * dim, (sp + 1) * dim)
      .foldLeft(0.0d)((acc, x) => acc + x * x)

  /** Per-subspace nearest-codebook-entry codes: array<int>, 1-based. */
  def codes(v: Column, codebook: IndexedSeq[Seq[Double]], sub: Int, dim: Int): Column = {
    val nCodes = codebook.size
    array((0 until sub).map { sp =>
      val xs = slice(v, sp * dim + 1, dim)
      val dists = array((0 until nCodes).map { c =>
        val cs = typedlit(codebook(c).slice(sp * dim, (sp + 1) * dim))
        // cs·cs is a driver-side constant (selfDot, bit-identical to
        // the folded dot_product): pre-folding it keeps sub·|codebook|
        // dot_product subtrees out of every analysis/optimization pass
        // — the optimizer would constant-fold them anyway, but this
        // query is rebuilt per run and the planning cost is real
        dot(xs, xs) - lit(2.0d) * dot(xs, cs) + lit(selfDot(codebook, c, sp, dim))
      }: _*)
      array_position(dists, array_min(dists)).cast("int")
    }: _*)
  }

  /** Per-vector total squared quantization error: Σ over subspaces of
    * the squared-L2 distance to the NEAREST codebook entry — the
    * objective Lloyd training minimizes. Same expanded-dot distance and
    * fold order as [[codes]], so the error is exactly the one the
    * chosen codes realize.
    */
  def distortion(v: Column, codebook: IndexedSeq[Seq[Double]],
      sub: Int, dim: Int): Column =
    (0 until sub).map { sp =>
      val xs = slice(v, sp * dim + 1, dim)
      array_min(array(codebook.indices.map { c =>
        val cs = typedlit(codebook(c).slice(sp * dim, (sp + 1) * dim))
        // pre-folded cs·cs — see codes()
        dot(xs, xs) - lit(2.0d) * dot(xs, cs) + lit(selfDot(codebook, c, sp, dim))
      }: _*))
    }.reduce(_ + _)

  // ------------------------------------------------------------------
  // Staged (DataFrame-level) builders — same arithmetic as [[codes]] /
  // [[adcLut]], linear expression trees.
  //
  // The Column builders above inline every subvector slice into every
  // distance term, and `array_position(dists, array_min(dists))` repeats
  // the whole 16-entry distance array twice, so one encode column is a
  // ~6100-node expression tree. Eager analysis (every select/withColumn
  // re-analyzes the full tree), each optimizer batch, and every AQE
  // re-plan walk all of it — for sim_pq_adc the driver measured ~1.0 s
  // of wall on 0.3 s of task time, and a phase breakdown
  // (OPTIMIZATION_r18.md §3) attributed it to build/analysis + planning,
  // not execution.
  //
  // These builders land the shared subexpressions as NAMED COLUMNS in
  // staged projections instead: slices once, their self-dots once, each
  // distance array once — downstream expressions hold cheap column
  // references, so the tree is linear in sub·|codebook| (~1/4 the
  // nodes). CollapseProject keeps the stages separate (every temp is
  // referenced more than once and is non-cheap), while whole-stage
  // codegen still fuses them into ONE stage with the temps as local
  // variables — per-row work is unchanged (still fused dot products in
  // codegen, no HOF/interpreted fallback) and the VALUES are
  // bit-identical: same DotProduct loop, same multiply/add order, same
  // first-minimum tie-break.
  // ------------------------------------------------------------------

  private def tempName(prefix: String, i: Int): String = s"__pq_${prefix}_$i"

  /** Appends `out` = the 1-based nearest-codebook-entry codes column
    * (exactly [[codes]]'s values) via staged projections; the staging
    * temp columns are dropped from the result.
    */
  def withCodes(df: DataFrame, v: Column, codebook: IndexedSeq[Seq[Double]],
      sub: Int, dim: Int, out: String): DataFrame = {
    val nCodes = codebook.size
    val keep = df.columns.toSeq
    val xs = (0 until sub).map(tempName("xs", _))
    val xn = (0 until sub).map(tempName("xn", _))
    val ds = (0 until sub).map(tempName("d", _))
    val s1 = df.select(keep.map(col) ++
      (0 until sub).map(sp => slice(v, sp * dim + 1, dim).as(xs(sp))): _*)
    val s2 = s1.select(s1.columns.map(col) ++
      (0 until sub).map(sp => dot(col(xs(sp)), col(xs(sp))).as(xn(sp))): _*)
    val s3 = s2.select(s2.columns.map(col) ++
      (0 until sub).map { sp =>
        array((0 until nCodes).map { c =>
          val cs = typedlit(codebook(c).slice(sp * dim, (sp + 1) * dim))
          // same three-term expanded dot as [[codes]], with the slice
          // and its self-dot as column refs — identical IEEE sequence
          col(xn(sp)) - lit(2.0d) * dot(col(xs(sp)), cs) +
            lit(selfDot(codebook, c, sp, dim))
        }: _*).as(ds(sp))
      }: _*)
    s3.select(keep.map(col) :+
      array((0 until sub).map { sp =>
        array_position(col(ds(sp)), array_min(col(ds(sp)))).cast("int")
      }: _*).as(out): _*)
  }

  /** Codebook lookup + concat: the reconstruction. ADC serve paths
    * should score via [[adcLut]]/[[adcSum]] instead — reconstructing per
    * row defeats the point of the codes.
    */
  def reconstruct(codes: Column, codebook: IndexedSeq[Seq[Double]],
      sub: Int, dim: Int): Column = {
    val nCodes = codebook.size
    concat((0 until sub).map { sp =>
      element_at(
        typedlit((0 until nCodes).map(c => codebook(c).slice(sp * dim, (sp + 1) * dim))),
        element_at(codes, sp + 1))
    }: _*)
  }

  /** Per-query ADC lookup table (true asymmetric-distance scoring — the
    * point of PQ at serve time): a flattened sub×|codebook| array whose
    * 1-based entry sp·|codebook| + c is the dim-dot of the query's sp-th
    * subvector with codebook entry c's. Then
    * dot(query, reconstruct(codes)) = Σ_sp lut[sp·|codebook| + codes_sp]
    * — `sub` table lookups per scored vector instead of a full-width
    * dot product. Computed once per query row (sub·|codebook| fused
    * dim-dots); in a scoring join the table rides the (tiny, broadcast)
    * query side.
    */
  def adcLut(q: Column, codebook: IndexedSeq[Seq[Double]],
      sub: Int, dim: Int): Column =
    array((for (sp <- 0 until sub; c <- codebook.indices) yield
      dot(slice(q, sp * dim + 1, dim),
        typedlit(codebook(c).slice(sp * dim, (sp + 1) * dim)))): _*)

  /** Query-independent self-norm table: entry sp·|codebook| + c is
    * ‖codebook entry c's sp-th subvector‖², so a reconstruction's
    * squared norm is Σ_sp normLut[sp·|codebook| + codes_sp] (subspaces
    * are disjoint segments). Sequential driver-side arithmetic — the
    * same multiply/add order as the DotProduct loop, so values are
    * bit-identical to dotting the reconstruction slices.
    */
  def normLut(codebook: IndexedSeq[Seq[Double]], sub: Int, dim: Int): IndexedSeq[Double] =
    (for (sp <- 0 until sub; c <- codebook.indices) yield
      codebook(c).slice(sp * dim, (sp + 1) * dim)
        .foldLeft(0.0d)((acc, x) => acc + x * x)).toIndexedSeq

  /** Σ over subspaces of LUT lookups for a 1-based codes column. The
    * reduce builds a left-to-right addition chain, so an oracle that
    * adds its per-subspace dots left-to-right replays the identical
    * IEEE sum.
    */
  def adcSum(codes: Column, lut: Column, sub: Int, nCodes: Int): Column =
    (0 until sub).map { sp =>
      element_at(lut, lit(sp * nCodes) + element_at(codes, sp + 1))
    }.reduce(_ + _)
}
