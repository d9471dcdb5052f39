package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Map-side nearest-centroid assignment: argmin of squared L2 distance
  * over a BAKED centroid table, inside one codegen'd per-row loop — no
  * join fan-out, no window, no shuffle. The former formulation
  * (vectors × broadcast centroids → row_number window → rn = 1) is
  * semantically identical but materializes corpus × nlist rows into the
  * window machinery; Spark's partial group-limit prunes the exchange,
  * yet each task still SORTS its joined slice — at the 10M ivf_lifecycle
  * (9M vectors × 256 cells × ~1 KB joined rows) the per-task sorter
  * spills overflowed a 252 GB disk twice. Assignment is per-row
  * arithmetic against a table k-means has ALREADY collected (bounded by
  * construction: nlist ≤ 65536 × dim doubles), so it belongs in a map —
  * the same broadcast-small-side reasoning as every other operator, and
  * the shape that is embarrassingly parallel on a real cluster.
  *
  * Determinism: `centroids` must be sorted by id at construction (the
  * companion helper enforces it); the loop keeps the FIRST minimum, so
  * ties break by lowest centroid id — bit-identical decisions to the
  * old window's (d2 ASC, centroid_id ASC) order, with d2 accumulated in
  * exactly [[DotProduct.dist2]]'s fold order.
  */
case class NearestCentroid(child: Expression,
    ids: Array[Int], mat: Array[Array[Double]])
    extends UnaryExpression {

  require(ids.length == mat.length && ids.nonEmpty,
    s"ids (${ids.length}) and centroid rows (${mat.length}) must match, nonempty")
  require(ids.zip(ids.tail).forall { case (a, b) => a < b },
    "centroid ids must be strictly increasing (first-minimum = lowest id)")
  require(mat.forall(_.length == mat(0).length),
    "centroid rows must share one dimension (ragged table = corrupt quantizer)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<double>, got $other")
  }

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.nearest(input.asInstanceOf[ArrayData], ids, mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ncIds", ids, "int[]")
    val matRef = ctx.addReferenceObj("ncMat", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCentroid.nearest($c, $idsRef, $matRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"

  // the arrays are identity-compared by the default case-class equality;
  // content equality keeps plan fingerprinting / reuse stable
  override def equals(other: Any): Boolean = other match {
    case NearestCentroid(c, i, m) =>
      c == child && java.util.Arrays.equals(i, ids) &&
        mat.length == m.length &&
        mat.indices.forall(j => java.util.Arrays.equals(mat(j), m(j)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(ids)
}

object NearestCentroid {

  def nearest(v: ArrayData, ids: Array[Int], mat: Array[Array[Double]]): Int = {
    // fail fast on dimension mismatch: scoring a silent prefix would
    // assign a malformed vector PLAUSIBLY (wrong cell, no error) — a
    // corrupted corpus must surface at assignment, not at recall time
    if (v.numElements() != mat(0).length)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector dimension ${v.numElements()} != " +
          s"centroid dimension ${mat(0).length}")
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < mat.length) {
      val cent = mat(c)
      val n = cent.length
      var acc = 0.0d
      var i = 0
      while (i < n) {
        val d = v.getDouble(i) - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    ids(best)
  }
}
