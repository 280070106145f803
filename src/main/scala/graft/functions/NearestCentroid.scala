package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Max-cosine centroid assignment as a shuffle-free projection — the IVF
  * coarse-quantize step (reference's positional batch routing has no
  * analogue; see SURVEY north-star ANN).
  *
  * The centroid set is tiny by contract (it is broadcast-sized: k cells x
  * dims), so it rides INSIDE the expression as driver-collected primitive
  * arrays rather than as a join side. That turns cell assignment from
  * `crossJoin(broadcast) + groupBy(argmax)` — whose exchange carries every
  * corpus vector WITH its embedding — into a pure narrow projection: zero
  * Exchange, vectors never leave their input partition, and whole-stage
  * codegen calls one fused JVM kernel per row.
  *
  * Arithmetic is kept identical to [[CosineSimilarity.kernel]] (sequential
  * double-precision dot + norms) so assignment ties out bit-for-bit with a
  * scored-join formulation and with the DuckDB oracle. Ties on cosine
  * resolve to the smallest centroid id (the `ORDER BY cos DESC, cell_id`
  * convention). Returns null only for a null input vector.
  */
case class NearestCentroid(child: Expression, centIds: Seq[Long],
                           centVecs: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val ids: Array[Long] = centIds.toArray
  @transient private lazy val vecs: Array[Array[Double]] =
    centVecs.map(_.toArray).toArray
  // Centroid self-norms are row-independent: computed once per task, not
  // once per (row x centroid).
  @transient private lazy val norms: Array[Double] = vecs.map(NearestCentroid.selfNorm)
  @transient private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if centIds.nonEmpty && centIds.length == centVecs.length =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid needs a non-empty centroid set with one id per vector")
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<float>/array<double>, got ${other.catalogString}")
  }

  def kernel(a: ArrayData): Long =
    ids(NearestCentroid.nearest(NearestCentroid.doubles(a, childIsFloat), ids, vecs, norms))

  override protected def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    defineCodeGen(ctx, ev, v => s"$ref.kernel($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {

  /** A float or double array as a fresh `Array[Double]` (floats widen exactly). */
  def doubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) a.toDoubleArray()
    else Array.tabulate(a.numElements())(i => a.getFloat(i).toDouble)

  /** Squared self-norm summed in index order — the `nb` accumulator of
    * [[CosineSimilarity.kernel]], so cosines stay bit-identical. */
  def selfNorm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** Cosine of `x` against `v` given both [[selfNorm]]s, with
    * [[CosineSimilarity.kernel]]'s arithmetic: on length-mismatched vectors
    * dot AND both norms cover the min span, so assignment agrees with a
    * scored-join formulation on malformed vectors. Zero norms score 0. */
  def cosine(x: Array[Double], na: Double, v: Array[Double], nb: Double): Double = {
    var dot = 0.0
    var j = 0
    if (v.length == x.length) {
      while (j < x.length) { dot += x(j) * v(j); j += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (Math.sqrt(na) * Math.sqrt(nb))
    } else {
      val m = math.min(x.length, v.length)
      var naM = 0.0
      var nbM = 0.0
      while (j < m) { dot += x(j) * v(j); naM += x(j) * x(j); nbM += v(j) * v(j); j += 1 }
      if (naM == 0.0 || nbM == 0.0) 0.0 else dot / (Math.sqrt(naM) * Math.sqrt(nbM))
    }
  }

  /** Index of the max-cosine centroid of `x` (ties to the smallest id) —
    * [[NearestCentroid.kernel]] on plain arrays, shared with the driver-side
    * Lloyd fits of [[graft.operators.Similarity]]. The set must be non-empty. */
  def nearest(x: Array[Double], ids: Array[Long], vecs: Array[Array[Double]],
              norms: Array[Double]): Int = {
    val na = selfNorm(x)
    // Seeded with the first centroid so the result is ALWAYS a real id even
    // when every cosine is NaN. NaN cosines LOSE by design: a garbage vector
    // must not capture the corpus (documented divergence from SQL's
    // NaN-sorts-greatest).
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < vecs.length) {
      val cos = cosine(x, na, vecs(c), norms(c))
      if (cos > best || (cos == best && ids(c) < ids(bestC))) { best = cos; bestC = c }
      c += 1
    }
    bestC
  }
}
