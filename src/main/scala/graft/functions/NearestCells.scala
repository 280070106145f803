package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-`p` max-cosine centroid ids as a shuffle-free projection — the
  * multi-probe IVF quantize step ([[NearestCentroid]] is the single-cell
  * corpus-side specialization; this is the probe-side recall lever: a probe
  * near a cell boundary searches its `p` closest cells instead of one,
  * without touching any more of the corpus than those cells).
  *
  * Same contract as [[NearestCentroid]]: the centroid set rides inside the
  * expression as driver-collected arrays (broadcast-sized by contract), so
  * assignment is a narrow projection — zero Exchange, whole-stage codegen
  * calls one fused kernel per row. Arithmetic matches
  * [[CosineSimilarity.kernel]] bit-for-bit; the output list is ordered
  * (cosine DESC, cell_id ASC), i.e. exactly the oracle's
  * `row_number() OVER (ORDER BY cos DESC, cell_id) <= p`.
  */
case class NearestCells(child: Expression, centIds: Seq[Long],
                        centVecs: Seq[Seq[Double]], topP: Int)
    extends UnaryExpression {

  @transient private lazy val ids: Array[Long] = centIds.toArray
  @transient private lazy val vecs: Array[Array[Double]] =
    centVecs.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] = vecs.map(NearestCentroid.selfNorm)
  @transient private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if centIds.nonEmpty && centIds.length == centVecs.length && topP >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        "nearest_cells needs a non-empty centroid set with one id per vector and p >= 1")
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float>/array<double>, got ${other.catalogString}")
  }

  /** Fused pass: per centroid the cosine of [[NearestCentroid.cosine]],
    * feeding a p-slot insertion buffer kept sorted (cos DESC, id ASC) — p
    * is tiny (2-8), so the shift insert beats any heap. Returns
    * min(p, numCentroids) ids, best first. */
  def kernel(a: ArrayData): ArrayData = {
    val x = NearestCentroid.doubles(a, childIsFloat)
    val na = NearestCentroid.selfNorm(x)
    val p = math.min(topP, vecs.length)
    val bc = new Array[Double](p)
    val bi = new Array[Long](p)
    var size = 0
    var c = 0
    while (c < vecs.length) {
      var cos = NearestCentroid.cosine(x, na, vecs(c), norms(c))
      // NaN (a NaN element in probe or centroid) must rank LAST, not poison
      // slot 0 via always-false comparisons: normalize to -inf so the
      // buffer's ordering logic stays total (same policy as NearestCentroid)
      if (cos.isNaN) cos = Double.NegativeInfinity
      val id = ids(c)
      if (size < p || cos > bc(size - 1) || (cos == bc(size - 1) && id < bi(size - 1))) {
        var pos = if (size < p) size else size - 1
        while (pos > 0 && (cos > bc(pos - 1) || (cos == bc(pos - 1) && id < bi(pos - 1)))) {
          bc(pos) = bc(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
        }
        bc(pos) = cos; bi(pos) = id
        if (size < p) size += 1
      }
      c += 1
    }
    val out = new Array[Any](size)
    var i = 0
    while (i < size) { out(i) = bi(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    defineCodeGen(ctx, ev, v => s"$ref.kernel($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
