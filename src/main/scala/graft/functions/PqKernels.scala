package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public algorithm).
  *
  * PQ is the 100-TB embedding-store representation: a d-dim float vector
  * (d x 4 bytes) becomes `m` small integer codes (m bytes at ksub <= 256) —
  * a 32x shrink at d=64/m=8 — and top-k search runs over CODES with a
  * per-probe lookup table, never touching raw vectors. The reference has no
  * analogue (its vectors ride whole tensors, process_test_train_Images
  * .py:52); this is the scale path past [[graft.operators.Similarity]]'s
  * IVF tier.
  *
  * Both kernels follow this package's native-expression pattern
  * ([[NearestCentroid]]): driver-collected constants ride INSIDE the
  * expression, so encode and score are pure narrow projections — zero
  * Exchange, whole-stage codegen calls one fused JVM kernel per row.
  */

/** `pq_encode(vec)` — quantize a vector to `m` subspace codes.
  *
  * Subspace `j` covers elements `[offset_j, offset_j + dsub_j)`; its code is
  * the argmin SQUARED L2 DISTANCE centroid (ties -> smallest code). L2, not
  * cosine: PQ reconstructs the vector as the concatenation of chosen
  * centroids, and L2 on the subvector is the term that minimizes total
  * reconstruction error — cosine would ignore subvector magnitude and break
  * [[PqCosine]]'s norm reconstruction. A wrong-length input throws with the
  * expected layout in the message (slicing a ragged vector into subspaces is
  * undefined, and a silent null would vanish rows from the index); a null
  * vector returns null.
  */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(books.nonEmpty, "pq_encode needs at least one subspace codebook")
  books.zipWithIndex.foreach { case (b, j) =>
    require(b.nonEmpty, s"pq_encode subspace $j has an empty codebook")
    require(b.head.nonEmpty, s"pq_encode subspace $j has zero-dim centroids")
    require(b.forall(_.length == b.head.length),
      s"pq_encode subspace $j mixes centroid lengths")
  }

  @transient private lazy val vecs: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float>/array<double>, got ${other.catalogString}")
  }

  def kernel(a: ArrayData): ArrayData =
    new GenericArrayData(PqEncode.encode(NearestCentroid.doubles(a, childIsFloat), vecs))

  override protected def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, v => s"$ref.kernel($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {

  /** The `m` codes of `x` — the arithmetic of [[PqEncode.kernel]] on plain
    * arrays, shared with the driver-side codebook fit of
    * [[graft.operators.Similarity.fitPqCodebooks]]. Throws unless `x` has
    * exactly the books' total length. */
  def encode(x: Array[Double], books: Array[Array[Array[Double]]]): Array[Int] = {
    val total = books.foldLeft(0)(_ + _(0).length)
    if (x.length != total)
      throw new IllegalArgumentException(
        s"pq_encode expects vectors of length $total (${books.length} subspaces), got ${x.length}")
    val out = new Array[Int](books.length)
    var off = 0
    var j = 0
    while (j < books.length) {
      val book = books(j)
      val dsub = book(0).length
      // NaN distances LOSE (never beat the running best), so a garbage
      // subvector falls back to code 0 instead of poisoning the argmin —
      // same total-ordering policy as NearestCentroid's seeded loop.
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val diff = x(off + i) - cent(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < best) { best = d2; bestC = c }
        c += 1
      }
      out(j) = bestC
      off += dsub
      j += 1
    }
    out
  }
}

/** `pq_lut(probe_vec, cell_vec)` — build the per-probe ADC lookup table of
  * [[PqCosine]] as a NARROW per-row projection, codebooks riding inside the
  * expression (the [[PqEncode]] pattern).
  *
  * This is what makes PQ probing DISTRIBUTED: the LUT is a pure function of
  * (probe vector, cell centroid, codebooks), so computing it per probe ROW
  * means the probe set is a plain DataFrame side of the cell-id equi-join —
  * no driver collect of the probes, no broadcast requirement on the probe
  * set. A corpus-vs-corpus retrieval (bitext mining: probes = the full
  * embeddings table) runs as an ordinary shuffle join; the only
  * driver-bounded state is the codebook fit itself, which is model state
  * under the same broadcast budget the centroids already pay.
  *
  * `cell_vec` is the coarse IVF centroid of the cell this LUT targets: each
  * subspace centroid is SHIFTED by the matching slice of the cell vector
  * (`s = cell[off+d] + cent[d]`), which folds the IVF reconstruction
  * `cell + residual` into the standard per-subspace dot/norm decomposition —
  * no residual-specific scoring kernel needed. Pass an EMPTY array for
  * plain (flat) PQ: out-of-range cell dims read as 0.0, so the shift
  * degenerates to the identity and the LUT is the unshifted flat-PQ table.
  * Probe dims beyond the probe's length contribute 0 to the dot (the
  * min-span convention of [[CosineSimilarity]]); the probe norm is over the
  * FULL probe vector. Output layout is exactly [[PqCosine]]'s contract:
  * `2*m*K` dot/norm slots (K = max book size; short books zero-pad), the
  * probe norm, then the m per-subspace book sizes. Null probe or cell
  * yields null (callers that need the loud-on-null probe contract guard
  * with `raise_error` before this projection).
  */
case class PqLut(left: Expression, right: Expression, books: Seq[Seq[Seq[Double]]])
    extends BinaryExpression {
  require(books.nonEmpty, "pq_lut needs at least one subspace codebook")
  books.zipWithIndex.foreach { case (b, j) =>
    require(b.nonEmpty, s"pq_lut subspace $j has an empty codebook")
    require(b.head.nonEmpty, s"pq_lut subspace $j has zero-dim centroids")
    require(b.forall(_.length == b.head.length),
      s"pq_lut subspace $j mixes centroid lengths")
  }

  @transient private lazy val vecs: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val kMax: Int = vecs.map(_.length).max
  @transient private lazy val probeIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val cellIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_lut expects (array<float|double> probe, array<float|double> cell), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  def kernel(q: ArrayData, cell: ArrayData): ArrayData = {
    val m = vecs.length
    val nq = q.numElements()
    val ncell = cell.numElements()
    @inline def qAt(i: Int): Double =
      if (probeIsFloat) q.getFloat(i).toDouble else q.getDouble(i)
    @inline def cellAt(i: Int): Double =
      if (cellIsFloat) cell.getFloat(i).toDouble else cell.getDouble(i)
    val lut = new Array[Double](2 * m * kMax + 1 + m)
    var qn = 0.0
    var i = 0
    while (i < nq) { val x = qAt(i); qn += x * x; i += 1 }
    var off = 0
    var j = 0
    while (j < m) {
      val book = vecs(j)
      val dsub = book(0).length
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var nn = 0.0
        var d = 0
        while (d < dsub) {
          val s = (if (off + d < ncell) cellAt(off + d) else 0.0) + cent(d)
          if (off + d < nq) dot += qAt(off + d) * s
          nn += s * s
          d += 1
        }
        lut(j * kMax + c) = dot
        lut(m * kMax + j * kMax + c) = nn
        c += 1
      }
      off += dsub
      j += 1
    }
    lut(2 * m * kMax) = Math.sqrt(qn)
    var bj = 0
    while (bj < m) { lut(2 * m * kMax + 1 + bj) = vecs(bj).length.toDouble; bj += 1 }
    new GenericArrayData(lut)
  }

  override protected def nullSafeEval(q: Any, cell: Any): Any =
    kernel(q.asInstanceOf[ArrayData], cell.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
    defineCodeGen(ctx, ev, (q, c) => s"$ref.kernel($q, $c)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pq_cosine(codes, lut)` — asymmetric-distance (ADC) cosine between a
  * probe and a PQ-encoded corpus vector, via a per-probe lookup table.
  *
  * `lut` layout (one flat array<double>, built driver-side per probe from
  * the codebooks — [[graft.operators.Similarity.pqTopK]]):
  * {{{
  *   lut[j*K + c]          = dot(probe_subvec_j, centroid_{j,c})
  *   lut[m*K + j*K + c]    = ||centroid_{j,c}||^2
  *   lut[2*m*K]            = ||probe||                 (full-vector norm)
  *   lut[2*m*K + 1 + j]    = k_j                       (subspace j book size)
  * }}}
  * with `m = |codes|` and stride `K = (|lut| - 1 - m) / (2m)` (the max
  * codebook size; short subspace books pad with unused slots). The book
  * sizes ride in the tail because the pad slots are ZERO-FILLED, not
  * poisoned: heterogeneous books happen whenever Lloyd empties a cell
  * (k_j < K for that subspace), and a stale or cross-fit code in
  * [k_j, K) would otherwise read a zero dot/norm and silently mis-rank —
  * the bound each code is validated against must be its OWN subspace's
  * size, not the padded stride. Because subspaces partition the
  * dimensions, the reconstruction's dot and squared norm are EXACT sums
  * of per-subspace terms: `cos = sum_j dot_j / (||probe|| *
  * sqrt(sum_j ||c_j||^2))` — the only approximation is quantization
  * itself. Zero norms score 0.0 (the [[CosineSimilarity]] convention);
  * malformed inputs (empty codes, non-divisible lut length, code outside
  * its subspace's book) throw rather than silently mis-rank.
  */
case class PqCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_cosine"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_cosine expects (array<int> codes, array<double> lut), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  def kernel(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    val lutLen = lut.numElements()
    if (m == 0 || lutLen < 1 + m || (lutLen - 1 - m) % (2 * m) != 0)
      throw new IllegalArgumentException(
        s"pq_cosine lut length $lutLen does not fit ${m} subspaces (need 2*m*K + 1 + m)")
    val k = (lutLen - 1 - m) / (2 * m)
    var dot = 0.0
    var rsq = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      // bound against the OWNING subspace's book size, not the padded
      // stride: codes in [k_j, K) land on zero-filled pad slots
      val kj = lut.getDouble(2 * m * k + 1 + j).toInt
      if (c < 0 || c >= kj)
        throw new IllegalArgumentException(
          s"pq_cosine code $c out of range [0, $kj) in subspace $j")
      dot += lut.getDouble(j * k + c)
      rsq += lut.getDouble(m * k + j * k + c)
      j += 1
    }
    val qn = lut.getDouble(2 * m * k)
    if (qn == 0.0 || rsq <= 0.0) 0.0 else dot / (qn * Math.sqrt(rsq))
  }

  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    kernel(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCosine", this, classOf[PqCosine].getName)
    defineCodeGen(ctx, ev, (c, l) => s"$ref.kernel($c, $l)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
