package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Codegen'd PQ encode — the native replacement for the nested HOF
  * `transform(sequence(0, m-1), j -> array_position(dists_j,
  * array_min(dists_j)))` with `dists_j = transform(cb[j], c ->
  * -2·dot(slice_j, c) + dot(c, c))` (q_sim_pq / q_sim_ivfpq and the
  * frozen-codebook append encode). Every lambda in that chain ran
  * interpreted per codeword per row; this expression is two fused loops.
  *
  * Arithmetic is replicated EXACTLY: per (j, c) the distance is
  * -2.0 * dot(slice_j, cb_jc) + dot(cb_jc, cb_jc) with left-to-right
  * double summation in both dots (dot(c, c) is row-independent and
  * precomputed once with the same summation order, so the bits match);
  * the argmin is array_position(dists, array_min(dists)) — the FIRST
  * index holding the minimum under strict < scanning, 1-based. Parity
  * with the HOF form is pinned bit-exactly in PropertySpec.
  *
  * The codebook is a plan-time constant and lives in the expression
  * (m × k × sub doubles), not in a per-row column literal. */
case class PqEncode(child: Expression, cb: Seq[Seq[Seq[Double]]], sub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.catalogString}")
  }

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray
  // |c|² per (j, c), summed left-to-right exactly like dot(c, c)
  @transient private lazy val selfDot: Array[Array[Double]] =
    cbArr.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })

  override protected def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData].toDoubleArray()
    val m = cbArr.length
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * sub
      val cbj = cbArr(j)
      val sdj = selfDot(j)
      var minD = Double.NaN
      var minIdx = 0
      var c = 0
      while (c < cbj.length) {
        val cw = cbj(c)
        var dot = 0.0
        var i = 0
        while (i < sub) { dot += emb(base + i) * cw(i); i += 1 }
        val d = -2.0 * dot + sdj(c)
        // first strict minimum == array_position(dists, array_min(dists))
        if (c == 0 || d < minD) { minD = d; minIdx = c }
        c += 1
      }
      codes(j) = minIdx + 1 // 1-based, like array_position
      j += 1
    }
    new GenericArrayData(codes)
  }

  // the heavy work stays in the JVM helper either way; route codegen
  // through the standard boxed call (one virtual call per row, loops
  // inside are already fused Java)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
      |  $ref.encode($c);
      |""".stripMargin)
  }

  /** Codegen entry point (public, non-protected). */
  def encode(v: Any): Any = nullSafeEval(v)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd ADC sum — replaces `aggregate(zip_with(lut, codes,
  * (l, c) -> element_at(l, c)), 0.0, _ + _)`: sum over j of
  * lut[j][codes[j] - 1], left-to-right, exactly the HOF's fold order.
  * NULL if either side is NULL (the HOF form's zip_with/aggregate
  * null propagation on whole-column nulls; element contents are
  * non-null by construction in the PQ pipeline). */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<double>>, array<int>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val codes = r.asInstanceOf[ArrayData]
    val m = math.min(lut.numElements(), codes.numElements())
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lut.getArray(j).getDouble(codes.getInt(j) - 1)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcSumExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (double) (Double) $ref.sum($a, $b);")
  }

  /** Codegen entry point. */
  def sum(a: Any, b: Any): Any = nullSafeEval(a, b)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}
