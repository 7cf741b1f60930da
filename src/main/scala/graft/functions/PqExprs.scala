package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen'd kernels for product quantization
  * ([[graft.similarity.Pq]]): subspace argmin encoding and
  * asymmetric-distance (ADC) scoring. Both inner loops are
  * O(m·ksub·subDim) / O(m) per row — exactly the loops that would run
  * interpreted per element as declarative higher-order lambdas.
  *
  * Vectors are L2-normalized INSIDE the encode kernel (and the LUT
  * builder normalizes the query), so PQ distances live on the unit
  * sphere where squared L2 is a monotone transform of cosine —
  * ADC ranking ≈ cosine ranking of the original vectors.
  */
object PqKernels {

  /** Codes per subspace: argmin_c ‖v_s / ‖v‖ − centroid_{s,c}‖²; ties
    * take the lower code. Codebook is flattened (s·ksub + c)·subDim. */
  def pqEncode(vec: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val dim = vec.numElements()
    val subDim = dim / m
    var nrm = 0.0
    var i = 0
    while (i < dim) { val x = vec.getDouble(i); nrm += x * x; i += 1 }
    val inv = if (nrm == 0.0) 1.0 else 1.0 / math.sqrt(nrm)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val off = (s * ksub + c) * subDim
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = vec.getDouble(s * subDim + j) * inv - cb.getDouble(off + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC: Σ_s lut[s·ksub + codes_s] — the approximate squared L2
    * distance between the (normalized) query and the quantized vector. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) { acc += lut.getDouble(s * ksub + codes.getInt(s)); s += 1 }
    acc
  }
}

case class PqEncodeExpr(left: Expression, right: Expression, m: Int, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  protected override def nullSafeEval(vec: Any, cb: Any): Any =
    PqKernels.pqEncode(vec.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      m, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.functions.PqKernels.pqEncode($v, $c, $m, $ksub)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeExpr =
    copy(left = newLeft, right = newRight)
}

case class PqAdcExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  protected override def nullSafeEval(codes: Any, lut: Any): Any =
    PqKernels.pqAdc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData],
      ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) =>
      s"graft.functions.PqKernels.pqAdc($c, $l, $ksub)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** Column wrappers; the builders cast the vector, codebook and LUT to
  * array<double>. */
object PqExprs {
  def pqEncode(spark: SparkSession, vec: Column, codebook: Column,
      m: Int, ksub: Int): Column =
    NativeFunctions.call(spark, "pq_encode", vec, codebook, lit(m), lit(ksub))

  def pqAdc(spark: SparkSession, codes: Column, lut: Column,
      ksub: Int): Column =
    NativeFunctions.call(spark, "pq_adc", codes, lut, lit(ksub))
}
