package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd PCA projection: y = M · (x − μ) for a k×d matrix
  * M (row-major) and mean μ fixed at plan-build time.
  *
  * The model is NOT a child expression: like the BPE rank maps
  * (BpeExprs), mean and matrix are evaluated ONCE from literal arrays
  * in the registry factory, stored in the case class, and embedded in
  * generated code via `ctx.addReferenceObj` — the per-row cost is the
  * k·d fused multiply-adds and nothing else. A declarative
  * transform/aggregate form of the same product would interpret
  * k·d lambda steps per row (the known higher-order-function trap);
  * PcaSpec asserts the kernel is bit-identical to that declarative
  * reference (same sequential accumulation order).
  *
  * Whitening is folded into M by the caller (each component row
  * pre-scaled by 1/√λ) — the kernel stays one matrix-vector product.
  */
case class PcaProjectExpr(child: Expression, mean: Array[Double],
    mat: Array[Double]) extends UnaryExpression {
  require(mean.nonEmpty && mat.length % mean.length == 0,
    s"matrix length ${mat.length} not a multiple of dim ${mean.length}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pca_project"

  protected override def nullSafeEval(input: Any): Any =
    PcaProjectExpr.project(input.asInstanceOf[ArrayData], mean, mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val meanRef = ctx.addReferenceObj("pcaMean", mean, "double[]")
    val matRef = ctx.addReferenceObj("pcaMat", mat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PcaProjectExpr.project($c, $meanRef, $matRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PcaProjectExpr =
    copy(child = newChild)
}

object PcaProjectExpr {

  /** Static kernel shared by interpreted eval and generated code.
    * Sequential accumulation over i per output row — the order the
    * declarative reference in PcaSpec replicates. */
  def project(x: ArrayData, mean: Array[Double], mat: Array[Double]): ArrayData = {
    val d = mean.length
    val k = mat.length / d
    val out = new Array[Double](k)
    var r = 0
    while (r < k) {
      val off = r * d
      var acc = 0.0
      var i = 0
      while (i < d) {
        acc += (x.getDouble(i) - mean(i)) * mat(off + i)
        i += 1
      }
      out(r) = acc
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point; the builder casts the vector to
    * array<double>. `mat` is row-major k×d. */
  def pcaProject(spark: SparkSession, vec: Column, mean: Seq[Double],
      mat: Seq[Double]): Column =
    NativeFunctions.call(spark, "pca_project", vec, typedLit(mean), typedLit(mat))
}
