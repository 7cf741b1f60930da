package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd random-hyperplane LSH signature over ARRAY<DOUBLE>
  * — the hot-loop replacement for the declarative
  * [[graft.similarity.Similarity.rpLshSignature]], which pays dim × 64
  * interpreted lambda steps plus an xxhash64 per (element, plane) per
  * ROW. Here the hyperplane noise is a constant: it depends only on
  * (element index, plane), so it is computed once per JVM into a
  * static table and the per-row cost collapses to dim × 64
  * multiply-adds inside whole-stage codegen.
  *
  * Bit-identical to the declarative form: noise(i, p) =
  * (md5_52("i|p") mod 2000 − 1000) / 1000 — the 52-bit md5 prefix
  * (the same substitution SpanDedup/Dsir made: at production scale
  * you'd use xxhash64, but the noise table is computed ONCE per JVM,
  * so the md5 choice costs nothing per row and lets the DuckDB
  * oracle rebuild the identical hyperplanes and replay signatures
  * bit-for-bit); bit p of the signature = [Σ_i v_i · noise(i, p) > 0].
  */
case class RpLshSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rp_lsh_sig"

  protected override def nullSafeEval(input: Any): Any =
    RpLshSigExpr.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RpLshSigExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RpLshSigExpr =
    copy(child = newChild)
}

object RpLshSigExpr {

  private val Planes = 64

  /** Integer noise in milli units: md5_52("i|p") mod 2000 − 1000 —
    * nonneg 52-bit prefix, so % == pmod. Exposed for the oracle SQL
    * generator's documentation; the oracle recomputes it itself. */
  private[graft] def noiseMilli(i: Int, p: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$p".getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 13), 16) % 2000L - 1000L
  }

  /** noise(i, p) exactly as the declarative form derives it. */
  private def noiseAt(i: Int, p: Int): Double =
    noiseMilli(i, p) / 1000.0

  /** Grow-only static table [element index][plane] — hyperplanes are
    * pure functions of indices, so one table serves every query and
    * thread (double-checked publish; rows are immutable once built). */
  @volatile private var noiseTable: Array[Array[Double]] = Array.empty
  private def table(dim: Int): Array[Array[Double]] = {
    var t = noiseTable
    if (t.length < dim) synchronized {
      t = noiseTable
      if (t.length < dim) {
        t = Array.tabulate(dim)(i =>
          if (i < noiseTable.length) noiseTable(i)
          else Array.tabulate(Planes)(p => noiseAt(i, p)))
        noiseTable = t
      }
    }
    t
  }

  /** Static kernel shared by interpreted eval and generated code.
    * Accumulation order matches the declarative aggregate (ascending
    * element index) so the sign bits are bit-identical. */
  def compute(vec: ArrayData): Long = {
    val n = vec.numElements()
    val t = table(n)
    val dots = new Array[Double](Planes)
    var i = 0
    while (i < n) {
      val v = vec.getDouble(i)
      val row = t(i)
      var p = 0
      while (p < Planes) { dots(p) += v * row(p); p += 1 }
      i += 1
    }
    var out = 0L
    var p = 0
    while (p < Planes) { if (dots(p) > 0) out |= (1L << p); p += 1 }
    out
  }

  /** Column entry point; the builder casts to array<double> to match
    * the declarative form's per-element cast. */
  def rpLshSig(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "rp_lsh_sig", c)
}
