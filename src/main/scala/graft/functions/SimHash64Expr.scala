package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for 64-bit SimHash over whitespace
  * tokens — the codegen'd replacement for the declarative
  * [[graft.dedup.Dedup.simhash64]] (higher-order functions never enter
  * whole-stage codegen, so the declarative form pays interpreted
  * evaluation per token × 64 bits; this one is a single static call
  * emitted inline into the generated code).
  *
  * Bit-for-bit compatible with the declarative form: tokens are
  * lowercased-trimmed whitespace splits, token hash = xxhash64
  * (seed 42, same as Spark's xxhash64 function), bit i of the result
  * is the sign of Σ ±1 over token-hash bit i.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  protected override def nullSafeEval(input: Any): Any =
    SimHash64Expr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64Expr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Static kernel shared by interpreted eval and generated code.
    * Tokenizes with SPARK's split/trim semantics via
    * [[ShingleKernels.sparkTokens]] — including the EMPTY edge tokens
    * non-space whitespace produces, which the declarative
    * `split(lower(trim(text)), "\\s+")` twin hashes too. */
  def compute(text: UTF8String): Long = {
    val toks = ShingleKernels.sparkTokens(text)
    val sums = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val tok = UTF8String.fromString(toks(t))
      val h = XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset,
        tok.numBytes(), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column-level entry point (Column construction from a raw
    * Expression is not public API in Spark 4, so the function registry
    * is the wiring; see [[NativeFunctions]]). */
  def simhash64(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "simhash64", c)
}
