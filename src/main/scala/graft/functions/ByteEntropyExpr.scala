package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Order-0 Shannon byte entropy of a document in integer MICRO-NATS
  * per byte — the engine-replayable twin of the zlib compressibility
  * signal ([[DeflateSizeExpr]], whose Deflater no second engine can
  * recompute): H = Σ_byte (k/n)·ln(n/k) over the UTF-8 byte
  * histogram, each term floored ONCE to micro-nats (the
  * divergence-aggregate rule) and summed as exact integers.
  *
  * Order-0 entropy is the memoryless-source coding bound — it bands
  * repetitive/templated text low and uniform noise high exactly like
  * the zlib ratio, but does NOT see cross-byte structure (LZ matches
  * on duplicated spans can compress BELOW it), so the Deflater tier
  * remains the production signal and this twin is the declared
  * order-0 statistic.
  *
  * The kernel is bit-identical to the declarative hex chain the
  * DuckDB oracle runs (`hex(text) → 2-char byte classes → per-class
  * counts → floor((k/n)·ln(n/k)·10⁶)` — asserted in ByteEntropySpec):
  * one codegen'd scan pass, a 256-long histogram per row, zero
  * shuffle. */
object ByteEntropyKernel {

  /** Micro-nats per byte; 0 for an empty string (the oracle's hex
    * chain produces no row for it — callers filter n_bytes > 0). */
  def entropyMicro(text: UTF8String): Long = {
    val n = text.numBytes()
    if (n == 0) return 0L
    val counts = new Array[Int](256)
    val bytes = text.getBytes
    var i = 0
    while (i < n) { counts(bytes(i) & 0xff) += 1; i += 1 }
    val nd = n.toDouble
    var h = 0L
    var b = 0
    while (b < 256) {
      val k = counts(b)
      if (k > 0) {
        // ONE double chain per class, floored once — mirrored verbatim
        // in SQL: floor((k/n) * ln(n/k) * 1e6)
        h += math.floor((k.toDouble / nd) *
          math.log(nd / k.toDouble) * 1000000.0).toLong
      }
      b += 1
    }
    h
  }
}

case class ByteEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "byte_entropy_micro"

  protected override def nullSafeEval(input: Any): Any =
    ByteEntropyKernel.entropyMicro(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ByteEntropyKernel.entropyMicro($c)")

  override protected def withNewChildInternal(
      newChild: Expression): ByteEntropyExpr =
    copy(child = newChild)
}

object ByteEntropyExpr {
  def byteEntropyMicro(spark: SparkSession, text: Column): Column =
    NativeFunctions.call(spark, "byte_entropy_micro", text)
}
