package graft.functions

import java.util.zip.Deflater

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native deflate-size kernel: the compressed byte length of a
  * document's UTF-8 text at DEFLATE level 6 — the classic
  * compression-ratio quality signal (highly repetitive or templated
  * text compresses far below natural prose; near-random noise barely
  * compresses at all), used as a cheap document-quality gate in
  * large-corpus curation alongside the repetition rules in
  * [[RepetitionExpr]].
  *
  * Determinism: DEFLATE output for a fixed input, level, and strategy
  * is produced by the JDK's bundled zlib; the LENGTH of the stream is
  * stable for a fixed JDK on a fixed input, and every executor in a
  * cluster runs the same JDK image. The ratio consumer
  * (graft.queries q_compress_quality) still emits integer basis
  * points via floor div, so downstream comparisons never sit on a
  * float rounding boundary.
  *
  * Scale shape: one codegen'd scan pass, zero shuffle; the Deflater is
  * a per-thread reused native object (reset between rows), never
  * allocated per row.
  */
case class DeflateSizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_size"

  protected override def nullSafeEval(input: Any): Any =
    DeflateSizeExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateSizeExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateSizeExpr =
    copy(child = newChild)
}

object DeflateSizeExpr {

  // One Deflater per executor thread, reset per row: Deflater wraps a
  // native zlib stream whose allocation dwarfs per-row work.
  private val deflaters = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater =
      new Deflater(Deflater.DEFAULT_COMPRESSION, /*nowrap=*/ true)
  }
  private val buffers = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): Long = {
    val in = text.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(in)
    d.finish()
    var out = 0L
    val buf = buffers.get()
    while (!d.finished()) out += d.deflate(buf)
    out
  }

  def deflateSize(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "deflate_size", c)
}
