package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE tokenization kernels (see [[graft.text.Bpe]] for the
  * trainer). The learned merge table is NOT a child expression: it is
  * prepared ONCE at plan-build time into a rank map and embedded in
  * the generated code via `ctx.addReferenceObj` — per row the kernel
  * only walks symbols, never re-parses the table.
  *
  * Merge application is the standard greedy rule: repeatedly merge
  * the pair with the LOWEST rank present in the word until none of
  * the word's adjacent pairs is in the table. Tokenization is
  * per-word (whitespace pre-split, lowercased/trimmed like every
  * other text operator here); merges never cross word boundaries.
  */
object BpeKernels {

  type Ranks = java.util.HashMap[String, Integer]

  def prepare(merges: Seq[String]): Ranks = {
    val m = new Ranks()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, i) }
    m
  }

  /** Seed symbols: one per Unicode CODE POINT. Iterating chars would
    * split UTF-16 surrogate pairs, turning any non-BMP character
    * (emoji, supplementary CJK) into two lone-surrogate symbols that
    * UTF8String mangles to replacement bytes — and letting distinct
    * words collide. Used by both the trainer and the kernel so the
    * two stay mutually consistent. */
  def seedSymbols(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** BPE symbols of one word under the rank table. */
  def encodeWord(word: String, ranks: Ranks): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms = seedSymbols(word)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        val merged = new Array[String](syms.length - 1)
        System.arraycopy(syms, 0, merged, 0, bestIdx)
        merged(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        System.arraycopy(syms, bestIdx + 2, merged, bestIdx + 1,
          syms.length - bestIdx - 2)
        syms = merged
      }
    }
    syms
  }

  // Spark split/trim semantics (space-only trim, keep-empties split) —
  // empty tokens encode to zero symbols, so edge whitespace cannot
  // shift counts against the declarative token column.
  private def words(text: UTF8String): Array[String] =
    ShingleKernels.sparkTokens(text)

  /** Total BPE token count of a text. */
  def countTokens(text: UTF8String, ranks: Ranks): Long = {
    val ws = words(text)
    var total = 0L
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      total += (if (w.isEmpty) 0 else encodeWord(w, ranks).length)
      i += 1
    }
    total
  }

  /** All BPE tokens of a text (for vocab/budget queries). */
  def tokenize(text: UTF8String, ranks: Ranks): ArrayData = {
    val ws = words(text)
    val out = Array.newBuilder[Any]
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      if (w.nonEmpty) encodeWord(w, ranks).foreach(s =>
        out += UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.result())
  }
}

case class BpeCountExpr(child: Expression, merges: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"

  @transient private lazy val ranks = BpeKernels.prepare(merges)

  protected override def nullSafeEval(input: Any): Any =
    BpeKernels.countTokens(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeKernels.countTokens($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
    copy(child = newChild)
}

case class BpeTokenizeExpr(child: Expression, merges: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokenize"

  @transient private lazy val ranks = BpeKernels.prepare(merges)

  protected override def nullSafeEval(input: Any): Any =
    BpeKernels.tokenize(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeKernels.tokenize($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenizeExpr =
    copy(child = newChild)
}

/** Column wrappers; the merge table travels as an array literal that
  * the builder evaluates once at plan-build time, not per row. */
object BpeExprs {
  def bpeCount(spark: SparkSession, text: Column, merges: Seq[String]): Column =
    NativeFunctions.call(spark, "bpe_count", text, typedLit(merges))

  def bpeTokenize(spark: SparkSession, text: Column, merges: Seq[String]): Column =
    NativeFunctions.call(spark, "bpe_tokenize", text, typedLit(merges))
}
