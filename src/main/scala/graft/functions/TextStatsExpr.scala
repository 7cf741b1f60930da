package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text statistics: [n_tokens, n_alpha, n_space,
  * n_chars, approx_bpe] — the codegen'd replacement for the separate
  * regex/split scans in [[graft.text.TextAnalysis.qualityMetrics]] and
  * the interpreted per-word aggregate in
  * [[graft.text.TextAnalysis.approxBpeTokenCount]].
  *
  * Semantics replicate the declarative building blocks exactly
  * (spec-asserted):
  *   - n_tokens = `size(split(trim(text), "\\s+"))` with Spark's
  *     space-only `trim` and split's keep-empties limit -1: empty
  *     trimmed text → 1; a leading/trailing NON-SPACE whitespace char
  *     (tab, newline) adds an empty token;
  *   - n_alpha = `regexp_count(text, "[A-Za-z]")`;
  *   - n_space = `regexp_count(text, "\\s")` (Java ASCII \s);
  *   - n_chars = `length(text)` (codepoints);
  *   - approx_bpe = Σ over tokens of (1 + floor(len_codepoints/4)) —
  *     empty tokens contribute 1.
  */
case class TextStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_stats"

  protected override def nullSafeEval(input: Any): Any =
    TextStatsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsExpr {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    var alpha = 0L
    var space = 0L
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alpha += 1
      if (isWs(c)) space += 1
      i += 1
    }
    // SQL trim removes SPACES only (not tabs/newlines) — match it.
    var lo = 0
    var hi = n
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    var tokens = 0L
    var bpeOverflow = 0L // Σ floor(token_len/4); token count added below
    if (lo == hi) tokens = 1 // split("") -> [""]
    else {
      var inRun = false
      var runStart = 0
      var j = lo
      while (j <= hi) {
        val w = j == hi || isWs(s.charAt(j))
        if (!w && !inRun) { tokens += 1; inRun = true; runStart = j }
        else if (w && inRun) {
          // The declarative form measures tokens of lower(text);
          // lowercasing can CHANGE codepoint count (U+0130 İ → "i"+
          // combining dot), so the run must be lowercased before
          // measuring. Same fallback as UTF8String.toLowerCase.
          val run = s.substring(runStart, j).toLowerCase
          bpeOverflow += run.codePointCount(0, run.length) / 4
          inRun = false
        }
        j += 1
      }
      // split(_, -1) keeps the empty segments a leading/trailing
      // whitespace char produces.
      if (isWs(s.charAt(lo))) tokens += 1
      if (isWs(s.charAt(hi - 1))) tokens += 1
    }
    val chars = s.codePointCount(0, n).toLong
    new GenericArrayData(Array(tokens, alpha, space, chars,
      tokens + bpeOverflow))
  }

  def textStats(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "text_stats", c)
}
