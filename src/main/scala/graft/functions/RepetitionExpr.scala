package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass repetition counts: [n_words, n_distinct_words,
  * n_grams, max_bigram_count] — the codegen'd replacement for the
  * declarative dup-word / top-bigram pipeline
  * ([[graft.text.TextAnalysis.dupWordFrac]] / `wordBigrams` +
  * explode + two aggregations). Per-document state is a hash map of
  * the document's own bigrams, bounded by document length — so the
  * whole repetition rule runs inside the scan stage with ZERO
  * shuffle, instead of shuffling an exploded (doc_id, gram) row per
  * bigram occurrence.
  *
  * Tokenization replicates `split(lower(trim(text)), "\\s+")` exactly
  * (spec-asserted): space-only trim, ASCII \s runs, keep-empties
  * limit -1 (a leading/trailing non-space whitespace char yields an
  * empty token; empty trimmed text yields one), per-token lowercase
  * (same fallback as UTF8String.toLowerCase).
  */
case class RepetitionExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"

  protected override def nullSafeEval(input: Any): Any =
    RepetitionExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionExpr =
    copy(child = newChild)
}

object RepetitionExpr {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    // SQL trim removes SPACES only (not tabs/newlines) — match it.
    var lo = 0
    var hi = n
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    val words = new scala.collection.mutable.ArrayBuffer[String]
    if (lo == hi) words += "" // split("") -> [""]
    else {
      // split(_, -1) keeps the empty segments a leading/trailing
      // whitespace char produces — in sequence position.
      if (isWs(s.charAt(lo))) words += ""
      var inRun = false
      var runStart = 0
      var j = lo
      while (j <= hi) {
        val w = j == hi || isWs(s.charAt(j))
        if (!w && !inRun) { inRun = true; runStart = j }
        else if (w && inRun) {
          words += s.substring(runStart, j).toLowerCase
          inRun = false
        }
        j += 1
      }
      if (isWs(s.charAt(hi - 1))) words += ""
    }
    val distinct = new java.util.HashSet[String]
    words.foreach(distinct.add)
    val gramCounts = new java.util.HashMap[String, java.lang.Long]
    var maxC = 0L
    var k = 0
    while (k + 1 < words.length) {
      val c = gramCounts.merge(words(k) + " " + words(k + 1), 1L,
        (a: java.lang.Long, b: java.lang.Long) => a + b)
      if (c > maxC) maxC = c
      k += 1
    }
    new GenericArrayData(Array(words.length.toLong, distinct.size.toLong,
      math.max(0, words.length - 1).toLong, maxC))
  }

  def repetitionStats(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "repetition_stats", c)
}
