package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass language-ID — the codegen'd replacement for
  * [[graft.text.TextAnalysis.langId]], which evaluates five
  * `regexp_count` alternations per row (five full regex scans of every
  * document). One pass over the text suffices: split into maximal
  * `\w`-runs, look each up in the per-language stopword map, count CJK
  * codepoints on the way.
  *
  * Behavior-identical to the declarative form (spec-asserted):
  * `\b(w1|...)\b` over pure-word alternatives matches exactly the
  * maximal ASCII word-character runs equal to a stopword, and the
  * tie-break (first language in registry order), the zero-score "und",
  * and the CJK → "zh" short-circuit replicate the Column logic. Input
  * must be the ALREADY-LOWERCASED text (pass `lower(text)`) so
  * lowercasing stays Spark's own.
  */
case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  protected override def nullSafeEval(input: Any): Any =
    LangIdExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

object LangIdExpr {

  private val langs: Array[String] =
    graft.text.TextAnalysis.langStopwords.map(_._1).toArray
  /** word → language index; inventories are disjoint by construction
    * (asserted below so a future overlap fails fast, since a shared
    * word would need per-language multi-counting). */
  private val wordLang: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    graft.text.TextAnalysis.langStopwords.zipWithIndex.foreach {
      case ((_, words), i) => words.foreach { w =>
        require(m.put(w, i) == null, s"stopword '$w' in two inventories")
      }
    }
    m
  }

  /** The \b word-character set Spark's regexp actually uses (probed
    * empirically on this JVM; matches JDK UnicodeProp.WORD): letters —
    * Unicode, not just ASCII — decimal digits, combining marks,
    * connector punctuation, and the zero-width joiners. A stopword
    * glued to é/ß/中/a combining mark therefore has NO boundary and
    * must not count. */
  private def isWordCp(cp: Int): Boolean =
    Character.isAlphabetic(cp) || Character.isDigit(cp) || {
      val t = Character.getType(cp)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.CONNECTOR_PUNCTUATION
    } || cp == 0x200C || cp == 0x200D

  /** Static kernel shared by interpreted eval and generated code;
    * `text` must already be lowercased. Iterates CODEPOINTS (regex
    * boundaries are codepoint-based). */
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val n = s.length
    val counts = new Array[Long](langs.length)
    var cjk = false
    var i = 0
    var start = -1
    while (i <= n) {
      val cp = if (i < n) s.codePointAt(i) else -1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk = true
      val w = i < n && isWordCp(cp)
      if (w) { if (start < 0) start = i }
      else if (start >= 0) {
        val li = wordLang.get(s.substring(start, i))
        if (li != null) counts(li.intValue()) += 1
        start = -1
      }
      i += (if (i < n) Character.charCount(cp) else 1)
    }
    if (cjk) return UTF8String.fromString("zh")
    var best = 0L
    var bi = -1
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) { best = counts(l); bi = l }
      l += 1
    }
    UTF8String.fromString(if (bi < 0) "und" else langs(bi))
  }

  /** Column entry point; the builder lowercases with Spark's own
    * `lower` then runs the kernel. */
  def langId(spark: SparkSession, text: Column): Column =
    NativeFunctions.call(spark, "lang_id", text)
}
