package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language identification, and document
  * fingerprinting. All pure Column expressions (codegen'd, no UDFs) —
  * at 100 TB these run embarrassingly parallel inside the scan stage
  * with zero shuffles.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword count: word-boundary pieces plus length/4
    * overflow for long words — a cheap, deterministic proxy for LLM
    * token budgeting (true BPE needs a vocab file; the shape is the
    * same: one pass, no shuffle). */
  def approxBpeTokenCount(text: Column): Column = {
    val words = tokens(text)
    aggregate(words, lit(0L),
      (acc, w) => acc + lit(1L) + floor(length(w) / lit(4.0)).cast("long"))
  }

  private def countMatches(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Character-class ratios + mean word length — the standard cheap
    * quality signals (length, punctuation, alpha density). */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast("double")
    def ratio(c: Column): Column = round(c.cast("double") / len, 4)
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_tokens" -> tokenCount(text).cast("long"),
      "alpha_ratio" -> ratio(countMatches(text, "[A-Za-z]")),
      "digit_ratio" -> ratio(countMatches(text, "[0-9]")),
      "space_ratio" -> ratio(countMatches(text, "\\s")),
      "punct_ratio" -> ratio(countMatches(text, "[.,;:!?'\"()-]")),
      "mean_word_len" -> round(
        (length(text) - countMatches(text, "\\s")).cast("double") /
          tokenCount(text).cast("double"), 4))
  }

  /** Composite quality score in [0,1]: alpha-dense, some punctuation,
    * sane word lengths. Weights are heuristic; the point is the shape
    * (pure arithmetic over the metrics above). */
  def qualityScore(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    scoreOf(m("alpha_ratio"), m("space_ratio"), m("mean_word_len"))
  }

  /** The same score computed from the single-pass native counts
    * ([[graft.functions.TextStatsExpr]]) instead of three regex scans —
    * identical output (same ratios, same rounding points; asserted in
    * TextSpec). */
  def qualityScoreFast(spark: org.apache.spark.sql.SparkSession,
      text: Column): Column = {
    val st = graft.functions.TextStatsExpr.textStats(spark, text)
    def el(i: Int): Column = element_at(st, i)
    scoreOf(
      round(el(2).cast("double") / el(4).cast("double"), 4),
      round(el(3).cast("double") / el(4).cast("double"), 4),
      round((el(4) - el(3)).cast("double") / el(1).cast("double"), 4))
  }

  private def scoreOf(alphaRatio: Column, spaceRatio: Column,
      meanWordLen: Column): Column = {
    val wordLenOk = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    round(least(lit(1.0),
      alphaRatio * 0.6 + spaceRatio * lit(2.0) * 0.2 + wordLenOk * 0.2), 4)
  }

  /** Stopword inventories for the n-gram/stopword language-ID
    * heuristic. Deliberately small and public-knowledge. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"))

  /** Per-language stopword-hit score: count of stopword occurrences as
    * standalone words in the lowercased text. */
  def langScore(text: Column, stopwords: Seq[String]): Column = {
    val pattern = stopwords.mkString("\\b(", "|", ")\\b")
    regexp_count(lower(text), lit(pattern)).cast("long")
  }

  /** Language-ID by argmax stopword score; CJK codepoint presence
    * short-circuits to zh. Ties resolve in `langStopwords` order;
    * all-zero scores → "und" (undetermined). */
  def langId(text: Column): Column = {
    val scores = langStopwords.map { case (l, sw) => l -> langScore(text, sw) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    when(countMatches(text, "[\\x{4e00}-\\x{9fff}]") > 0, lit("zh")).otherwise(pick)
  }

  /** Gopher-style repetition signal: fraction of word occurrences that
    * repeat an earlier word (1 − distinct/total). Pure per-row array
    * arithmetic — no shuffle; runs inside the scan stage. */
  def dupWordFrac(text: Column): Column = {
    val w = tokens(text)
    round(lit(1.0) -
      size(array_distinct(w)).cast("double") / size(w).cast("double"), 4)
  }

  /** Word bigrams ("a b", "b c", …) of the lowercased text — the unit
    * for the top-n-gram repetition rule (the fraction of the document
    * covered by its most frequent bigram). Guarded: below two words
    * there are no bigrams (`sequence(1, 0)` would count DOWN and the
    * out-of-range element_at throws under ANSI).
    *
    * This is the declarative REFERENCE form; `element_at(w, i)` inside
    * the lambda re-evaluates the whole split per element — O(words²)
    * splits per document. Operators use the single-pass native kernel
    * [[graft.functions.RepetitionExpr]] (equivalence asserted in
    * TextSpec). */
  def wordBigrams(text: Column): Column = {
    val w = tokens(text)
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Winnowing-style document fingerprint: the minimum hash over all
    * character k-shingles. Content moves/edits far from the minimum
    * shingle leave the fingerprint unchanged — the classic rolling-hash
    * fingerprint property. md5 keeps it oracle-comparable. */
  def fingerprintMd5(text: Column, k: Int = 8): Column =
    when(length(text) < k, md5(text)).otherwise(
      array_min(transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => md5(text.substr(i, lit(k))))))
}
