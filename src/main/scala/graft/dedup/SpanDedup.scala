package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-SPAN detection — the token-level twin of document
  * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better": mask any span of ≥ k tokens that occurs verbatim
  * more than once in the corpus, rather than dropping whole documents).
  * The reference engine's dedup surface is file-level
  * (/root/reference/internal/prefixinfo/ hardlink identity); this is
  * the content-level generalization a training-data pipeline needs.
  *
  * Division of labor with the window-level pair in [[Dedup]]:
  * [[Dedup.dupSpanStats]] counts duplicated WINDOWS and
  * [[Dedup.trimDupSpans]] performs the actual span-removal TRANSFORM
  * (both verified against planted full copies); this module measures
  * TOKEN-level coverage via interval union — the Lee et al. "fraction
  * of the corpus that is duplicated text" statistic — with an md5
  * gram key the DuckDB oracle replays against the corpus's ORGANIC
  * duplication (no plant), and derives the novelty / boilerplate /
  * incremental-admission views from the same keys.
  *
  * Shape, designed for the 100 TB profile:
  *
  *   1. every token position emits its k-gram KEY (52-bit md5 prefix —
  *      constant width; at production scale you'd use xxhash64, the
  *      md5 prefix is what lets the DuckDB oracle replay bit-for-bit);
  *      text itself never shuffles, only (key, doc_id, pos) triples;
  *   2. the gram stream shuffles ONCE, by key, and a count window
  *      over that partitioning keeps the positions of every gram
  *      seen ≥ minCount times (one exchange, one sort, no
  *      checkpoint, no join back); crucially there are no per-key
  *      posting arrays anywhere (a boilerplate gram's df is
  *      unbounded, so a collect-per-gram buffer would be a task
  *      killer — the window's key-group buffer spills instead);
  *   3. per-doc covered-token count via interval union on the SORTED
  *      hit positions: sum(min(k, pos − prev_pos)) — a window over
  *      doc_id, a HIGH-cardinality key, so no skew (an unbounded
  *      window over a low-cardinality key funnels every row through
  *      a handful of tasks; this one has one tiny frame per doc).
  *
  * Duplicated coverage is emitted as integer BASIS POINTS via floor
  * div (the count-ratio rule — round(x,4) sits on cross-engine
  * rounding midpoints).
  */
object SpanDedup {

  /** Every k-gram start: (doc_id, pos, g) with g the 52-bit md5-prefix
    * key of the space-joined gram, a nonneg bigint (its fixed-width
    * lowercase hex, `lower(lpad(hex(g), 13, '0'))`, is the md5's first
    * 13 hex chars and sorts in the same order). Docs shorter than k
    * emit nothing.
    * Keys come from the native word_gram_md5 kernel (one codegen'd
    * pass per doc); [[gramKeysDeclarative]] is the Column-form
    * reference the SpanDedupSpec equivalence test pins it to. */
  def gramKeys(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.ShingleExprs.wordGramMd5(
          docs.sparkSession, col(textCol), k)))
      .toDF("doc_id", "pos", "g")

  /** The declarative reference for [[gramKeys]] — interpreted lambda
    * per position, kept for the kernel-equivalence spec. */
  private[graft] def gramKeysDeclarative(docs: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("t"))
      .withColumn("n", size(col("t")))
    toks.where(col("n") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n") - k),
          p => conv(substring(md5(concat_ws(" ", slice(col("t"), p + 1, lit(k)))),
            1, 13), 16, 10).cast("bigint"))))
      .toDF("doc_id", "pos", "g")
  }

  /** (doc_id, pos) of every k-gram start whose gram occurs at least
    * `minCount` times corpus-wide (positions of BOTH/ALL occurrences).
    *
    * Skew-safe shape: a posting-list aggregate (collect per gram)
    * would build one unbounded array per MEGA-BOILERPLATE gram — the
    * grams this operator exists to find are exactly the ones with
    * millions of occurrences at corpus scale. Instead one count window
    * partitioned by the key tags every position with its gram's
    * occurrence count: the gram stream crosses ONE exchange and one
    * sort, and WindowExec buffers a key group in the spillable
    * ExternalAppendOnlyUnsafeRowArray (rows past
    * `spark.sql.windowExec.buffer.spill.threshold` go to disk), so a
    * gram with millions of occurrences spills rather than building an
    * array, and no aggregation buffer exceeds one count. */
  def dupSpanPositions(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minCount: Int = 2): DataFrame =
    gramKeys(docs, textCol, idCol, k)
      .withColumn("c", count(lit(1)).over(Window.partitionBy("g")))
      .where(col("c") >= minCount)
      .select(col("doc_id"), col("pos"))

  /** `docs` with its duplicated-span report appended: total tokens
    * (`n_tokens`), tokens covered by some duplicated k-gram
    * (`dup_tokens`, the interval union of the hit spans) and the
    * duplicated fraction in basis points (`dup_bp`). One left outer
    * join of `docs` with the per-doc coverage, so every input doc
    * appears (zero coverage included) and a screen filters its own
    * rows with no join back; `idCol` moves to the front. */
  def withSpanStats(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minCount: Int = 2): DataFrame =
    withCoverage(docs, textCol, idCol, k,
      dupSpanPositions(docs, textCol, idCol, k, minCount))

  /** Per-document duplicated-span report: the [[withSpanStats]]
    * columns alone, keyed by `doc_id`. */
  def spanStats(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minCount: Int = 2): DataFrame =
    report(withSpanStats(docs, textCol, idCol, k, minCount), idCol)

  /** Incremental twin of [[spanStats]]: per NEW-BATCH document, the
    * tokens covered by some k-gram already present in the CORPUS —
    * the "how much of this drop do we already have" admission stat an
    * incremental ingest gates on (vs [[spanStats]]'s within-corpus
    * self-duplication). One semi join of batch gram keys against the
    * distinct corpus keys (52-bit keys shuffle, never text), then the
    * same interval union per batch doc. */
  def spanStatsAgainst(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    val hits = gramKeys(batch, textCol, idCol, k)
      .join(gramKeys(corpus, textCol, idCol, k).select(col("g")).distinct(),
        Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    report(withCoverage(batch, textCol, idCol, k, hits), idCol)
  }

  /** `docs` joined with the interval union of its `hits` (doc_id, pos
    * of k-gram starts): the [[withSpanStats]] columns. `n_tokens` is
    * taken before the join, so [[report]]'s projection prunes the text
    * off the join's inputs. */
  private def withCoverage(docs: DataFrame, textCol: String, idCol: String,
      k: Int, hits: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = hits
      .withColumn("gap", col("pos") - coalesce(lag("pos", 1).over(w), col("pos") - k))
      .groupBy(col("doc_id").as(idCol))
      .agg(sum(least(lit(k), col("gap")).cast("long")).as("dup_tokens"))
    docs.withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .join(covered, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_bp",
        expr("CAST(dup_tokens * 10000 DIV n_tokens AS BIGINT)"))
  }

  private def report(stats: DataFrame, idCol: String): DataFrame =
    stats.select(col(idCol).as("doc_id"), col("n_tokens"), col("dup_tokens"),
      col("dup_bp"))

  /** Per-document n-gram NOVELTY: the share of the doc's DISTINCT
    * k-grams whose corpus-wide FIRST occurrence (min doc_id) is this
    * doc — the "new content contributed" rank dedup-aware curation
    * orders by.
    *
    * Skew-safe shape (no posting lists — a boilerplate gram's would
    * be unbounded at corpus scale): the distinct (doc, gram) frame
    * checkpoints once, then two independent scalar aggregates —
    * per-doc distinct-gram counts, and per-gram min-doc rolled up
    * into per-doc novel counts — meet in one join of two doc-sized
    * frames. Docs shorter than k report zero grams and zero novelty.
    * Share in basis points (floor div; 0 when the doc has no grams). */
  def noveltyStats(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val grams = gramKeys(docs, textCol, idCol, k)
      .select(col("doc_id"), col("g")).distinct()
      .localCheckpoint(eager = true) // two aggregate consumers
    val nGrams = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val nNovel = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(nGrams, Seq("doc_id"), "left")
      .join(nNovel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_novel"))
      .selectExpr("doc_id", "n_grams", "n_novel",
        "CAST(CASE WHEN n_grams = 0 THEN 0 ELSE n_novel * 10000 DIV n_grams END AS BIGINT) AS novel_bp")
  }
}
