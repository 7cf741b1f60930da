package graft.text

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the "does this text
  * look like the rest of the corpus" signal (the cheap stand-in for
  * KenLM-style perplexity filtering in public pipeline recipes like
  * CCNet/RefinedWeb). Documents whose word transitions are improbable
  * under the corpus's own bigram statistics score low: gibberish,
  * wrong-language contamination, and boilerplate-free word salad all
  * fall out of the same number.
  *
  * Everything is two partial+final aggregates and two equi-joins on
  * the gram key:
  *
  *   1. ONE explode of the corpus into bigram occurrences.
  *   2. c(bigram) — groupBy(bigram) count.
  *   3. c(prev ·) — derived from the c(bigram) frame (Σ per first
  *      token), NOT a second corpus pass (same trick as q_tfidf's
  *      df-from-tf).
  *   4. Per-doc mean of p(w_i | w_{i-1}) = c(bigram)/c(prev ·) — join
  *      occurrences back to the two count frames and aggregate.
  *
  * Counts are MLE over the corpus itself, so every document bigram has
  * a nonzero count (it contributes to its own statistics) — no
  * smoothing needed and the score is a pure rational of two integers.
  * The joins are plain equi-joins on the gram key: Catalyst/AQE
  * broadcasts them while the vocabulary is small and shuffle-joins at
  * scale, where a forced broadcast of a 10⁹-bigram vocabulary would
  * be the bug.
  */
object LangModel {

  /** One row per adjacent token pair: (doc_id, prev, bigram). The
    * token array materializes once per row; the zip_with lambda only
    * routes already-computed elements (no per-element re-evaluation of
    * the split — the O(n²) trap documented in the build notes). Docs
    * with fewer than 2 tokens have no transitions and drop. */
  def bigramOccurrences(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val w = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), w.as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .withColumn("prev", split(col("bigram"), " ").getItem(0))
  }

  /** Per-document mean transition probability under the corpus bigram
    * model: (doc_id, n_bigrams, avg_bigram_prob). Rational arithmetic
    * (count/count) rather than log-probabilities so the DuckDB oracle
    * matches to the digit (same reasoning as q_tfidf's rational idf:
    * IEEE division is bit-exact across engines, libm `ln` is not). */
  def bigramDocScore(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val occ = bigramOccurrences(df, textCol, idCol)
    val cb = occ.groupBy(col("bigram"))
      .agg(count(lit(1)).as("c_bigram"))
    val cs = cb
      .withColumn("prev", split(col("bigram"), " ").getItem(0))
      .groupBy(col("prev"))
      .agg(sum(col("c_bigram")).as("c_start"))
    occ.join(cb, Seq("bigram")).join(cs, Seq("prev"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("c_bigram").cast("double") / col("c_start")), 4)
          .as("avg_bigram_prob"))
  }

  /** Interpolated Kneser–Ney trigram perplexity — the real
    * KenLM-style quality gate (CCNet/RefinedWeb filter perplexity
    * under an LM trained on a reference slice). Complements
    * [[bigramDocScore]] (MLE on the corpus's own counts, every gram
    * seen by construction): here the model trains on the md5-fold
    * TRAIN slice only (folds != heldFold, ops/Split.foldOf — the
    * leakage-proof engine-reproducible coin) and scores EVERY
    * document, so held-fold docs genuinely hit unseen trigrams and
    * the smoothing — absolute discounting + continuation-count
    * backoff (Kneser & Ney 1995; Chen & Goodman 1999 interpolated
    * form) — is exercised, not decorative.
    *
    * Estimator (all counts from ONE train trigram aggregate; lower
    * orders are continuation TYPE counts derived from it, never a
    * second corpus pass — the df-from-tf trick):
    *
    *   p3(w|u,v) = max(c(uvw)-d,0)/c(uv·) + d·N1+(uv·)/c(uv·) · p2(w|v)
    *   p2(w|v)   = max(N1+(·vw)-d,0)/N1+(·v·)
    *               + d·N1+(v·*)/N1+(·v·) · p1(w)
    *   p1(w)     = (N1+(·w) + 1) / (N1+(··) + V + 1)    [add-1 over
    *               bigram types; V = observed continuation vocab, so
    *               OOV words score 1/(T+V+1) > 0, never log(0)]
    *
    * with d = 0.75 (exactly representable) and total backoff when a
    * context is unseen. Every input to the probability chain is an
    * integer count; the chain itself is ONE identically-shaped double
    * expression mirrored in the oracle SQL, and each per-token
    * log-term is floored ONCE to integer micro-nats then
    * integer-summed per document (the divergence-aggregate rule) —
    * perplexity proxy ppl_micro = nll_micro div n (nonneg, so
    * truncating div ≡ floor ≡ DuckDB `//`).
    *
    * Scale shape: the five model frames are vocab-bounded aggregates
    * of the train trigram stream; the probe is five equi-joins of the
    * corpus trigram stream against them — AQE broadcasts while the
    * vocabulary is small and shuffle-joins a 10⁹-gram vocabulary
    * (never a forced vocab broadcast, the q_tfidf rule). The two
    * multi-consumer count frames are eagerly checkpointed
    * (compute-once sharing; AQE gives derived aggregates no exchange
    * reuse). A/B'd alternative: scoring per DISTINCT trigram type +
    * one join-back measured SLOWER (2.34 vs 2.01 s solo, sf0.1) —
    * under a broadcastable vocabulary the five model joins are all
    * map-side and never shuffle the stream, while distinct() adds a
    * full stream shuffle; revisit only for vocabularies too large to
    * broadcast. */
  def knTrigramDocScores(df: DataFrame, textCol: String, idCol: String,
      folds: Int = 5, heldFold: Int = 0): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        graft.ops.Split.foldOf(col(idCol), folds).as("fold"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 3)
    // element_at on the materialized attribute `w` is O(1) per lookup
    // (never on an expression — the per-element re-evaluation trap).
    // Every model join key is hashed to ONE xxhash64 long at trigram
    // build time (the inverted-index rule: string join keys pay UTF8
    // hashing per probe everywhere downstream) — the five model joins,
    // their aggregates, and every exchange below compare 8-byte longs,
    // never 2-3 strings. A collision would merge two n-gram types
    // corpus-wide (P ≈ types²/2⁶⁵ ≈ 1e-11 here) and the oracle-hash
    // gate would flag it instantly. The stream is checkpointed ONCE:
    // the train aggregate and the probe chain both consume it, so the
    // tokenize+explode pass runs once instead of twice.
    val tri = toks.select(col("doc_id"), col("fold"),
        explode(transform(sequence(lit(0), size(col("w")) - 3), i =>
          struct(
            element_at(col("w"), i + 1).as("u"),
            element_at(col("w"), i + 2).as("v"),
            element_at(col("w"), i + 3).as("w3")))).as("t"))
      .select(col("doc_id"), col("fold"),
        xxhash64(col("t.u"), col("t.v"), col("t.w3")).as("k3"),
        xxhash64(col("t.u"), col("t.v")).as("k2"),
        xxhash64(col("t.v"), col("t.w3")).as("km"),
        xxhash64(col("t.v")).as("kv"),
        xxhash64(col("t.w3")).as("kw"))
      .localCheckpoint(true) // 2 consumers: train aggregate, probe chain

    val train = tri.where(col("fold") =!= heldFold)
    // One trigram-type frame; everything else derives from it. The
    // lower-order keys ride the grouping (each is a function of the
    // trigram, so cardinality is unchanged).
    val g3 = train.groupBy(col("k3"), col("k2"), col("km"), col("kv"),
        col("kw"))
      .agg(count(lit(1)).as("c3"))
      .localCheckpoint(true) // 3 consumers: ctx2, mid, probe join
    val ctx2 = g3.groupBy(col("k2"))
      .agg(sum(col("c3")).as("c2tot"), count(lit(1)).as("n1p_uv"))
    val mid = g3.groupBy(col("km"), col("kv"), col("kw"))
      .agg(count(lit(1)).as("n1p_vw"))
      .localCheckpoint(true) // 3 consumers: ctxv, uni, probe join
    val ctxv = mid.groupBy(col("kv"))
      .agg(sum(col("n1p_vw")).as("n1p_dvd"), count(lit(1)).as("n1p_vc"))
    val uni = mid.groupBy(col("kw")).agg(count(lit(1)).as("n1p_dw"))
    // tot is two scalars over the vocab-sized uni frame: ONE cheap
    // driver agg (reads the mid checkpoint) replaces the former 1-row
    // broadcast + crossJoin, whose build ran the same aggregate as a
    // separate broadcast-exchange job anyway.
    val totRow = uni.agg(sum(col("n1p_dw")), count(lit(1))).head
    val (tTypes, vSize) = (totRow.getLong(0), totRow.getLong(1))

    val d = lit(0.75)
    tri
      .join(g3.select(col("k3"), col("c3")), Seq("k3"), "left")
      .join(ctx2, Seq("k2"), "left")
      .join(mid.select(col("km"), col("n1p_vw")), Seq("km"), "left")
      .join(ctxv, Seq("kv"), "left")
      .join(uni, Seq("kw"), "left")
      .withColumn("p1",
        (coalesce(col("n1p_dw"), lit(0L)).cast("double") + lit(1.0)) /
          (lit(tTypes).cast("double") + lit(vSize).cast("double")
            + lit(1.0)))
      .withColumn("p2", when(col("n1p_dvd").isNotNull,
        greatest(coalesce(col("n1p_vw"), lit(0L)).cast("double") - d,
            lit(0.0)) / col("n1p_dvd").cast("double") +
          d * col("n1p_vc").cast("double") / col("n1p_dvd").cast("double")
            * col("p1"))
        .otherwise(col("p1")))
      .withColumn("p3", when(col("c2tot").isNotNull,
        greatest(coalesce(col("c3"), lit(0L)).cast("double") - d,
            lit(0.0)) / col("c2tot").cast("double") +
          d * col("n1p_uv").cast("double") / col("c2tot").cast("double")
            * col("p2"))
        .otherwise(col("p2")))
      .withColumn("nat_u", floor(log(col("p3")) * lit(1000000.0)))
      .groupBy(col("doc_id"), col("fold"))
      .agg(count(lit(1)).as("n_trigrams"),
        (-sum(col("nat_u"))).as("nll_micro"))
      .withColumn("ppl_micro", expr("nll_micro DIV n_trigrams"))
  }
}
