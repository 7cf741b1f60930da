package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.dedup.{Dedup, SpanDedup}
import graft.similarity.{Coreset, Similarity}
import graft.text.TextAnalysis

/** Training-data pipeline operators over the `documents` and
  * `embeddings` tables, with DuckDB oracles where the math is exactly
  * SQL-expressible. Approximate operators (MinHash LSH, SimHash, IVF)
  * have rows-only driver checks here and exactness/recall assertions
  * in their ScalaTest specs.
  */
object Pipeline {

  // spread (graft.Tables): CPU-heavy per-row stages over the
  // single-split documents/embeddings parquet must repartition first
  // so every core works.

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + quality metrics (one scan, zero shuffle).
    "q_text_stats" -> ((s, dir) => {
      // One native pass per document ([tokens, alpha, space, chars]);
      // the ratios are the same arithmetic the declarative
      // qualityMetrics applies (equivalence pinned in TextSpec).
      val st = graft.functions.TextStatsExpr.textStats(s, col("text"))
      documents(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(
          col("doc_id"),
          element_at(col("st"), 1).as("n_tokens"),
          round(element_at(col("st"), 2).cast("double") /
            element_at(col("st"), 4).cast("double"), 4).as("alpha_ratio"),
          round(element_at(col("st"), 3).cast("double") /
            element_at(col("st"), 4).cast("double"), 4).as("space_ratio"),
          round((element_at(col("st"), 4) - element_at(col("st"), 3)).cast("double") /
            element_at(col("st"), 1).cast("double"), 4).as("mean_word_len"))
        .orderBy(asc("doc_id"))
    }),

    // Quality-gate ABLATION matrix — the gate-tuning readout every
    // filter pipeline needs before committing thresholds: one pass
    // computes each doc's gate bitmask (length >= 50 tokens /
    // alpha-ratio >= 0.82 / mean word length <= 4.5 — thresholds at
    // the corpus medians so every combination populates; all INTEGER
    // compares, e.g. alpha*1000 >= chars*820, never a float ratio)
    // and one aggregate reports docs +
    // token mass per gate combination. 2^gates rows out; which gate
    // to relax falls straight out of the mask marginals.
    "q_quality_ablation" -> ((s, dir) => {
      val st = graft.functions.TextStatsExpr.textStats(s, col("text"))
      documents(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("tok"),
          element_at(col("st"), 2).as("alpha"),
          element_at(col("st"), 3).as("space"),
          element_at(col("st"), 4).as("chars"))
        .select(col("tok"),
          (when(col("tok") >= 50, 1L).otherwise(0L) +
           when(col("alpha") * 1000 >= col("chars") * 820, 2L).otherwise(0L) +
           when((col("chars") - col("space")) * 100 <= col("tok") * 450, 4L)
             .otherwise(0L)).as("mask"))
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
        .orderBy(asc("mask"))
    }),

    // Language-ID by stopword-score argmax, grouped for compactness.
    "q_lang_id" -> ((s, dir) => {
      documents(s, dir)
        .select(graft.functions.LangIdExpr.langId(s, col("text")).as("lang_pred"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(asc("lang_pred"))
    }),

    // Winnowing-style rolling-hash fingerprint (min shingle hash).
    "q_doc_fingerprint" -> ((s, dir) => {
      spread(documents(s, dir)).select(
        col("doc_id"),
        graft.functions.MinMd5FingerprintExpr
          .minMd5Fingerprint(s, col("text"), 8).as("fingerprint"))
        .orderBy(asc("doc_id"))
    }),

    // Token budgeting: BPE-ish subword counts + quality score per
    // language — the "how many training tokens do we have" query.
    "q_token_budget" -> ((s, dir) => {
      // Token counts from the single-pass native kernel (equivalence
      // with the declarative forms pinned in TextSpec).
      val st = graft.functions.TextStatsExpr.textStats(s, col("text"))
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(sum(element_at(st, 5)).as("approx_bpe_tokens"),
          sum(element_at(st, 1)).as("word_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(asc("lang"))
    }),

    // REAL BPE token budgeting (rows-only — merge order, train/apply
    // consistency, and kernel-vs-driver agreement are asserted in
    // BpeSpec): vocabulary induced driver-side on a bounded sample
    // (the merge loop is inherently sequential), then ONE distributed
    // counting pass through the codegen'd kernel with the rank table
    // embedded at plan-build time.
    "q_bpe_budget" -> ((s, dir) => {
      val docs = documents(s, dir)
      val merges = graft.text.Bpe.train(docs, "text", "doc_id", nMerges = 64)
      spread(docs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.text.Bpe.tokenCount(s, col("text"), merges))
            .as("bpe_tokens"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("word_tokens"))
        .orderBy(asc("lang"))
    }),

    // Quality filtering — the gate a training pipeline applies before
    // spending tokens: per-lang doc counts surviving the composite
    // quality score threshold. Score formula mirrored in the oracle.
    "q_quality_filter" -> ((s, dir) => {
      documents(s, dir)
        .withColumn("q", TextAnalysis.qualityScoreFast(s, col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_pass"),
          round(avg(col("q")), 4).as("avg_quality"))
        .orderBy(asc("lang"))
    }),

    // Gopher/C4-style repetition rules: duplicate-word fraction and
    // top-bigram coverage — the fraction of the document taken by its
    // most frequent word bigram. ONE native pass per document
    // (RepetitionExpr: [n_words, n_distinct, n_grams, max_bigram]):
    // per-doc hash counting bounded by document length, zero shuffle —
    // vs the declarative explode → aggregate reference that shuffles a
    // row per bigram occurrence (equivalence asserted in TextSpec).
    // Docs with no bigrams drop, matching the explode form.
    "q_repetition" -> ((s, dir) => {
      val r = graft.functions.RepetitionExpr.repetitionStats(s, col("text"))
      spread(documents(s, dir))
        .select(col("doc_id"), r.as("r"))
        .where(element_at(col("r"), 3) >= 1L)
        .select(col("doc_id"),
          round(lit(1.0) - element_at(col("r"), 2).cast("double") /
            element_at(col("r"), 1).cast("double"), 4).as("dup_word_frac"),
          round(element_at(col("r"), 4).cast("double") /
            element_at(col("r"), 3).cast("double"), 4).as("top_bigram_frac"))
        .orderBy(asc("doc_id"))
    }),

    // Embedding-space document clustering: bounded-sample k-means
    // centroids + ONE distributed assignment pass → cluster histogram
    // (rows-only; assignment semantics are spec'd in SimilaritySpec;
    // q_doc_clusters_grid is the ORACLE-EXACT integer-grid twin).
    "q_doc_clusters" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = Similarity.ivfCentroids(emb, "embedding", "vec_id", 8)
      Similarity.ivfAssign(spread(emb), "embedding", "vec_id", cents)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(asc("centroid_id"))
    }),

    // q_doc_clusters' HASH-EXACT twin: k-means on an integer grid
    // (similarity/GridKmeans — floor-once 10⁶ quantization, md5-rank
    // bounded sample, truncating integer centroid means, packed
    // dist·c+cid argmin), so DuckDB replays the WHOLE training loop
    // as unrolled CTE layers plus the final assignment, bit-for-bit.
    // Same plan shape as the float path: driver loop on the bounded
    // sample, one distributed assignment pass, centroids as literals.
    "q_doc_clusters_grid" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = graft.similarity.GridKmeans.centroids(
        emb, "embedding", "vec_id", c = 8, iters = 3, maxTrain = 256)
      graft.similarity.GridKmeans.assign(
          spread(emb), "embedding", "vec_id", cents)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(asc("centroid_id"))
    }),

    // Cluster-BALANCED exact-k subsample: the diversity-preserving
    // downsample (equal representation per semantic cluster — the
    // SemDeDup-adjacent curation recipe) as a pure composition of two
    // oracle-exact pieces: GridKmeans assignment (DuckDB retrains the
    // index) + per-cluster deterministic exact-k (52-bit md5 order
    // through the bounded-heap TopK — ≤ k rows per (cluster,
    // partition) through the shuffle, never a window over the
    // cluster). A plain uniform sample would mirror the cluster-size
    // skew; this caps every cluster at k.
    "q_cluster_sample" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = graft.similarity.GridKmeans.centroids(
        emb, "embedding", "vec_id", c = 8, iters = 3, maxTrain = 256)
      val assigned = graft.similarity.GridKmeans.assign(
        spread(emb), "embedding", "vec_id", cents)
      graft.ops.Sampling.groupedExactK(assigned, "centroid_id",
          "vec_id", k = 10)
        .orderBy(asc("centroid_id"), asc("rk"))
    }),

    // (eps,delta)-DP dataset-card release (ops/Privacy): per-(lang,
    // source) doc counts + deterministic Laplace(1/eps) noise from the
    // 52-bit md5 uniform, floored once to micro-units; groups whose
    // NOISY count sits below the threshold are DROPPED ENTIRELY (the
    // key set is data-dependent, so even a flagged suppressed row
    // would leak count>=1 — stability-histogram accounting on the op).
    // Deterministic noise = one sample per statistic ever released,
    // and the oracle replays the whole mechanism.
    "q_dp_release" -> ((s, dir) => {
      graft.ops.Privacy.noisyCounts(documents(s, dir),
          Seq("lang", "source"), eps = 1.0, minRelease = 5L)
        .orderBy(asc("lang"), asc("source"))
    }),

    // eps-DP per-language token totals with contribution clipping
    // (ops/Privacy.noisySums): each doc's token count clamps to
    // [0, 64] first — the clip BINDS on this corpus (docs run ~40-60
    // tokens), demonstrating the bounded-sensitivity tradeoff — then
    // Laplace(clip/eps) noise releases the clipped sum. The noise
    // domain is tagged 'sum:tok' so a release carrying both this and
    // q_dp_release's counts never reuses a uniform.
    "q_dp_sum" -> ((s, dir) => {
      val toks = documents(s, dir).select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      graft.ops.Privacy.noisySums(toks, Seq("lang"), "tok",
          clip = 64L, eps = 1.0)
        .orderBy(asc("lang"))
    }),

    // eps-DP private vocabulary: top-20 tokens via one-shot Gumbel
    // noise (ops/Privacy.gumbelTopK = k exponential-mechanism draws
    // without replacement in one pass); eps=1.0 is the TOTAL release
    // budget — the op spends eps/k per draw (basic composition). Only
    // (rank, token) is released. Occurrence-level privacy unit,
    // documented on the op.
    "q_dp_topk" -> ((s, dir) => {
      val counts = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+"))
          .as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      graft.ops.Privacy.gumbelTopK(counts, "token", "c",
          eps = 1.0, k = 20)
        .orderBy(asc("rk"))
    }),

    // Composed private dataset card (ops/Privacy.datasetCard): noisy
    // per-lang doc counts (eps 0.5) + clipped noisy token sums
    // (eps 0.5) + Gumbel top-10 vocabulary (eps 0.5 TOTAL) in one
    // release frame — eps_total = 1.5 under basic composition, valid
    // because the three draws live in pairwise-distinct tagged noise
    // domains (asserted in PrivacySpec). The sums section releases
    // ONLY keys that survived the counts threshold (key-set stability:
    // a sum row for a suppressed key would reveal count >= 1). Only
    // (rank, token) leaves the top-k section; the card is the
    // exportable public artifact.
    "q_dp_card" -> ((s, dir) => {
      val docs = documents(s, dir)
      val toks = docs.select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      val tokenCounts = docs
        .select(explode(split(trim(lower(col("text"))), "\\s+"))
          .as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      val counts = graft.ops.Privacy.datasetCard(toks, Seq("lang"), "tok",
        clip = 64L, tokenCounts, "token", "c",
        epsCounts = 0.5, epsSums = 0.5, epsTopk = 0.5,
        minRelease = 3L, k = 10)
      counts
    }),

    // Domain/language mixture reweighting: per-language sampling
    // weight = target fraction / actual fraction — the knob a pipeline
    // turns to hit a target training mixture. One aggregation; the
    // grand total attaches as a broadcast one-row crossJoin rather
    // than an unpartitioned window (same tiny post-agg frame, but no
    // single-partition exchange and no WindowExec all-to-one warning).
    "q_mixture_weights" -> ((s, dir) => {
      val targets = Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.15,
        "es" -> 0.15, "fr" -> 0.1)
      val perLang = documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      perLang
        .crossJoin(broadcast(perLang.agg(sum(col("n_docs")).as("total"))))
        .withColumn("target_frac", element_at(typedLit(targets), col("lang")))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs") / col("total"), 4).as("actual_frac"),
          col("target_frac"),
          round(col("target_frac") / (col("n_docs") / col("total")), 4)
            .as("weight"))
        .orderBy(asc("lang"))
    }),

    // Context-window packing: documents pack greedily into fixed
    // token-budget bins per language; bin boundaries come from the
    // per-lang running token total in doc_id order. `lang` is a
    // LOW-cardinality key, so a running-sum window would stream each
    // language's entire corpus through ONE task at scale — the running
    // total instead comes from ops/PrefixSum (range-sorted partitions
    // + per-partition subtotals + broadcast offsets): identical values,
    // fully parallel, no per-lang serialization.
    "q_context_pack" -> ((s, dir) => {
      val budget = 512L
      val toks = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      graft.ops.PrefixSum.runningTotal(
          toks, Seq("lang"), Seq("doc_id"), "tok", "run")
        // bin start = running total BEFORE this doc; nonneg, so
        // truncating div ≡ floor.
        .withColumn("bin", expr(s"(run - tok) DIV ${budget}L"))
        .groupBy(col("lang"), col("bin"))
        .agg(sum(col("tok")).as("bin_tokens"))
        .groupBy(col("lang"))
        .agg((max(col("bin")) + 1L).as("n_bins"),
          sum(col("bin_tokens")).as("total_tokens"),
          round(avg(col("bin_tokens")) / budget, 4).as("avg_fill"))
        .orderBy(asc("lang"))
    }),

    // PII scrubbing (C4/RefinedWeb-style cleaning): count and redact
    // emails + URLs. The synthetic corpus contains neither, so the
    // query PLANTS them deterministically (doc_id % 5 → an email,
    // doc_id % 7 → a URL, some docs get both) and the oracle replays
    // the same injection — the redaction must find exactly what was
    // planted. URLs redact before emails so a user@host URL can't be
    // double-counted. Zero-shuffle scan-stage work.
    "q_pii_scrub" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val urlRe = "https?://[^\\s]+"
      // spread: three regex passes per row on a single-split source.
      val planted = spread(documents(s, dir)).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" see https://example.org/doc/"), col("doc_id"), lit(" page")))
            .otherwise(lit(""))).as("text"))
      planted.select(
        col("doc_id"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(urlRe)).cast("long").as("n_urls"),
        length(regexp_replace(
          regexp_replace(col("text"), urlRe, "<URL>"),
          emailRe, "<EMAIL>")).cast("long").as("clean_len"))
        .orderBy(asc("doc_id"))
    }),

    // Deterministic stratified sampling (graft.ops.Sampling): per-lang
    // md5-hash sampling rates — the reproducible mixture-control knob.
    // The predicate is scan-stage, zero-shuffle work; the oracle
    // replays the identical md5 coin, proving the sample is
    // bit-reproducible across engines.
    "q_stratified_sample" -> ((s, dir) => {
      val rates = Map("en" -> 0.25, "zh" -> 0.5, "de" -> 0.75, "es" -> 0.5)
      val in = graft.ops.Sampling.stratifiedAt(col("doc_id"), col("lang"), rates)
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(in, 1L).otherwise(0L)).as("n_sampled"),
          round(sum(when(in, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("sample_frac"))
        .orderBy(asc("lang"))
    }),

    // Top BPE SUBWORDS corpus-wide (rows-only; tokenizer semantics
    // asserted in BpeSpec): the learned-vocabulary usage view — what
    // the corpus actually spends its token budget on. Same shape as
    // q_vocab but over the distributed BPE tokenizer's output.
    "q_vocab_bpe" -> ((s, dir) => {
      val docs = documents(s, dir)
      val merges = graft.text.Bpe.train(docs, "text", "doc_id", nMerges = 64)
      spread(docs)
        .select(explode(graft.text.Bpe.tokenize(s, col("text"), merges))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("token"))
        .limit(20)
    }),

    // ORACLE-EXACT BPE twin (the last untwinned family): same trainer
    // and tokenizer as q_vocab_bpe but on the REPLAYABLE md5-rank
    // sample (DuckDB lacks xxhash64) with nMerges=16 — the oracle
    // RETRAINS the vocabulary (pair counts, count-desc/"a b"-asc
    // argmax with the >=2 floor, 16 unrolled leftmost-merge recursive
    // layers — iterated leftmost merging equals the trainer's single
    // left-to-right pass because a merge can never create a new
    // occurrence of its own pair) and re-tokenizes the whole corpus
    // (sequential-by-rank application equals the kernel's
    // lowest-rank-leftmost rule: a rank-t pair's constituents all
    // exist before rank t). Word-type frequencies stand in for
    // per-doc explode — identical counts, far fewer list rebuilds.
    "q_vocab_bpe_twin" -> ((s, dir) => {
      val docs = documents(s, dir)
      val merges = graft.text.Bpe.trainMd5(docs, "text", "doc_id",
        nMerges = 16, maxTrainDocs = 256)
      spread(docs)
        .select(explode(graft.text.Bpe.tokenize(s, col("text"), merges))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("token"))
        .limit(20)
    }),

    // Vocabulary building: corpus-wide token frequencies, top 20. The
    // explode shuffles one row per token OCCURRENCE only until the
    // map-side partial aggregation collapses it to one row per
    // distinct token per partition; the final top-k is a
    // TakeOrderedAndProject, never a global sort.
    "q_vocab" -> ((s, dir) => {
      documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("token"))
        .limit(20)
    }),

    // Context-window chunking: split every document into 128-token
    // windows with 16-token overlap (stride 112) — the pretokenization
    // step that turns documents into training sequences. Pure
    // arithmetic on the native token count → explode; zero shuffle
    // before the final ordering. A doc shorter than one window is one
    // chunk.
    "q_doc_chunks" -> ((s, dir) => {
      val win = 128L
      val stride = 112L
      val st = graft.functions.TextStatsExpr.textStats(s, col("text"))
      documents(s, dir)
        .select(col("doc_id"), element_at(st, 1).as("tok"))
        .withColumn("n_chunks",
          when(col("tok") <= win, 1L)
            .otherwise(ceil((col("tok") - win).cast("double") / stride)
              .cast("long") + 1L))
        .select(col("doc_id"), col("tok"),
          explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride).as("start_tok"),
          least(col("chunk_idx") * stride + win, col("tok")).as("end_tok"))
        .orderBy(asc("doc_id"), asc("chunk_idx"))
    }),

    // Sequence packing: assign every doc to a fixed-4096-token
    // training batch by power-of-two length bucket (ops.SeqPack).
    // Padding waste is bounded by the bucket ratio and every batch
    // has an identical token footprint — the embarrassingly-parallel
    // form of bin packing a training loader actually uses. Positions
    // are the deterministic md5-order ranks (same machinery as
    // q_corpus_shuffle), so the assignment is bit-stable across runs
    // and engines.
    "q_seq_pack" -> ((s, dir) => {
      val st = graft.functions.TextStatsExpr.textStats(s, col("text"))
      val toks = spread(documents(s, dir))
        .select(col("doc_id"), element_at(st, 1).as("tok"))
      graft.ops.SeqPack.pack(toks, "doc_id", "tok", seed = 42L,
          budget = 1024,
          buckets = Seq(32L, 64L, 128L, 256L, 512L, 1024L))
        .orderBy(asc("bucket_w"), asc("batch_idx"), asc("slot"))
    }),

    // Inverse-document-frequency term weighting: top-3 salient terms
    // per document. Uses the RATIONAL idf (n_docs/df) rather than
    // ln(n_docs/df): IEEE-754 division and multiplication are
    // bit-exact across engines, so the oracle matches to the digit,
    // where libm vs JVM `ln` could differ in the last ulp right at a
    // rounding boundary. Shape: token explode → tf aggregate
    // (checkpointed once — df derives from it AND it is the join
    // probe side) → shuffle join on term → per-doc top-3 window.
    // The df table is VOCABULARY-sized (one row per distinct term —
    // unbounded with corpus growth), so it must never be broadcast:
    // the term-keyed shuffle join scales with partitions, a vocab
    // broadcast OOMs the driver at 100×. Same rule LangModel states
    // for its bigram table.
    "q_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, dir)
      val nDocs = docs.count().toDouble
      val terms = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .where(length(col("term")) > 0)
      // df derives from the tf frame: tf rows are already distinct
      // (doc, term) pairs, so count-per-term IS the document
      // frequency — the corpus explodes ONCE. Measured best of three
      // shapes at sf0.1 (solo runs): 2.1 s, vs 3.4 s for separate
      // tf/df branches (two explodes of the corpus) and 15.7 s for df
      // as a count-over-term-partition window (a 31-key unbounded
      // window is pure skew: every row buffers through ≤31 tasks).
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = true) // df agg + join probe share one compute
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("term"))
      tf.join(dfreq, Seq("term"))
        .withColumn("score",
          round(col("tf") * (lit(nDocs) / col("df")), 4))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rk"))
        .orderBy(asc("doc_id"), asc("rk"))
    }),

    // Per-language exact interpolated quantiles of the quality score
    // (quantile_cont semantics — Spark's `percentile` aggregate equals
    // DuckDB's quantile_cont definition). Safe use of the exact
    // percentile aggregate: the input is ROUNDED to 4 decimals, so
    // per-partition state is bounded by ≤10⁴ distinct values per
    // group, not by row count (the high-cardinality blowup documented
    // in the build notes cannot happen).
    // Quantiles run on the INTEGER-SCALED grid (q × 10⁴ as BIGINT):
    // interpolated medians of even-sized groups land exactly between
    // two grid points, and on the double grid that midpoint is an
    // inexact 0.xxxx5 that Spark (shortest-repr HALF_UP) and DuckDB
    // (binary-value round) round to DIFFERENT sides — measured at
    // sf0.001. Integer endpoints make the .5 midpoint exactly
    // representable, so both engines agree to the bit.
    "q_quality_quantile" -> ((s, dir) => {
      documents(s, dir)
        .select(col("lang"),
          round(TextAnalysis.qualityScoreFast(s, col("text")) * 10000, 0)
            .cast("long").as("qs"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(qs, 0.5D)"), 4).as("p50_q4"),
          round(expr("percentile(qs, 0.9D)"), 4).as("p90_q4"))
        .orderBy(asc("lang"))
    }),

    // Quantile-BUCKET assignment without a window: decile boundaries
    // come from ONE percentile aggregate per language; every document
    // then buckets itself with 9 scan-stage comparisons against the
    // broadcast boundary array. The ntile() alternative is an
    // unbounded sort window over a 5-key partition — pure skew at
    // scale (measured in the build notes); this shape is one agg + one
    // broadcast join however big the corpus. Boundaries are rounded
    // before comparison so both engines bucket identically.
    "q_quality_buckets" -> ((s, dir) => {
      // Same integer-scaled grid as q_quality_quantile (see comment
      // there): boundaries interpolate between exact integers.
      val scored = documents(s, dir)
        .select(col("lang"),
          round(TextAnalysis.qualityScoreFast(s, col("text")) * 10000, 0)
            .cast("long").as("qs"))
      val bounds = scored.groupBy(col("lang")).agg(
        expr("transform(percentile(qs, array(0.1D,0.2D,0.3D,0.4D,0.5D," +
          "0.6D,0.7D,0.8D,0.9D)), x -> round(x, 4))").as("bs"))
      scored.join(broadcast(bounds), Seq("lang"))
        .withColumn("bucket",
          (lit(1) + size(filter(col("bs"), b => col("qs") > b))).cast("long"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("qs")).as("min_q4"),
          max(col("qs")).as("max_q4"))
        .orderBy(asc("lang"), asc("bucket"))
    }),

    // Corpus-trained bigram LM scoring (graft.text.LangModel): the
    // KenLM-perplexity stand-in — mean p(w_i | w_{i-1}) per document
    // under the corpus's own bigram counts. One corpus explode, counts
    // derived without a second pass, rational probabilities for
    // cross-engine exactness.
    "q_lm_bigram" -> ((s, dir) => {
      graft.text.LangModel.bigramDocScore(documents(s, dir), "text", "doc_id")
        .orderBy(asc("doc_id"))
    }),

    // Interpolated Kneser–Ney trigram perplexity (text/LangModel):
    // the real KenLM-style gate — model trained on the md5-fold TRAIN
    // slice only, every doc scored, so held-fold docs hit genuinely
    // UNSEEN trigrams and the discount/continuation backoff does real
    // work (q_lm_bigram's self-trained MLE never sees a zero). All
    // integer counts into one mirrored double chain; per-token terms
    // floored once to micro-nats, integer-summed (divergence rule).
    "q_perplexity_kn" -> ((s, dir) => {
      graft.text.LangModel.knTrigramDocScores(
          documents(s, dir), "text", "doc_id", folds = 5, heldFold = 0)
        .orderBy(asc("doc_id"))
    }),

    // Space-Saving heavy hitters (graft.ops.HeavyHitters): dominant
    // tokens via a capacity-bounded sketch — O(partitions × capacity)
    // through the shuffle regardless of vocabulary size, vs q_vocab's
    // exact per-token shuffle. The corpus vocabulary (31 tokens,
    // measured) is under the 64-counter capacity, so the sketch is
    // provably exact here and the oracle is plain exact counts; the
    // sketch's bounds under eviction pressure (capacity ≪ cardinality)
    // are asserted on zipf data in HeavyHittersSpec.
    "q_heavy_hitters" -> ((s, dir) => {
      val tokens = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      graft.ops.HeavyHitters.topK(tokens, "token", capacity = 64, k = 10)
    }),

    // Per-language top tokens through one grouped Space-Saving
    // aggregate (capacity ≥ per-group distincts → exact counts, the
    // oracle-checkable regime; the rank window sees ≤ capacity rows
    // per group, never input rows).
    "q_heavy_hitters_grouped" -> ((s, dir) => {
      val tokens = documents(s, dir)
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      graft.ops.HeavyHitters.groupedTopK(tokens, Seq("lang"), "token",
          capacity = 256, k = 5)
        .orderBy(asc("lang"), asc("rk"))
    }),

    // Exact dedup by normalized text hash.
    // The synthetic corpus has zero duplicate docs, so the query PLANTS
    // them (every doc_id % 10 == 0 contributes a whitespace-variant
    // copy — same text after normalization) and the oracle replays the
    // injection: the dedup must find exactly the planted groups.
    "q_dedup_exact" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), col("text"), lit(" ")).as("text"))
      Dedup.exact(base.unionByName(copies), "text", "doc_id")
        .groupBy()
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(col("n_copies") - 1).as("n_redundant_docs"))
    }),

    // Exact duplicated-SPAN masking (Lee et al. 2022): any 8-token
    // window occurring verbatim >= 2 times corpus-wide marks its
    // tokens duplicated; per-doc coverage = interval union of the hit
    // spans (sum over sorted positions of min(k, pos - prev)). Only
    // (52-bit integer gram key, doc_id, pos) triples shuffle — never
    // text — and they shuffle once: a count window partitioned by the
    // key keeps the duplicated positions (no posting lists:
    // boilerplate grams have unbounded df, and the window's key-group
    // buffer spills), and the union window partitions by doc_id (high
    // cardinality, no skew). Coverage in basis points (floor div).
    // See dedup/SpanDedup.
    "q_span_dedup" -> ((s, dir) => {
      SpanDedup.spanStats(spread(documents(s, dir)), "text", "doc_id", 8)
        .orderBy(asc("doc_id"))
    }),

    // Incremental span dedup: a new drop's token coverage AGAINST the
    // existing corpus (the "how much of this do we already have"
    // admission stat). Plants the batch: exact re-crawls of every 7th
    // doc (expect full coverage) and half-prefix docs with a fresh
    // 8-token tail (expect partial); the oracle replays the plant.
    // One semi join of batch gram keys against distinct corpus keys.
    "q_span_dedup_incr" -> ((s, dir) => {
      val corpus = documents(s, dir).select(col("doc_id"), col("text"))
      val t = split(col("text"), " ")
      val batch = corpus.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
        .unionByName(corpus.where(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 600000L).as("doc_id"),
            concat(concat_ws(" ", slice(t, lit(1), (size(t) / 2).cast("int"))),
              lit(" zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8")).as("text")))
      SpanDedup.spanStatsAgainst(spread(batch), spread(corpus),
          "text", "doc_id", 8)
        .orderBy(asc("doc_id"))
    }),

    // Corpus boilerplate spans: the most-duplicated 8-grams with
    // occurrence and doc counts — the "which spans to strip" view over
    // the same gram keys q_span_dedup masks. Per-(gram, doc) counts
    // first, then the gram rollup (ONE aggregate each — a mixed
    // distinct + non-distinct agg would plan an Expand); ranking is a
    // fully tie-broken TakeOrdered top-20, never a global sort. The
    // tie-break ranks the 52-bit key itself (fixed-width lowercase hex
    // sorts in the same order as its value), and only the 20 printed
    // keys render as the md5's first 13 hex chars.
    "q_boilerplate_grams" -> ((s, dir) => {
      SpanDedup.gramKeys(spread(documents(s, dir)), "text", "doc_id", 8)
        .groupBy(col("g"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("g"))
        .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"))
        .where(col("n_occ") >= 2)
        .orderBy(desc("n_occ"), desc("n_docs"), asc("g"))
        .limit(20)
        .select(lower(lpad(hex(col("g")), 13, "0")).as("g"), col("n_occ"),
          col("n_docs"))
    }),

    // Per-doc n-gram novelty: the share of a doc's DISTINCT 8-grams
    // first seen (corpus-wide min doc_id) in THAT doc — dedup-aware
    // curation's "new content contributed" rank. One gram aggregate
    // carrying (min doc, postings) — no join-back — then one per-doc
    // rollup; share in floor-div basis points.
    "q_novelty_score" -> ((s, dir) => {
      SpanDedup.noveltyStats(spread(documents(s, dir)), "text", "doc_id", 8)
        .orderBy(asc("doc_id"))
    }),

    // Rendezvous (HRW) stable sharding, GROW direction: per-shard doc
    // counts at k=9 alongside the k=8→9 churn. HRW's defining
    // property — growing the shard count moves ONLY the docs the new
    // shard wins (the argmax over the old range is untouched by
    // adding a candidate) — shows up as moved_in = 0 for every shard
    // but the new one. The SHRINK direction (removing a shard moves
    // only its residents) is q_rendezvous_routing's corpus-level
    // proof; this one goes through the reusable ops/Shuffle
    // .rendezvousShard column. Pure scan-stage work, one aggregate.
    "q_rendezvous_shard" -> ((s, dir) => {
      import graft.ops.Shuffle
      documents(s, dir).select(col("doc_id"),
          Shuffle.rendezvousShard(col("doc_id"), 8).as("s8"),
          Shuffle.rendezvousShard(col("doc_id"), 9).as("s9"))
        .groupBy(col("s9").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("moved_in"))
        .orderBy(asc("shard_id"))
    }),

    // Provenance-priority dedup: identical content across sources
    // keeps the most-trusted copy (lowest numeric source suffix, ties
    // by min id). Plants a low-trust 'src99' copy of every 10th doc;
    // every planted group must resolve back to the original.
    "q_dedup_priority" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"),
        col("source"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          lit("src99").as("source"))
      val planted = base.unionByName(copies)
        .withColumn("prio", substring(col("source"), 4, 10).cast("long"))
      Dedup.exactByPriority(planted, "text", "doc_id", "prio")
        .where(col("n_copies") > 1)
        .orderBy(asc("canonical_id"))
    }),

    // Cross-document exact substring duplication (10-token windows):
    // the synthetic corpus has no cross-doc exact spans, so the query
    // PLANTS full copies (doc_id % 10 == 0 → a copy at id+100000) and
    // the oracle replays the injection — planted docs must score
    // dup_frac 1.0, everything else 0.
    "q_dup_spans" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.dupSpanStats(spread(base.unionByName(copies)), "text", "doc_id",
        windowTokens = 10)
        .orderBy(asc("doc_id"))
    }),

    // The TRANSFORM companion: drop every duplicated L-token window
    // occurrence except the corpus-wide first (ExactSubstr-style span
    // removal). Planted full copies (doc_id % 10 → +100000) must trim
    // to empty; the trimmed text itself is asserted in DedupSpec, and
    // the integer-exact counts oracle-check here.
    "q_dup_span_trim" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.trimDupSpans(spread(base.unionByName(copies)), "text", "doc_id",
        windowTokens = 10)
        .select(col("doc_id"), col("n_tok"), col("n_dropped"),
          col("n_kept"), col("drop_frac"))
        .orderBy(asc("doc_id"))
    }),

    // Decontamination screen: which corpus docs share any 5-gram with
    // the "benchmark" set (the five lowest-id docs stand in for an
    // eval set — they flag themselves plus any genuine overlap). The
    // benchmark's distinct shingles broadcast; corpus text never
    // shuffles.
    "q_decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contaminated(docs, docs.where(col("doc_id") < 5),
        "text", "doc_id", n = 5)
        .orderBy(asc("doc_id"))
    }),

    // Decontamination at eval-suite scale: Bloom-bits prefilter +
    // exact confirm join — bit-identical output to q_decontaminate
    // (the bloom's false positives die in the confirm join), so it
    // shares the exact oracle. The broadcast is m BITS, not shingle
    // strings — the shape that still works when the held-out suite has
    // 10^8 n-grams.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contaminatedBloom(docs, docs.where(col("doc_id") < 5),
        "text", "doc_id", n = 5)
        .orderBy(asc("doc_id"))
    }),

    // Deterministic weighted (Poisson) sampling: longer docs kept
    // proportionally more often (p = n_chars/1200), decided by a
    // 52-bit md5 draw in one fixed IEEE op order — bit-reproducible
    // across engines with no rounding boundary. Scan-stage predicate.
    "q_weighted_sample" -> ((s, dir) => {
      documents(s, dir)
        .where(graft.ops.Sampling.weightedAt(col("doc_id"), col("n_chars"),
          wNorm = 1200.0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
        .orderBy(asc("source"))
    }),

    // Winnowing fingerprints (Schleimer-Wilkerson-Aiken, SIGMOD 2003,
    // the MOSS algorithm): per sliding window of w=4 consecutive
    // 5-gram hashes select the (leftmost) minimum; distinct selected
    // POSITIONS are the fingerprints. Guarantees every shared run of
    // ≥ w+k-1 tokens yields a shared fingerprint while storing ~2/(w+1)
    // of all hashes — the position-robust middle ground between
    // full-window dup_spans and doc-level minhash. All arithmetic on
    // 52-bit md5 ints (engine-parity hashing), the hash array is
    // materialized as an ATTRIBUTE before the window lambdas
    // (element_at on an attribute is O(1); on an expression it
    // re-evaluates per element), and fingerprint sums stay in exact
    // BIGINT range (≤ ~600 × 2^52).
    "q_winnow" -> ((s, dir) => {
      val k = 5; val w = 4
      val toks = split(lower(trim(col("text"))), "\\s+")
      val grams = when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
      // spread: single-split parquet + per-row interpreted lambdas
      // would otherwise run the whole corpus on one task
      val d = spread(documents(s, dir))
        .select(col("doc_id"), transform(grams,
          g => conv(substring(md5(g), 1, 13), 16, 10).cast("long")).as("h"))
      val wlen = least(lit(w), size(col("h")))
      val sel = array_distinct(transform(
        sequence(lit(0), greatest(size(col("h")) - w, lit(0))),
        p => {
          val sl = slice(col("h"), p + lit(1), wlen)
          (p + array_position(sl, array_min(sl))).cast("int")
        }))
      d.withColumn("sel", sel)
        .select(col("doc_id"), size(col("sel")).cast("long").as("n_fp"),
          aggregate(transform(col("sel"), i => element_at(col("h"), i)),
            lit(0L), (acc, x) => acc + x).as("fp_sum"))
        .orderBy(asc("doc_id"))
    }),

    // Dataset card: the one-table corpus overview a curation stack
    // publishes with every release — per-language and per-source doc
    // counts, total chars, and median length, plus the ALL row. The
    // median rides the integer grid (doubled before the cast) so the
    // even-group .5 midpoint is exactly representable on both engines
    // — the quantile-parity rule. Three grouped aggregates over a
    // 2-column scan; each is one partial+final shuffle.
    "q_dataset_card" -> ((s, dir) => {
      val d = documents(s, dir)
      def card(dim: String, key: Column): DataFrame =
        d.groupBy(lit(dim).as("dim"), key.as("key"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_total"),
            (expr("percentile(n_chars, 0.5)") * 2).cast("long").as("med_chars_x2"))
      card("lang", col("lang"))
        .unionByName(card("source", col("source")))
        .unionByName(card("ALL", lit("ALL")))
        .orderBy(asc("dim"), asc("key"))
    }),

    // Temperature-scaled mixture weights (the multilingual-sampling
    // recipe: weight ∝ n^(1/T), here T=2): up-weights small sources
    // relative to proportional sampling. Parity-safe arithmetic:
    // sqrt is IEEE-correctly-rounded on both engines, micro-weights
    // floor to integers FIRST, and the normalization is integer
    // floor-div — no float sum ever crosses an engine boundary.
    "q_temperature_mix" -> ((s, dir) => {
      val d = documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs")) * 100).cast("long"))
      d.crossJoin(broadcast(d.agg(sum(col("w")).as("w_tot"))))
        .select(col("source"), col("n_docs"),
          expr("(w * 10000) div w_tot").as("weight_bp"))
        .orderBy(asc("source"))
    }),

    // Deterministic EXACT-k uniform sample per source (the reservoir
    // answer without reservoir state): rank by a 52-bit md5 draw on
    // doc_id, keep each source's 5 smallest, through the bounded-heap
    // TopK — ≤ k rows per (source, partition) in the shuffle, no
    // window sort. Bit-reproducible on both engines.
    "q_group_sample" -> ((s, dir) => {
      graft.ops.Sampling.groupedExactK(documents(s, dir), "source",
          "doc_id", k = 5)
        .orderBy(asc("source"), asc("rk"))
    }),

    // Fixed-iteration PageRank (ops/PageRank) over a deterministic
    // 2-out-regular doc graph (i -> (31i+7) mod N, (13i+5) mod N):
    // document/domain authority as a quality-weighting signal. Ranks
    // are emitted normalized (x N, mean 1) and rounded on a margin far
    // above float accumulation error. N is one bounded driver scalar.
    "q_pagerank" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id").as("id"))
      val n = docs.count()
      val edges = docs.select(col("id").as("src"),
          ((col("id") * 31 + 7) % n).as("dst"))
        .unionByName(docs.select(col("id").as("src"),
          ((col("id") * 13 + 5) % n).as("dst")))
      graft.ops.PageRank.ranks(docs, edges, n, iters = 3)
        .select(col("id"), round(col("rank") * n, 6).as("norm_rank"))
        .orderBy(asc("id"))
    }),

    // HITS hubs & authorities (ops/Hits) on the bipartite
    // customer→part purchase graph — the mutually-reinforcing
    // companion to q_pagerank (influential buyers / flagship parts).
    // Every iteration lives on the 10^6 integer grid (exact BIGINT
    // sums + truncating max-norm div), so the fixed-iteration scores
    // replay hash-exactly; two join+agg passes per iteration, max as
    // a one-row broadcast, no collect.
    "q_hits" -> ((s, dir) => {
      val edges = orders(s, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("src"))
        .join(lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("dst")),
          Seq("ok"))
        .select(col("src"), col("dst")).distinct()
      val (hubs, auths) = graft.ops.Hits.scores(edges, iters = 4)
      import org.apache.spark.sql.expressions.Window
      def top(df: DataFrame, side: String) = df
        .orderBy(desc("s"), asc("id")).limit(10)
        .select(lit(side).as("side"),
          row_number().over(Window.orderBy(desc("s"), asc("id")))
            .cast("long").as("rk"),
          col("id"), col("s").as("score_fixed"))
      top(hubs, "hub").unionByName(top(auths, "auth"))
        .orderBy(asc("side"), asc("rk"))
    }),

    // Deterministic per-source token-budget cap (ops/BudgetSample):
    // keep each source's seeded-hash-order document prefix up to 1000
    // word-tokens. Bucketed prefix sums — never a corpus-wide window
    // over the handful of source keys.
    "q_budget_sample" -> ((s, dir) => {
      val toks = size(split(trim(lower(col("text"))), "\\s+")).cast("long")
      graft.ops.BudgetSample.byBudget(documents(s, dir), "source", "doc_id",
        toks, seed = 7L, budget = 1000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tokens_kept"))
        .orderBy(asc("source"))
    }),

    // Graded contamination: per-doc overlap FRACTION against the eval
    // shingles (basis points, floor-div — integer grid, no float
    // rounding), for threshold tuning where the boolean screen is the
    // shipped gate.
    "q_contamination_frac" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.contaminationScore(docs, docs.where(col("doc_id") < 5),
        "text", "doc_id", n = 5)
        .orderBy(asc("doc_id"))
    }),

    // Per-domain corpus stats (the CCNet/RefinedWeb-style domain
    // aggregation): extract each doc's first URL host with a
    // scan-stage regex, aggregate docs/chars per domain. URLs are
    // planted deterministically (like q_pii_scrub) since the synthetic
    // text has none.
    "q_domain_stats" -> ((s, dir) => {
      val hostRe = "https?://([^/\\s]+)"
      val planted = documents(s, dir).select(col("doc_id"), col("n_chars"),
        concat(col("text"), lit(" see https://site"),
          pmod(col("doc_id"), lit(7L)), lit(".example.com/d/"), col("doc_id"))
          .as("text"))
      planted
        .select(regexp_extract(col("text"), hostRe, 1).as("domain"),
          col("n_chars"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(asc("domain"))
    }),

    // EXACT 3-gram Jaccard near-dup pairs via inverted shingle index.
    // maxShingleDf is the scale safety valve: a shingle in d docs emits
    // O(d²) join rows, so boilerplate shingles must be dropped before
    // pairing at 100 TB. The cutoff (10) sits above the measured max
    // shingle df at both verify scales (9 at sf0.001, 7 at sf0.01), so
    // the DuckDB oracle — which has no cutoff — still matches exactly
    // there. At sf0.1 the max df is 25 (measured): the cutoff
    // activates and prunes the hottest inverted-index rows — the
    // designed recall/cost tradeoff taking over as the corpus grows.
    "q_near_dup_jaccard" -> ((s, dir) => {
      Dedup.jaccardPairs(spread(documents(s, dir)), "text", "doc_id",
        n = 3, threshold = 0.3, maxShingleDf = 10)
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // Per-source duplication-rate diagnostics: WITHIN-source near-dup
    // pairs (same pair machinery and params as q_near_dup_jaccard)
    // over each source's pair capacity, in basis points — the
    // which-crawl-is-internally-duplicative signal that decides where
    // dedup budget goes. The pair frame is tiny after the threshold,
    // so the source join-backs broadcast; one final per-source agg.
    // Preference-pair construction (DPO/RLHF data prep): near-dup
    // pairs (same machinery as q_near_dup_jaccard) become
    // (chosen, rejected) training pairs ranked by an integer
    // type-token-ratio quality score; ties drop (a pair must have a
    // strictly better side), and the margin ships with the pair so
    // downstream loss weighting stays possible. The pair frame is
    // tiny post-threshold, so the quality join-backs broadcast.
    "q_pref_pairs" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(spread(documents(s, dir)), "text",
          "doc_id", n = 3, threshold = 0.3, maxShingleDf = 10)
        .select(col("doc_a"), col("doc_b"))
      val tf = documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val qs = tf.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("types"), sum(col("c")).as("toks"))
        .select(col("doc_id"), expr("types * 10000 div toks").as("qs"))
      pairs
        .join(broadcast(qs.select(col("doc_id").as("doc_a"),
          col("qs").as("qa"))), Seq("doc_a"))
        .join(broadcast(qs.select(col("doc_id").as("doc_b"),
          col("qs").as("qb"))), Seq("doc_b"))
        .where(col("qa") =!= col("qb"))
        .select(
          when(col("qa") > col("qb"), col("doc_a")).otherwise(col("doc_b"))
            .as("chosen"),
          when(col("qa") > col("qb"), col("doc_b")).otherwise(col("doc_a"))
            .as("rejected"),
          abs(col("qa") - col("qb")).as("margin_bp"))
        .orderBy(asc("chosen"), asc("rejected"))
    }),

    // Normalization-ladder dedup census: how many MORE duplicate docs
    // each normalization level exposes (raw -> NFC -> casefold ->
    // whitespace collapse) — the decision input for "which normalizer
    // does exact dedup run behind". ONE corpus scan: the four
    // normalized forms posexplode to (level, norm) rows and one
    // distinct-shaped aggregate per level comes out of a single
    // shuffle (no per-level rescans, no mixed-distinct Expand).
    "q_dedup_normalization" -> ((s, dir) => {
      val nfc = (c: Column) =>
        graft.functions.NfcNormalizeExpr.nfcNormalize(s, c)
      val lv = documents(s, dir).select(posexplode(array(
          col("text"),
          nfc(col("text")),
          lower(nfc(col("text"))),
          trim(regexp_replace(lower(nfc(col("text"))), "\\s+", " "))))
        .as(Seq("level", "norm")))
      lv.groupBy(col("level"), col("norm")).agg(count(lit(1)).as("c"))
        .groupBy(col("level"))
        .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_distinct"),
          (sum(col("c")) - count(lit(1))).as("n_dup_docs"))
        .orderBy(asc("level"))
    }),

    "q_dup_rate" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"))
      val pairs = Dedup.jaccardPairs(spread(documents(s, dir)), "text",
        "doc_id", n = 3, threshold = 0.3, maxShingleDf = 10)
      val within = pairs
        .join(docs.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
          Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
          Seq("doc_b"))
        .where(col("src_a") === col("src_b"))
        .groupBy(col("src_a").as("source"))
        .agg(count(lit(1)).as("n_dup_pairs"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(within, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          expr("coalesce(n_dup_pairs, 0) * 10000 div " +
            "greatest(n_docs * (n_docs - 1) div 2, 1)").as("dup_rate_bp"))
        .orderBy(asc("source"))
    }),

    // Prefix-filtered EXACT Jaccard (AllPairs/PPJoin): same semantics
    // as q_near_dup_jaccard with NO df cutoff — docs with j ≥ t must
    // collide inside their rarest |A|−⌈t|A|⌉+1 shingles, plus the
    // length-band and positional filters. Runs at t=0.6, the regime
    // prefix filtering is built for: at t=0.3 the prefix is 70% of
    // the index and this corpus's dense vocabulary (median shingle
    // df 9) made ~5% of ALL pairs candidates (measured 648k at
    // sf0.1, 15 s); at 0.6 the index is the rarest ~40% and the
    // detected near-dups are identical (every true pair here has
    // j ≥ 0.9). Exact at any corpus size.
    "q_near_dup_prefix" -> ((s, dir) => {
      Dedup.jaccardPairsPrefix(spread(documents(s, dir)), "text", "doc_id",
        n = 3, threshold = 0.6)
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // EXACT asymmetric containment (directed): ≥ 40% of the contained
    // doc's distinct 3-grams appear in the container. Catches the
    // quote/subset duplication Jaccard's union-normalization hides
    // (a short doc inside a long one scores j ≈ |A|/|B| ≈ 0). Output
    // is integer basis points (floor div on both engines) — the
    // count-ratio parity rule. Same inverted-index scale shape (and
    // df cutoff rationale) as q_near_dup_jaccard above.
    "q_containment" -> ((s, dir) => {
      Dedup.containmentPairs(spread(documents(s, dir)), "text", "doc_id",
        n = 3, minBp = 4000, maxShingleDf = 10)
        .orderBy(asc("contained"), asc("container"))
    }),

    // Per-source quotas: keep the best 2 docs per source domain by
    // quality — the curation knob that stops one crawl domain from
    // dominating the mixture. Runs through the bounded-heap top-N
    // aggregate (graft.ops.TopK): ≤ k rows per (source, partition)
    // shuffle, no window sort. Ranked on the ROUNDED score (oracle
    // parity rule).
    "q_source_quota" -> ((s, dir) => {
      val scored = documents(s, dir).select(col("source"), col("doc_id"),
        round(TextAnalysis.qualityScoreFast(s, col("text")), 4).as("q"))
      graft.ops.TopK.byScore(scored, Seq("source"), "q", "doc_id", 2)
        .orderBy(asc("source"), asc("rk"))
    }),

    // Dedup-group resolution: near-dup PAIRS → duplicate CLUSTERS via
    // connected components (graft.ops.ConnectedComponents, iterative
    // min-label propagation — rounds ≈ cluster diameter, shallow for
    // near-dup graphs). component = min doc_id = the canonical doc a
    // pipeline keeps. The oracle recomputes the same clusters with a
    // recursive CTE.
    "q_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(spread(documents(s, dir)), "text",
        "doc_id", n = 3, threshold = 0.3, maxShingleDf = 10)
      graft.ops.ConnectedComponents.summary(
        graft.ops.ConnectedComponents.components(pairs, "doc_a", "doc_b"))
        .orderBy(asc("component"))
    }),

    // The SCALE-path dedup-group pipeline end-to-end: MinHash+LSH
    // candidates → exact Jaccard verify on candidates only →
    // connected components → cluster summary. Same output shape as
    // q_dedup_groups but no inverted-index self-join anywhere — the
    // plan a 100 TB run would use (rows-only; recall vs the exact
    // pipeline asserted in DedupSpec).
    "q_dedup_groups_lsh" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(spread(documents(s, dir)), "text",
        "doc_id", k = 64, bands = 16, n = 3, threshold = 0.3)
      graft.ops.ConnectedComponents.summary(
        graft.ops.ConnectedComponents.components(pairs, "doc_a", "doc_b"))
        .orderBy(asc("component"))
    }),

    // HASH-EXACT LSH dedup-groups twin: the md5 MinHash twin's verified
    // pairs resolved to clusters by ConnectedComponents, with the
    // recursive-CTE closure replaying the whole chain (signatures →
    // banding → verify → components) in DuckDB. The xxhash tier above
    // stays rows-only; this is its end-to-end oracle.
    "q_dedup_groups_lsh_twin" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDupsMd5(spread(documents(s, dir)),
        "text", "doc_id", k = 16, bands = 4, n = 3, thresholdBp = 3000L)
      graft.ops.ConnectedComponents.summary(
        graft.ops.ConnectedComponents.components(pairs, "doc_a", "doc_b"))
        .orderBy(asc("component"))
    }),

    // Ingest-time incremental dedup: a NEW batch screens against the
    // EXISTING corpus by normalized-text hash — only 32-byte hashes of
    // the batch and corpus meet in the anti-join, never text. The
    // batch plants known duplicates (docs % 7 == 0 re-ingested with
    // new ids); survivors are exactly the non-planted batch docs.
    "q_dedup_incremental" -> ((s, dir) => {
      val corpus = documents(s, dir).select(col("doc_id"), col("text"))
      val newBatch = corpus.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit(" "), col("text")).as("text"))
        .unionByName(corpus.where(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 600000L).as("doc_id"),
            concat(col("text"), lit(" NEW CONTENT APPENDED")).as("text")))
      def h(c: org.apache.spark.sql.Column) =
        md5(regexp_replace(lower(trim(c)), "\\s+", " "))
      val survivors = newBatch
        .join(corpus.select(h(col("text")).as("text_hash")).distinct(),
          h(col("text")) === col("text_hash"), "left_anti")
      survivors.groupBy()
        .agg(count(lit(1)).as("n_new"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // ANN: exact top-10 cosine neighbors of vec_id 0 (brute-force
    // baseline; IVF path covered in SimilaritySpec).
    "q_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.topK(emb.where(col("vec_id") =!= 0), "embedding", "vec_id",
        query, 10)
    }),

    // Exact k-NN join: 3 nearest neighbors for each of the first 5 ids.
    "q_knn_join" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.knnJoin(emb, "embedding", "vec_id", queries, "qe", "qid", 3)
        .orderBy(asc("query_id"), asc("rk"))
    }),

    // IVF-accelerated kNN JOIN — the scale path for a query SET:
    // each query probes its nprobe best cells, candidates come from a
    // broadcast equi-join on centroid_id, and the assigned corpus is
    // never shuffled (approximate; rows-only — nprobe=c exactness and
    // clustered recall are asserted in SimilaritySpec).
    "q_knn_join_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = Similarity.ivfCentroids(emb, "embedding", "vec_id", 16,
        trainPct = 25)
      val assigned = Similarity.ivfAssign(spread(emb), "embedding", "vec_id", cents)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.ivfKnnJoin(assigned, "embedding", "vec_id",
          queries, "qe", "qid", cents, k = 3, nprobe = 4)
        .orderBy(asc("query_id"), asc("rk"))
    }),

    // MinHash+LSH near-dups (approximate; rows-only driver check —
    // recall vs the exact Jaccard pairs is asserted in DedupSpec).
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashNearDups(spread(documents(s, dir)), "text", "doc_id",
        k = 64, bands = 16, n = 3, threshold = 0.3)
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // HASH-EXACT MinHash+LSH twin (dedup/Dedup.minhashNearDupsMd5):
    // the same banded-LSH pipeline with an md5-derived 52-bit hash
    // family, so DuckDB replays signatures, band keys, the
    // first-agreeing-band emission AND the exact-Jaccard verify
    // bit-for-bit (the rpLshNearDups full-replay recipe — closes the
    // last rows-only *dedup* family). Jaccard emits as integer basis
    // points (floor-div parity rule). The xxhash64 tier above stays
    // the production path (native kernel, k=64).
    "q_dedup_minhash_twin" -> ((s, dir) => {
      Dedup.minhashNearDupsMd5(spread(documents(s, dir)), "text", "doc_id",
        k = 16, bands = 4, n = 3, thresholdBp = 3000L)
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // PERSISTED-index admission (dedup/DedupIndex): split the corpus
    // by an md5 coin (3/4 index, 1/4 incoming drop), BUILD the banded
    // LSH index once — postings partitioned by band + shingle sets,
    // timestamped segments + LATEST (a Versioned store) — then admit
    // the drop against the index: band-key the DROP only, probe the
    // persisted postings (the index corpus is never re-hashed),
    // first-agreeing-band, exact-Jaccard verify in basis points
    // against the PERSISTED shingles. The oracle replays the whole
    // probe from the base table, proving the index route is
    // indistinguishable from inline recompute. Index dir is keyed by
    // a fingerprint of the corpus file (the q_agg_rewrite
    // materialize-once rule — never overwrite a dir a same-session
    // plan may re-read).
    "q_dedup_admit" -> ((s, dir) => {
      import graft.dedup.DedupIndex
      val docs = documents(s, dir)
      val coin = conv(substring(md5(concat(lit("adm|"),
        col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("long") % 4
      // 64-bit corpus fingerprint (xxhash64 of path|length|mtime):
      // keys the index dir AND is stamped into PARAMS so admit fails
      // fast instead of probing a stale index after a testdata
      // regeneration (the former 32-bit Objects.hash made a silent
      // collision plausible)
      val fp = DedupIndex.fileFp(new java.io.File(s"$dir/documents.parquet"))
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_lshidx_$fp"
      // LATEST is written last in build — its presence marks a
      // complete index (a killed partial build is rebuilt fresh);
      // a PARAMS fingerprint mismatch (dir collision) also rebuilds
      if (DedupIndex.latestName(base).isEmpty ||
          DedupIndex.params(base).corpusFp != fp)
        DedupIndex.build(base, spread(docs.where(coin =!= 0)),
          "text", "doc_id", DedupIndex.Params("md5", 16, 4, 3, fp))
      DedupIndex.admit(base, spread(docs.where(coin === 0)),
          "text", "doc_id", thresholdBp = 3000L, corpusFp = Some(fp))
        .orderBy(asc("doc_idx"), asc("doc_new"))
    }),

    // INCREMENTAL index admission: the same probe through a SEGMENT
    // CHAIN — build on coins {1,2}, append coin 3 as a delta segment
    // (no rewrite of the first segment's postings), admit coin 0
    // against the chained LATEST. Band keys are per-doc, so the
    // DuckDB oracle replays the flat recompute over ALL non-drop
    // docs — a green row proves chain probing ≡ flat rebuild against
    // an independent engine (DedupIndexSpec asserts it within Spark).
    "q_dedup_admit_incr" -> ((s, dir) => {
      import graft.dedup.DedupIndex
      val docs = documents(s, dir)
      val coin = conv(substring(md5(concat(lit("adm|"),
        col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("long") % 4
      // same 64-bit fingerprint + PARAMS stale guard as q_dedup_admit
      // (append inherits the frozen PARAMS, fingerprint included)
      val fp = DedupIndex.fileFp(new java.io.File(s"$dir/documents.parquet"))
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_lshidx_incr_$fp"
      if (DedupIndex.latestName(base).isEmpty ||
          DedupIndex.params(base).corpusFp != fp) {
        DedupIndex.build(base,
          spread(docs.where(coin === 1 || coin === 2)), "text", "doc_id",
          DedupIndex.Params("md5", 16, 4, 3, fp))
        DedupIndex.append(base, spread(docs.where(coin === 3)),
          "text", "doc_id")
      }
      DedupIndex.admit(base, spread(docs.where(coin === 0)),
          "text", "doc_id", thresholdBp = 3000L, corpusFp = Some(fp))
        .orderBy(asc("doc_idx"), asc("doc_new"))
    }),

    // Deterministic seeded corpus shuffle + round-robin shard
    // assignment (ops/Shuffle): exact global positions from a
    // range-partitioned sort + zipWithIndex, never a single-partition
    // row_number window. The oracle replays the identical md5 order in
    // DuckDB, proving position-for-position parity.
    // Vocabulary richness estimation — "how many unseen tokens
    // remain": Good-Turing unseen mass (singleton share V1/N) and the
    // Chao1 species-richness lower bound V + V1²/(2·V2), both exact
    // integer quotients over the frequency-of-frequency counts (one
    // explode, two aggregates — the corpus-planning signal for
    // whether more data keeps buying vocabulary).
    "q_vocab_richness" -> ((s, dir) => {
      val freq = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
      freq.agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("v_observed"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("v1"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("v2"))
        .select(col("n_tokens"), col("v_observed"), col("v1"), col("v2"),
          expr("v1 * 1000000 div n_tokens").as("gt_unseen_micro"),
          expr("""v_observed + CASE WHEN v2 > 0
                  THEN (v1 * v1) div (2 * v2) ELSE 0 END""")
            .as("chao1_est"))
    }),

    // Vocabulary growth curve (empirical rarefaction): distinct
    // tokens at NESTED deterministic doc subsamples of 1/8, 1/4,
    // 1/2, 1 — does vocabulary saturate, the q_vocab_richness
    // companion. The Expand-free trick: a token is in the rate-r
    // subsample iff the MIN doc-coin over its occurrences is below r,
    // so ONE min-aggregate per token replaces four count-distincts
    // (which would plan input×5 Expand); rates then read off as
    // plain conditional sums.
    "q_vocab_growth" -> ((s, dir) => {
      val coinBp = (conv(substring(md5(concat(lit("vg|"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long"))
      val tokMin = documents(s, dir)
        .select(coinBp.as("coin"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("t")).agg(min(col("coin")).as("mc"))
      val rates = Seq(8192L, 16384L, 32768L, 65536L) // /8, /4, /2, all of 16^4
      val aggExprs = rates.map(r =>
        sum(when(col("mc") < r, 1L).otherwise(0L)).as(s"v_$r"))
      val wide = tokMin.agg(aggExprs.head, aggExprs.tail: _*)
      wide.selectExpr(
          "stack(4, 8192L, v_8192, 16384L, v_16384, 32768L, v_32768, " +
            "65536L, v_65536) AS (rate_64k, n_distinct_tokens)")
        .orderBy(asc("rate_64k"))
    }),

    // Systematic sampling (every k-th in the deterministic md5
    // shuffle order — the survey-design classic; with a hashed order
    // it is equivalent to simple random sampling but needs only a
    // modulo on the global position). Completes the sampling family:
    // Bernoulli / stratified / weighted / exact-k / PPS / Neyman /
    // systematic.
    "q_systematic_sample" -> ((s, dir) => {
      val k = 29L
      graft.ops.Shuffle.shuffled(
          orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
          "o_orderkey", seed = 17L)
        .where(pmod(col("shuffle_pos"), lit(k)) === 0)
        .agg(count(lit(1)).as("n_sampled"),
          expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))")
            .as("sum_cents"))
        .select(col("n_sampled"), col("sum_cents"),
          expr(s"sum_cents * $k").as("est_total_cents"))
    }),

    "q_corpus_shuffle" -> ((s, dir) => {
      graft.ops.Shuffle.shuffled(
          documents(s, dir).select(col("doc_id")), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos"),
          pmod(col("shuffle_pos"), lit(8L)).as("shard_id"))
        .orderBy(asc("shuffle_pos"))
    }),

    // Deterministic source-interleaved training order — the
    // complement of q_corpus_shuffle's uniform shuffle: place source
    // S's r-th doc at fraction (r−1)/|S| of the stream, so every
    // source spreads evenly and no long same-source run can occur (a
    // run of source S needs two of its docs within 1/|S| of each
    // other — impossible by construction). The standard mixture
    // interleave a trainer wants when sources must not batch
    // together. Exact integers: the fraction rides a 10⁹ grid
    // (nonneg floor div), ranks come from GroupRank (range-sort
    // positions + broadcast per-source offsets) and the final order
    // from positionsBy — no corpus-sized window anywhere; the
    // oracle's windows are oracle-only.
    "q_interleave_sources" -> ((s, dir) => {
      val ranked = graft.ops.GroupRank.ranks(
        documents(s, dir).select(col("doc_id"), col("source")),
        "source", Seq(), "doc_id")
      val keyed = ranked.select(col("doc_id"), col("source"),
        col("rank").as("src_rank"),
        expr("(rank - 1L) * 1000000000L div n_in_group").as("ik"))
      graft.ops.Shuffle.positionsBy(
          keyed, Seq("ik", "source", "doc_id"), "train_pos")
        .select(col("train_pos"), col("doc_id"), col("source"),
          col("src_rank"))
        .orderBy(asc("train_pos"))
    }),

    // Corpus n-gram diversity per source: corpus-wide DISTINCT
    // 3-grams over the sum of per-doc distinct 3-grams, in basis
    // points — 10000 means no 3-gram repeats across documents; low
    // values expose template/boilerplate sources that per-doc
    // repetition rules can't see. One explode + one two-level
    // aggregate (per-(source, shingle) map-side combine, then per-
    // source rollup — no mixed distinct/non-distinct Expand), postings
    // hashed to longs before the shuffle.
    "q_diversity" -> ((s, dir) => {
      val sh = graft.functions.ShingleExprs.wordShingles(s, col("text"), 3)
      val perShingle = documents(s, dir)
        .select(col("source"), explode(sh).as("shingle"))
        .withColumn("shingle", xxhash64(col("shingle")))
        .groupBy(col("source"), col("shingle"))
        .agg(count(lit(1)).as("occ"))
      perShingle.groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("occ")).as("n_total"))
        .select(col("source"), col("n_distinct"), col("n_total"),
          expr("n_distinct * 10000 div n_total").as("diversity_bp"))
        .orderBy(asc("source"))
    }),

    // Curriculum ordering + sharding: shortest-first length bands,
    // deterministic seeded shuffle WITHIN each band (so every training
    // shard of a band is an unbiased sample of it), global positions
    // from the range-sort + zipWithIndex machinery (ops/Shuffle
    // .positionsBy) — a curriculum writer at 100 TB needs exactly this
    // order and must never funnel the corpus through a one-reducer
    // row_number. The oracle replays (band, md5, id) in DuckDB,
    // proving position-for-position parity.
    "q_curriculum" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val banded = docs
        .withColumn("n_tok", size(split(lower(trim(col("text"))), "\\s+")))
        .withColumn("band", least(expr("n_tok div 50"), lit(8)))
        .withColumn("k",
          md5(concat(lit("7"), lit("|"), col("doc_id").cast("string"))))
        .select(col("doc_id"), col("band"), col("k"))
      graft.ops.Shuffle.positionsBy(banded, Seq("band", "k", "doc_id"),
          "curriculum_pos")
        .select(col("doc_id"), col("band"), col("curriculum_pos"),
          expr("curriculum_pos div 64").as("shard"))
        .orderBy(asc("curriculum_pos"))
    }),

    // Per-dimension winsorization bounds (ops/Winsorize): rank-
    // selected clip values (the ⌈p·n⌉-th smallest per dim — data
    // values, never interpolated, so the oracle compares exactly) +
    // how many cells each dim would clip. Ranks come from ONE
    // range-partitioned sort of the melted corpus (positionsBy), not
    // a 64-partition window — dims are LOW cardinality and a window
    // over them is the measured skew trap. The oracle's row_number
    // per dim is the same total order.
    "q_winsorize" -> ((s, dir) => {
      graft.ops.Winsorize.bounds(embeddings(s, dir), "embedding",
          "vec_id", pLo = 0.01, pHi = 0.99)
        .orderBy(asc("dim"))
    }),

    // Diversity coreset (similarity/Coreset): k-center greedy on a
    // bounded driver sample + ONE distributed assignment pass
    // (approximate — the greedy loop isn't SQL; CoresetSpec asserts
    // planted-cluster coverage, deterministic selection, and the
    // radius-vs-k contract). Output: per-center population + coverage
    // radius in integer basis points.
    "q_coreset" -> ((s, dir) => {
      Coreset.summary(spread(embeddings(s, dir)), "embedding", "vec_id",
        k = 16)
    }),

    // ORACLE tier of the coreset (similarity/Coreset.gridReport):
    // Gonzalez k-center greedy on the integer grid — md5-rank bounded
    // sample, integer squared distances, argmax ties to the smaller
    // id — then one distributed assignment pass with packed
    // dist·k+rank argmin. DuckDB replays the greedy as k−1 unrolled
    // argmax CTE layers (the q_greedy_cover recipe) and the
    // assignment via min over the k-center cross product. Float
    // cosine path (q_coreset) stays the production default.
    "q_coreset_grid" -> ((s, dir) => {
      Coreset.gridReport(spread(embeddings(s, dir)), "embedding",
        "vec_id", k = 5, maxTrain = 64)
    }),

    // Exact embedding outliers: the 20 vectors least cosine-similar to
    // the corpus mean (Similarity.outliers — one mean-building agg
    // pass, one broadcast, one TakeOrdered scan).
    "q_embed_outliers" -> ((s, dir) => {
      Similarity.outliers(embeddings(s, dir), "embedding", "vec_id", 20)
    }),

    // PCA covariance, leading 8×8 block (similarity/Pca): the corpus
    // is touched by exactly TWO distributed passes — one mean
    // aggregate (d rows per partition cross the wire) and one
    // treeAggregate accumulating the packed upper triangle of
    // Σ(x−μ)(x−μ)ᵀ per task (zero rows shuffle; ~16 KB buffers merge
    // in a tree). The oracle recomputes the same centered products
    // from the rounded-to-6 mean, proving the distributed accumulator
    // against DuckDB's sequential sum to 4 decimals.
    "q_pca_covariance" -> ((s, dir) => {
      val mean = graft.similarity.Pca.meanOf(embeddings(s, dir), "embedding")
      val (n, cov) = graft.similarity.Pca.covariance(
        embeddings(s, dir), "embedding", mean)
      val block = for { i <- 0 until 8; j <- 0 until 8 }
        yield (i, j, cov(i)(j))
      import s.implicits._
      block.toDF("i", "j", "cov_raw")
        .select(col("i"), col("j"), round(col("cov_raw"), 4).as("cov"))
        .orderBy(asc("i"), asc("j"))
    }),

    // Whitened PCA projection to 8 dims (rows-only; PcaSpec carries
    // the math guarantees — orthonormal components, unit variance
    // after whitening, kernel ≡ declarative form). One model fit
    // (two corpus passes, driver Jacobi) + ONE distributed projection
    // pass through the native codegen'd mat-vec kernel. Output is
    // posexploded to scalar (vec_id, pos, value) rows — the declared
    // queries' output contract is atomic columns only (a bare
    // ARRAY<DOUBLE> column is unhashable in the driver's compare).
    "q_pca_project" -> ((s, dir) => {
      val model = graft.similarity.Pca.fit(embeddings(s, dir), "embedding", k = 8)
      val e = embeddings(s, dir)
      e.select(col("vec_id"),
          posexplode(transform(graft.similarity.Pca.projectCol(e, "embedding",
            model, whiten = true), y => round(y, 4))))
        .toDF("vec_id", "pos", "value")
        .orderBy(asc("vec_id"), asc("pos"))
    }),

    // ORACLE tier of the PCA eigen step (similarity/Pca
    // .gridLeadingAxis): leading principal axis by power iteration on
    // the integer grid — quantize-once, truncating integer mean, one
    // exact-integer covariance aggregate, 8 BigInt/HUGEINT mat-vec
    // steps renormalized to the 10^6 fixed-point grid, integer
    // Rayleigh quotient. DuckDB replays the whole chain (covariance +
    // unrolled iteration layers). The Jacobi float path (q_pca_project)
    // stays the production eigensolver.
    "q_pca_power" -> ((s, dir) => {
      graft.similarity.Pca.gridLeadingAxis(embeddings(s, dir),
        "embedding", dBlock = 16, iters = 8)
    }),

    // SimHash hamming-distance candidates (approximate; rows-only).
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashCandidatePairs(spread(documents(s, dir)), "text", "doc_id",
        maxDist = 3)
        .groupBy()
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(min(col("hamming")), lit(-1L)).as("min_hamming"))
    }),

    // HASH-EXACT SimHash twin (dedup/Dedup.simhashNearDupsMd5): 52-bit
    // md5-derived SimHash (13-hex token hashes; 52 bits keeps every
    // 1::BIGINT << b sign-safe in DuckDB) with the identical pigeonhole
    // chunk join and first-agreeing-chunk rule — the oracle replays
    // token hashes, bit sums, signatures, banding and the hamming
    // verify end-to-end. Full PAIR list released (the production tier
    // above releases summary counts only).
    "q_dedup_simhash_twin" -> ((s, dir) => {
      Dedup.simhashNearDupsMd5(spread(documents(s, dir)), "text", "doc_id",
        maxDist = 3)
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // IVF-indexed ANN (approximate; rows-only — equivalence to brute
    // force at nprobe=all is asserted in SimilaritySpec).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      // Quantizer trains on a 25% hash sample (the at-scale recipe);
      // assignment and probing run over the full corpus, spread so the
      // per-row argmax-cosine scoring uses every core.
      val cents = Similarity.ivfCentroids(emb, "embedding", "vec_id", 16,
        trainPct = 25)
      val assigned = Similarity.ivfAssign(spread(emb), "embedding", "vec_id", cents)
      val query = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.ivfTopK(assigned, "embedding", "vec_id", query, 10, cents,
        nprobe = 4)
    }),

    // Product-quantized ANN (approximate; rows-only — kernel
    // arithmetic and recall vs exact cosine are asserted in PqSpec).
    // The corpus compresses to m=8 codes/vector; the query scores
    // every code row with 8 table lookups (no dot products) through
    // the native ADC kernel, overfetches 8k candidates, and
    // exact-rescores only those (faiss refine shape).
    "q_ann_pq" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val model = graft.similarity.Pq.train(emb, "embedding", "vec_id",
        m = 8, ksub = 16)
      val rest = emb.where(col("vec_id") =!= 0)
      val enc = graft.similarity.Pq.encode(spread(rest), "embedding", "vec_id",
        model)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      graft.similarity.Pq.adcTopKRefined(enc, rest, "embedding", "vec_id",
        model, q, 10)
    }),

    // Semantic dedup (SemDeDup; rows-only — subset/recall/dedup
    // semantics asserted in SemanticDedupSpec): plant near-identical
    // twins, cluster with the IVF quantizer, pair ONLY within cells
    // (equi-join on centroid_id, never a cross join), resolve groups,
    // count survivors. Output: one row per duplicate group.
    "q_semantic_dedup" -> ((s, dir) => {
      val base = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val twins = base.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
      val corpus = spread(base.unionByName(twins))
      val cents = Similarity.ivfCentroids(corpus, "embedding", "vec_id", 8)
      val pairs = graft.similarity.SemanticDedup.clusterPairs(corpus,
        "embedding", "vec_id", cents, 0.999)
      graft.ops.ConnectedComponents.summary(
        graft.similarity.SemanticDedup.dupGroups(pairs))
        .orderBy(asc("component"))
    }),

    // q_semantic_dedup's HASH-EXACT twin on the grid quantizer: same
    // planted float twins (DuckDB REAL ops ≡ JVM binary32), clusters
    // from GridKmeans (the oracle retrains them), within-cell pairs
    // thresholded on UNROUNDED cosine (sequential kernel ≡
    // list_cosine_similarity bit-for-bit), groups via the recursive
    // min-label replay. Same plan shape and n²/c pair bound as the
    // float path.
    "q_semantic_dedup_grid" -> ((s, dir) => {
      val base = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val twins = base.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
      val corpus = spread(base.unionByName(twins))
      val cents = graft.similarity.GridKmeans.centroids(
        corpus, "embedding", "vec_id", c = 8, iters = 3, maxTrain = 256)
      val pairs = graft.similarity.SemanticDedup.clusterPairsGrid(corpus,
        "embedding", "vec_id", cents, 0.999)
      graft.ops.ConnectedComponents.summary(
        graft.similarity.SemanticDedup.dupGroups(pairs))
        .orderBy(asc("component"))
    }),

    // ANN-through-an-index, ORACLE-EXACT end to end: IVF on the grid
    // quantizer — GridKmeans cells (the oracle retrains them), probe
    // the 2 nearest cells to the query (integer distance, driver
    // arithmetic over the bounded centroid array), rank candidates by
    // INTEGER DOT PRODUCT on the quantized grid (ties by id). Same
    // partition-pruning shape as the float IVF (q_ann_ivf cross-ref:
    // cells prune WHICH rows scan); every number DuckDB sees is an
    // exact integer, so index training, probe selection, candidate
    // set, and ranking all replay hash-exact.
    "q_ann_ivf_grid" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val corpus = spread(emb.where(col("vec_id") =!= 0))
      val cents = graft.similarity.GridKmeans.centroids(
        corpus, "embedding", "vec_id", c = 8, iters = 3, maxTrain = 256)
      val assigned = graft.similarity.GridKmeans.assign(
        corpus, "embedding", "vec_id", cents)
      val qv = graft.similarity.GridKmeans.quantizeVec(
        emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray)
      val cells = graft.similarity.GridKmeans.probeCells(qv, cents,
        nprobe = 2)
      assigned.where(col("centroid_id").isin(cells: _*))
        .withColumn("__qv", graft.similarity.GridKmeans.quantize(
          col("embedding")))
        .select(col("vec_id"),
          aggregate(zip_with(col("__qv"), typedLit(qv.toSeq),
            (a, b) => a * b), lit(0L), (acc, x) => acc + x).as("dot_q"))
        .orderBy(desc("dot_q"), asc("vec_id"))
        .limit(10)
    }),

    // PQ + ADC, ORACLE-EXACT end to end (similarity/GridPq): the
    // compressed ANN tier on the integer grid — one bounded sample
    // collect feeds all 8 per-subspace codebook trainings (driver
    // loops over sample slices), one distributed encode pass with the
    // codebooks as literals, and the ADC scan touches CODES plus a
    // literal LUT only (never raw vectors). DuckDB retrains all 8
    // codebooks, re-encodes, rebuilds the LUTs, and replays the
    // ranking bit-for-bit. Float q_ann_pq stays the production path.
    "q_ann_pq_grid" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val rest = spread(emb.where(col("vec_id") =!= 0))
      val model = graft.similarity.GridPq.train(rest, "embedding",
        "vec_id", m = 8, ksub = 16, iters = 2, maxTrain = 256)
      val enc = graft.similarity.GridPq.encode(rest, "embedding",
        "vec_id", model)
      val qv = graft.similarity.GridKmeans.quantizeVec(
        emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray)
      graft.similarity.GridPq.adcTopK(enc, "vec_id", qv, model, k = 10)
    }),

    // The COMPOSED index, oracle-exact: IVF grid cells prune WHICH
    // rows scan (probe = 2 nearest cells), grid-PQ codes shrink WHAT
    // scans (ADC over codes + literal LUT, overfetch 4k), and the
    // refine re-scores survivors by exact integer dot product — the
    // full faiss IVF-PQ shape with every stage replayable (DuckDB
    // retrains both quantizers, restricts candidates, re-encodes,
    // replays ADC and the refine). Float q_ann_ivfpq stays the
    // production path.
    "q_ann_ivfpq_grid" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      // four consumers (two trainings, assign, refine): checkpoint
      val rest = spread(emb.where(col("vec_id") =!= 0))
        .localCheckpoint(true)
      val cents = graft.similarity.GridKmeans.centroids(rest,
        "embedding", "vec_id", c = 8, iters = 3, maxTrain = 256)
      val model = graft.similarity.GridPq.train(rest, "embedding",
        "vec_id", m = 8, ksub = 16, iters = 2, maxTrain = 256)
      val qv = graft.similarity.GridKmeans.quantizeVec(
        emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray)
      val cells = graft.similarity.GridKmeans.probeCells(qv, cents,
        nprobe = 2)
      val cand = graft.similarity.GridKmeans.assign(rest, "embedding",
          "vec_id", cents)
        .where(col("centroid_id").isin(cells: _*))
      val enc = graft.similarity.GridPq.encode(cand, "embedding",
        "vec_id", model)
      val short = graft.similarity.GridPq.adcTopK(enc, "vec_id", qv,
        model, k = 40)
      rest.join(short.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .withColumn("__qv", graft.similarity.GridKmeans.quantize(
          col("embedding")))
        .select(col("vec_id"),
          aggregate(zip_with(col("__qv"), typedLit(qv.toSeq),
            (a, b) => a * b), lit(0L), (acc, x) => acc + x).as("dot_q"))
        .orderBy(desc("dot_q"), asc("vec_id"))
        .limit(10)
    }),

    // IVF-PQ composed index (approximate; rows-only — all-cells ≡
    // refined-PQ equivalence and small-nprobe recall asserted in
    // IvfPqSpec): cells prune WHICH rows scan, codes shrink WHAT
    // scans, refine restores exact scores for the survivors.
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val rest = spread(emb.where(col("vec_id") =!= 0))
      val index = graft.similarity.IvfPq.build(rest, "embedding", "vec_id",
        c = 16, m = 8, ksub = 16)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      graft.similarity.IvfPq.topK(index, rest, "embedding", "vec_id", q,
        k = 10, nprobe = 4)
    }),

    // Multimodal plumbing (oracle-exact): binary payloads + typed
    // metadata, batched stub feature extraction (see graft.multimodal;
    // schema/pruning/determinism asserted in MultimodalSpec). The stub
    // checksum is a 31-base rolling hash mod 2³¹ == Σ byte·31^(n−1−j)
    // mod 2³¹, which the oracle replays from the hex-encoded payload
    // with a plan-time powers-of-31 literal table (multimodalSql).
    "q_multimodal_features" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(documents(s, dir))
      val feats = graft.multimodal.Multimodal.extractFeatures(media).toDF()
      feats.groupBy(col("feature_dim"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("checksum")).as("checksum_sum"))
    }),

    // Metadata-only multimodal stats — the payload column must never
    // be read (columnar pruning; asserted via ReadSchema in
    // MultimodalSpec). Fully SQL-expressible, so oracle-checked.
    "q_multimodal_meta" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(documents(s, dir))
      graft.multimodal.Multimodal.metadataStats(media)
        .orderBy(asc("kind"))
    }),

    // Batched resize: images over 320x240 scale down (metadata AND
    // payload bytes shrink in flight); other media pass through.
    // Oracle-checked — the stub's arithmetic (scale, floor dims,
    // stride subsampling) is exactly SQL-expressible.
    "q_media_resize" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(documents(s, dir))
      graft.multimodal.Multimodal.resize(media, 320, 240).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          max(col("meta.width")).as("max_width"),
          sum(length(col("payload"))).as("total_bytes"))
        .orderBy(asc("kind"))
    }),

    // Exact payload dedup by CONTENT HASH: 16-byte md5 of the binary
    // payload shuffles, never the payload bytes themselves — the
    // only sane media-dedup shape at 100 TB (payload columns prune
    // out of the scan entirely once the hash column exists). Reports
    // per-kind distinct/dup-group/wasted-bytes accounting.
    "q_media_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .mediaFromDocuments(documents(s, dir))
      val hashed = media.select(col("kind"),
        md5(col("payload")).as("h"), length(col("payload")).as("bytes"))
      hashed.groupBy(col("kind"), col("h"))
        .agg(count(lit(1)).as("copies"), max(col("bytes")).as("bytes"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("copies")).as("n_payloads"),
          sum(when(col("copies") > 1, lit(1L)).otherwise(lit(0L)))
            .as("n_dup_groups"),
          sum((col("copies") - 1) * col("bytes")).as("wasted_bytes"))
        .orderBy(asc("kind"))
    }),

    // Perceptual near-dup detection across media payloads
    // (multimodal/Multimodal.perceptualNearDups): the 63-bit dHash
    // over 64 resampled points + 4x16-bit Hamming banding — the
    // multimodal twin of SimHash pigeonhole dedup, catching the
    // re-encodes and one-byte edits q_media_dedup's exact md5 can
    // never see. The corpus has no organic near-dups, so the query
    // PLANTS them (doc_id % 10 == 0 and length >= 64: same payload
    // with the LAST byte changed — exactly one resampled cell moves,
    // Hamming <= 2) and the oracle replays plant, hash, banding,
    // first-agreeing-chunk emission, and verify bit-for-bit.
    "q_media_neardup" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val base = docs.select(col("doc_id").as("media_id"), col("text"))
      val twins = docs
        .where(col("doc_id") % 10 === 0 && length(col("text")) >= 64)
        .select((col("doc_id") + 1000000L).as("media_id"),
          concat(expr("substring(text, 1, length(text) - 1)"), lit("z"))
            .as("text"))
      graft.multimodal.Multimodal.perceptualNearDups(
          spread(base.unionByName(twins)), "text", "media_id",
          threshold = 3)
        .orderBy(asc("media_a"), asc("media_b"))
    }),

    // The DECODER tier, oracle-checked end to end: embeddings render
    // as REAL 8×8 gray PNGs (ImageIO encode, every-10th vector planted
    // as an exact twin), the JDK decoder tier (decodedSignatures:
    // ImageIO decode → integer luma thumbnail → dHash) hashes them,
    // and the banded Hamming join pairs the twins at distance 0. PNG
    // is lossless and gray-pixel BT.601 luma IS the pixel value, so
    // DuckDB replays encode→decode→hash→band from the source vectors
    // without a codec — any lossy/reordering step in the JDK
    // roundtrip would hash-mismatch this query.
    "q_media_neardup_decoded" -> ((s, dir) => {
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val twins = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val media = graft.multimodal.Multimodal.mediaFromEmbeddings(
        spread(emb.unionByName(twins)), "embedding", "vec_id")
      graft.multimodal.Multimodal.perceptualNearDupsDecoded(
          media, "payload", "media_id", threshold = 3)
        .orderBy(asc("media_a"), asc("media_b"))
    }),

    // Per-(kind, size-bucket) payload byte accounting — the storage
    // planning view (what does each modality cost, at what object
    // sizes): octet lengths bucket by exact integer bit length, one
    // aggregate, payload pages never read beyond the length.
    "q_media_type_stats" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .mediaFromDocuments(documents(s, dir))
      media.select(col("kind"), octet_length(col("payload")).as("bytes"))
        .groupBy(col("kind"),
          expr("CAST(length(conv(bytes, 10, 2)) AS BIGINT) - 1")
            .as("log2_bucket"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("bytes")).cast("long").as("total_bytes"),
          min(col("bytes")).as("min_bytes"),
          max(col("bytes")).as("max_bytes"))
        .orderBy(asc("kind"), asc("log2_bucket"))
    }),

    // Frame sampling plan (explode-shaped; a real decoder would seek
    // the container at each offset). Oracle-checked: the offsets are
    // pure arithmetic on metadata.
    "q_frame_samples" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.mediaFromDocuments(documents(s, dir))
      graft.multimodal.Multimodal.sampleFrames(media, everyMs = 1000L)
        .orderBy(asc("media_id"), asc("frame_idx"))
    }),

    // DSIR importance resampling (oracle-exact: the md5-prefix bucket
    // hash, the floor-rounded micro-nat weight table, and the Gumbel
    // top-k coin chain all replay in DuckDB; exact-score parity and
    // domain-selectivity are ALSO asserted in DsirSpec, and the
    // planted target twins below are gated in Verify): target = the
    // 25 lowest-id docs, raw = the corpus + three planted twins of
    // target docs (ids +300000). The twins ARE target text, so they
    // carry maximal importance weight and must appear in the selected
    // set — a selection-quality canary that runs at verify scale.
    // Scale shape: two B-bounded count aggregates train the model,
    // ONE scan-stage pass scores (integer micro-nat sums, no
    // shuffle), TakeOrdered selects.
    "q_dsir" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val target = docs.where(col("doc_id") < 25)
      val twins = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select((col("doc_id") + 300000L).as("doc_id"), col("text"))
      val raw = docs.unionByName(twins)
      val b = 4096
      val w = graft.text.Dsir.weightsMicroNats(
        graft.text.Dsir.bucketCounts(target, "text", b),
        graft.text.Dsir.bucketCounts(raw, "text", b))
      graft.text.Dsir.resample(spread(raw), "text", "doc_id", w, b,
        k = 50, seed = "graft-r4")
        .select(col("doc_id"), col("n_feats"), col("score_micronats"))
        .orderBy(asc("doc_id"))
    }),

    // BM25 keyword retrieval (graft.text.Bm25): rank the corpus for a
    // fixed 5-term query. Scale shape: per-doc tfs are scan-stage
    // array counts (no postings explode/shuffle), the model is ONE
    // aggregate row, scoring is a literal-constant scan, selection is
    // TakeOrdered — nothing corpus-sized ever shuffles. Scores are
    // integer micro-nats (log taken once per TERM driver-side, exact
    // int64 floor-division after) so the DuckDB oracle matches to the
    // bit.
    "q_bm25" -> ((s, dir) => {
      graft.text.Bm25.search(documents(s, dir), "text", "doc_id",
        Bm25Terms, k = 20)
    }),

    // Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    // the BM25 ranking and the naive term-density ranking for the
    // same query — the standard top-weighted "how different are two
    // rankings" eval (here: how much idf + length normalization
    // actually changes the result list), p = 0.9 truncated at depth
    // 20. EXACT INTEGER throughout: overlap_d = |S1@d ∩ S2@d| comes
    // from the max(rk1, rk2) histogram of the joined top lists, and
    // each depth's weight p^(d−1)/d rides as the exact rational
    // 9^(d−1)/(d·10^(d−1)) — term_nano = overlap·9^(d−1)·10⁹ div
    // (d·10^(d−1)) in DECIMAL(38,0) (10^19 exceeds int64), integer
    // sum, then the (1−p) scaling is div 10. No float ever enters.
    // Scale shape: ONE tokenize pass (the checkpointed perDocTf
    // frame feeds both rankings), both rankings bounded-heap top-20s;
    // everything after runs on ≤ 20 rows × 20 depths.
    "q_rank_rbo" -> ((s, dir) => {
      val per = graft.text.Bm25.perDocTf(documents(s, dir), "text",
          "doc_id", Bm25Terms)
        .localCheckpoint(true) // BM25 stats+scores AND the density list
      val bm = graft.text.Bm25.searchTf(per, Bm25Terms.size, k = 20)
      val r1 = graft.ops.TopK.byScore(bm, Seq(), "score_micronats",
          "doc_id", 20)
        .select(col("doc_id"), col("rk").as("rk1"))
      val tfs = Bm25Terms.indices.map(i => col(s"tf$i")).reduce(_ + _)
      val dens = per.select(col("doc_id"), col("dl"), tfs.as("tfs"))
        .where(col("tfs") > 0 && col("dl") > 0)
        .select(col("doc_id"), expr("tfs * 1000000L div dl").as("s2"))
      val r2 = graft.ops.TopK.byScore(dens, Seq(), "s2", "doc_id", 20)
        .select(col("doc_id"), col("rk").as("rk2"))
      val j = r1.join(r2, Seq("doc_id"))
        .select(greatest(col("rk1"), col("rk2")).as("m"))
      val consts = (1 to 20).map(d => (d, BigInt(9).pow(d - 1).toString,
        (BigInt(10).pow(d - 1) * d).toString))
      val cdf = s.range(1).select(explode(typedLit(consts)).as("c"))
        .select(col("c._1").as("d"), col("c._2").as("n9"),
          col("c._3").as("dn"))
      cdf.join(j, lit(true), "left")
        .groupBy(col("d"), col("n9"), col("dn"))
        .agg(sum(when(col("m").isNotNull && col("m") <= col("d"), 1L)
          .otherwise(0L)).as("overlap"))
        .select(col("d"), col("overlap"),
          expr("""CAST(CAST(overlap AS DECIMAL(38,0))
                 | * CAST(n9 AS DECIMAL(38,0)) * 1000000000
                 | div CAST(dn AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
            .as("term_nano"))
        .agg(max(when(col("d") === 20, col("overlap"))).as("overlap_at_depth"),
          sum(col("term_nano")).as("sum_nano"))
        .select(lit(20).as("depth"), col("overlap_at_depth"),
          col("sum_nano"), expr("sum_nano div 10").as("rbo_nano"))
    }),

    // Supervised hashed-feature Naive Bayes (graft.text.NaiveBayes) —
    // the CCNet/GPT-3 quality-classifier pattern: label a seed set
    // with the cheap heuristic (quality score ≥ its corpus median →
    // 'hi'), train the scalable model on 80% of the corpus (doc_id %
    // 5 <> 0), classify the held-out 20%, emit the confusion matrix
    // (measured ~94% held-out agreement at sf0.01 — the hashed
    // bag-of-words genuinely carries the quality signal; the corpus's
    // lang/source labels are text-independent by construction, so
    // they are NOT learnable targets). The median threshold runs on
    // the integer-scaled grid (q × 10⁴ as BIGINT, the
    // q_quality_quantile rule): the interpolated median is then k or
    // exactly k + 0.5, and `integer ≥ that` is unambiguous on both
    // engines. Scale shape: one percentile agg for the threshold,
    // train shuffle ≤ classes×B rows, scoring is literal-table
    // scan-stage arithmetic, confusion agg ≤ classes².
    "q_nb_classifier" -> ((s, dir) => {
      val scored = documents(s, dir).select(col("doc_id"), col("text"),
        round(TextAnalysis.qualityScoreFast(s, col("text")) * 10000, 0)
          .cast("long").as("q4"))
      val med = scored.agg(expr("percentile(q4, 0.5D)")).head().getDouble(0)
      val docs = scored.select(col("doc_id"), col("text"),
        when(col("q4") >= med, "hi").otherwise("lo").as("label"))
      val model = graft.text.NaiveBayes.train(
        docs.where(col("doc_id") % 5 =!= 0), "text", "label",
        Seq("hi", "lo"), buckets = 1024)
      graft.text.NaiveBayes
        .predict(spread(docs.where(col("doc_id") % 5 === 0)), "text", model)
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(asc("label"), asc("pred"))
    }),

    // Classifier calibration / reliability table: bin the NB decision
    // margin (s_hi − s_lo, integer µ-nats) and report the empirical
    // 'hi' rate per bin — the table that tells a pipeline which score
    // thresholds to trust before gating 100 TB on them. Binning is by
    // DIGIT COUNT of |margin| (signed): a pure integer→string
    // derivation both engines render identically, so no log/float
    // anywhere. Rates are integer basis points (floor div — the
    // build-notes rule for count ratios). Scale shape: same
    // constant-size model scan as q_nb_classifier plus one ≤~40-row
    // aggregate.
    "q_nb_calibration" -> ((s, dir) => {
      val scored = documents(s, dir).select(col("doc_id"), col("text"),
        round(TextAnalysis.qualityScoreFast(s, col("text")) * 10000, 0)
          .cast("long").as("q4"))
      val med = scored.agg(expr("percentile(q4, 0.5D)")).head().getDouble(0)
      val docs = scored.select(col("doc_id"), col("text"),
        when(col("q4") >= med, "hi").otherwise("lo").as("label"))
      val model = graft.text.NaiveBayes.train(
        docs.where(col("doc_id") % 5 =!= 0), "text", "label",
        Seq("hi", "lo"), buckets = 1024)
      graft.text.NaiveBayes
        .predict(spread(docs.where(col("doc_id") % 5 === 0)), "text", model)
        .withColumn("margin", col("s_hi") - col("s_lo"))
        .withColumn("bin",
          when(col("margin") >= 0, 1L).otherwise(-1L) *
            length(abs(col("margin")).cast("string")).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label") === "hi", 1L).otherwise(0L)).as("n_hi"),
          expr("sum(CASE WHEN label = 'hi' THEN 1 ELSE 0 END) * 10000L " +
            "div count(1)").as("hi_bp"))
        .orderBy(asc("bin"))
    }),

    // Leakage-safe train/val/test split: the split is a deterministic
    // function of the DEDUP GROUP key (normalized-text hash), so
    // planted whitespace-variant duplicates can never straddle splits.
    // Plants the same copies as q_dedup_exact; the oracle replays the
    // injection and the identical md5-coin assignment.
    "q_split_leakage_safe" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), col("text"), lit(" ")).as("text"))
      val planted = base.unionByName(copies)
        .withColumn("text_hash",
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      graft.ops.Split.summary(planted, "text_hash",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    // Group-aware 5-fold CV assignment on the same planted dedup
    // groups: fold = md5-coin mod k on the group key, so duplicate
    // copies always share a fold. Two-stage aggregate (per (fold,
    // group) then per fold) — no distinct-induced Expand.
    "q_cv_folds" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), col("text"), lit(" ")).as("text"))
      val keyed = base.unionByName(copies)
        .withColumn("h",
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
        .withColumn("fold", graft.ops.Split.foldOf(col("h"), 5))
      keyed.groupBy(col("fold"), col("h"))
        .agg(count(lit(1)).as("n_copies"))
        .groupBy(col("fold"))
        .agg(sum(col("n_copies")).as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(when(col("n_copies") > 1, col("n_copies")).otherwise(0L))
            .as("n_dup_docs"))
        .orderBy(asc("fold"))
    }),

    // Compression-ratio quality signal (rows-only — the oracle engine
    // has no zlib; kernel ≡ a driver-side Deflater reference is pinned
    // in DeflateSpec). comp_bp = deflated/raw size in basis points;
    // very low = templated/repetitive text, very high = noise. One
    // codegen'd scan pass, zero shuffle.
    "q_compress_quality" -> ((s, dir) => {
      val raw = length(encode(col("text"), "UTF-8")).cast("long")
      val dz = graft.functions.DeflateSizeExpr.deflateSize(s, col("text"))
      spread(documents(s, dir))
        .select(col("doc_id"), raw.as("raw_bytes"), dz.as("deflate_bytes"))
        .withColumn("comp_bp",
          expr("deflate_bytes * 10000L div greatest(raw_bytes, 1L)"))
        .withColumn("band",
          when(col("comp_bp") < 2000L, "repetitive")
            .when(col("comp_bp") > 9000L, "noise")
            .otherwise("prose"))
        .orderBy(asc("doc_id"))
    }),

    // HASH-EXACT compressibility twin (functions/ByteEntropyKernel):
    // order-0 Shannon byte entropy in micro-nats — the memoryless
    // coding bound, banding repetitive/noise text like the zlib tier
    // above but fully engine-replayable (per-byte-class floor-once
    // terms, exact integer sums, floor-div basis points vs the 8-bit
    // raw rate 8·ln2·10⁶ = 5545177). Order-0 does NOT see cross-byte
    // structure (LZ matches beat it on duplicated spans), so the
    // Deflater tier stays the production signal; banding agreement is
    // pinned in ByteEntropySpec.
    "q_compress_quality_twin" -> ((s, dir) => {
      spread(documents(s, dir))
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          graft.functions.ByteEntropyExpr.byteEntropyMicro(s, col("text"))
            .as("h_micro"))
        .where(col("n_bytes") > 0)
        .withColumn("bound_bp", expr("h_micro * 10000L div 5545177L"))
        .withColumn("band",
          when(col("bound_bp") < 2000L, "repetitive")
            .when(col("bound_bp") > 9000L, "noise")
            .otherwise("prose"))
        .orderBy(asc("doc_id"))
    }),

    // MMR diverse top-k (oracle-exact: the greedy selection replays
    // as k unrolled argmax CTE layers — see mmrSql; equivalence to
    // the brute-force reference and the diversity-vs-relevance
    // tradeoff are ALSO pinned in MmrSpec). One corpus scan builds
    // the bounded candidate pool; the greedy loop is driver-side.
    "q_mmr_rerank" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      graft.similarity.Mmr.rerank(emb.where(col("vec_id") =!= 0),
          "embedding", "vec_id", query, k = 10, lambda = 0.7,
          poolSize = 128)
        .select(col("id").as("vec_id"), col("mmr_rank"),
          round(col("rel"), 4).as("rel"))
        .orderBy(asc("mmr_rank"))
    }),

    // Cross-source vocabulary overlap via HLL inclusion-exclusion
    // (rows-only — the oracle engine has no DataSketches HLL; the
    // error bound vs exact intersections is pinned in
    // SketchRollupSpec, and q_source_overlap_exact is the EXACT twin
    // for source counts that fit a bitmask word). One corpus pass
    // builds 20 sketches; the pair join touches only the 20-row
    // sketch table.
    "q_source_overlap" -> ((s, dir) => {
      val tokens = documents(s, dir)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val sketches = graft.ops.SketchRollup.sketches(
        tokens, Seq("source"), "token")
      graft.ops.SketchRollup.overlap(sketches, "source")
        .orderBy(asc("g_a"), asc("g_b"))
    }),

    // HASH-EXACT HLL overlap twin (ops/HllGrid.overlap): the same
    // sketch-level inclusion-exclusion as q_source_overlap but on the
    // md5-register HLL — union = bucket-wise max over two broadcast
    // equi-join pair legs, estimates from the floor-once chain — so
    // DuckDB replays sketches AND the pairwise method end to end.
    // q_source_overlap_exact (below) pins the exact QUANTITY; this
    // twin pins the sketch METHOD. DataSketches tier stays production.
    "q_source_overlap_twin" -> ((s, dir) => {
      val tokens = documents(s, dir)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val regs = graft.ops.HllGrid.registers(tokens, Seq("source"), "token")
        .localCheckpoint(true) // singles + both pair legs share it
      graft.ops.HllGrid.overlap(regs, "source")
        .orderBy(asc("g_a"), asc("g_b"))
    }),

    // EXACT cross-source vocabulary overlap — the exact twin of
    // q_source_overlap's HLL estimate (cross-ref), via the
    // MASK-HISTOGRAM shape: one aggregate folds each token to the
    // BITMASK of sources containing it (bit_or of 1<<idx), a second
    // collapses the vocabulary to (mask, count) — a frame bounded by
    // 2^|sources| PATTERNS (1M for 20 sources), not by corpus or
    // vocabulary size. Pair counts then read off the tiny histogram:
    // n_ab = Σ c over masks with both bits, exploded as the ≤190
    // set-bit pairs per mask (interpreted lambdas on the bounded
    // frame — never the corpus). Exact integers end to end; the HLL
    // path remains the >64-source tier where the mask no longer fits
    // a word.
    "q_source_overlap_exact" -> ((s, dir) => {
      // si must fit the 64-bit mask word: fail LOUDLY on a source
      // index outside [0, 63] (or an unparseable source name) rather
      // than setting a wrapped bit and silently dropping the source
      // from every pair/total count.
      val tok = documents(s, dir)
        .select(expr(
          """CASE WHEN CAST(substring(source, 4) AS INT)
            |       BETWEEN 0 AND 63
            |     THEN CAST(substring(source, 4) AS INT)
            |     ELSE raise_error('q_source_overlap_exact: source index '
            |       || 'outside the 64-bit mask range: ' || source)
            |END""".stripMargin).as("si"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val masks = tok.groupBy(col("token"))
        .agg(expr("bit_or(shiftleft(1L, si))").as("mask"))
      val hist = masks.groupBy(col("mask"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true) // pair explode + totals share it
      // full 64-bit sweep (the mask is a word): a set bit can sit
      // anywhere si was allowed to land, incl. bit 63 whose
      // arithmetic >> still masks to 1
      val bits = expr(
        "filter(sequence(0, 63), i -> (mask >> i) & 1 = 1)")
      val pairs = hist.select(col("c"), bits.as("bs"))
        .select(col("c"), explode(expr(
          """flatten(transform(bs,
            |  x -> transform(filter(bs, y -> y > x),
            |       y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("n_shared"))
      val totals = hist.select(col("c"), explode(bits).as("s"))
        .groupBy(col("s")).agg(sum(col("c")).as("n"))
      pairs
        .join(broadcast(totals.select(col("s").as("a"), col("n").as("n_a"))), Seq("a"))
        .join(broadcast(totals.select(col("s").as("b"), col("n").as("n_b"))), Seq("b"))
        .select(concat(lit("src"), col("a")).as("source_a"),
          concat(lit("src"), col("b")).as("source_b"),
          col("n_a"), col("n_b"), col("n_shared"),
          expr("n_shared * 10000L div (n_a + n_b - n_shared)").as("jaccard_bp"))
        .orderBy(asc("source_a"), asc("source_b"))
    }),

    // Count-min point-frequency estimates: per-(lang, source) token
    // sketches merged per lang, probed for a fixed word set — the
    // "how often does THIS token occur per language" query served
    // from kilobyte sketch rows without rescanning the corpus.
    // HASH-EXACT oracle: the md5-substring hash rows are pure integer
    // SQL, so DuckDB replays every counter (grouped token-count sums
    // per bucket) and every probe (min over rows) bit-for-bit; the
    // one-sided bound and cross-partitioning bit-equality stay pinned
    // in CountMinSketchSpec.
    "q_cms_freq" -> ((s, dir) => {
      val tokens = documents(s, dir)
        .select(col("lang"), col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val sk = graft.ops.CountMinSketch.sketches(
        tokens, Seq("lang", "source"), "token")
      graft.ops.CountMinSketch.rollup(sk, Seq("lang"),
          Seq("table", "key", "row", "spark", "value"))
        .orderBy(asc("lang"))
    }),

    // Equi-join cardinality estimation from CMS inner products
    // (Cormode & Muthukrishnan 2005 §4.2) — the planner/skew question
    // "how big would this join be" answered from two kilobyte-scale
    // sketches WITHOUT running the join: est = min over hash rows of
    // the counter dot product, always >= the true Σ cA(k)·cB(k) and
    // within (e/w)·nA·nB w.h.p. Demonstrated on the skewed
    // l_partkey self-join (true size = Σ c(p)² — heavy parts
    // dominate); the true size comes from the per-key count
    // aggregate, never a materialized join. HASH-EXACT oracle: the
    // md5-substring counters are pure integer SQL (the q_cms_freq
    // recipe), so DuckDB replays the w=65536 counter table and the
    // min-over-rows dot product bit-for-bit; the one-sided bound and
    // the cms_join_overest recall gate still pin the accuracy.
    "q_join_size_est" -> ((s, dir) => {
      val keys = lineitem(s, dir)
        .select(col("l_partkey").cast("string").as("k"))
      val skRow = graft.ops.CountMinSketch
        .sketches(keys, Nil, "k", d = 5, w = 65536)
        .collect().head.getAs[org.apache.spark.sql.Row]("cms")
      val sk = graft.ops.CountMinSketch.fromData(
        graft.ops.CountMinSketch.CmsData(skRow.getInt(0), skRow.getInt(1),
          skRow.getLong(2), skRow.getSeq[Long](3)))
      val est = graft.ops.CountMinSketch.innerProduct(sk, sk)
      keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"),
          sum(col("c") * col("c")).as("true_pairs"))
        .select(col("n_rows"), col("true_pairs"),
          lit(est).as("est_pairs"),
          expr(s"($est - true_pairs) * 10000 div true_pairs").as("over_bp"))
    }),

    // Skew-free per-language ranks + percentile basis points: the
    // window-free replacement for row_number over a LOW-cardinality
    // partition key (ops/GroupRank — one global range sort, ranks
    // from per-group offsets). Oracle is the window form itself.
    "q_group_rank" -> ((s, dir) => {
      graft.ops.GroupRank.ranks(
          documents(s, dir).select(col("doc_id"), col("lang"),
            col("n_chars")),
          "lang", Seq("n_chars"), "doc_id")
        .withColumn("pct_bp",
          expr("(rank - 1L) * 10000L div greatest(n_in_group - 1L, 1L)"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"),
          col("n_in_group"), col("pct_bp"))
        .orderBy(asc("lang"), asc("rank"))
    }),

    // Unicode NFC canonicalization: planted decomposed suffixes
    // (combining acute/diaeresis) normalize to the precomposed forms
    // before hashing — without this, "café" exists as two different
    // md5s / dedup groups. The oracle's nfc_normalize produces
    // byte-identical output (both follow Unicode TR15), so the md5s
    // are hash-exact cross-engine.
    "q_unicode_nfc" -> ((s, dir) => {
      val decomposed = concat(col("text"),
        lit(" cafe\u0301 u\u0308ber")) // e+combining acute, u+diaeresis
      val nfc = graft.functions.NfcNormalizeExpr.nfcNormalize(s, decomposed)
      documents(s, dir)
        .select(col("doc_id"),
          length(decomposed).as("len_raw"),
          length(nfc).as("len_nfc"),
          md5(nfc).as("h_nfc"))
        .orderBy(asc("doc_id"))
    }),

    // Capped proportional mixture allocation: per-source quotas for a
    // 300-doc budget with even-index sources weighted 3:1, capped by
    // actual supply. The only distributed work is the per-source
    // count. HASH-EXACT oracle: the fixed point is all-integer and
    // each pass saturates >=1 source or terminates, so 21 unrolled
    // CTE layers replay the driver loop exactly (mixtureCapsSql);
    // exactness invariants stay pinned in WaterFillSpec.
    "q_mixture_caps" -> ((s, dir) => {
      val weights = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) 3L else 1L)).toMap
      graft.ops.WaterFill.allocateByCount(
        documents(s, dir), "source", weights, budget = 300L)
    }),

    // Epoch / repeat planning — the data-constrained-scaling question
    // (Muennighoff et al. 2023): when the token budget EXCEEDS what a
    // source holds, how many epochs of each source does the mixture
    // take? Differs from q_mixture_caps (cross-ref) exactly there:
    // caps are in REPEAT units (maxEpochs × supply, the
    // diminishing-returns ceiling), the budget is 2× the corpus (so
    // repeats are forced), and the output is the epoch DECOMPOSITION
    // of each allocation (full epochs + remainder docs + repeat basis
    // points). Same all-integer water-fill fixed point, so the same
    // unrolled-CTE replay is hash-exact; only the per-source count is
    // distributed work.
    "q_epoch_plan" -> ((s, dir) => {
      val maxEpochs = 4L
      val counts = documents(s, dir).groupBy(col("source"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val budget = 2L * counts.map(_._2).sum
      val rows = counts.map { case (src, n) =>
        (src, maxEpochs * n,
          if (src.stripPrefix("src").toInt % 2 == 0) 3L else 1L)
      }
      val alloc = graft.ops.WaterFill.allocate(rows.toSeq, budget)
      import s.implicits._
      counts.sortBy(_._1).map { case (src, n) =>
        val a = alloc(src)
        (src, n, a, a / n, a % n, a * 10000L / n)
      }.toSeq.toDF("source", "n_docs", "alloc", "full_epochs",
        "remainder_docs", "repeat_bp")
    }),

    // FORCAST readability (Caylor et al. 1973) — the readability
    // formula built for NON-PROSE text (forms, listings, exactly this
    // corpus: no sentence punctuation anywhere), so it needs only the
    // monosyllabic-word density: grade = 20 − (mono per 150 words)/10,
    // here on the exact micro grid 20e6 − 15e6·mono div words. A word
    // is monosyllabic iff it has exactly ONE vowel-group ([aeiouy]+
    // run). Mean word length rides along in milli-chars as the second
    // complexity axis. One scan-stage pass per document (the lambda
    // is bounded by document length); every emitted number is an
    // exact integer.
    "q_readability" -> ((s, dir) => {
      spread(documents(s, dir))
        .select(col("doc_id"),
          expr("filter(split(trim(lower(text)), '\\\\s+'), w -> w <> '')")
            .as("ws"))
        .withColumn("n_words", size(col("ws")).cast("long"))
        .where(col("n_words") > 0)
        .withColumn("n_mono", expr(
          """aggregate(ws, 0L, (acc, w) -> acc +
            |  IF(regexp_count(w, '[aeiouy]+') = 1, 1L, 0L))""".stripMargin))
        .withColumn("sum_chars", expr(
          "aggregate(ws, 0L, (acc, w) -> acc + CAST(length(w) AS BIGINT))"))
        .select(col("doc_id"), col("n_words"), col("n_mono"),
          expr("20000000L - 15000000L * n_mono div n_words")
            .as("forcast_micro"),
          expr("1000L * sum_chars div n_words").as("word_len_milli"))
        .withColumn("band",
          when(col("forcast_micro") < 10000000L, "easy")
            .when(col("forcast_micro") < 16000000L, "medium")
            .otherwise("hard"))
        .orderBy(asc("doc_id"))
    }),

    // Corpus snapshot diff — dataset versioning: added / removed /
    // changed / unchanged docs between two corpus versions, compared
    // by normalized-text hash so only 32-byte hashes (never text)
    // cross the full-outer hash join on doc_id. Plants the second
    // version: every 17th doc removed, every 13th re-added under a
    // new id, every 7th mutated.
    "q_corpus_diff" -> ((s, dir) => {
      val norm = (c: Column) =>
        md5(regexp_replace(lower(trim(c)), "\\s+", " "))
      val base = documents(s, dir)
        .select(col("doc_id"), norm(col("text")).as("h_old"))
      val newer = documents(s, dir)
        .where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" mutated")))
            .otherwise(col("text")).as("text"))
        .unionByName(documents(s, dir).where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .select(col("doc_id"), norm(col("text")).as("h_new"))
      base.join(newer, Seq("doc_id"), "full_outer")
        .agg(
          sum(when(col("h_old").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("h_new").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("h_old").isNotNull && col("h_new").isNotNull &&
            col("h_old") =!= col("h_new"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(col("h_old") === col("h_new"), 1L).otherwise(0L))
            .as("n_unchanged"))
    }),

    // Deterministic negative sampling for contrastive pairs: for each
    // query, the k hash-smallest candidates with a DIFFERENT label —
    // uniform, reproducible (md5 order), ranked through the
    // bounded-heap TopK so the shuffle carries ≤ k rows per (query,
    // partition). 13-hex-prefix numeric order == hex string order, so
    // the oracle replays the identical ranking.
    "q_negative_sample" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
      val scored = emb.select(col("vec_id").as("cand_id"), col("label"))
        .crossJoin(broadcast(q))
        .where(col("label") =!= col("qlabel"))
        .withColumn("__u",
          -conv(substring(md5(concat(lit("7|"), col("qid"), lit("|"),
            col("cand_id"))), 1, 13), 16, 10).cast("double"))
      graft.ops.TopK.byScore(
          scored.select(col("qid"), col("__u"), col("cand_id")),
          Seq("qid"), "__u", "cand_id", 5)
        .select(col("qid"), col("cand_id"), col("rk"))
        .orderBy(asc("qid"), asc("rk"))
    }),

    // Exact-k weighted sample: "exactly 50 docs, length-weighted."
    // HASH-EXACT oracle: the E-S clock -ln(u)/w is ONE identically-
    // shaped float expression per row over an exact 52-bit md5 dyadic
    // u, used for ORDERING only and never emitted — the selected id
    // set is engine-stable; the driver-side bit-for-bit replay stays
    // pinned in SamplingSpec.
    "q_weighted_exact_k" -> ((s, dir) => {
      graft.ops.Sampling.weightedExactK(
          documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), k = 50, seed = 7L)
        .orderBy(asc("doc_id"))
    }),

    // Matryoshka truncation recall: top-10 recall kept when the
    // index stores only the first 2/4/6 of 8 embedding components.
    // Integer basis points via floor div. HASH-EXACT oracle: every
    // width is the q_knn_join recipe on DOUBLE[]-cast slices
    // (round-4 score desc, id asc — identical rank rule), and the
    // recall join/counting is pure integers; planted-signal
    // exactness cases stay pinned in SimilaritySpec.
    "q_matryoshka" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.similarity.Similarity.truncationRecall(
        emb, "embedding", "vec_id", queries, "qe", "qid",
        k = 10, dims = Seq(2, 4, 6))
    }),

    // PMI co-occurrence: top token-pair associations by pointwise
    // mutual information over DOC-PRESENCE counts, vocabulary bounded
    // to the 64 highest-df tokens so the per-doc pair fan-out is
    // <= V^2 (the unbounded form is quadratic in per-doc distinct
    // tokens — a scale killer). One distinct, one equi self-join on
    // doc_id, one agg. ln taken once per PAIR on an identically-
    // computed double (exact integer products cast once), emitted as
    // integer micro-nats — the established engine-exact log recipe.
    "q_pmi" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .distinct()
      val df = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val vocab = df.orderBy(desc("df"), asc("token")).limit(64)
      // ft self-joins below; eager checkpoint or the tokenize+distinct
      // subtree runs once per side (no exchange reuse on self-joins).
      val ft = tok.join(broadcast(vocab), "token").localCheckpoint(true)
      val pairs = ft.select(col("doc_id"), col("token").as("tx"),
          col("df").as("dfx"))
        .join(ft.select(col("doc_id"), col("token").as("ty"),
          col("df").as("dfy")), "doc_id")
        .where(col("tx") < col("ty"))
        .groupBy(col("tx"), col("ty"), col("dfx"), col("dfy"))
        .agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= 25)
      val n = documents(s, dir).count()
      pairs.select(col("tx"), col("ty"), col("c_xy"),
          floor(log((col("c_xy") * lit(n)).cast("double") /
            (col("dfx") * col("dfy")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("pmi_micro"))
        .orderBy(desc("pmi_micro"), asc("tx"), asc("ty"))
        .limit(50)
    }),

    // Chi-squared feature selection: how discriminative each vocab
    // token's PRESENCE is for lang == 'en', from one contingency
    // table per token (a,b,c,d all exact integers derived from two
    // df aggregates — corpus scanned twice, nothing quadratic).
    // chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) emitted in integer
    // basis points through DECIMAL(38,0) floor division — numerator
    // nonnegative (squared), so Spark's truncating div and DuckDB's
    // flooring // agree.
    "q_chi2" -> ((s, dir) => {
      val docs = documents(s, dir)
      val tok = docs
        .select(col("doc_id"), col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .select(col("doc_id"), col("token"),
          (col("lang") === "en").cast("long").as("is_en"))
        .distinct()
      val df = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("is_en")).as("df_en"))
      val vocab = df.orderBy(desc("df"), asc("token")).limit(64)
      val totals = docs.agg(count(lit(1)).as("n"),
        sum((col("lang") === "en").cast("long")).as("n_en"))
        .collect()(0)
      val (nDocs, nEn) = (totals.getLong(0), totals.getLong(1))
      vocab
        .select(col("token"),
          col("df_en").as("a"), (col("df") - col("df_en")).as("b"),
          (lit(nEn) - col("df_en")).as("c"),
          (lit(nDocs - nEn) - (col("df") - col("df_en"))).as("d"))
        .where(col("a") + col("b") > 0 && col("c") + col("d") > 0 &&
          col("a") + col("c") > 0 && col("b") + col("d") > 0)
        .withColumn("chi2_bp", expr(
          s"""CAST((CAST($nDocs AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c)
             |  * 10000) div (CAST(a+b AS DECIMAL(38,0)) * (c+d) * (a+c)
             |  * (b+d)) AS BIGINT)""".stripMargin))
        .select(col("token"), col("a"), col("b"), col("c"), col("d"),
          col("chi2_bp"))
        .orderBy(desc("chi2_bp"), asc("token"))
        .limit(30)
    }),

    // Logistic-regression marker detector (rows-only — GD training is
    // not SQL-expressible; determinism + balanced-accuracy floor
    // pinned in LogRegSpec and the logreg_balacc Verify gate): the
    // weak-supervision filter shape — a heuristic label (here: doc
    // contains the planted 'dup' marker token) trains a generalizing
    // linear model on a bounded deterministic sample driver-side;
    // frozen weights score the corpus in one scan-stage pass
    // (text/LogReg). The label is NOT a field the scorer sees — it
    // must be recovered from hashed text features through collisions.
    "q_logreg" -> ((s, dir) => {
      val docs = documents(s, dir)
      val label = array_contains(
        graft.text.TextAnalysis.tokens(col("text")), "dup")
      val model = graft.text.LogReg.train(
        docs, "text", "doc_id", label, buckets = 64)
      graft.text.LogReg.confusion(spread(docs), "text", label, model)
    }),

    // HASH-EXACT grid twin of q_logreg (text/LogReg.gridTrain — the
    // gridLeadingAxis recipe applied to GD): md5-rank-smallest sample,
    // features quantized ONCE to the 10⁶ grid, smoothed log-odds INIT
    // (the NaiveBayes discriminant, floored once per statistic), then
    // 8 full-batch polish steps at the 1/t-decayed unit rate — margins
    // and updates are truncating-integer arithmetic, the per-doc
    // sigmoid error is ONE clamped floor-once double chain (the
    // KN-perplexity rule). DuckDB replays init + every unrolled layer
    // and the corpus confusion hash-matches. The float tier above
    // stays the production detector (logreg_balacc gate); the grid
    // tier's balanced accuracy measured 0.86–0.88 across SFs
    // (iteration-stable), pinned with the grid-vs-float agreement
    // bound in LogRegSpec.
    "q_logreg_grid" -> ((s, dir) => {
      val docs = documents(s, dir)
      val label = array_contains(
        graft.text.TextAnalysis.tokens(col("text")), "dup")
      val model = graft.text.LogReg.gridTrain(
        docs, "text", "doc_id", label, buckets = 64, sampleN = 256,
        iters = 8)
      graft.text.LogReg.gridConfusion(spread(docs), "text", "doc_id",
        label, model)
    }),

    // Per-label embedding centroids on an integer-milli grid: each
    // component floors to milli units (float→double cast is exact,
    // ×1000 and floor are engine-exact), sums are exact integer
    // aggregates, and the mean uses the SHIFT trick — components can
    // be negative and Spark's div truncates while DuckDB's // floors,
    // so the numerator is made nonnegative (+1000 per row) before
    // the floor div and shifted back. One posexplode + one aggregate.
    "q_embed_centroids" -> ((s, dir) => {
      embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)"))
            .as("sum_milli"))
        // Shift constant 1e6 bounds |mean_milli| for any component in
        // [-1000, 1000] — far beyond unit-norm embeddings — so a testdata
        // regeneration with unnormalized vectors cannot push the shifted
        // numerator negative (where truncating div and flooring // split).
        .select(col("label"), col("pos"), col("n"), col("sum_milli"),
          expr("(sum_milli + n * 1000000L) div n - 1000000L").as("mean_milli"))
        .orderBy(asc("label"), asc("pos"))
    }),

    // Source-vs-corpus vocabulary drift: Jensen–Shannon divergence of
    // each source's token distribution against the corpus, summed in
    // integer NANO-nats — the per-token term is floored to an integer
    // once (one identically-shaped double expression per engine) and
    // the per-source total is then an ORDER-FREE exact integer sum;
    // summing raw doubles per group would diverge on aggregation
    // order alone. The grid is sources × vocab after aggregation —
    // bounded, broadcast-joined.
    "q_vocab_drift" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val srcTok = tok.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("cs"))
        .localCheckpoint(true) // 3 consumers: totals, vocab, grid join
      val srcTot = srcTok.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
      val corpTok = srcTok.groupBy(col("token")).agg(sum(col("cs")).as("c"))
      val nCorp = tok.count()
      // Broadcast the |sources|-row totals, never the vocabulary:
      // corpTok is the distinct-token table and grows without bound
      // with corpus size (ids, numbers, typos) — shipping it to every
      // executor is the wrong side at 100×. srcTot is kilobytes.
      val grid = corpTok.crossJoin(broadcast(srcTot))
        .join(srcTok, Seq("source", "token"), "left")
        .na.fill(0L, Seq("cs"))
      val term =
        s"""CAST(floor((
           |  CASE WHEN cs > 0 THEN
           |    0.5 * (cs / CAST(ns AS DOUBLE)) *
           |    ln((cs / CAST(ns AS DOUBLE)) /
           |       (((cs / CAST(ns AS DOUBLE)) +
           |         (c / CAST($nCorp AS DOUBLE))) / 2))
           |  ELSE 0.0 END
           |  + 0.5 * (c / CAST($nCorp AS DOUBLE)) *
           |    ln((c / CAST($nCorp AS DOUBLE)) /
           |       (((cs / CAST(ns AS DOUBLE)) +
           |         (c / CAST($nCorp AS DOUBLE))) / 2))
           |) * 1000000000 + 0.5) AS BIGINT)""".stripMargin
      grid.withColumn("term_nano", expr(term))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          sum(col("term_nano")).as("js_nano"))
        .orderBy(desc("js_nano"), asc("source"))
    }),

    // Distinctive terms by smoothed log-odds ratio (src0 vs the rest
    // of the corpus — the "what words does this slice over-use"
    // lens): exact occurrence counts, one identically-shaped double
    // expression per token floored to integer micro-nats. Two
    // aggregates and a broadcast join; nothing scales with corpus².
    "q_log_odds" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select((col("source") === "src0").cast("long").as("in_a"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val counts = tok.groupBy(col("token"))
        .agg(sum(col("in_a")).as("ca"),
          sum(lit(1L) - col("in_a")).as("cb"))
      val totals = tok.agg(sum(col("in_a")).as("na"),
        sum(lit(1L) - col("in_a")).as("nb")).collect()(0)
      val (na, nb) = (totals.getLong(0), totals.getLong(1))
      counts.withColumn("lor_micro", expr(
          s"""CAST(floor((
             |  ln((ca + 0.5) / ($na - ca + 0.5))
             |  - ln((cb + 0.5) / ($nb - cb + 0.5))
             |) * 1000000 + 0.5) AS BIGINT)""".stripMargin))
        .select(col("token"), col("ca"), col("cb"), col("lor_micro"))
        .orderBy(desc("lor_micro"), asc("token"))
    })
  )

  /** Fixed query terms for q_bm25 — shared with the oracle SQL. */
  private val Bm25Terms = Seq("join", "vector", "stream", "checkpoint", "spill")

  /** q_mixture_caps oracle: the water-filling fixed point UNROLLED as
    * `nSources + 1` identical CTE layers (each loop pass saturates at
    * least one source or is the terminal floor+largest-remainder pass,
    * so 21 layers replay ANY input exactly — fuzz-verified against the
    * driver loop on 300 random saturation cascades). All arithmetic is
    * nonneg integer (`//` ≡ Spark div ≡ the Scala loop's Long `/`);
    * the remainder ranking mirrors allocate()'s
    * (preR·wᵢ mod W desc, name) order. */
  /** q_multimodal_features oracle: the stub decode's rolling hash
    * (c ← (31·c + byte) mod 2³¹) telescopes to Σ byte_j·31^(n−1−j)
    * mod 2³¹, so DuckDB replays it positionally: hex-encode the
    * payload (== UTF-8 text bytes), unnest byte positions, and weight
    * each byte with a powers-of-31-mod-2³¹ literal list computed at
    * plan-build time (the ndcgWeights recipe). Term bound:
    * 255·2³¹·maxBytes < 2⁵⁰ — the BIGINT sum cannot overflow; one
    * final mod recovers the masked hash. `maxBytes` = 4096 covers the
    * fixture's longest payload (577 bytes) with 7× headroom against
    * testdata regeneration. */
  private def multimodalSql(maxBytes: Int): String = {
    val pows = Iterator.iterate(1L)(p => (p * 31) & 0x7fffffffL)
      .take(maxBytes).mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text))::BIGINT AS n
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, hx, n, unnest(range(1, n + 1)) AS j FROM b),
       |cs AS (
       |  SELECT doc_id,
       |    (sum(('0x' || substring(hx, 2*j - 1, 2))::BIGINT *
       |         ($pows)[n - j + 1]) % 2147483648)::BIGINT AS checksum
       |  FROM pos GROUP BY doc_id, n)
       |SELECT 16 AS feature_dim, count(*)::BIGINT AS n_media,
       |  sum(checksum)::BIGINT AS checksum_sum
       |FROM cs""".stripMargin
  }

  /** q_mmr_rerank oracle: the greedy selection UNROLLED as k CTE
    * layers (the q_isotonic/q_kcore precedent; AS MATERIALIZED so
    * DuckDB evaluates each layer once). Exactness rests on three
    * measured facts: (1) DuckDB's list_cosine_similarity over
    * DOUBLE[] is bit-identical to CosineSimExpr's sequential kernel
    * (dot and both norms accumulate in index order, one final
    * dot/(sqrt·sqrt)); (2) every objective is the same-shaped IEEE
    * chain — λ·rel − (1−λ)·maxSim with (1−λ) spelled as the exact
    * double Scala's `1 - 0.7` produces (0.30000000000000004, NOT the
    * decimal 0.3 DuckDB's literal arithmetic would give); (3) the
    * argmax tie rule is (score DESC, id ASC) on both sides. Layer 1
    * has no diversity term (the driver multiplies by 0.0 while the
    * selected set is empty). */
  private def mmrSql(k: Int, poolSize: Int): String = {
    val lam = "0.7"
    val mu = "0.30000000000000004" // 1 - 0.7 in IEEE double
    val layers = (2 to k).map { t =>
      val p = t - 1
      s"""p$t AS MATERIALIZED (
         |  SELECT id, v, rel, $t AS rk FROM (
         |    SELECT c.id, c.v, c.rel, $lam * c.rel - $mu *
         |      (SELECT max(list_cosine_similarity(c.v, s.v)) FROM s$p s) AS sc
         |    FROM pool c WHERE c.id NOT IN (SELECT id FROM s$p)) z
         |  ORDER BY sc DESC, id LIMIT 1),
         |s$t AS MATERIALIZED (SELECT * FROM s$p UNION ALL SELECT * FROM p$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       |  WHERE vec_id = 0),
       |pool AS MATERIALIZED (
       |  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v,
       |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $poolSize),
       |s1 AS MATERIALIZED (
       |  SELECT id, v, rel, 1 AS rk FROM pool
       |  ORDER BY $lam * rel DESC, id LIMIT 1),
       |$layers
       |SELECT id AS vec_id, rk::BIGINT AS mmr_rank, round(rel, 4) AS rel
       |FROM s$k ORDER BY mmr_rank""".stripMargin
  }

  /** Full integer-grid k-means replay (q_doc_clusters_grid): the
    * oracle RETRAINS the centroids — quantize, md5-rank sample, seed
    * on the c id-smallest sample vectors, then `iters` unrolled
    * (assign → truncating-integer-mean update) CTE layers, then the
    * whole-corpus assignment. Every step is exact integers after the
    * floor-once quantization; `AS MATERIALIZED` keeps the deep chain
    * from re-evaluating per reference (the kcore/isotonic rule).
    * `arg_min(cid, dist·c + cid)` ≡ Spark's `least(packed…)`:
    * DuckDB arg_min rejects LIST tiebreaks, so the tiebreak is packed
    * into the key (the q_negative_sample rule). */
  private def gridDist(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** The k-means CTE chain shared by q_doc_clusters_grid and
    * q_semantic_dedup_grid: expects an upstream `q(vec_id, qv)` CTE
    * (quantized vectors) and defines `samp`, `c0`…`c$iters` (final
    * centroids) and `asgn` (whole-corpus assignment). */
  private def gridKmeansChain(c: Int, iters: Int, maxTrain: Int): String = {
    val layers = (1 to iters).map { t =>
      val prev = s"c${t - 1}"
      s"""a$t AS MATERIALIZED (
         |  SELECT s.vec_id, arg_min(c.cid, ${gridDist("s.qv", "c.qc")}*$c + c.cid) AS cid
         |  FROM samp s, $prev c GROUP BY s.vec_id),
         |u$t AS MATERIALIZED (
         |  SELECT cid, list(m ORDER BY i) AS qc FROM (
         |    SELECT a.cid, t.i, (sum(s.qv[t.i])::BIGINT // count(*)::BIGINT) AS m
         |    FROM a$t a JOIN samp s USING (vec_id), range(1, 65) t(i)
         |    GROUP BY a.cid, t.i)
         |  GROUP BY cid),
         |c$t AS MATERIALIZED (
         |  SELECT p.cid, coalesce(u.qc, p.qc) AS qc
         |  FROM $prev p LEFT JOIN u$t u ON p.cid = u.cid)""".stripMargin
    }.mkString(",\n")
    s"""samp AS MATERIALIZED (
       |  SELECT vec_id, qv FROM q
       |  ORDER BY substring(md5(vec_id::VARCHAR), 1, 13), vec_id
       |  LIMIT $maxTrain),
       |c0 AS MATERIALIZED (
       |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, qv AS qc
       |  FROM (SELECT vec_id, qv FROM samp ORDER BY vec_id LIMIT $c)),
       |$layers,
       |asgn AS MATERIALIZED (
       |  SELECT q.vec_id, arg_min(c.cid, ${gridDist("q.qv", "c.qc")}*$c + c.cid) AS cid
       |  FROM q, c$iters c GROUP BY q.vec_id)""".stripMargin
  }

  private def gridKmeansSql(c: Int, iters: Int, maxTrain: Int): String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings),
       |${gridKmeansChain(c, iters, maxTrain)}
       |SELECT cid AS centroid_id, count(*)::BIGINT AS n_vecs
       |FROM asgn GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_logreg_grid oracle: smoothed log-odds init + the integer-grid
    * GD recursion unrolled as `iters` CTE layers. Init floors each
    * class's log-likelihood ONCE (ln on ::DOUBLE operands — never
    * DECIMAL arithmetic); per layer t (prev p): margins m = b_p +
    * trunc(Σ w_p·xq / 10⁶), the clamped floor-once sigmoid error, and
    * 1/t-decayed truncating updates — every `//` on BIGINT/HUGEINT
    * truncates toward zero exactly like the driver's Long arithmetic.
    * Sample docs always have ≥1 token (split of "" yields ['']), so
    * the bias gradient sees every sample row in both engines. */
  private def logregGridSql(buckets: Int, sampleN: Int,
      iters: Int): String = {
    val layers = (1 to iters).map { t =>
      val p = t - 1
      s"""m$t AS (
         |  SELECT f.did, f.y,
         |    (SELECT b FROM b$p) + (sum(w.w * f.xq) // 1000000)::BIGINT AS m
         |  FROM feat f JOIN w$p w ON w.j = f.j
         |  GROUP BY f.did, f.y),
         |e$t AS MATERIALIZED (
         |  SELECT did, y,
         |    floor((1.0 / (1.0 + exp(-(least(greatest(m, -30000000),
         |        30000000)::DOUBLE / 1000000.0))) - y::DOUBLE)
         |      * 1000000.0)::BIGINT AS err
         |  FROM m$t),
         |g$t AS (
         |  SELECT f.j, sum(e.err * f.xq) AS g
         |  FROM feat f JOIN e$t e ON e.did = f.did GROUP BY 1),
         |w$t AS MATERIALIZED (
         |  SELECT w.j,
         |    (w.w - coalesce(g.g, 0)
         |      // ((SELECT n FROM nn) * 1000000 * $t))::BIGINT AS w
         |  FROM w$p w LEFT JOIN g$t g ON g.j = w.j),
         |b$t AS MATERIALIZED (
         |  SELECT ((SELECT b FROM b$p)
         |    - (SELECT sum(err) FROM e$t)
         |      // ((SELECT n FROM nn) * $t))::BIGINT AS b)""".stripMargin
    }.mkString(",\n")
    s"""WITH lab AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN list_contains(
       |      regexp_split_to_array(trim(lower(text)), '\\s+'), 'dup')
       |      THEN 1 ELSE 0 END::BIGINT AS y,
       |    text
       |  FROM documents),
       |samp AS MATERIALIZED (
       |  SELECT doc_id AS did, y, text FROM lab
       |  ORDER BY substring(md5(doc_id::VARCHAR), 1, 13), doc_id
       |  LIMIT $sampleN),
       |nn AS (SELECT count(*)::BIGINT AS n FROM samp),
       |stok AS (
       |  SELECT did, y,
       |    ('0x' || substr(md5(w), 1, 13))::BIGINT % $buckets AS j
       |  FROM (SELECT did, y,
       |          unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |        FROM samp)),
       |slen AS (SELECT did, count(*)::BIGINT AS len FROM stok GROUP BY 1),
       |feat AS MATERIALIZED (
       |  SELECT s.did, s.y, s.j, count(*)::BIGINT AS cnt,
       |    (count(*)::BIGINT * $buckets * 1000000) // l.len AS xq
       |  FROM stok s JOIN slen l ON s.did = l.did
       |  GROUP BY s.did, s.y, s.j, l.len),
       |bc AS (
       |  SELECT j, sum(CASE WHEN y = 1 THEN cnt ELSE 0 END)::BIGINT AS c1,
       |         sum(CASE WHEN y = 0 THEN cnt ELSE 0 END)::BIGINT AS c0
       |  FROM feat GROUP BY 1),
       |tt AS (SELECT sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0 FROM bc),
       |pr AS (
       |  SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS n0
       |  FROM samp),
       |w0 AS MATERIALIZED (
       |  SELECT r.j::BIGINT AS j,
       |    floor(ln((coalesce(bc.c1, 0)::DOUBLE + 1.0)
       |        / (tt.t1 + $buckets)::DOUBLE) * 1000000.0)::BIGINT
       |    - floor(ln((coalesce(bc.c0, 0)::DOUBLE + 1.0)
       |        / (tt.t0 + $buckets)::DOUBLE) * 1000000.0)::BIGINT AS w
       |  FROM range($buckets) r(j) LEFT JOIN bc ON bc.j = r.j, tt),
       |b0 AS (
       |  SELECT floor(ln(n1::DOUBLE / n0::DOUBLE) * 1000000.0)::BIGINT AS b
       |  FROM pr),
       |$layers,
       |ctok AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(w), 1, 13))::BIGINT % $buckets AS j
       |  FROM (SELECT doc_id,
       |          unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |        FROM lab)),
       |clen AS (SELECT doc_id, count(*)::BIGINT AS len FROM ctok GROUP BY 1),
       |cfeat AS (
       |  SELECT t.doc_id, t.j,
       |    (count(*)::BIGINT * $buckets * 1000000) // l.len AS xq
       |  FROM ctok t JOIN clen l ON t.doc_id = l.doc_id
       |  GROUP BY t.doc_id, t.j, l.len),
       |cm AS (
       |  SELECT f.doc_id,
       |    (SELECT b FROM b$iters)
       |      + (sum(w.w * f.xq) // 1000000)::BIGINT AS m
       |  FROM cfeat f JOIN w$iters w ON w.j = f.j GROUP BY f.doc_id),
       |cpred AS (
       |  SELECT l.y AS actual,
       |    CASE WHEN coalesce(cm.m, (SELECT b FROM b$iters)) > 0
       |      THEN 1 ELSE 0 END::BIGINT AS pred
       |  FROM lab l LEFT JOIN cm ON cm.doc_id = l.doc_id)
       |SELECT actual, pred, count(*)::BIGINT AS n FROM cpred
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The md5-HLL floor-once estimate chain over (tp, np) aggregates —
    * shared by the q_source_overlap_twin oracle's single and pair
    * estimates (mirrors ops/HllGrid.estimate's textual double chain;
    * the per-day rollup twin in queries/Events carries its own inline
    * copy). */
  private def hllGridEstSql: String = {
    val t = "(tp + (256 - np) * (1::BIGINT << 50))"
    val v = "(256 - np)"
    s"""CASE WHEN $v > 0 AND
       |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE
       |      / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE
       |      * 1125899906842624::DOUBLE / $t::DOUBLE <= 640.0::DOUBLE
       |  THEN floor(256.0::DOUBLE * ln(256.0::DOUBLE / $v::DOUBLE))
       |  ELSE floor((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE
       |      / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE
       |      * 1125899906842624::DOUBLE / $t::DOUBLE)
       |END::BIGINT""".stripMargin
  }

  /** Shared CTE prefix for the md5 MinHash twins: shingles →
    * 52-bit md5 minhashes (k per shingle) → per-band key (md5 of the
    * in-order minhash list, folded to 52 bits) → banded frame. Ends at
    * `bnd(doc_id, bkeys, band, bucket)` — consumed by the inline-twin
    * chain and the persisted-index admit oracle. */
  private def minhashMd5KeysSql(k: Int, bands: Int): String = {
    val r = k / bands
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
       |  FROM (SELECT doc_id,
       |          regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |        FROM documents)),
       |mh AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    min(('0x' || substring(md5('mh|' || i::VARCHAR || '|' || s),
       |      1, 13))::BIGINT) AS mh
       |  FROM (SELECT doc_id, unnest(ws) AS s FROM sh), range($k) t(i)
       |  GROUP BY 1, 2),
       |bk AS (
       |  SELECT doc_id, i // $r AS band,
       |    ('0x' || substring(md5(array_to_string(
       |      list(mh::VARCHAR ORDER BY i), ',')), 1, 13))::BIGINT AS bkey
       |  FROM mh GROUP BY 1, 2),
       |dk AS MATERIALIZED (
       |  SELECT doc_id, list(bkey ORDER BY band) AS bkeys
       |  FROM bk GROUP BY 1),
       |bnd AS MATERIALIZED (
       |  SELECT doc_id, bkeys, b AS band, bkeys[b + 1] AS bucket
       |  FROM dk, range($bands) t(b))""".stripMargin
  }

  /** [[minhashMd5KeysSql]] + pigeonhole band join with the
    * first-agreeing-band rule + exact-Jaccard verify in basis points.
    * Ends at `vp(doc_a, doc_b, j_bp)` — mirrors
    * dedup/Dedup.minhashNearDupsMd5 expression for expression. */
  private def minhashMd5ChainSql(k: Int, bands: Int): String = {
    s"""${minhashMd5KeysSql(k, bands)},
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bnd x JOIN bnd y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND x.doc_id < y.doc_id
       |  WHERE len([bb for bb in generate_series(0, x.band - 1)
       |             if x.bkeys[bb + 1] = y.bkeys[bb + 1]]) = 0),
       |vp AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |    ((len(list_intersect(a.ws, b.ws))::BIGINT * 10000) //
       |      (len(a.ws) + len(b.ws)
       |        - len(list_intersect(a.ws, b.ws))))::BIGINT AS j_bp
       |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
       |            JOIN sh b ON cand.doc_b = b.doc_id)""".stripMargin
  }

  /** Full SemDeDup replay on the grid quantizer
    * (q_semantic_dedup_grid): plant the float twins (DuckDB REAL ops ≡
    * JVM binary32), retrain the grid k-means, pair within cells with
    * UNROUNDED cosine (list_cosine_similarity over DOUBLE[] is
    * bit-identical to the sequential kernel — never round(x, 4),
    * the shortest-decimal divergence class), resolve groups with the
    * recursive min-label reach (the q_dedup_groups pattern). */
  private def semanticDedupGridSql(c: Int, iters: Int, maxTrain: Int,
      threshold: String): String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |twins AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    [x * 1.0001::REAL for x in embedding] AS embedding
       |  FROM base WHERE vec_id % 10 = 0),
       |corp AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM base
       |  UNION ALL
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM twins),
       |q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM corp),
       |${gridKmeansChain(c, iters, maxTrain)},
       |av AS MATERIALIZED (
       |  SELECT a.cid, a.vec_id AS id, corp.v
       |  FROM asgn a JOIN corp ON a.vec_id = corp.vec_id),
       |e AS MATERIALIZED (
       |  SELECT x.id AS doc_a, y.id AS doc_b
       |  FROM av x JOIN av y ON x.cid = y.cid AND x.id < y.id
       |  WHERE list_cosine_similarity(x.v, y.v) >= $threshold),
       |nodes AS (SELECT doc_a AS id FROM e UNION SELECT doc_b FROM e),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT id, id FROM nodes
       |    UNION
       |    SELECT r.a, CASE WHEN e.doc_a = r.b THEN e.doc_b ELSE e.doc_a END
       |    FROM r JOIN e ON e.doc_a = r.b OR e.doc_b = r.b)
       |  SELECT * FROM r),
       |comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY 1)
       |SELECT component, count(*)::BIGINT AS n_members
       |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_coreset_grid oracle: Gonzalez k-center greedy replayed as k−1
    * unrolled argmax CTE layers (the q_greedy_cover recipe) on the
    * integer grid — seed = smallest sampled id, layer t picks the
    * non-chosen sample row maximizing its min integer squared distance
    * to the chosen set (ties by id), then the whole corpus assigns via
    * `min(dist·k + (rk−1))` (the packed-argmin rule) and rolls up
    * population + coverage radius per center. list_sum yields HUGEINT;
    * every emitted column casts ::BIGINT. */
  private def coresetGridSql(k: Int, maxTrain: Int): String = {
    val layers = (2 to k).map { t =>
      val p = t - 1
      s"""m$t AS MATERIALIZED (
         |  SELECT s.vec_id, s.qv, min(${gridDist("s.qv", "c.qv")}) AS md
         |  FROM samp s, s$p c
         |  WHERE s.vec_id NOT IN (SELECT vec_id FROM s$p)
         |  GROUP BY s.vec_id, s.qv),
         |p$t AS MATERIALIZED (
         |  SELECT vec_id, qv, $t AS rk, md::BIGINT AS sel_dist FROM m$t
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |s$t AS MATERIALIZED (
         |  SELECT * FROM s$p UNION ALL SELECT * FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings),
       |samp AS MATERIALIZED (
       |  SELECT vec_id, qv FROM q
       |  ORDER BY substring(md5(vec_id::VARCHAR), 1, 13), vec_id
       |  LIMIT $maxTrain),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, qv, 1 AS rk, 0::BIGINT AS sel_dist FROM samp
       |  ORDER BY vec_id LIMIT 1),
       |$layers,
       |asgn AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    min(${gridDist("q.qv", "c.qv")}*$k + (c.rk - 1)) AS p
       |  FROM q, s$k c GROUP BY q.vec_id),
       |agg AS (
       |  SELECT ((p % $k) + 1)::BIGINT AS rk,
       |    count(*)::BIGINT AS n_assigned,
       |    max(p // $k)::BIGINT AS max_dist
       |  FROM asgn GROUP BY 1)
       |SELECT c.rk::BIGINT AS rk, c.vec_id, c.sel_dist,
       |  coalesce(a.n_assigned, 0)::BIGINT AS n_assigned, a.max_dist
       |FROM s$k c LEFT JOIN agg a ON c.rk = a.rk
       |ORDER BY rk""".stripMargin
  }

  /** q_hits oracle: the integer-grid HITS iterations unrolled —
    * per layer one hub-weighted in-sum + max-norm div for authorities,
    * then the mirror for hubs; sums cast ::BIGINT (DuckDB sum is
    * HUGEINT), `//` truncates on nonnegatives ≡ Spark DIV. */
  private def hitsSql(iters: Int): String = {
    val layers = (1 to iters).map { t =>
      val p = t - 1
      s"""ar$t AS MATERIALIZED (
         |  SELECT e.dst, sum(h.s)::BIGINT AS raw
         |  FROM e JOIN h$p h ON h.id = e.src GROUP BY e.dst),
         |a$t AS MATERIALIZED (
         |  SELECT dst AS id,
         |    (raw * 1000000 // (SELECT max(raw) FROM ar$t))::BIGINT AS s
         |  FROM ar$t),
         |hr$t AS MATERIALIZED (
         |  SELECT e.src, sum(a.s)::BIGINT AS raw
         |  FROM e JOIN a$t a ON a.id = e.dst GROUP BY e.src),
         |h$t AS MATERIALIZED (
         |  SELECT src AS id,
         |    (raw * 1000000 // (SELECT max(raw) FROM hr$t))::BIGINT AS s
         |  FROM hr$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS (SELECT DISTINCT src AS id, 1000000::BIGINT AS s FROM e),
       |$layers,
       |hub AS (SELECT 'hub' AS side,
       |    row_number() OVER (ORDER BY s DESC, id)::BIGINT AS rk, id,
       |    s AS score_fixed
       |  FROM h$iters ORDER BY s DESC, id LIMIT 10),
       |aut AS (SELECT 'auth' AS side,
       |    row_number() OVER (ORDER BY s DESC, id)::BIGINT AS rk, id,
       |    s AS score_fixed
       |  FROM a$iters ORDER BY s DESC, id LIMIT 10)
       |SELECT side, rk, id, score_fixed FROM (
       |  SELECT * FROM hub UNION ALL SELECT * FROM aut)
       |ORDER BY side, rk""".stripMargin
  }

  /** q_pca_power oracle: integer-grid power iteration replay — the
    * centered covariance from truncating integer means, then `iters`
    * unrolled (HUGEINT mat-vec → max|w| renormalization) layers, then
    * the integer Rayleigh quotient. HUGEINT `//` truncates toward zero
    * ≡ driver BigInt `/` (the measured semantics); all magnitudes
    * bounded: |S| ≤ n·4·10¹², mat-vec ≤ d·|S|·10⁶, vᵀSv ≤ d²·|S|·10¹²
    * — inside 128 bits everywhere. */
  private def pcaPowerSql(dBlock: Int, iters: Int): String = {
    val d1 = dBlock + 1
    val layers = (1 to iters).map { t =>
      val p = t - 1
      s"""w$t AS MATERIALIZED (
         |  SELECT c.i, sum(c.s::HUGEINT * v.val) AS w
         |  FROM cov c JOIN v$p v ON c.j = v.i GROUP BY c.i),
         |v$t AS MATERIALIZED (
         |  SELECT w$t.i, CASE WHEN nm.m = 0 THEN 0::HUGEINT
         |    ELSE (w$t.w * 1000000) // nm.m END AS val
         |  FROM w$t, (SELECT max(abs(w)) AS m FROM w$t) nm)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT list_transform((embedding::DOUBLE[])[1:$dBlock],
       |    x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings),
       |mu AS MATERIALIZED (
       |  SELECT t.i, (sum(qv[t.i])::BIGINT // count(*)::BIGINT) AS m
       |  FROM q, range(1, $d1) t(i) GROUP BY t.i),
       |cov AS MATERIALIZED (
       |  SELECT ti.i AS i, tj.i AS j,
       |    sum((q.qv[ti.i] - mi.m) * (q.qv[tj.i] - mj.m))::BIGINT AS s
       |  FROM q, range(1, $d1) ti(i), range(1, $d1) tj(i), mu mi, mu mj
       |  WHERE mi.i = ti.i AND mj.i = tj.i
       |  GROUP BY 1, 2),
       |v0 AS (SELECT t.i, 1000000::HUGEINT AS val FROM range(1, $d1) t(i)),
       |$layers,
       |vv AS (SELECT sum(val*val) AS x FROM v$iters),
       |vsv AS (SELECT sum(v1.val * c.s::HUGEINT * v2.val) AS x
       |  FROM cov c JOIN v$iters v1 ON c.i = v1.i
       |  JOIN v$iters v2 ON c.j = v2.i),
       |lam AS (SELECT CASE WHEN vv.x = 0 THEN 0::HUGEINT
       |  ELSE vsv.x // vv.x END AS l FROM vv, vsv)
       |SELECT v.i::BIGINT AS dim, v.val::BIGINT AS v_fixed,
       |  lam.l::BIGINT AS lambda_fixed
       |FROM v$iters v, lam ORDER BY dim""".stripMargin
  }

  /** The water-fill fixed-point layers shared by q_mixture_caps and
    * q_epoch_plan: expect upstream CTEs `src(source, cap, wi, ...)`
    * and `s0(source, cap, wi, alloc, active, rem, done)`; define
    * s1..s$nLayers (each pass saturates >= 1 source or terminates, so
    * nLayers >= |sources|+1 replays the driver loop exactly). */
  private def waterFillLayersSql(nLayers: Int): String = {
    val layers = (1 to nLayers).map { i =>
      val p = i - 1
      s"""a$i AS (SELECT *,
         |  sum(CASE WHEN active THEN wi ELSE 0 END) OVER () AS w FROM s$p),
         |b$i AS (SELECT *,
         |  CASE WHEN active AND NOT done AND rem > 0 AND w > 0
         |       THEN least(cap - alloc, (rem * wi) // w) ELSE 0 END AS give
         |  FROM a$i),
         |c$i AS (SELECT *,
         |  max(CASE WHEN active AND alloc + give >= cap THEN 1 ELSE 0 END)
         |    OVER () AS sat_any,
         |  sum(give) OVER () AS handed,
         |  sum(CASE WHEN active AND alloc + give >= cap
         |      THEN cap - alloc ELSE 0 END) OVER () AS sat_used,
         |  row_number() OVER (PARTITION BY active
         |    ORDER BY (rem * wi) % w DESC, source) - 1 AS rrank
         |  FROM b$i),
         |s$i AS (SELECT source, cap, wi,
         |  CASE WHEN done OR rem <= 0 OR NOT active THEN alloc
         |       WHEN sat_any = 1 AND alloc + give >= cap THEN cap
         |       WHEN sat_any = 1 THEN alloc
         |       ELSE alloc + give +
         |         (CASE WHEN rrank < rem - handed THEN 1 ELSE 0 END)
         |  END AS alloc,
         |  CASE WHEN done OR rem <= 0 THEN active
         |       WHEN sat_any = 1 AND active AND alloc + give >= cap
         |         THEN FALSE
         |       ELSE active END AS active,
         |  CASE WHEN done OR rem <= 0 THEN rem
         |       WHEN sat_any = 1 THEN rem - sat_used
         |       ELSE 0 END AS rem,
         |  CASE WHEN done OR rem <= 0 THEN TRUE
         |       WHEN sat_any = 1 THEN FALSE
         |       ELSE TRUE END AS done
         |  FROM c$i)""".stripMargin
    }.mkString(",\n")
    layers
  }

  /** q_ann_ivf_grid oracle: retrain the grid k-means on the corpus
    * (query vector excluded), pick the `nprobe` nearest cells to the
    * quantized query (integer distance, ties by cid), rank the probed
    * cells' vectors by integer dot product (ties by id). */
  private def annIvfGridSql(c: Int, iters: Int, maxTrain: Int,
      nprobe: Int, k: Int): String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id <> 0),
       |${gridKmeansChain(c, iters, maxTrain)},
       |q0 AS (
       |  SELECT list_transform(embedding::DOUBLE[],
       |    x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |probe AS (
       |  SELECT cc.cid FROM c$iters cc, q0
       |  ORDER BY ${gridDist("q0.qv", "cc.qc")}, cc.cid LIMIT $nprobe)
       |SELECT a.vec_id,
       |  list_sum(list_transform(range(1, 65),
       |    i -> q.qv[i] * q0.qv[i]))::BIGINT AS dot_q
       |FROM asgn a
       |JOIN probe p ON a.cid = p.cid
       |JOIN q ON a.vec_id = q.vec_id, q0
       |ORDER BY dot_q DESC, a.vec_id LIMIT $k""".stripMargin

  /** q_ann_pq_grid oracle: retrain all `m` per-subspace grid
    * codebooks from the SHARED md5-rank sample (subvectors via
    * offset indexing — no slices inside lambdas), re-encode the
    * corpus, rebuild the per-subspace query LUTs, and replay the ADC
    * ranking. Everything is exact integers after the floor-once
    * quantization. */
  /** The per-subspace PQ CTE chains shared by q_ann_pq_grid and
    * q_ann_ivfpq_grid: expect upstream `samp(vec_id, qv)`, a full
    * `$encSrc(vec_id, qv)` source to encode, and `q0(qv)`; define
    * p{j}c0..c$iters (codebooks), p{j}e (codes of $encSrc) and
    * p{j}l (query LUT) for each subspace j. */
  private def pqSubspaceChains(m: Int, ksub: Int, iters: Int,
      encSrc: String): String = {
    val dsub = 64 / m
    def dOff(a: String, b: String, off: Int) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), " +
        s"i -> ($a[$off + i]-$b[i])*($a[$off + i]-$b[i])))"
    (0 until m).map { j =>
      val off = j * dsub
      val c0 =
        s"""p${j}c0 AS MATERIALIZED (
           |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
           |    list_transform(range(1, ${dsub + 1}), i -> qv[$off + i]) AS qc
           |  FROM (SELECT vec_id, qv FROM samp ORDER BY vec_id LIMIT $ksub))""".stripMargin
      val layers = (1 to iters).map { t =>
        s"""p${j}a$t AS MATERIALIZED (
           |  SELECT s.vec_id,
           |    arg_min(c.cid, ${dOff("s.qv", "c.qc", off)}*$ksub + c.cid) AS cid
           |  FROM samp s, p${j}c${t - 1} c GROUP BY s.vec_id),
           |p${j}u$t AS MATERIALIZED (
           |  SELECT cid, list(mm ORDER BY i) AS qc FROM (
           |    SELECT a.cid, t.i,
           |      (sum(s.qv[$off + t.i])::BIGINT // count(*)::BIGINT) AS mm
           |    FROM p${j}a$t a JOIN samp s USING (vec_id), range(1, ${dsub + 1}) t(i)
           |    GROUP BY a.cid, t.i)
           |  GROUP BY cid),
           |p${j}c$t AS MATERIALIZED (
           |  SELECT p.cid, coalesce(u.qc, p.qc) AS qc
           |  FROM p${j}c${t - 1} p LEFT JOIN p${j}u$t u ON p.cid = u.cid)""".stripMargin
      }.mkString(",\n")
      val enc =
        s"""p${j}e AS MATERIALIZED (
           |  SELECT q.vec_id,
           |    arg_min(c.cid, ${dOff("q.qv", "c.qc", off)}*$ksub + c.cid) AS code
           |  FROM $encSrc q, p${j}c$iters c GROUP BY q.vec_id)""".stripMargin
      val lut =
        s"""p${j}l AS MATERIALIZED (
           |  SELECT c.cid, ${dOff("q0.qv", "c.qc", off)} AS d
           |  FROM p${j}c$iters c, q0)""".stripMargin
      Seq(c0, layers, enc, lut).mkString(",\n")
    }.mkString(",\n")
  }

  private def pqAdcSelect(m: Int): (String, String, String) = {
    val encJoins = (1 until m).map(j =>
      s"JOIN p${j}e e$j ON e$j.vec_id = e0.vec_id").mkString("\n")
    val lutJoins = (0 until m).map(j =>
      s"JOIN p${j}l l$j ON l$j.cid = e$j.code").mkString("\n")
    val adc = (0 until m).map(j => s"l$j.d").mkString(" + ")
    (encJoins, lutJoins, adc)
  }

  private def annPqGridSql(m: Int, ksub: Int, iters: Int, maxTrain: Int,
      k: Int): String = {
    val subs = pqSubspaceChains(m, ksub, iters, encSrc = "q")
    val (encJoins, lutJoins, adc) = pqAdcSelect(m)
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id <> 0),
       |samp AS MATERIALIZED (
       |  SELECT vec_id, qv FROM q
       |  ORDER BY substring(md5(vec_id::VARCHAR), 1, 13), vec_id
       |  LIMIT $maxTrain),
       |q0 AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[],
       |    x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |$subs
       |SELECT e0.vec_id, ($adc)::BIGINT AS adc_q
       |FROM p0e e0
       |$encJoins
       |$lutJoins
       |ORDER BY adc_q, e0.vec_id LIMIT $k""".stripMargin
  }

  /** q_ann_ivfpq_grid oracle: the composed index replay — IVF chain
    * (cells + probe), candidate restriction to the probed cells, PQ
    * chains encoding ONLY the candidates, ADC overfetch, and the
    * exact integer-dot refine of the survivors. */
  private def annIvfPqGridSql(c: Int, ivfIters: Int, m: Int, ksub: Int,
      pqIters: Int, maxTrain: Int, nprobe: Int, k: Int,
      overfetch: Int): String = {
    val subs = pqSubspaceChains(m, ksub, pqIters, encSrc = "candq")
    val (encJoins, lutJoins, adc) = pqAdcSelect(m)
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id <> 0),
       |${gridKmeansChain(c, ivfIters, maxTrain)},
       |q0 AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[],
       |    x -> floor(x*1000000.0)::BIGINT) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |probe AS (
       |  SELECT cc.cid FROM c$ivfIters cc, q0
       |  ORDER BY ${gridDist("q0.qv", "cc.qc")}, cc.cid LIMIT $nprobe),
       |candq AS MATERIALIZED (
       |  SELECT q.vec_id, q.qv FROM q
       |  JOIN asgn a ON a.vec_id = q.vec_id
       |  JOIN probe p ON a.cid = p.cid),
       |$subs,
       |shortl AS MATERIALIZED (
       |  SELECT e0.vec_id, ($adc)::BIGINT AS adc_q
       |  FROM p0e e0
       |  $encJoins
       |  $lutJoins
       |  ORDER BY adc_q, e0.vec_id LIMIT ${k * overfetch})
       |SELECT q.vec_id,
       |  list_sum(list_transform(range(1, 65),
       |    i -> q.qv[i] * q0.qv[i]))::BIGINT AS dot_q
       |FROM shortl JOIN q ON q.vec_id = shortl.vec_id, q0
       |ORDER BY dot_q DESC, q.vec_id LIMIT $k""".stripMargin
  }

  private def mixtureCapsSql(budget: Long, nLayers: Int): String = {
    val src =
      """src AS (
        |  SELECT source, count(*)::BIGINT AS cap,
        |    (CASE WHEN substring(source, 4)::INT % 2 = 0
        |          THEN 3 ELSE 1 END)::BIGINT AS wi
        |  FROM documents GROUP BY 1)""".stripMargin
    val s0 =
      s"""s0 AS (
         |  SELECT source, cap, wi, 0::BIGINT AS alloc,
         |    (cap > 0 AND wi > 0) AS active,
         |    least($budget, (SELECT sum(cap) FROM src))::BIGINT AS rem,
         |    FALSE AS done
         |  FROM src)""".stripMargin
    // window sums (handed/sat_used) are HUGEINT — alloc touches them,
    // so pin the emitted type or pandas renders it float
    s"WITH $src,\n$s0,\n${waterFillLayersSql(nLayers)}\n" +
      s"SELECT source, cap AS supply, wi AS weight, alloc::BIGINT AS alloc " +
      s"FROM s$nLayers ORDER BY source"
  }

  /** q_epoch_plan oracle: the same water-fill replay with caps in
    * REPEAT units (maxEpochs x supply) and a 2x-corpus budget, then
    * the epoch decomposition of each allocation. */
  private def epochPlanSql(maxEpochs: Long, nLayers: Int): String = {
    val src =
      s"""src AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    ($maxEpochs * count(*))::BIGINT AS cap,
         |    (CASE WHEN substring(source, 4)::INT % 2 = 0
         |          THEN 3 ELSE 1 END)::BIGINT AS wi
         |  FROM documents GROUP BY 1)""".stripMargin
    val s0 =
      """s0 AS (
        |  SELECT source, cap, wi, 0::BIGINT AS alloc,
        |    (cap > 0 AND wi > 0) AS active,
        |    least((SELECT 2 * sum(n_docs) FROM src),
        |          (SELECT sum(cap) FROM src))::BIGINT AS rem,
        |    FALSE AS done
        |  FROM src)""".stripMargin
    s"WITH $src,\n$s0,\n${waterFillLayersSql(nLayers)}\n" +
      s"""SELECT s.source, r.n_docs, s.alloc::BIGINT AS alloc,
         |  (s.alloc // r.n_docs)::BIGINT AS full_epochs,
         |  (s.alloc % r.n_docs)::BIGINT AS remainder_docs,
         |  (s.alloc * 10000 // r.n_docs)::BIGINT AS repeat_bp
         |FROM s$nLayers s JOIN src r USING (source)
         |ORDER BY s.source""".stripMargin
  }

  /** q_rank_rbo oracle: BM25 scoring replayed via the q_bm25 CTEs,
    * the density ranking as one integer floor-div, both ranked by
    * (score desc, doc_id); per-depth weights ride as the exact
    * integer rationals 9^(d−1)/(d·10^(d−1)) in HUGEINT — no float
    * ever enters either engine. */
  private def rboSql(depth: Int): String = {
    val consts = (1 to depth).map(d =>
      s"($d, '${BigInt(9).pow(d - 1)}', '${BigInt(10).pow(d - 1) * d}')")
      .mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |per AS (
       |  SELECT doc_id, len(w)::BIGINT AS dl,
       |    len(list_filter(w, x -> x = 'join'))::BIGINT AS tf0,
       |    len(list_filter(w, x -> x = 'vector'))::BIGINT AS tf1,
       |    len(list_filter(w, x -> x = 'stream'))::BIGINT AS tf2,
       |    len(list_filter(w, x -> x = 'checkpoint'))::BIGINT AS tf3,
       |    len(list_filter(w, x -> x = 'spill'))::BIGINT AS tf4
       |  FROM tok),
       |st AS (
       |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS t,
       |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
       |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
       |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
       |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3,
       |    sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END)::BIGINT AS df4
       |  FROM per),
       |idf AS (
       |  SELECT n, t,
       |    CAST(floor(ln(2.0*(n+1)/(2*df0+1))*1000000 + 0.5) AS BIGINT) AS idf0,
       |    CAST(floor(ln(2.0*(n+1)/(2*df1+1))*1000000 + 0.5) AS BIGINT) AS idf1,
       |    CAST(floor(ln(2.0*(n+1)/(2*df2+1))*1000000 + 0.5) AS BIGINT) AS idf2,
       |    CAST(floor(ln(2.0*(n+1)/(2*df3+1))*1000000 + 0.5) AS BIGINT) AS idf3,
       |    CAST(floor(ln(2.0*(n+1)/(2*df4+1))*1000000 + 0.5) AS BIGINT) AS idf4
       |  FROM st),
       |sc AS (
       |  SELECT p.doc_id,
       |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END +
       |     CASE WHEN tf2 > 0 THEN 1 ELSE 0 END + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END +
       |     CASE WHEN tf4 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_match,
       |    (CASE WHEN tf0 > 0 THEN (idf0*44*tf0*t) // (20*tf0*t + 6*t + 18*p.dl*n) ELSE 0 END +
       |     CASE WHEN tf1 > 0 THEN (idf1*44*tf1*t) // (20*tf1*t + 6*t + 18*p.dl*n) ELSE 0 END +
       |     CASE WHEN tf2 > 0 THEN (idf2*44*tf2*t) // (20*tf2*t + 6*t + 18*p.dl*n) ELSE 0 END +
       |     CASE WHEN tf3 > 0 THEN (idf3*44*tf3*t) // (20*tf3*t + 6*t + 18*p.dl*n) ELSE 0 END +
       |     CASE WHEN tf4 > 0 THEN (idf4*44*tf4*t) // (20*tf4*t + 6*t + 18*p.dl*n) ELSE 0 END
       |    )::BIGINT AS score_micronats
       |  FROM per p, idf),
       |r1 AS (
       |  SELECT doc_id, rk1 FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY score_micronats DESC, doc_id) AS rk1
       |    FROM sc WHERE n_match > 0) WHERE rk1 <= $depth),
       |r2 AS (
       |  SELECT doc_id, rk2 FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY s2 DESC, doc_id) AS rk2
       |    FROM (SELECT doc_id,
       |            (tf0+tf1+tf2+tf3+tf4) * 1000000 // dl AS s2
       |          FROM per WHERE tf0+tf1+tf2+tf3+tf4 > 0 AND dl > 0))
       |  WHERE rk2 <= $depth),
       |j AS (SELECT greatest(rk1, rk2) AS m FROM r1 JOIN r2 USING (doc_id)),
       |consts(d, n9, dn) AS (VALUES $consts),
       |ov AS (
       |  SELECT d, n9, dn,
       |    sum(CASE WHEN m IS NOT NULL AND m <= d THEN 1 ELSE 0 END)::BIGINT
       |      AS overlap
       |  FROM consts LEFT JOIN j ON TRUE GROUP BY 1, 2, 3),
       |t AS (
       |  SELECT d, overlap,
       |    (overlap::HUGEINT * n9::HUGEINT * 1000000000 // dn::HUGEINT)::BIGINT
       |      AS term_nano
       |  FROM ov)
       |SELECT $depth AS depth,
       |  max(CASE WHEN d = $depth THEN overlap END)::BIGINT AS overlap_at_depth,
       |  sum(term_nano)::BIGINT AS sum_nano,
       |  (sum(term_nano) // 10)::BIGINT AS rbo_nano
       |FROM t""".stripMargin
  }

  /** Full BPE replay (q_vocab_bpe_twin): retrain on the md5-rank
    * sample, then re-tokenize the corpus — see the query comment for
    * the two equivalence arguments (iterated-leftmost ≡ single pass;
    * sequential-by-rank ≡ lowest-rank-leftmost). Each merge layer is
    * a pair-count aggregate, the deterministic argmax, and a
    * recursive CTE that merges the LEFTMOST occurrence per step until
    * each word's fixpoint (list state shrinks strictly, so the UNION
    * recursion terminates); apply layers reuse the learned m-CTEs on
    * the corpus word types. */
  private def bpeTwinSql(nMerges: Int, sampleDocs: Int,
      k: Int): String = {
    // leftmost-merge-to-fixpoint of pair m$t over prev's (w, f, s)
    def applyCte(out: String, t: Int, prev: String): String =
      s"""$out AS MATERIALIZED (
         |  WITH RECURSIVE r(w, f, s) AS (
         |    SELECT w, f, s FROM $prev
         |    UNION
         |    SELECT w, f, s[1:p - 1] || [a || b] || s[p + 2:]
         |    FROM (SELECT w, f, s, a, b,
         |            list_filter(range(1, len(s)),
         |              j -> s[j] = a AND s[j + 1] = b)[1] AS p
         |          FROM r, m$t)
         |    WHERE p IS NOT NULL)
         |  SELECT w, f, s FROM r, m$t
         |  WHERE len(list_filter(range(1, len(s)),
         |          j -> s[j] = a AND s[j + 1] = b)) = 0
         |  UNION ALL
         |  SELECT w, f, s FROM r
         |  WHERE NOT EXISTS (SELECT 1 FROM m$t))""".stripMargin
    val trainLayers = (1 to nMerges).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT s[j] AS a, s[j + 1] AS b, sum(f)::BIGINT AS c
         |  FROM s${t - 1}, unnest(range(1, len(s))) u(j)
         |  GROUP BY 1, 2),
         |m$t AS MATERIALIZED (
         |  SELECT a, b FROM p$t WHERE c >= 2
         |  ORDER BY c DESC, a || ' ' || b LIMIT 1),
         |${applyCte(s"s$t", t, s"s${t - 1}")}""".stripMargin
    }.mkString(",\n")
    val applyLayers = (1 to nMerges)
      .map(t => applyCte(s"c$t", t, s"c${t - 1}"))
      .mkString(",\n")
    s"""WITH samp AS MATERIALIZED (
       |  SELECT text FROM documents
       |  ORDER BY substring(md5(doc_id::VARCHAR), 1, 13), doc_id
       |  LIMIT $sampleDocs),
       |w0 AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS f FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)),
       |      '\\s+')) AS w
       |    FROM samp) WHERE w <> '' GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT w, f, regexp_extract_all(w, '.') AS s FROM w0),
       |$trainLayers,
       |cw0 AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS f FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)),
       |      '\\s+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY 1),
       |c0 AS MATERIALIZED (
       |  SELECT w, f, regexp_extract_all(w, '.') AS s FROM cw0),
       |$applyLayers,
       |tok AS (SELECT unnest(s) AS token, f FROM c$nMerges),
       |agg AS (SELECT token, sum(f)::BIGINT AS n_occurrences
       |  FROM tok GROUP BY 1)
       |SELECT token, n_occurrences FROM agg
       |ORDER BY n_occurrences DESC, token LIMIT $k""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q_vocab_bpe_twin" ->
      bpeTwinSql(nMerges = 16, sampleDocs = 256, k = 20),
    "q_mixture_caps" -> mixtureCapsSql(budget = 300L, nLayers = 21),
    "q_epoch_plan" -> epochPlanSql(maxEpochs = 4L, nLayers = 21),
    "q_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      w -> w <> '') AS ws
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len(ws)::BIGINT AS n_words,
        |    list_sum(list_transform(ws, w -> CASE
        |      WHEN len(regexp_extract_all(w, '[aeiouy]+')) = 1
        |      THEN 1 ELSE 0 END))::BIGINT AS n_mono,
        |    list_sum(list_transform(ws, w -> length(w)))::BIGINT AS sum_chars
        |  FROM t WHERE len(ws) > 0)
        |SELECT doc_id, n_words, n_mono,
        |  (20000000 - 15000000 * n_mono // n_words)::BIGINT AS forcast_micro,
        |  (1000 * sum_chars // n_words)::BIGINT AS word_len_milli,
        |  CASE WHEN (20000000 - 15000000 * n_mono // n_words) < 10000000
        |         THEN 'easy'
        |       WHEN (20000000 - 15000000 * n_mono // n_words) < 16000000
        |         THEN 'medium'
        |       ELSE 'hard' END AS band
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_rank_rbo" -> rboSql(depth = 20),
    "q_interleave_sources" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS sr,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |k AS (SELECT doc_id, source, sr,
        |    (sr - 1) * 1000000000 // ns AS ik FROM r)
        |SELECT row_number() OVER (ORDER BY ik, source, doc_id) - 1
        |    AS train_pos,
        |  doc_id, source, sr AS src_rank
        |FROM k ORDER BY train_pos""".stripMargin,
    // md5-substring CMS counters replayed as grouped integer sums;
    // min-over-rows dot product; over_bp nonneg so // ≡ div.
    "q_join_size_est" ->
      """WITH keys AS (SELECT l_partkey::VARCHAR AS k FROM lineitem),
        |cnt AS (SELECT k, count(*)::BIGINT AS c FROM keys GROUP BY 1),
        |hr AS (SELECT unnest([0, 1, 2, 3, 4]) AS i),
        |ctr AS (
        |  SELECT i,
        |    ('0x' || substring(md5(k), 1 + 6*i, 6))::BIGINT % 65536 AS b,
        |    sum(c)::BIGINT AS v
        |  FROM cnt, hr GROUP BY 1, 2),
        |ip AS (SELECT i, sum(v * v)::BIGINT AS dot FROM ctr GROUP BY 1),
        |est AS (SELECT min(dot)::BIGINT AS est_pairs FROM ip),
        |tru AS (SELECT sum(c)::BIGINT AS n_rows,
        |               sum(c * c)::BIGINT AS true_pairs FROM cnt)
        |SELECT n_rows, true_pairs, est_pairs,
        |  ((est_pairs - true_pairs) * 10000 // true_pairs)::BIGINT AS over_bp
        |FROM tru, est""".stripMargin,
    // Per truncation width the q_knn_join recipe on DOUBLE[]-cast
    // slices (round-4 score desc, id asc); recall joins FROM the
    // full-width set so all-miss queries still count their misses.
    "q_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |           FROM embeddings WHERE vec_id < 5),
        |fullk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(
        |            e.embedding::DOUBLE[], q.qvec), 4) DESC,
        |          e.vec_id) AS rk
        |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id) s
        |  WHERE rk <= 10),
        |dims AS (SELECT unnest([2, 4, 6]) AS dim),
        |tr AS (
        |  SELECT dim, query_id, neighbor_id FROM (
        |    SELECT d.dim, q.query_id, e.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY d.dim, q.query_id
        |        ORDER BY round(list_cosine_similarity(
        |            (e.embedding::DOUBLE[])[1:d.dim], q.qvec[1:d.dim]), 4) DESC,
        |          e.vec_id) AS rk
        |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
        |    CROSS JOIN dims d) s
        |  WHERE rk <= 10)
        |SELECT d.dim,
        |  (sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
        |     // count(*))::BIGINT AS recall_bp
        |FROM dims d
        |JOIN fullk f ON TRUE
        |LEFT JOIN tr t ON t.dim = d.dim AND t.query_id = f.query_id
        |  AND t.neighbor_id = f.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS alpha_ratio,
        |  round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS space_ratio,
        |  round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |        / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_ablation" ->
      """WITH s AS (
        |  SELECT
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT
        |      AS tok,
        |    len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT AS alpha,
        |    len(regexp_extract_all(text, '\s'))::BIGINT AS space,
        |    length(text)::BIGINT AS chars
        |  FROM documents),
        |m AS (
        |  SELECT tok,
        |    (CASE WHEN tok >= 50 THEN 1 ELSE 0 END
        |     + CASE WHEN alpha * 1000 >= chars * 820 THEN 2 ELSE 0 END
        |     + CASE WHEN (chars - space) * 100 <= tok * 450
        |         THEN 4 ELSE 0 END)::BIGINT
        |      AS mask
        |  FROM s)
        |SELECT mask, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS tokens
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lang_id" ->
      """WITH scores AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|with)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une|dans)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|por|con|para|como)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id, CASE
        |    WHEN s_zh > 0 THEN 'zh'
        |    WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM scores)
        |SELECT lang_pred, count(*) AS n_docs FROM pred
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) < 8 THEN md5(text)
        |       ELSE list_min([md5(substr(text, i, 8))
        |                      for i in range(1, length(text) - 6)])
        |  END AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mixture_weights" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT lang, n_docs, sum(n_docs) OVER () AS total,
        |        CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
        |          WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
        |          WHEN 'fr' THEN 0.1 END::DOUBLE AS target_frac
        |      FROM c)
        |SELECT lang, n_docs,
        |  round(n_docs::DOUBLE / total, 4) AS actual_frac,
        |  target_frac,
        |  round(target_frac / (n_docs::DOUBLE / total), 4) AS weight
        |FROM t ORDER BY lang""".stripMargin,
    "q_context_pack" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS tok
        |  FROM documents),
        |b AS (
        |  SELECT lang, tok,
        |    floor((sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) - tok)
        |          / 512.0)::BIGINT AS bin
        |  FROM d),
        |p AS (
        |  SELECT lang, bin, sum(tok)::BIGINT AS bin_tokens
        |  FROM b GROUP BY 1, 2)
        |SELECT lang, (max(bin) + 1)::BIGINT AS n_bins,
        |  sum(bin_tokens)::BIGINT AS total_tokens,
        |  round(avg(bin_tokens) / 512.0, 4) AS avg_fill
        |FROM p GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4) AS dup_word_frac,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS grams
        |  FROM t),
        |g AS (SELECT doc_id, dup_word_frac, unnest(grams) AS gram FROM d),
        |c AS (SELECT doc_id, dup_word_frac, gram, count(*) AS c
        |      FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, dup_word_frac,
        |  round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
        |FROM c GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "q_quality_filter" ->
      """WITH m AS (
        |  SELECT lang,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS alpha_ratio,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS space_ratio,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |q AS (
        |  SELECT lang,
        |    round(least(1.0, alpha_ratio * 0.6 + space_ratio * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4) AS q
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |  sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  round(avg(q), 4) AS avg_quality
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' contact user' || doc_id || '@example.com now'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' see https://example.org/doc/' || doc_id || ' page'
        |            ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^\s]+'))::BIGINT AS n_urls,
        |  length(regexp_replace(
        |    regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))::BIGINT AS clean_len
        |FROM planted ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      """SELECT lang,
        |  sum(list_sum([1 + CAST(floor(length(w) / 4.0) AS BIGINT)
        |                for w in regexp_split_to_array(trim(lower(text)), '\s+')]))::BIGINT
        |    AS approx_bpe_tokens,
        |  sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))::BIGINT
        |    AS word_tokens,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stratified_sample" ->
      """WITH f AS (
        |  SELECT lang,
        |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) <
        |      CASE lang WHEN 'en' THEN '4000' WHEN 'zh' THEN '8000'
        |                WHEN 'de' THEN 'c000' WHEN 'es' THEN '8000'
        |                ELSE 'g' END
        |    THEN 1 ELSE 0 END AS s
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, sum(s)::BIGINT AS n_sampled,
        |  round(sum(s)::DOUBLE / count(*), 4) AS sample_frac
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vocab" ->
      """SELECT token, count(*) AS n_occurrences
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    "q_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok,
        |    CASE WHEN tok <= 128 THEN 1
        |         ELSE ceil((tok - 128) / 112.0)::BIGINT + 1 END AS n_chunks
        |  FROM d),
        |u AS (
        |  SELECT doc_id, tok,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  chunk_idx * 112 AS start_tok,
        |  least(chunk_idx * 112 + 128, tok) AS end_tok
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tok,
        |    CASE WHEN tok <= 32 THEN 32 WHEN tok <= 64 THEN 64
        |         WHEN tok <= 128 THEN 128 WHEN tok <= 256 THEN 256
        |         WHEN tok <= 512 THEN 512 ELSE 1024 END AS bucket_w
        |  FROM t),
        |r AS (
        |  SELECT doc_id, tok, bucket_w,
        |    row_number() OVER (PARTITION BY bucket_w
        |      ORDER BY md5('42|' || doc_id::VARCHAR), doc_id) - 1 AS p
        |  FROM b)
        |SELECT doc_id, tok, bucket_w,
        |  p // (1024 // bucket_w) AS batch_idx,
        |  p % (1024 // bucket_w) AS slot
        |FROM r ORDER BY bucket_w, batch_idx, slot""".stripMargin,
    "q_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tt GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tt GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * (n.n_docs / df.df), 4) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * (n.n_docs / df.df), 4) DESC, tf.term) AS rk
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, tf, df, score, rk FROM s
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_quality_quantile" ->
      """WITH m AS (
        |  SELECT lang,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS alpha_ratio,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS space_ratio,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |q AS (
        |  SELECT lang,
        |    CAST(round(round(least(1.0, alpha_ratio * 0.6 + space_ratio * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4)
        |      * 10000) AS BIGINT) AS qs
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |  round(quantile_cont(qs, 0.5), 4) AS p50_q4,
        |  round(quantile_cont(qs, 0.9), 4) AS p90_q4
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_buckets" ->
      """WITH m AS (
        |  SELECT lang,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS alpha_ratio,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS space_ratio,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |q AS (
        |  SELECT lang,
        |    CAST(round(round(least(1.0, alpha_ratio * 0.6 + space_ratio * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4)
        |      * 10000) AS BIGINT) AS qs
        |  FROM m),
        |b AS (
        |  SELECT lang,
        |    [round(quantile_cont(qs, 0.1), 4), round(quantile_cont(qs, 0.2), 4),
        |     round(quantile_cont(qs, 0.3), 4), round(quantile_cont(qs, 0.4), 4),
        |     round(quantile_cont(qs, 0.5), 4), round(quantile_cont(qs, 0.6), 4),
        |     round(quantile_cont(qs, 0.7), 4), round(quantile_cont(qs, 0.8), 4),
        |     round(quantile_cont(qs, 0.9), 4)] AS bs
        |  FROM q GROUP BY 1),
        |a AS (
        |  SELECT q.lang, q.qs,
        |    (1 + len(list_filter(b.bs, x -> q.qs > x)))::BIGINT AS bucket
        |  FROM q JOIN b USING (lang))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  min(qs) AS min_q4, max(qs) AS max_q4
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_lm_bigram" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
        |  FROM w WHERE len(w) >= 2),
        |bb AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS prev FROM b),
        |cb AS (SELECT bigram, count(*)::BIGINT AS c_bigram FROM bb GROUP BY 1),
        |cs AS (SELECT prev, count(*)::BIGINT AS c_start FROM bb GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(avg(c_bigram::DOUBLE / c_start), 4) AS avg_bigram_prob
        |FROM bb JOIN cb USING (bigram) JOIN cs USING (prev)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Full KN replay: DuckDB retrains the trigram model on the same
    // md5-fold train slice and mirrors the probability chain SHAPE
    // for shape (every count ::DOUBLE before arithmetic — BIGINT -
    // DECIMAL would compute in decimal, not IEEE; ln+floor-once to
    // micro-nats per term, integer sums; `//` on the nonneg total).
    "q_perplexity_kn" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 5 AS fold,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |tri AS MATERIALIZED (
        |  SELECT doc_id, fold,
        |    unnest(w[1:len(w)-2]) AS u,
        |    unnest(w[2:len(w)-1]) AS v,
        |    unnest(w[3:len(w)]) AS w3
        |  FROM tok WHERE len(w) >= 3),
        |g3 AS MATERIALIZED (
        |  SELECT u, v, w3, count(*)::BIGINT AS c3 FROM tri
        |  WHERE fold <> 0 GROUP BY 1, 2, 3),
        |ctx2 AS MATERIALIZED (
        |  SELECT u, v, sum(c3)::BIGINT AS c2tot, count(*)::BIGINT AS n1p_uv
        |  FROM g3 GROUP BY 1, 2),
        |mid AS MATERIALIZED (
        |  SELECT v, w3, count(*)::BIGINT AS n1p_vw FROM g3 GROUP BY 1, 2),
        |ctxv AS MATERIALIZED (
        |  SELECT v, sum(n1p_vw)::BIGINT AS n1p_dvd,
        |    count(*)::BIGINT AS n1p_vc
        |  FROM mid GROUP BY 1),
        |uni AS MATERIALIZED (
        |  SELECT w3, count(*)::BIGINT AS n1p_dw FROM mid GROUP BY 1),
        |tot AS (
        |  SELECT sum(n1p_dw)::BIGINT AS t_types, count(*)::BIGINT AS v_size
        |  FROM uni),
        |j AS (
        |  SELECT t.doc_id, t.fold, g3.c3, ctx2.c2tot, ctx2.n1p_uv,
        |    mid.n1p_vw, ctxv.n1p_dvd, ctxv.n1p_vc, uni.n1p_dw,
        |    tot.t_types, tot.v_size
        |  FROM tri t
        |  LEFT JOIN g3 ON t.u = g3.u AND t.v = g3.v AND t.w3 = g3.w3
        |  LEFT JOIN ctx2 ON t.u = ctx2.u AND t.v = ctx2.v
        |  LEFT JOIN mid ON t.v = mid.v AND t.w3 = mid.w3
        |  LEFT JOIN ctxv ON t.v = ctxv.v
        |  LEFT JOIN uni ON t.w3 = uni.w3
        |  CROSS JOIN tot),
        |s1 AS (SELECT *,
        |  (coalesce(n1p_dw, 0)::DOUBLE + 1.0) /
        |    (t_types::DOUBLE + v_size::DOUBLE + 1.0) AS p1 FROM j),
        |s2 AS (SELECT *,
        |  CASE WHEN n1p_dvd IS NOT NULL THEN
        |    greatest(coalesce(n1p_vw, 0)::DOUBLE - 0.75, 0.0)
        |      / n1p_dvd::DOUBLE
        |    + 0.75 * n1p_vc::DOUBLE / n1p_dvd::DOUBLE * p1
        |  ELSE p1 END AS p2 FROM s1),
        |s3 AS (SELECT *,
        |  CASE WHEN c2tot IS NOT NULL THEN
        |    greatest(coalesce(c3, 0)::DOUBLE - 0.75, 0.0)
        |      / c2tot::DOUBLE
        |    + 0.75 * n1p_uv::DOUBLE / c2tot::DOUBLE * p2
        |  ELSE p2 END AS p3 FROM s2),
        |t2 AS (SELECT doc_id, fold,
        |  floor(ln(p3) * 1000000.0)::BIGINT AS nat_u FROM s3)
        |SELECT doc_id, fold, count(*)::BIGINT AS n_trigrams,
        |  (-sum(nat_u))::BIGINT AS nll_micro,
        |  ((-sum(nat_u)) // count(*))::BIGINT AS ppl_micro
        |FROM t2 GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT token AS item, count(*) AS est_count, 0::BIGINT AS max_err
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""".stripMargin,
    "q_heavy_hitters_grouped" ->
      """WITH t AS (
        |  SELECT lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS token
        |  FROM documents),
        |c AS (
        |  SELECT lang, token, count(*) AS est_count FROM t
        |  WHERE token <> '' GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, token AS item, est_count, 0::BIGINT AS max_err,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY est_count DESC, token) AS rk
        |  FROM c)
        |SELECT lang, item, est_count, max_err, rk FROM r
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "q_dedup_exact" ->
      """WITH planted AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT '  ' || text || ' ' AS text FROM documents WHERE doc_id % 10 = 0),
        |groups AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        |         count(*) AS n_copies
        |  FROM planted GROUP BY 1)
        |SELECT count(*) AS n_groups,
        |  sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
        |  sum(n_copies - 1)::BIGINT AS n_redundant_docs
        |FROM groups""".stripMargin,
    "q_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, len(t)::BIGINT AS n_tokens, t FROM toks),
        |grams AS (
        |  SELECT doc_id, p::BIGINT AS pos,
        |    substring(md5(array_to_string(t[p+1:p+8], ' ')), 1, 13) AS g
        |  FROM base, UNNEST(range(0, n_tokens - 7)) AS u(p)
        |  WHERE n_tokens >= 8),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
        |gaps AS (
        |  SELECT doc_id,
        |    least(8, pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - 8)) AS cov_add
        |  FROM hits),
        |cov AS (
        |  SELECT doc_id, sum(cov_add)::BIGINT AS dup_tokens
        |  FROM gaps GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
        |  (coalesce(c.dup_tokens, 0) * 10000 // b.n_tokens)::BIGINT AS dup_bp
        |FROM base b LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_span_dedup_incr" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 500000 AS doc_id, text FROM corpus WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id,
        |    array_to_string(t[1:(len(t)//2)], ' ')
        |      || ' zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8' AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t
        |        FROM corpus WHERE doc_id % 7 = 1)),
        |btoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
        |bgrams AS (
        |  SELECT doc_id, p::BIGINT AS pos,
        |    substring(md5(array_to_string(t[p+1:p+8], ' ')), 1, 13) AS g
        |  FROM btoks, UNNEST(range(0, len(t) - 7)) AS u(p)
        |  WHERE len(t) >= 8),
        |cgrams AS (
        |  SELECT DISTINCT substring(md5(array_to_string(t[p+1:p+8], ' ')), 1, 13) AS g
        |  FROM (SELECT string_split(text, ' ') AS t FROM corpus) src,
        |    UNNEST(range(0, len(t) - 7)) AS u(p)
        |  WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM bgrams WHERE g IN (SELECT g FROM cgrams)),
        |gaps AS (
        |  SELECT doc_id,
        |    least(8, pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - 8)) AS cov_add
        |  FROM hits),
        |cov AS (SELECT doc_id, sum(cov_add)::BIGINT AS dup_tokens FROM gaps GROUP BY doc_id)
        |SELECT b.doc_id, len(string_split(b.text, ' '))::BIGINT AS n_tokens,
        |  coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
        |  (coalesce(c.dup_tokens, 0) * 10000 // len(string_split(b.text, ' ')))::BIGINT AS dup_bp
        |FROM batch b LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_boilerplate_grams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    substring(md5(array_to_string(t[p+1:p+8], ' ')), 1, 13) AS g
        |  FROM toks, UNNEST(range(0, len(t) - 7)) AS u(p)
        |  WHERE len(t) >= 8),
        |pd AS (SELECT g, doc_id, count(*) AS c FROM grams GROUP BY 1, 2),
        |agg AS (
        |  SELECT g, sum(c)::BIGINT AS n_occ, count(*)::BIGINT AS n_docs
        |  FROM pd GROUP BY g)
        |SELECT g, n_occ, n_docs FROM agg WHERE n_occ >= 2
        |ORDER BY n_occ DESC, n_docs DESC, g LIMIT 20""".stripMargin,
    "q_novelty_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    substring(md5(array_to_string(t[p+1:p+8], ' ')), 1, 13) AS g
        |  FROM toks, UNNEST(range(0, len(t) - 7)) AS u(p)
        |  WHERE len(t) >= 8),
        |fd AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
        |per AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams,
        |    sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::BIGINT AS n_novel
        |  FROM grams JOIN fd USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(p.n_novel, 0)::BIGINT AS n_novel,
        |  (CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0
        |        ELSE coalesce(p.n_novel, 0) * 10000 // p.n_grams END)::BIGINT AS novel_bp
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_rendezvous_shard" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    arg_max(CASE WHEN j < 8 THEN j END,
        |      CASE WHEN j < 8 THEN md5(j::VARCHAR || '|' || doc_id::VARCHAR) END) AS s8,
        |    arg_max(j, md5(j::VARCHAR || '|' || doc_id::VARCHAR)) AS s9
        |  FROM documents, UNNEST(range(0, 9)) AS t(j)
        |  GROUP BY doc_id)
        |SELECT s9::BIGINT AS shard_id, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)::BIGINT AS moved_in
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_priority" ->
      """WITH planted AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, 'src99' AS source
        |  FROM documents WHERE doc_id % 10 = 0),
        |h AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        |    CAST(substr(source, 4) AS BIGINT) AS prio, doc_id
        |  FROM planted),
        |g AS (
        |  SELECT text_hash, min(prio * 1000000 + doc_id) AS packed,
        |    count(*)::BIGINT AS n_copies,
        |    count(DISTINCT prio)::BIGINT AS n_sources
        |  FROM h GROUP BY 1)
        |SELECT (packed % 1000000)::BIGINT AS canonical_id,
        |  (packed // 1000000)::BIGINT AS canonical_prio, n_copies, n_sources
        |FROM g WHERE n_copies > 1 ORDER BY canonical_id""".stripMargin,
    "q_dup_spans" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM planted),
        |wins AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(w) < 10 THEN [array_to_string(w, ' ')]
        |      ELSE [array_to_string(w[i:i+9], ' ')
        |            for i in range(1, len(w) - 8)] END) AS win
        |  FROM w),
        |c AS (SELECT win, count(*)::BIGINT AS c FROM wins GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_windows,
        |  sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
        |  round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
        |    AS dup_frac
        |FROM wins JOIN c USING (win)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_dup_span_trim" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM planted),
        |wins AS (
        |  SELECT doc_id, len(w) AS n_tok, unnest(
        |    CASE WHEN len(w) < 10 THEN [1]
        |         ELSE range(1, len(w) - 8) END) AS i, w
        |  FROM w),
        |wins2 AS (
        |  SELECT doc_id, n_tok, i - 1 AS pos,
        |    CASE WHEN n_tok < 10 THEN array_to_string(w, ' ')
        |         ELSE array_to_string(w[i:i+9], ' ') END AS win
        |  FROM wins),
        |c AS (
        |  SELECT win, count(*)::BIGINT AS c,
        |    min(doc_id * 1000000000 + pos) AS first_pk
        |  FROM wins2 GROUP BY 1),
        |dup AS (
        |  SELECT w2.doc_id, w2.pos, w2.n_tok
        |  FROM wins2 w2 JOIN c USING (win)
        |  WHERE c.c > 1 AND w2.doc_id * 1000000000 + w2.pos <> c.first_pk),
        |cov AS (
        |  SELECT DISTINCT doc_id, cpos FROM (
        |    SELECT doc_id, unnest(range(pos, least(pos + 10, n_tok))) AS cpos
        |    FROM dup)),
        |drops AS (SELECT doc_id, count(*)::BIGINT AS n_dropped
        |          FROM cov GROUP BY 1)
        |SELECT t.doc_id, len(t.w)::BIGINT AS n_tok,
        |  coalesce(d.n_dropped, 0)::BIGINT AS n_dropped,
        |  (len(t.w) - coalesce(d.n_dropped, 0))::BIGINT AS n_kept,
        |  round(coalesce(d.n_dropped, 0)::DOUBLE / len(t.w), 4) AS drop_frac
        |FROM w t LEFT JOIN drops d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |            for i in range(1, len(w) - 3)] END) AS ws
        |  FROM w),
        |bench AS (SELECT DISTINCT unnest(ws) AS shingle FROM sh WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, unnest(ws) AS shingle FROM sh)
        |SELECT doc_id, count(*)::BIGINT AS n_shared
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_mmr_rerank" -> mmrSql(k = 10, poolSize = 128),
    "q_doc_clusters_grid" -> gridKmeansSql(c = 8, iters = 3, maxTrain = 256),
    // Retrain the grid index, then replay the per-cluster md5 exact-k
    // (13-hex numeric order == string order, but the Spark side ranks
    // the NUMERIC draw through TopK — mirror it as ::BIGINT::DOUBLE).
    "q_cluster_sample" ->
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |      x -> floor(x*1000000.0)::BIGINT) AS qv
         |  FROM embeddings),
         |${gridKmeansChain(c = 8, iters = 3, maxTrain = 256)},
         |u AS (
         |  SELECT cid, vec_id,
         |    ('0x' || substr(md5(vec_id::VARCHAR), 1, 13))::BIGINT::DOUBLE
         |      AS draw
         |  FROM asgn),
         |r AS (
         |  SELECT cid, vec_id,
         |    row_number() OVER (PARTITION BY cid ORDER BY draw, vec_id)::INT
         |      AS rk
         |  FROM u)
         |SELECT cid AS centroid_id, vec_id, rk FROM r WHERE rk <= 10
         |ORDER BY centroid_id, rk""".stripMargin,
    // Replay the Laplace mechanism: same md5 uniform, same inverse-CDF
    // double chain (decimal literals are exactly representable so the
    // DECIMAL*DOUBLE promotions stay exact), floor-once to micro.
    "q_dp_release" ->
      """WITH g AS (
        |  SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1, 2),
        |d AS (
        |  SELECT lang, source, n,
        |    greatest(('0x' || substr(md5('dp|' || coalesce(lang, '<null>')
        |        || '|' || coalesce(source, '<null>')),
        |        1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM g),
        |m AS (
        |  SELECT lang, source,
        |    n * 1000000 + floor(-1.0 * sign(u - 0.5)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000.0)::BIGINT
        |      AS noisy_micro
        |  FROM d)
        |SELECT lang, source, noisy_micro
        |FROM m WHERE noisy_micro >= 5000000
        |ORDER BY lang, source""".stripMargin,
    // Clipped-sum mechanism replay: clamp, sum, Laplace(clip/eps)
    // from the 'sum:tok'-tagged uniform (never the count's draw).
    "q_dp_sum" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT
        |      AS tok
        |  FROM documents),
        |g AS (
        |  SELECT lang, sum(least(greatest(tok, 0), 64))::BIGINT AS s
        |  FROM d GROUP BY 1),
        |n AS (
        |  SELECT lang, s,
        |    greatest(('0x' || substr(md5('dp|sum:tok|'
        |        || coalesce(lang, '<null>')), 1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM g)
        |SELECT lang,
        |  s * 1000000 + floor(-64.0 * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000.0)::BIGINT
        |    AS noisy_sum_micro
        |FROM n ORDER BY lang""".stripMargin,
    // Gumbel top-k replay: same tagged uniform, the -ln(-ln u) chain
    // floored once to micro; rank over (score desc, token).
    "q_dp_topk" ->
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |c AS (
        |  SELECT token, count(*)::BIGINT AS c FROM t
        |  WHERE token <> '' GROUP BY 1),
        |n AS (
        |  SELECT token, c,
        |    greatest(('0x' || substr(md5('dp|topk|' || token),
        |        1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM c),
        |s AS (
        |  SELECT token,
        |    floor((c::DOUBLE * (0.5::DOUBLE / 20.0::DOUBLE)
        |      - ln(-ln(u))) * 1000000.0)::BIGINT AS s_micro
        |  FROM n),
        |r AS (
        |  SELECT row_number() OVER (ORDER BY s_micro DESC, token)::BIGINT
        |    AS rk, token
        |  FROM s)
        |SELECT rk, token FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // Composed card replay: all three mechanisms from their own tagged
    // domains (dp| / dp|sum:tok| / dp|topk|), counts thresholded and
    // dropped, sums clipped at 64 (scale -128 = clip/eps) and
    // restricted to the count-survivor key set (a sum on a suppressed
    // key would reveal count >= 1), top-k at eps/2k = 0.25/10 per
    // draw, NULL value for released ranks.
    "q_dp_card" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT
        |      AS tok
        |  FROM documents),
        |cg AS (SELECT lang, count(*)::BIGINT AS n FROM d GROUP BY 1),
        |cn AS (
        |  SELECT lang, n,
        |    greatest(('0x' || substr(md5('dp|' || coalesce(lang, '<null>')),
        |        1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM cg),
        |cm AS (
        |  SELECT 'count' AS section, coalesce(lang, '<null>') AS key,
        |    0::BIGINT AS rk,
        |    n * 1000000 + floor(-2.0 * sign(u - 0.5)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000.0)::BIGINT
        |      AS value_micro
        |  FROM cn),
        |cr AS (SELECT * FROM cm WHERE value_micro >= 3000000),
        |sg AS (
        |  SELECT lang, sum(least(greatest(tok, 0), 64))::BIGINT AS s
        |  FROM d GROUP BY 1),
        |sn AS (
        |  SELECT lang, s,
        |    greatest(('0x' || substr(md5('dp|sum:tok|'
        |        || coalesce(lang, '<null>')), 1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM sg),
        |sm AS (
        |  SELECT 'sum_tok' AS section, coalesce(lang, '<null>') AS key,
        |    0::BIGINT AS rk,
        |    s * 1000000 + floor(-128.0 * sign(u - 0.5)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000.0)::BIGINT
        |      AS value_micro
        |  FROM sn
        |  WHERE coalesce(lang, '<null>') IN (SELECT key FROM cr)),
        |t AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS token
        |  FROM documents),
        |tc AS (SELECT token, count(*)::BIGINT AS c FROM t
        |  WHERE token <> '' GROUP BY 1),
        |tn AS (
        |  SELECT token, c,
        |    greatest(('0x' || substr(md5('dp|topk|' || token),
        |        1, 13))::BIGINT::DOUBLE, 1.0)
        |      / 4503599627370496.0 AS u
        |  FROM tc),
        |ts AS (
        |  SELECT token,
        |    floor((c::DOUBLE * (0.25::DOUBLE / 10.0::DOUBLE) - ln(-ln(u)))
        |      * 1000000.0)::BIGINT AS s_micro
        |  FROM tn),
        |tr AS (
        |  SELECT row_number() OVER (ORDER BY s_micro DESC, token)::BIGINT
        |    AS rk, token
        |  FROM ts),
        |tm AS (
        |  SELECT 'top_token' AS section, token AS key, rk,
        |    NULL::BIGINT AS value_micro
        |  FROM tr WHERE rk <= 10),
        |card AS (
        |  SELECT * FROM cr UNION ALL SELECT * FROM sm
        |  UNION ALL SELECT * FROM tm)
        |SELECT section, key, rk, value_micro FROM card
        |ORDER BY section, rk, key""".stripMargin,
    "q_semantic_dedup_grid" -> semanticDedupGridSql(c = 8, iters = 3,
      maxTrain = 256, threshold = "0.999"),
    "q_coreset_grid" -> coresetGridSql(k = 5, maxTrain = 64),
    "q_pca_power" -> pcaPowerSql(dBlock = 16, iters = 8),
    "q_hits" -> hitsSql(iters = 4),
    "q_ann_ivf_grid" -> annIvfGridSql(c = 8, iters = 3, maxTrain = 256,
      nprobe = 2, k = 10),
    "q_ann_pq_grid" -> annPqGridSql(m = 8, ksub = 16, iters = 2,
      maxTrain = 256, k = 10),
    "q_ann_ivfpq_grid" -> annIvfPqGridSql(c = 8, ivfIters = 3, m = 8,
      ksub = 16, pqIters = 2, maxTrain = 256, nprobe = 2, k = 10,
      overfetch = 4),
    "q_multimodal_features" -> multimodalSql(maxBytes = 4096),
    // Exact overlap semantics replayed directly from per-source
    // distinct token sets (the oracle need not mirror the mask trick,
    // only the semantics); pairs identify by smaller source INDEX.
    "q_source_overlap_exact" ->
      """WITH raw AS (
        |  SELECT CAST(substring(source, 4) AS INT) AS si,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT DISTINCT si, token FROM raw WHERE token <> ''),
        |p AS (
        |  SELECT a.si AS ai, b.si AS bi, count(*)::BIGINT AS n_shared
        |  FROM tt a JOIN tt b ON a.token = b.token AND a.si < b.si
        |  GROUP BY 1, 2),
        |tot AS (SELECT si, count(*)::BIGINT AS n FROM tt GROUP BY 1)
        |SELECT 'src' || ai AS source_a, 'src' || bi AS source_b,
        |  ta.n AS n_a, tb.n AS n_b, n_shared,
        |  (n_shared * 10000 // (ta.n + tb.n - n_shared))::BIGINT AS jaccard_bp
        |FROM p JOIN tot ta ON p.ai = ta.si JOIN tot tb ON p.bi = tb.si
        |ORDER BY 1, 2""".stripMargin,
    // Full DSIR replay: the oracle RETRAINS the model (bucket counts,
    // smoothed micro-nat weights) from the same corpus with the same
    // expression shape, then replays scoring and the Gumbel top-50.
    // ln is the only shared float risk (same class as q_vocab_drift);
    // everything else is exact integers or identically-rounded IEEE.
    "q_dsir" ->
      """WITH raw AS (
        |  SELECT doc_id, text, (doc_id < 25) AS is_t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text, FALSE FROM documents
        |  WHERE doc_id IN (3, 7, 11)),
        |tok AS (
        |  SELECT doc_id, is_t,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM raw),
        |feat AS (
        |  SELECT doc_id, is_t,
        |    ('0x' || substring(md5(t), 1, 13))::BIGINT % 4096 AS f
        |  FROM (
        |    SELECT doc_id, is_t,
        |      unnest(w || [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS t
        |    FROM tok) u),
        |rc AS (SELECT f, count(*)::BIGINT AS c FROM feat GROUP BY 1),
        |tc AS (SELECT f, count(*)::BIGINT AS c FROM feat WHERE is_t GROUP BY 1),
        |nt AS (SELECT count(*)::DOUBLE + 1.0 AS v FROM feat WHERE is_t),
        |nr AS (SELECT count(*)::DOUBLE + 1.0 AS v FROM feat),
        |wt AS (
        |  SELECT rc.f,
        |    CAST(floor((ln((COALESCE(tc.c, 0)::DOUBLE + 0.000244140625::DOUBLE) / nt.v)
        |              - ln((rc.c::DOUBLE + 0.000244140625::DOUBLE) / nr.v))
        |         * 1e6 + 0.5) AS BIGINT) AS wt
        |  FROM rc LEFT JOIN tc USING (f), nt, nr),
        |sc AS (
        |  SELECT feat.doc_id, count(*)::BIGINT AS n_feats,
        |    sum(wt.wt)::BIGINT AS score_micronats
        |  FROM feat JOIN wt USING (f)
        |  GROUP BY 1),
        |sel AS (
        |  SELECT doc_id, n_feats, score_micronats
        |  FROM sc
        |  ORDER BY score_micronats::DOUBLE / 1e6 + (- ln(- ln(
        |    (('0x' || substring(md5('graft-r4:' || doc_id::VARCHAR), 1, 13))::BIGINT::DOUBLE
        |     + 0.5) / 4503599627370496.0::DOUBLE))) DESC
        |  LIMIT 50)
        |SELECT doc_id, n_feats, score_micronats FROM sel ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """SELECT source, count(*) AS n_kept, sum(n_chars)::BIGINT AS chars_kept
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT::DOUBLE
        |      < n_chars::DOUBLE / 1200 * 4503599627370496.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |    ELSE [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]
        |    END AS grams
        |  FROM t),
        |h AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(x), 1, 13))::BIGINT for x in grams] AS h
        |  FROM g),
        |sel AS (
        |  SELECT doc_id, h, list_distinct([
        |    (p + list_position(h[p+1:p+least(4, len(h))],
        |                       list_min(h[p+1:p+least(4, len(h))])))::INT
        |    for p in range(0, greatest(len(h) - 4, 0) + 1)]) AS sel
        |  FROM h)
        |SELECT doc_id, len(sel)::BIGINT AS n_fp,
        |  list_sum([h[s] for s in sel])::BIGINT AS fp_sum
        |FROM sel ORDER BY doc_id""".stripMargin,
    "q_dataset_card" ->
      """WITH c AS (
        |  SELECT 'lang' AS dim, lang AS key, count(*) AS n_docs,
        |    sum(n_chars)::BIGINT AS chars_total,
        |    (quantile_cont(n_chars, 0.5) * 2)::BIGINT AS med_chars_x2
        |  FROM documents GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'source', source, count(*), sum(n_chars)::BIGINT,
        |    (quantile_cont(n_chars, 0.5) * 2)::BIGINT
        |  FROM documents GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'ALL', 'ALL', count(*), sum(n_chars)::BIGINT,
        |    (quantile_cont(n_chars, 0.5) * 2)::BIGINT
        |  FROM documents)
        |SELECT * FROM c ORDER BY dim, key""".stripMargin,
    "q_temperature_mix" ->
      """WITH d AS (
        |  SELECT source, count(*) AS n_docs,
        |    floor(sqrt(count(*)) * 100)::BIGINT AS w
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(w)::BIGINT AS w_tot FROM d)
        |SELECT source, n_docs, (w * 10000) // w_tot AS weight_bp
        |FROM d, t ORDER BY source""".stripMargin,
    "q_group_sample" ->
      """WITH u AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT::DOUBLE AS draw
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY draw, doc_id)::INT AS rk
        |  FROM u)
        |SELECT source, doc_id, rk FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "q_pagerank" ->
      """WITH d AS (SELECT doc_id AS id FROM documents),
        |meta AS (SELECT count(*) AS n FROM d),
        |e AS (
        |  SELECT id AS src, (id*31+7) % n AS dst FROM d, meta
        |  UNION ALL
        |  SELECT id, (id*13+5) % n FROM d, meta),
        |deg AS (SELECT src, count(*)::DOUBLE AS outd FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0/n AS rank FROM d, meta),
        |r1 AS (
        |  SELECT d.id, (1-0.85)/m.n + 0.85*coalesce(sum(r0.rank/deg.outd), 0) AS rank
        |  FROM d CROSS JOIN meta m
        |  LEFT JOIN e ON e.dst = d.id
        |  LEFT JOIN r0 ON r0.id = e.src
        |  LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY d.id, m.n),
        |r2 AS (
        |  SELECT d.id, (1-0.85)/m.n + 0.85*coalesce(sum(r1.rank/deg.outd), 0) AS rank
        |  FROM d CROSS JOIN meta m
        |  LEFT JOIN e ON e.dst = d.id
        |  LEFT JOIN r1 ON r1.id = e.src
        |  LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY d.id, m.n),
        |r3 AS (
        |  SELECT d.id, (1-0.85)/m.n + 0.85*coalesce(sum(r2.rank/deg.outd), 0) AS rank
        |  FROM d CROSS JOIN meta m
        |  LEFT JOIN e ON e.dst = d.id
        |  LEFT JOIN r2 ON r2.id = e.src
        |  LEFT JOIN deg ON deg.src = e.src
        |  GROUP BY d.id, m.n)
        |SELECT id, round(rank * n, 6) AS norm_rank
        |FROM r3, meta ORDER BY id""".stripMargin,
    "q_budget_sample" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS toks,
        |    md5('7|' || doc_id::VARCHAR) AS k
        |  FROM documents),
        |c AS (
        |  SELECT source, toks,
        |    sum(toks) OVER (PARTITION BY source ORDER BY k, doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, count(*) AS n_kept, sum(toks)::BIGINT AS tokens_kept
        |FROM c WHERE cum <= 1000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_contamination_frac" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |            for i in range(1, len(w) - 3)] END) AS ws
        |  FROM w),
        |bench AS (SELECT DISTINCT unnest(ws) AS shingle FROM sh WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, unnest(ws) AS shingle FROM sh)
        |SELECT c.doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_shared,
        |  (sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    * 10000) // count(*)::BIGINT AS overlap_bp
        |FROM corpus c LEFT JOIN bench b USING (shingle)
        |GROUP BY 1 ORDER BY c.doc_id""".stripMargin,
    "q_domain_stats" ->
      """WITH planted AS (
        |  SELECT doc_id, n_chars,
        |    text || ' see https://site' || (doc_id % 7)
        |         || '.example.com/d/' || doc_id AS text
        |  FROM documents)
        |SELECT regexp_extract(text, 'https?://([^/\s]+)', 1) AS domain,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM planted GROUP BY 1 ORDER BY 1""".stripMargin,
    // Bloom prefilter + exact confirm ≡ exact overlap, so the oracle
    // is the same SQL as q_decontaminate.
    "q_decontaminate_bloom" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |            for i in range(1, len(w) - 3)] END) AS ws
        |  FROM w),
        |bench AS (SELECT DISTINCT unnest(ws) AS shingle FROM sh WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, unnest(ws) AS shingle FROM sh)
        |SELECT doc_id, count(*)::BIGINT AS n_shared
        |FROM corpus JOIN bench USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |nb AS (
        |  SELECT doc_id + 500000 AS doc_id, ' ' || text AS text
        |  FROM corpus WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id, text || ' NEW CONTENT APPENDED' AS text
        |  FROM corpus WHERE doc_id % 7 = 1),
        |ch AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM corpus),
        |sv AS (
        |  SELECT nb.* FROM nb
        |  WHERE md5(regexp_replace(lower(trim(nb.text)), '\s+', ' ', 'g'))
        |    NOT IN (SELECT h FROM ch))
        |SELECT count(*) AS n_new, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM sv""".stripMargin,
    "q_near_dup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM pairs
        |WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,
    "q_pref_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |tf AS (
        |  SELECT doc_id, t, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0 GROUP BY 1, 2),
        |qs AS (
        |  SELECT doc_id, (count(*) * 10000 // sum(c))::BIGINT AS qs
        |  FROM tf GROUP BY 1)
        |SELECT
        |  CASE WHEN qa.qs > qb.qs THEN doc_a ELSE doc_b END AS chosen,
        |  CASE WHEN qa.qs > qb.qs THEN doc_b ELSE doc_a END AS rejected,
        |  abs(qa.qs - qb.qs)::BIGINT AS margin_bp
        |FROM pairs
        |JOIN qs qa ON doc_a = qa.doc_id
        |JOIN qs qb ON doc_b = qb.doc_id
        |WHERE jaccard >= 0.3 AND qa.qs <> qb.qs
        |ORDER BY chosen, rejected""".stripMargin,
    "q_dedup_normalization" ->
      """WITH lv AS (
        |  SELECT 0 AS level, text AS norm FROM documents
        |  UNION ALL SELECT 1, nfc_normalize(text) FROM documents
        |  UNION ALL SELECT 2, lower(nfc_normalize(text)) FROM documents
        |  UNION ALL SELECT 3,
        |    trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |  FROM documents),
        |g AS (SELECT level, norm, count(*)::BIGINT AS c
        |  FROM lv GROUP BY 1, 2)
        |SELECT level, sum(c)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_distinct,
        |  (sum(c) - count(*))::BIGINT AS n_dup_docs
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dup_rate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |dup AS (
        |  SELECT da.source AS source, count(*) AS n_dup_pairs
        |  FROM pairs p
        |  JOIN documents da ON p.doc_a = da.doc_id
        |  JOIN documents db ON p.doc_b = db.doc_id
        |  WHERE p.jaccard >= 0.3 AND da.source = db.source
        |  GROUP BY 1),
        |cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT c.source, c.n_docs,
        |  coalesce(d.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
        |  ((coalesce(d.n_dup_pairs, 0) * 10000)
        |    // greatest(c.n_docs * (c.n_docs - 1) // 2, 1))::BIGINT
        |    AS dup_rate_bp
        |FROM cnt c LEFT JOIN dup d USING (source)
        |ORDER BY c.source""".stripMargin,
    "q_near_dup_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM pairs
        |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,
    "q_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS contained, b.doc_id AS container,
        |    len(list_intersect(a.ws, b.ws))::BIGINT * 10000 // len(a.ws) AS bp
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT contained, container, bp FROM pairs
        |WHERE bp >= 4000 ORDER BY contained, container""".stripMargin,
    "q_source_quota" ->
      """WITH m AS (
        |  SELECT source, doc_id,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS alpha_ratio,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS space_ratio,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |qq AS (
        |  SELECT source, doc_id,
        |    round(least(1.0, alpha_ratio * 0.6 + space_ratio * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4) AS q
        |  FROM m),
        |r AS (
        |  SELECT source, doc_id, q,
        |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk
        |  FROM qq)
        |SELECT source, q, doc_id, rk FROM r WHERE rk <= 2
        |ORDER BY source, rk""".stripMargin,
    "q_dedup_groups" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |e AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.3),
        |nodes AS (SELECT doc_a AS id FROM e UNION SELECT doc_b FROM e),
        |reach AS (
        |  WITH RECURSIVE r(a, b) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.a, CASE WHEN e.doc_a = r.b THEN e.doc_b ELSE e.doc_a END
        |    FROM r JOIN e ON e.doc_a = r.b OR e.doc_b = r.b)
        |  SELECT * FROM r),
        |comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*)::BIGINT AS n_members
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,
    // md5-HLL overlap replay: per-source registers, pairwise
    // union-by-max, floor-once estimates, inclusion-exclusion.
    "q_source_overlap_twin" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
         |      AS token
         |  FROM documents),
         |hh AS (
         |  SELECT source,
         |    ('0x' || substr(md5('hll|' || token), 1, 13))::BIGINT AS h
         |  FROM tok WHERE token <> ''),
         |r AS MATERIALIZED (
         |  SELECT source, h & 255 AS bucket,
         |    max(CASE WHEN (h >> 8) = 0 THEN 45
         |        ELSE 45 - length(bin(h >> 8)) END)::BIGINT AS m_rho
         |  FROM hh GROUP BY 1, 2),
         |sg AS (
         |  SELECT source,
         |    sum(1::BIGINT << CAST(50 - m_rho AS INT))::BIGINT AS tp,
         |    count(*)::BIGINT AS np
         |  FROM r GROUP BY 1),
         |se AS MATERIALIZED (
         |  SELECT source, $hllGridEstSql AS est FROM sg),
         |srcs AS (SELECT DISTINCT source FROM r),
         |prs AS (
         |  SELECT a.source AS g_a, b.source AS g_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |pr AS (
         |  SELECT p.g_a, p.g_b, r.bucket, max(r.m_rho) AS m_rho
         |  FROM (SELECT p0.g_a, p0.g_b, p0.g_a AS s FROM prs p0
         |        UNION ALL
         |        SELECT p0.g_a, p0.g_b, p0.g_b AS s FROM prs p0) p
         |  JOIN r ON r.source = p.s
         |  GROUP BY 1, 2, 3),
         |pg AS (
         |  SELECT g_a, g_b,
         |    sum(1::BIGINT << CAST(50 - m_rho AS INT))::BIGINT AS tp,
         |    count(*)::BIGINT AS np
         |  FROM pr GROUP BY 1, 2),
         |pe AS (SELECT g_a, g_b, $hllGridEstSql AS est_union FROM pg)
         |SELECT p.g_a, p.g_b, sa.est AS est_a, sb.est AS est_b,
         |  greatest(sa.est + sb.est - p.est_union, 0)::BIGINT AS est_inter
         |FROM pe p JOIN se sa ON sa.source = p.g_a
         |          JOIN se sb ON sb.source = p.g_b
         |ORDER BY g_a, g_b""".stripMargin,
    // Order-0 byte-entropy replay: hex → 2-char byte classes →
    // per-class counts → floor-once terms → integer sums → floor-div
    // basis points against the 8-bit raw rate.
    "q_compress_quality_twin" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(text::BLOB)::BIGINT AS n_bytes,
        |    unnest(regexp_split_to_array(
        |      regexp_replace(hex(text::BLOB), '(..)', '\1,', 'g'),
        |      ',')) AS byte2
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_bytes, byte2, count(*)::BIGINT AS k
        |  FROM b WHERE byte2 <> '' GROUP BY 1, 2, 3),
        |h AS (
        |  SELECT doc_id, n_bytes,
        |    sum(floor((k::DOUBLE / n_bytes::DOUBLE)
        |      * ln(n_bytes::DOUBLE / k::DOUBLE)
        |      * 1000000.0)::BIGINT)::BIGINT AS h_micro
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id, n_bytes, h_micro,
        |  (h_micro * 10000 // 5545177)::BIGINT AS bound_bp,
        |  CASE WHEN (h_micro * 10000 // 5545177) < 2000 THEN 'repetitive'
        |       WHEN (h_micro * 10000 // 5545177) > 9000 THEN 'noise'
        |       ELSE 'prose' END AS band
        |FROM h WHERE n_bytes > 0 ORDER BY doc_id""".stripMargin,
    // Integer-grid logreg replay: log-odds init + unrolled decayed-GD
    // layers, clamped floor-once sigmoid errors, corpus confusion.
    "q_logreg_grid" -> logregGridSql(buckets = 64, sampleN = 256,
      iters = 8),
    // md5 MinHash twin: the full LSH chain (signatures, band keys,
    // first-agreeing-band, Jaccard-bp verify) replayed by the shared
    // CTE builder.
    "q_dedup_minhash_twin" ->
      s"""WITH ${minhashMd5ChainSql(k = 16, bands = 4)}
         |SELECT doc_a, doc_b, j_bp FROM vp WHERE j_bp >= 3000
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Persisted-index admission replay: the same key chain, candidates
    // restricted to (index-side, drop-side) pairs by the md5 coin —
    // band keys are per-doc deterministic, so probing a persisted
    // index ≡ recomputing both sides from the base table.
    "q_dedup_admit" ->
      s"""WITH ${minhashMd5KeysSql(k = 16, bands = 4)},
         |side AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5('adm|' || doc_id::VARCHAR),
         |      1, 13))::BIGINT % 4 AS c
         |  FROM documents),
         |cand AS (
         |  SELECT x.doc_id AS doc_idx, y.doc_id AS doc_new
         |  FROM bnd x JOIN side sx ON x.doc_id = sx.doc_id AND sx.c <> 0
         |       JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
         |       JOIN side sy ON y.doc_id = sy.doc_id AND sy.c = 0
         |  WHERE len([bb for bb in generate_series(0, x.band - 1)
         |             if x.bkeys[bb + 1] = y.bkeys[bb + 1]]) = 0),
         |vp AS (
         |  SELECT doc_idx, doc_new,
         |    ((len(list_intersect(a.ws, b.ws))::BIGINT * 10000) //
         |      (len(a.ws) + len(b.ws)
         |        - len(list_intersect(a.ws, b.ws))))::BIGINT AS j_bp
         |  FROM cand JOIN sh a ON cand.doc_idx = a.doc_id
         |            JOIN sh b ON cand.doc_new = b.doc_id)
         |SELECT doc_idx, doc_new, j_bp FROM vp WHERE j_bp >= 3000
         |ORDER BY doc_idx, doc_new""".stripMargin,
    // Chained-index admission: band keys are per-doc, so the oracle
    // is the SAME flat replay — index side = all non-drop coins
    // whether they arrived at build or append time. The Spark side
    // probes the segment chain; a green row proves chain ≡ flat.
    "q_dedup_admit_incr" ->
      s"""WITH ${minhashMd5KeysSql(k = 16, bands = 4)},
         |side AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5('adm|' || doc_id::VARCHAR),
         |      1, 13))::BIGINT % 4 AS c
         |  FROM documents),
         |cand AS (
         |  SELECT x.doc_id AS doc_idx, y.doc_id AS doc_new
         |  FROM bnd x JOIN side sx ON x.doc_id = sx.doc_id AND sx.c <> 0
         |       JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
         |       JOIN side sy ON y.doc_id = sy.doc_id AND sy.c = 0
         |  WHERE len([bb for bb in generate_series(0, x.band - 1)
         |             if x.bkeys[bb + 1] = y.bkeys[bb + 1]]) = 0),
         |vp AS (
         |  SELECT doc_idx, doc_new,
         |    ((len(list_intersect(a.ws, b.ws))::BIGINT * 10000) //
         |      (len(a.ws) + len(b.ws)
         |        - len(list_intersect(a.ws, b.ws))))::BIGINT AS j_bp
         |  FROM cand JOIN sh a ON cand.doc_idx = a.doc_id
         |            JOIN sh b ON cand.doc_new = b.doc_id)
         |SELECT doc_idx, doc_new, j_bp FROM vp WHERE j_bp >= 3000
         |ORDER BY doc_idx, doc_new""".stripMargin,
    // md5 MinHash twin pairs → recursive-CTE component closure (the
    // q_dedup_groups pattern) — the end-to-end LSH dedup-groups oracle.
    "q_dedup_groups_lsh_twin" ->
      s"""WITH ${minhashMd5ChainSql(k = 16, bands = 4)},
         |e AS (SELECT doc_a, doc_b FROM vp WHERE j_bp >= 3000),
         |nodes AS (SELECT doc_a AS id FROM e UNION SELECT doc_b FROM e),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT id, id FROM nodes
         |    UNION
         |    SELECT r.a, CASE WHEN e.doc_a = r.b THEN e.doc_b ELSE e.doc_a END
         |    FROM r JOIN e ON e.doc_a = r.b OR e.doc_b = r.b)
         |  SELECT * FROM r),
         |comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY 1)
         |SELECT component, count(*)::BIGINT AS n_members
         |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,
    // 52-bit md5 SimHash twin: token hashes, per-bit sums, signature
    // assembly, pigeonhole chunks, first-agreeing-chunk, hamming —
    // all replayed (1::BIGINT << b stays sign-safe at 52 bits).
    "q_dedup_simhash_twin" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |hv AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5('sh|' || t), 1, 13))::BIGINT AS hv
        |  FROM tok WHERE length(t) > 0),
        |bs AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM hv, range(52) t(b) GROUP BY 1, 2),
        |sg AS MATERIALIZED (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN s > 0 THEN 1::BIGINT << CAST(b AS INT)
        |           ELSE 0::BIGINT END) AS sig
        |  FROM bs GROUP BY 1),
        |bnd AS MATERIALIZED (
        |  SELECT doc_id, sig, c, (sig >> CAST(c * 13 AS INT)) & 8191 AS key
        |  FROM sg, range(4) t(c)),
        |cand AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.sig, y.sig))::BIGINT AS hamming
        |  FROM bnd x JOIN bnd y
        |    ON x.c = y.c AND x.key = y.key AND x.doc_id < y.doc_id
        |  WHERE len([cc for cc in generate_series(0, x.c - 1)
        |             if ((x.sig >> CAST(cc * 13 AS INT)) & 8191)
        |              = ((y.sig >> CAST(cc * 13 AS INT)) & 8191)]) = 0)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_vocab_richness" ->
      """WITH freq AS (
        |  SELECT t, count(*)::BIGINT AS f FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0 GROUP BY 1),
        |agg AS (
        |  SELECT sum(f)::BIGINT AS n_tokens, count(*)::BIGINT AS v_observed,
        |    sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
        |    sum(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS v2
        |  FROM freq)
        |SELECT n_tokens, v_observed, v1, v2,
        |  (v1 * 1000000 // n_tokens)::BIGINT AS gt_unseen_micro,
        |  (v_observed + CASE WHEN v2 > 0
        |     THEN (v1 * v1) // (2 * v2) ELSE 0 END)::BIGINT AS chao1_est
        |FROM agg""".stripMargin,
    "q_vocab_growth" ->
      """WITH tok AS (
        |  SELECT ('0x' || substring(md5('vg|' || doc_id::VARCHAR),
        |      1, 4))::BIGINT AS coin, t
        |  FROM (SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |tm AS (SELECT t, min(coin)::BIGINT AS mc FROM tok GROUP BY 1),
        |wide AS (
        |  SELECT
        |    sum(CASE WHEN mc < 8192 THEN 1 ELSE 0 END)::BIGINT AS v1,
        |    sum(CASE WHEN mc < 16384 THEN 1 ELSE 0 END)::BIGINT AS v2,
        |    sum(CASE WHEN mc < 32768 THEN 1 ELSE 0 END)::BIGINT AS v3,
        |    sum(CASE WHEN mc < 65536 THEN 1 ELSE 0 END)::BIGINT AS v4
        |  FROM tm)
        |SELECT 8192::BIGINT AS rate_64k, v1 AS n_distinct_tokens FROM wide
        |UNION ALL SELECT 16384, v2 FROM wide
        |UNION ALL SELECT 32768, v3 FROM wide
        |UNION ALL SELECT 65536, v4 FROM wide
        |ORDER BY rate_64k""".stripMargin,
    "q_systematic_sample" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY md5('17|' || o_orderkey::VARCHAR),
        |      o_orderkey) - 1 AS pos
        |  FROM orders),
        |s AS (SELECT * FROM r WHERE pos % 29 = 0)
        |SELECT count(*)::BIGINT AS n_sampled,
        |  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
        |  (sum(floor(o_totalprice * 100)::BIGINT) * 29)::BIGINT
        |    AS est_total_cents
        |FROM s""".stripMargin,
    "q_corpus_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5('42|' || doc_id::VARCHAR), doc_id)
        |      - 1 AS shuffle_pos
        |  FROM documents)
        |SELECT doc_id, shuffle_pos, shuffle_pos % 8 AS shard_id
        |FROM r ORDER BY shuffle_pos""".stripMargin,
    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i
        |      FROM e),
        |m AS (SELECT i, round(avg(x), 6) AS mx FROM u GROUP BY 1),
        |mean AS (SELECT list(mx ORDER BY i) AS mv FROM m)
        |SELECT vec_id, round(list_cosine_similarity(v, mv), 4) AS score
        |FROM e, mean
        |ORDER BY score ASC, vec_id LIMIT 20""".stripMargin,
    "q_pca_covariance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS p
        |      FROM e),
        |c AS (SELECT vec_id, x, p FROM u WHERE p <= 8),
        |m AS (SELECT p, round(avg(x), 6) AS mu FROM c GROUP BY 1),
        |ctr AS (SELECT c.vec_id, c.p, c.x - m.mu AS cx
        |        FROM c JOIN m ON c.p = m.p)
        |SELECT a.p - 1 AS i, b.p - 1 AS j,
        |  round(sum(a.cx * b.cx) / count(*), 4) AS cov
        |FROM ctr a JOIN ctr b ON a.vec_id = b.vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qvec), 4) AS score
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |  count(*) AS n_media,
        |  sum(n_chars * 10)::BIGINT AS total_duration_ms,
        |  max(n_chars % 640) AS max_width
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Full dHash-banding replay: plant, 64 resampled cells, 63
    // difference bits summed (disjoint bits — HUGEINT sum casts back
    // exactly), 4x16 chunks, first-agreeing-chunk arithmetic filter,
    // bit_count verify. Shifts stay in the nonneg 63-bit range (the
    // reason the hash is 63-bit: DuckDB errors on 1<<63).
    "q_media_neardup" ->
      """WITH base AS (SELECT doc_id AS media_id, text FROM documents),
        |twins AS (
        |  SELECT doc_id + 1000000 AS media_id,
        |    substr(text, 1, length(text) - 1) || 'z' AS text
        |  FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 64),
        |corp AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        |cells AS MATERIALIZED (
        |  SELECT media_id,
        |    [ascii(substr(text,
        |       ((i * (length(text) - 1)) // 63 + 1)::INT, 1))
        |     for i in range(0, 64)] AS g
        |  FROM corp WHERE length(text) >= 1),
        |sg AS MATERIALIZED (
        |  SELECT media_id,
        |    list_sum([CASE WHEN g[i + 1] > g[i + 2] THEN 1::BIGINT << i
        |      ELSE 0::BIGINT END for i in range(0, 63)])::BIGINT AS sig
        |  FROM cells),
        |ch AS MATERIALIZED (
        |  SELECT media_id, sig, c, (sig >> (16 * c::INT)) & 65535 AS cv
        |  FROM sg, range(0, 4) t(c)),
        |cand AS (
        |  SELECT x.media_id AS media_a, y.media_id AS media_b,
        |    x.sig AS sa, y.sig AS sb
        |  FROM ch x JOIN ch y ON x.c = y.c AND x.cv = y.cv
        |    AND x.media_id < y.media_id
        |  WHERE (x.c <= 0 OR ((x.sig >> 0) & 65535) <> ((y.sig >> 0) & 65535))
        |    AND (x.c <= 1 OR ((x.sig >> 16) & 65535) <> ((y.sig >> 16) & 65535))
        |    AND (x.c <= 2 OR ((x.sig >> 32) & 65535) <> ((y.sig >> 32) & 65535)))
        |SELECT media_a, media_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY media_a, media_b""".stripMargin,
    // Decoder-tier replay: the 8×8 gray render is clamp(floor(v·128)
    // + 128) per pixel, PNG is lossless, and gray luma = the pixel —
    // so cells are the clamped integers themselves and the dHash +
    // banding replay is identical to q_media_neardup's.
    "q_media_neardup_decoded" ->
      """WITH base AS (SELECT vec_id AS media_id, embedding FROM embeddings),
        |twins AS (
        |  SELECT vec_id + 1000000 AS media_id, embedding
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |corp AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        |cells AS MATERIALIZED (
        |  SELECT media_id,
        |    [least(greatest(floor(x * 128.0)::BIGINT + 128, 0), 255)
        |     for x in (embedding::DOUBLE[])[1:64]] AS g
        |  FROM corp),
        |sg AS MATERIALIZED (
        |  SELECT media_id,
        |    list_sum([CASE WHEN g[i + 1] > g[i + 2] THEN 1::BIGINT << i
        |      ELSE 0::BIGINT END for i in range(0, 63)])::BIGINT AS sig
        |  FROM cells),
        |ch AS MATERIALIZED (
        |  SELECT media_id, sig, c, (sig >> (16 * c::INT)) & 65535 AS cv
        |  FROM sg, range(0, 4) t(c)),
        |cand AS (
        |  SELECT x.media_id AS media_a, y.media_id AS media_b,
        |    x.sig AS sa, y.sig AS sb
        |  FROM ch x JOIN ch y ON x.c = y.c AND x.cv = y.cv
        |    AND x.media_id < y.media_id
        |  WHERE (x.c <= 0 OR ((x.sig >> 0) & 65535) <> ((y.sig >> 0) & 65535))
        |    AND (x.c <= 1 OR ((x.sig >> 16) & 65535) <> ((y.sig >> 16) & 65535))
        |    AND (x.c <= 2 OR ((x.sig >> 32) & 65535) <> ((y.sig >> 32) & 65535)))
        |SELECT media_a, media_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY media_a, media_b""".stripMargin,
    "q_media_dedup" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |    md5(text) AS h, strlen(text)::BIGINT AS bytes
        |  FROM documents),
        |g AS (
        |  SELECT kind, h, count(*) AS copies, max(bytes) AS bytes
        |  FROM m GROUP BY 1, 2)
        |SELECT kind, count(*) AS n_distinct,
        |  sum(copies)::BIGINT AS n_payloads,
        |  sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dup_groups,
        |  sum((copies - 1) * bytes)::BIGINT AS wasted_bytes
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_media_type_stats" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |    strlen(text)::BIGINT AS bytes
        |  FROM documents)
        |SELECT kind, (length(bin(bytes)) - 1)::BIGINT AS log2_bucket,
        |  count(*) AS n_media, sum(bytes)::BIGINT AS total_bytes,
        |  min(bytes)::BIGINT AS min_bytes, max(bytes)::BIGINT AS max_bytes
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    strlen(text)::BIGINT AS plen,
        |    (n_chars % 640)::INT AS w, (n_chars % 480)::INT AS h
        |  FROM documents),
        |r AS (
        |  SELECT media_id, kind, plen, w, h,
        |    CASE WHEN kind = 'image' AND (w > 320 OR h > 240)
        |      THEN least(320.0 / greatest(1, w), 240.0 / greatest(1, h))
        |      ELSE NULL END AS scale
        |  FROM m),
        |rr AS (
        |  SELECT media_id, kind,
        |    CASE WHEN scale IS NULL THEN w
        |         ELSE greatest(1, floor(w * scale)::INT) END AS nw,
        |    CASE WHEN scale IS NULL THEN plen
        |         ELSE ceil(plen::DOUBLE / greatest(1,
        |           ceil((w::BIGINT * h)::DOUBLE /
        |             greatest(1, greatest(1, floor(w * scale)::INT)::BIGINT *
        |               greatest(1, floor(h * scale)::INT)::BIGINT))::BIGINT))::BIGINT
        |    END AS nplen
        |  FROM r)
        |SELECT kind, count(*) AS n_media, max(nw) AS max_width,
        |  sum(nplen)::BIGINT AS total_bytes
        |FROM rr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_frame_samples" ->
      """SELECT media_id,
        |  CAST(offset_ms // 1000 AS INTEGER) AS frame_idx, offset_ms
        |FROM (SELECT doc_id AS media_id,
        |        unnest(generate_series(0, (n_chars * 10)::BIGINT, 1000)) AS offset_ms
        |      FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "q_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4) AS score,
        |    row_number() OVER (PARTITION BY q.query_id
        |                       ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4) DESC,
        |                                e.vec_id) AS rk
        |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, score, rk FROM scored
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // Mirrors graft.text.Bm25 exactly: idf on the integer micro-nat
    // grid (floor(ln·1e6 + 0.5), half-up on both engines), then pure
    // int64 floor-division — `//` here, `div` in Spark, equal for the
    // all-positive operands.
    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, len(w)::BIGINT AS dl,
        |    len(list_filter(w, x -> x = 'join'))::BIGINT AS tf0,
        |    len(list_filter(w, x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(w, x -> x = 'stream'))::BIGINT AS tf2,
        |    len(list_filter(w, x -> x = 'checkpoint'))::BIGINT AS tf3,
        |    len(list_filter(w, x -> x = 'spill'))::BIGINT AS tf4
        |  FROM tok),
        |st AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS t,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3,
        |    sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END)::BIGINT AS df4
        |  FROM per),
        |idf AS (
        |  SELECT n, t,
        |    CAST(floor(ln(2.0*(n+1)/(2*df0+1))*1000000 + 0.5) AS BIGINT) AS idf0,
        |    CAST(floor(ln(2.0*(n+1)/(2*df1+1))*1000000 + 0.5) AS BIGINT) AS idf1,
        |    CAST(floor(ln(2.0*(n+1)/(2*df2+1))*1000000 + 0.5) AS BIGINT) AS idf2,
        |    CAST(floor(ln(2.0*(n+1)/(2*df3+1))*1000000 + 0.5) AS BIGINT) AS idf3,
        |    CAST(floor(ln(2.0*(n+1)/(2*df4+1))*1000000 + 0.5) AS BIGINT) AS idf4
        |  FROM st),
        |sc AS (
        |  SELECT p.doc_id, p.dl,
        |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN tf2 > 0 THEN 1 ELSE 0 END + CASE WHEN tf3 > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN tf4 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_match,
        |    (CASE WHEN tf0 > 0 THEN (idf0*44*tf0*t) // (20*tf0*t + 6*t + 18*p.dl*n) ELSE 0 END +
        |     CASE WHEN tf1 > 0 THEN (idf1*44*tf1*t) // (20*tf1*t + 6*t + 18*p.dl*n) ELSE 0 END +
        |     CASE WHEN tf2 > 0 THEN (idf2*44*tf2*t) // (20*tf2*t + 6*t + 18*p.dl*n) ELSE 0 END +
        |     CASE WHEN tf3 > 0 THEN (idf3*44*tf3*t) // (20*tf3*t + 6*t + 18*p.dl*n) ELSE 0 END +
        |     CASE WHEN tf4 > 0 THEN (idf4*44*tf4*t) // (20*tf4*t + 6*t + 18*p.dl*n) ELSE 0 END
        |    )::BIGINT AS score_micronats
        |  FROM per p, idf)
        |SELECT doc_id, dl, n_match, score_micronats FROM sc
        |WHERE n_match > 0
        |ORDER BY score_micronats DESC, doc_id LIMIT 20""".stripMargin,
    // Replays NaiveBayes training + scoring exactly: heuristic
    // quality labels (same expression as q_quality_filter's oracle),
    // md5 feature hashing (identical digest both engines), add-1/B
    // smoothing in the same operation order, µ-nat rounding
    // floor(x·1e6 + 0.5), integer score sums, argmax CASE in sorted
    // class order ('hi' before 'lo').
    "q_nb_classifier" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS ar,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS sr,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |qq AS (
        |  SELECT doc_id, text,
        |    CAST(round(round(least(1.0, ar * 0.6 + sr * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4)
        |      * 10000) AS BIGINT) AS q4
        |  FROM m),
        |med AS (SELECT quantile_cont(q4, 0.5) AS m FROM qq),
        |lab AS (
        |  SELECT doc_id, text,
        |    CASE WHEN q4 >= med.m THEN 'hi' ELSE 'lo' END AS label
        |  FROM qq, med),
        |feat AS (
        |  SELECT doc_id, label,
        |    ('0x' || substr(md5(w), 1, 13))::BIGINT % 1024 AS f
        |  FROM (SELECT doc_id, label,
        |          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |        FROM lab)),
        |trn AS (SELECT * FROM feat WHERE doc_id % 5 <> 0),
        |cnt AS (SELECT label, f, count(*)::BIGINT AS c FROM trn GROUP BY 1, 2),
        |tot AS (SELECT label, count(*)::BIGINT AS tot FROM trn GROUP BY 1),
        |nd AS (SELECT label, count(*)::BIGINT AS nd FROM lab
        |       WHERE doc_id % 5 <> 0 GROUP BY 1),
        |ndt AS (SELECT sum(nd)::BIGINT AS ndt FROM nd),
        |pri AS (SELECT label,
        |          CAST(floor(ln(nd::DOUBLE / ndt) * 1000000 + 0.5) AS BIGINT) AS prior_mu
        |        FROM nd, ndt),
        |defw AS (SELECT label, tot,
        |           CAST(floor(ln((1.0/1024) / (tot + 1)) * 1000000 + 0.5) AS BIGINT) AS w0
        |         FROM tot),
        |wts AS (SELECT c.label, c.f,
        |          CAST(floor(ln((c.c + 1.0/1024) / (t.tot + 1)) * 1000000 + 0.5) AS BIGINT) AS w
        |        FROM cnt c JOIN tot t ON c.label = t.label),
        |test AS (SELECT doc_id, label AS true_label, f FROM feat WHERE doc_id % 5 = 0),
        |scored AS (
        |  SELECT t.doc_id, t.true_label, k.label AS cls,
        |    p.prior_mu + sum(coalesce(w.w, d.w0)) AS score
        |  FROM test t
        |  CROSS JOIN (SELECT unnest(['hi', 'lo']) AS label) k
        |  JOIN defw d ON d.label = k.label
        |  JOIN pri p ON p.label = k.label
        |  LEFT JOIN wts w ON w.label = k.label AND w.f = t.f
        |  GROUP BY t.doc_id, t.true_label, k.label, p.prior_mu),
        |piv AS (
        |  SELECT doc_id, true_label,
        |    max(CASE WHEN cls = 'hi' THEN score END) AS s_hi,
        |    max(CASE WHEN cls = 'lo' THEN score END) AS s_lo
        |  FROM scored GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, true_label, CASE
        |    WHEN s_hi = greatest(s_hi, s_lo) THEN 'hi'
        |    ELSE 'lo' END AS pred
        |  FROM piv)
        |SELECT true_label AS label, pred, count(*)::BIGINT AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same model replay as q_nb_classifier; margin bins are signed
    // digit counts (integer→string, engine-identical), rates integer
    // basis points via floor division.
    "q_nb_calibration" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text), 4) AS ar,
        |    round(len(regexp_extract_all(text, '\s'))::DOUBLE / length(text), 4) AS sr,
        |    round((length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
        |          / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4) AS mwl
        |  FROM documents),
        |qq AS (
        |  SELECT doc_id, text,
        |    CAST(round(round(least(1.0, ar * 0.6 + sr * 2.0 * 0.2 +
        |      (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2), 4)
        |      * 10000) AS BIGINT) AS q4
        |  FROM m),
        |med AS (SELECT quantile_cont(q4, 0.5) AS m FROM qq),
        |lab AS (
        |  SELECT doc_id, text,
        |    CASE WHEN q4 >= med.m THEN 'hi' ELSE 'lo' END AS label
        |  FROM qq, med),
        |feat AS (
        |  SELECT doc_id, label,
        |    ('0x' || substr(md5(w), 1, 13))::BIGINT % 1024 AS f
        |  FROM (SELECT doc_id, label,
        |          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |        FROM lab)),
        |trn AS (SELECT * FROM feat WHERE doc_id % 5 <> 0),
        |cnt AS (SELECT label, f, count(*)::BIGINT AS c FROM trn GROUP BY 1, 2),
        |tot AS (SELECT label, count(*)::BIGINT AS tot FROM trn GROUP BY 1),
        |nd AS (SELECT label, count(*)::BIGINT AS nd FROM lab
        |       WHERE doc_id % 5 <> 0 GROUP BY 1),
        |ndt AS (SELECT sum(nd)::BIGINT AS ndt FROM nd),
        |pri AS (SELECT label,
        |          CAST(floor(ln(nd::DOUBLE / ndt) * 1000000 + 0.5) AS BIGINT) AS prior_mu
        |        FROM nd, ndt),
        |defw AS (SELECT label, tot,
        |           CAST(floor(ln((1.0/1024) / (tot + 1)) * 1000000 + 0.5) AS BIGINT) AS w0
        |         FROM tot),
        |wts AS (SELECT c.label, c.f,
        |          CAST(floor(ln((c.c + 1.0/1024) / (t.tot + 1)) * 1000000 + 0.5) AS BIGINT) AS w
        |        FROM cnt c JOIN tot t ON c.label = t.label),
        |test AS (SELECT doc_id, label AS true_label, f FROM feat WHERE doc_id % 5 = 0),
        |scored AS (
        |  SELECT t.doc_id, t.true_label, k.label AS cls,
        |    p.prior_mu + sum(coalesce(w.w, d.w0)) AS score
        |  FROM test t
        |  CROSS JOIN (SELECT unnest(['hi', 'lo']) AS label) k
        |  JOIN defw d ON d.label = k.label
        |  JOIN pri p ON p.label = k.label
        |  LEFT JOIN wts w ON w.label = k.label AND w.f = t.f
        |  GROUP BY t.doc_id, t.true_label, k.label, p.prior_mu),
        |piv AS (
        |  SELECT doc_id, true_label,
        |    max(CASE WHEN cls = 'hi' THEN score END) AS s_hi,
        |    max(CASE WHEN cls = 'lo' THEN score END) AS s_lo
        |  FROM scored GROUP BY 1, 2),
        |binned AS (
        |  SELECT doc_id, true_label, s_hi - s_lo AS margin,
        |    (CASE WHEN s_hi - s_lo >= 0 THEN 1 ELSE -1 END) *
        |      length(CAST(abs(s_hi - s_lo) AS VARCHAR)) AS bin
        |  FROM piv)
        |SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN true_label = 'hi' THEN 1 ELSE 0 END)::BIGINT AS n_hi,
        |  ((sum(CASE WHEN true_label = 'hi' THEN 1 ELSE 0 END)::BIGINT * 10000) // count(*))::BIGINT AS hi_bp
        |FROM binned GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_diversity" ->
      """WITH sh AS (
        |  SELECT source,
        |    unnest(list_distinct(CASE WHEN len(w) < 3
        |      THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2]
        |            for i in range(1, len(w) - 1)] END)) AS shingle
        |  FROM (SELECT source,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents))
        |SELECT source, count(DISTINCT shingle) AS n_distinct,
        |  count(*) AS n_total,
        |  (count(DISTINCT shingle) * 10000) // count(*) AS diversity_bp
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_curriculum" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    least(len(regexp_split_to_array(trim(lower(text)), '\s+')) // 50,
        |      8) AS band,
        |    md5('7|' || doc_id::VARCHAR) AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, band,
        |    row_number() OVER (ORDER BY band, k, doc_id) - 1
        |      AS curriculum_pos
        |  FROM t)
        |SELECT doc_id, band, curriculum_pos,
        |  curriculum_pos // 64 AS shard
        |FROM r ORDER BY curriculum_pos""".stripMargin,
    "q_winsorize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x
        |  FROM e),
        |r AS (
        |  SELECT dim, x, vec_id,
        |    row_number() OVER (PARTITION BY dim ORDER BY x, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY dim) AS n
        |  FROM m),
        |b AS (
        |  SELECT dim, max(n) AS n,
        |    min(CASE WHEN rk = ceil(n * 0.01) THEN x END) AS lo,
        |    min(CASE WHEN rk = ceil(n * 0.99) THEN x END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT m.dim, b.lo, b.hi, b.n,
        |  sum(CASE WHEN m.x < b.lo THEN 1 ELSE 0 END)::BIGINT AS n_below,
        |  sum(CASE WHEN m.x > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_above
        |FROM m JOIN b USING (dim)
        |GROUP BY 1, 2, 3, 4 ORDER BY m.dim""".stripMargin,
    // Thresholds are Sampling.threshold's 4-hex strings for the
    // cumulative fractions: 0.8 -> round(.8*65536)=52429 = 'cccd',
    // 0.9 -> 58982 = 'e666'.
    "q_split_leakage_safe" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, '  ' || text || ' ' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |keyed AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM planted),
        |assigned AS (
        |  SELECT h,
        |    CASE WHEN substring(md5(h), 1, 4) < 'cccd' THEN 'train'
        |         WHEN substring(md5(h), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split,
        |    count(*) AS n_copies
        |  FROM keyed GROUP BY 1, 2)
        |SELECT split, sum(n_copies)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END)::BIGINT
        |    AS n_dup_docs
        |FROM assigned GROUP BY 1 ORDER BY split""".stripMargin,
    "q_cv_folds" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, '  ' || text || ' ' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |keyed AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM planted),
        |grouped AS (
        |  SELECT ('0x' || substring(md5(h), 1, 4))::BIGINT % 5 AS fold,
        |    h, count(*) AS n_copies
        |  FROM keyed GROUP BY 1, 2)
        |SELECT fold, sum(n_copies)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END)::BIGINT
        |    AS n_dup_docs
        |FROM grouped GROUP BY 1 ORDER BY fold""".stripMargin,
    "q_group_rank" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY lang) AS n_in_group
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, rank, n_in_group,
        |  ((rank - 1) * 10000 // greatest(n_in_group - 1, 1))::BIGINT
        |    AS pct_bp
        |FROM r ORDER BY lang, rank""".stripMargin,
    // CMS replay: counters = per-(lang, row, bucket) token-count sums
    // under the md5-substring bucket hash; estimate = min over the 5
    // rows, 0 when a probed bucket is empty. w=2048 divides 2^24, so
    // the 24-bit fold is bias-free and the % is on nonneg ints
    // (trunc ≡ floor). Parallel unnest zips the probe arrays.
    "q_cms_freq" ->
      """WITH tok AS (
        |  SELECT lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, token, count(*)::BIGINT AS c FROM tok
        |  WHERE token <> '' GROUP BY 1, 2),
        |hr AS (SELECT unnest([0, 1, 2, 3, 4]) AS i),
        |ctr AS (
        |  SELECT lang, i,
        |    ('0x' || substring(md5(token), 1 + 6*i, 6))::BIGINT % 2048 AS b,
        |    sum(c)::BIGINT AS v
        |  FROM cnt, hr GROUP BY 1, 2, 3),
        |probes AS (
        |  SELECT unnest(['table', 'key', 'row', 'spark', 'value']) AS word,
        |    unnest([1, 2, 3, 4, 5]) AS pi),
        |pb AS (
        |  SELECT word, pi, i,
        |    ('0x' || substring(md5(word), 1 + 6*i, 6))::BIGINT % 2048 AS b
        |  FROM probes, hr),
        |est AS (
        |  SELECT l.lang, pb.pi, min(coalesce(ctr.v, 0))::BIGINT AS est
        |  FROM (SELECT DISTINCT lang FROM cnt) l
        |  CROSS JOIN pb
        |  LEFT JOIN ctr ON ctr.lang = l.lang AND ctr.i = pb.i
        |    AND ctr.b = pb.b
        |  GROUP BY 1, 2)
        |SELECT lang,
        |  max(CASE WHEN pi = 1 THEN est END)::BIGINT AS est_1,
        |  max(CASE WHEN pi = 2 THEN est END)::BIGINT AS est_2,
        |  max(CASE WHEN pi = 3 THEN est END)::BIGINT AS est_3,
        |  max(CASE WHEN pi = 4 THEN est END)::BIGINT AS est_4,
        |  max(CASE WHEN pi = 5 THEN est END)::BIGINT AS est_5
        |FROM est GROUP BY 1 ORDER BY lang""".stripMargin,
    // E-S exponential clocks: u is an exact 52-bit md5 dyadic (the
    // /2^52 division and greatest() are exact), so the only float op
    // chain is -ln(u)/w — ONE identically-shaped expression per row
    // on both engines (the divergence-aggregate recipe); the clock is
    // used for ORDERING only and never emitted, so a shared ulp in ln
    // cancels and the selected id set is engine-stable. The spec
    // additionally pins the driver-side bit-for-bit replay.
    "q_weighted_exact_k" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    -ln(greatest((('0x' || substring(md5('7|' || doc_id::VARCHAR),
        |        1, 13))::BIGINT)::DOUBLE, 1.0)
        |      / 4503599627370496.0) / (n_chars::DOUBLE) AS es
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars
        |FROM (SELECT * FROM t ORDER BY es, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    "q_unicode_nfc" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber'
        |      AS t
        |  FROM documents)
        |SELECT doc_id, length(t) AS len_raw,
        |  length(nfc_normalize(t)) AS len_nfc,
        |  md5(nfc_normalize(t)) AS h_nfc
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_corpus_diff" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      AS h_old
        |  FROM documents),
        |newer AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(
        |      CASE WHEN doc_id % 7 = 0 THEN text || ' mutated'
        |           ELSE text END)), '\s+', ' ', 'g')) AS h_new
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT
        |  sum(CASE WHEN h_old IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_added,
        |  sum(CASE WHEN h_new IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_removed,
        |  sum(CASE WHEN h_old IS NOT NULL AND h_new IS NOT NULL
        |       AND h_old <> h_new THEN 1 ELSE 0 END)::BIGINT
        |    AS n_changed,
        |  sum(CASE WHEN h_old = h_new THEN 1 ELSE 0 END)::BIGINT
        |    AS n_unchanged
        |FROM base FULL JOIN newer USING (doc_id)""".stripMargin,
    "q_negative_sample" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, label AS qlabel FROM embeddings
        |  WHERE vec_id < 3),
        |scored AS (
        |  SELECT qid, e.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      substring(md5('7|' || qid || '|' || e.vec_id), 1, 13),
        |      e.vec_id) AS rk
        |  FROM q JOIN embeddings e ON e.label <> q.qlabel)
        |SELECT qid, cand_id, rk FROM scored WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin,
    "q_pmi" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |        AS token
        |    FROM documents) WHERE token <> ''),
        |df AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
        |vocab AS (
        |  SELECT token, df FROM df ORDER BY df DESC, token LIMIT 64),
        |ft AS (
        |  SELECT t.doc_id, t.token, v.df
        |  FROM tok t JOIN vocab v USING (token)),
        |pairs AS (
        |  SELECT x.token AS tx, y.token AS ty, x.df AS dfx, y.df AS dfy,
        |    count(*) AS c_xy
        |  FROM ft x JOIN ft y ON x.doc_id = y.doc_id AND x.token < y.token
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 25),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tx, ty, c_xy,
        |  CAST(floor(ln((c_xy * n.n)::DOUBLE / (dfx * dfy)::DOUBLE)
        |    * 1000000 + 0.5) AS BIGINT) AS pmi_micro
        |FROM pairs, n
        |ORDER BY pmi_micro DESC, tx, ty LIMIT 50""".stripMargin,
    "q_chi2" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token, is_en FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |        AS token,
        |      (lang = 'en')::BIGINT AS is_en
        |    FROM documents) WHERE token <> ''),
        |df AS (
        |  SELECT token, count(*) AS df, sum(is_en)::BIGINT AS df_en
        |  FROM tok GROUP BY 1),
        |vocab AS (
        |  SELECT token, df, df_en FROM df ORDER BY df DESC, token LIMIT 64),
        |tot AS (
        |  SELECT count(*) AS n, sum((lang = 'en')::BIGINT)::BIGINT AS n_en
        |  FROM documents),
        |cells AS (
        |  SELECT token, df_en AS a, df - df_en AS b, n_en - df_en AS c,
        |    (n - n_en) - (df - df_en) AS d, n
        |  FROM vocab, tot)
        |SELECT token, a, b, c, d,
        |  ((n::HUGEINT * (a*d - b*c) * (a*d - b*c) * 10000)
        |   // ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d)))::BIGINT AS chi2_bp
        |FROM cells
        |WHERE a+b > 0 AND c+d > 0 AND a+c > 0 AND b+d > 0
        |ORDER BY chi2_bp DESC, token LIMIT 30""".stripMargin,
    "q_embed_centroids" ->
      """WITH u AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |g AS (
        |  SELECT label, pos, count(*) AS n,
        |    sum(CAST(floor(v * 1000) AS BIGINT))::BIGINT AS sum_milli
        |  FROM u GROUP BY 1, 2)
        |SELECT label, pos, n, sum_milli,
        |  ((sum_milli + n * 1000000) // n - 1000000)::BIGINT AS mean_milli
        |FROM g ORDER BY label, pos""".stripMargin,
    "q_vocab_drift" ->
      """WITH tok AS (
        |  SELECT source, token FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |        AS token
        |    FROM documents) WHERE token <> ''),
        |st AS (SELECT source, token, count(*) AS cs FROM tok GROUP BY 1, 2),
        |tot AS (SELECT source, sum(cs)::BIGINT AS ns FROM st GROUP BY 1),
        |ct AS (SELECT token, sum(cs)::BIGINT AS c FROM st GROUP BY 1),
        |ncorp AS (SELECT count(*) AS nc FROM tok),
        |grid AS (
        |  SELECT t.source, t.ns, v.token, v.c,
        |    coalesce(s.cs, 0) AS cs, ncorp.nc
        |  FROM tot t CROSS JOIN ct v CROSS JOIN ncorp
        |  LEFT JOIN st s ON s.source = t.source AND s.token = v.token),
        |terms AS (
        |  SELECT source, ns,
        |    CAST(floor((
        |      CASE WHEN cs > 0 THEN
        |        0.5 * (cs / ns::DOUBLE) *
        |        ln((cs / ns::DOUBLE) /
        |           (((cs / ns::DOUBLE) + (c / nc::DOUBLE)) / 2))
        |      ELSE 0.0 END
        |      + 0.5 * (c / nc::DOUBLE) *
        |        ln((c / nc::DOUBLE) /
        |           (((cs / ns::DOUBLE) + (c / nc::DOUBLE)) / 2))
        |    ) * 1000000000 + 0.5) AS BIGINT) AS term_nano
        |  FROM grid)
        |SELECT source, max(ns)::BIGINT AS n_tokens,
        |  sum(term_nano)::BIGINT AS js_nano
        |FROM terms GROUP BY 1
        |ORDER BY js_nano DESC, source""".stripMargin,
    "q_log_odds" ->
      """WITH tok AS (
        |  SELECT (source = 'src0')::BIGINT AS in_a, token FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |        AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS (
        |  SELECT token, sum(in_a)::BIGINT AS ca,
        |    sum(1 - in_a)::BIGINT AS cb
        |  FROM tok GROUP BY 1),
        |tot AS (
        |  SELECT sum(in_a)::BIGINT AS na, sum(1 - in_a)::BIGINT AS nb
        |  FROM tok)
        |SELECT token, ca, cb,
        |  CAST(floor((
        |    ln((ca + 0.5) / (tot.na - ca + 0.5))
        |    - ln((cb + 0.5) / (tot.nb - cb + 0.5))
        |  ) * 1000000 + 0.5) AS BIGINT) AS lor_micro
        |FROM counts, tot
        |ORDER BY lor_micro DESC, token""".stripMargin
  )
}
