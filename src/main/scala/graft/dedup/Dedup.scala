package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *   - [[exact]]: hash → one partial+final aggregate (the hash, not the
  *     text, shuffles — bytes on the wire ≈ 32B/doc).
  *   - [[jaccardPairs]]: EXACT n-gram Jaccard via an inverted shingle
  *     index — shuffle is bounded by Σ shingles, and the optional
  *     document-frequency cutoff removes the quadratic blowup that
  *     common shingles would cause.
  *   - [[minhashSignatures]] + [[lshCandidatePairs]]: MinHash+LSH —
  *     constant-size signature per doc (k longs), band buckets join
  *     only probable near-dups; the classic sublinear near-dup path.
  *   - [[simhash64]] + [[simhashCandidatePairs]]: 64-bit SimHash with
  *     pigeonhole banding for hamming-distance ≤ 3 candidates.
  *
  * All signature computation is pure Column expressions (codegen'd,
  * embarrassingly parallel, zero shuffle until the candidate join).
  */
object Dedup {

  /** Payload ceiling (total hashed-shingle entries, ~8 B each) under
    * which verification broadcasts the shingle-set frame — an
    * ARRAY-payload frame, so the row-count rule alone is not enough
    * (the k-truss counter-example); above it the pair-dedup aggregate
    * + shuffle verify joins take over. A var only so DedupSpec can
    * force the large regime on a small fixture. */
  private[graft] var VerifyBroadcastShingles = 2L << 20

  /** Word n-gram shingles (distinct) of a text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Exact dedup: group identical (normalized) texts; canonical doc =
    * min id (deterministic, like the hardlink rule in graft.stats). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    df.withColumn("text_hash", md5(norm))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))
  }

  /** EXACT pairwise n-gram Jaccard ≥ threshold, via inverted index:
    * explode shingles → self-join per shingle → count shared shingles
    * per pair → |A∩B| / (|A|+|B|-|A∩B|).
    *
    * @param maxShingleDf drop shingles occurring in more than this many
    *   docs before pairing (0 = keep all). At scale a handful of
    *   ubiquitous shingles would otherwise generate O(df²) pair rows;
    *   dropping them changes recall only for pairs whose overlap is
    *   dominated by boilerplate.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3, maxShingleDf: Long = 0): DataFrame = {
    val withSh = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.wordShingles(df.sparkSession, col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // 64-bit-hashed postings (same rationale and collision math as
    // [[jaccardPairsPrefix]]): the self-join keys, shuffles, and the
    // pair aggregate compare 8-byte longs, not ~30-byte UTF8 strings.
    val inverted0 = withSh
      .select(col("doc"), col("n_sh"), explode(col("sh")).as("shingle"))
      .withColumn("shingle", xxhash64(col("shingle")))
    val inverted =
      if (maxShingleDf <= 0) inverted0
      else {
        val dfCounts = inverted0.groupBy("shingle")
          .agg(count(lit(1)).as("df_count"))
          .where(col("df_count") <= maxShingleDf)
          .select("shingle")
        inverted0.join(dfCounts, "shingle")
      }
    val a = inverted.select(col("shingle"), col("doc").as("doc_a"), col("n_sh").as("n_a"))
    val b = inverted.select(col("shingle"), col("doc").as("doc_b"), col("n_sh").as("n_b"))
    a.join(b, Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      // length filter: j(A,B) ≥ t forces t·|B| ≤ |A| ≤ |B|/t, so
      // size-mismatched pairs drop before the aggregation.
      .where(col("n_a") >= col("n_b") * threshold &&
        col("n_b") >= col("n_a") * threshold)
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** EXACT Jaccard pairs via PREFIX FILTERING (the AllPairs / PPJoin
    * family) — same output as [[jaccardPairs]] with `maxShingleDf = 0`,
    * PROVABLY, but the inverted index holds only each doc's prefix.
    *
    * The lemma: fix any global total order over shingles. If
    * j(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ ⌈t·|A|⌉, and two sets with
    * overlap ≥ α must share an element within the first |X| − α + 1
    * elements of each side — so indexing only the prefix of length
    * |A| − ⌈t·|A|⌉ + 1 loses no qualifying pair. Order by ASCENDING
    * document frequency (rarest first) and the boilerplate shingles —
    * the O(df²) join bombs the df cutoff exists to defuse — land at
    * the END of every doc's ordering and mostly vanish from the index
    * entirely: the same protection as `maxShingleDf`, with zero recall
    * loss instead of a documented one.
    *
    * Cost shape: one df aggregate, one per-doc sort of its own
    * shingles (map-side, bounded by doc length), a prefix-only
    * self-join, then candidates verified on the FULL sets via one
    * join-back and a native array_intersect — at threshold 0.3 the
    * index is ~70% smaller and candidate pairs collapse versus the
    * full inverted index. `ceil` is guarded (−1e-9) so float fuzz can
    * only LENGTHEN a prefix, never shorten it below the lemma's bound.
    */
  def jaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.3): DataFrame = {
    // Shingles are hashed to 64-bit longs at build (the dup-spans
    // swap): everything downstream — df counts, the ordered prefix,
    // the candidate join, and the array_intersect verification —
    // compares 8-byte longs instead of hashing ~30-byte UTF8 strings
    // per probe (measured 2.4 s → sub-second on the verify join
    // alone). A 64-bit collision would merge two distinct shingles
    // corpus-wide (P ≈ |shingles|²/2⁶⁵ ≈ 1e-10 here); output is still
    // verified on full sets, so the effect would be a ±1 intersection
    // count, and the DuckDB-hash parity gate would flag it instantly.
    // ONE fused build job materializes the per-doc frame that carries
    // everything downstream: the FULL shingle array in canonical order
    // (df asc, shingle asc — the array_sort is local to the doc's own
    // shingles) plus the prefix length. Document frequencies and the
    // df join-back are FUSED into the first aggregate (grouping the
    // postings per shingle yields df = the list's size and the list
    // itself in one exchange; re-exploding happens map-side of the
    // per-doc regroup), so the build is exactly two exchanges and one
    // job — at sf0.1 every extra Spark job costs ~0.2 s of pure launch
    // overhead, which is why the former separate shingle checkpoint +
    // prefix checkpoint shape lost to this. Per-shingle posting lists
    // are bounded by that shingle's df — the quantity the prefix order
    // then pushes to the END of every doc, so big lists never enter
    // the prefix index.
    val docFrame = df.select(col(idCol).as("doc"),
        transform(
          graft.functions.ShingleExprs.wordShingles(df.sparkSession, col(textCol), n),
          s => xxhash64(s)).as("sh"))
      .select(col("doc"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc"), col("n_sh"))).as("ps"))
      .select(col("shingle"), size(col("ps")).cast("long").as("df_count"),
        explode(col("ps")).as("p"))
      .select(col("p.doc").as("doc"), col("p.n_sh").as("n_sh"),
        col("df_count"), col("shingle"))
      .groupBy(col("doc"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df_count"), col("shingle")))).as("ordered"))
      .select(col("doc"), col("n_sh"),
        (col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1)
          .cast("int").as("plen"),
        transform(col("ordered"), s => s.getField("shingle")).as("allsh"))
      // built once, consumed by both self-join legs + verification —
      // AQE gives self-joins no exchange reuse
      .localCheckpoint(eager = true)
    // One cheap agg job over the materialized checkpoint: the doc and
    // total-shingle counts drive the verify-regime choice below (r12
    // count-informed-broadcast rule: the operator KNOWS its frames'
    // sizes — broadcast under the limit, shuffle fallback above).
    // (`observe` riding the checkpoint job was tried instead and
    // measured ~1 s SLOWER end-to-end: Observation.get waits on the
    // async listener bus, which lags far beyond this agg's ~0.2 s.)
    val szRow = docFrame.agg(count(lit(1)),
      coalesce(sum(col("n_sh").cast("long")), lit(0L))).head
    val (nDocs, totSh) = (szRow.getLong(0), szRow.getLong(1))
    val index = docFrame
      .select(col("doc"), col("n_sh"),
        posexplode(slice(col("allsh"), lit(1), col("plen"))))
      // pos is 1-based within the doc's FULL df-ordering (the prefix
      // is its head), which the positional filter below needs
      .select(col("doc"), col("n_sh"), (col("pos") + 1).as("pos"),
        col("col").as("shingle"))
    // Two further PPJoin filters (Xiao et al., WWW 2008), both exact:
    //  - length band: j ≥ t forces t·|A| ≤ |B| ≤ |A|/t (I ≤ min, so
    //    j ≤ min/max);
    //  - positional: j ≥ t forces |A∩B| ≥ t/(1+t)·(|A|+|B|), and a
    //    first agreement at positions (pA, pB) caps the achievable
    //    overlap at 1 + min(|A|−pA, |B|−pB).
    // Both prune candidate EMISSIONS inside the join, before any
    // dedup shuffle and the array-payload verification — on
    // vocabulary-dense corpora this is the difference between ~5% of
    // all pairs becoming candidates and a near-linear candidate set.
    val alpha = ceil((col("x.n_sh") + col("y.n_sh"))
      * lit(threshold / (1.0 + threshold)) - lit(1e-9))
    val emissions = index.as("x").join(index.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc") < col("y.doc") &&
        col("y.n_sh") >= ceil(col("x.n_sh") * lit(threshold) - lit(1e-9)) &&
        col("y.n_sh") <= floor(col("x.n_sh") / lit(threshold) + lit(1e-9)) &&
        lit(1) + least(col("x.n_sh") - col("x.pos"),
          col("y.n_sh") - col("y.pos")) >= alpha)
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        col("x.shingle").as("s"))
    def jaccardOf(out: DataFrame): DataFrame = out
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // Exact verification on the full sets (same arithmetic as
    // jaccardPairs: integer intersection, round to 4), two regimes:
    //  - small (corpus arrays provably broadcastable — docFrame is an
    //    ARRAY-payload frame, the k-truss counter-example class, so
    //    the bound is on total shingle ENTRIES, not rows): ONE
    //    broadcast of the doc arrays attaches both sides map-side
    //    (same projection both legs, so the physical broadcast is
    //    built once and reused), each raw emission verifies inline in
    //    the self-join's reduce stage, and duplicate emissions of a
    //    pair collapse via the FIRST-AGREEMENT filter — both arrays
    //    are sorted in the one global (df, shingle) order, so the
    //    head of array_intersect of the two prefixes is the unique
    //    first shared shingle, and because positions of shared
    //    shingles move together in that order, the positional filter
    //    passes at the first agreement whenever it passes anywhere:
    //    exactly one surviving emission per candidate pair, with no
    //    dedup aggregate, no verify shuffle joins, and no distinct;
    //  - large: the classic shape — dedup candidates with an
    //    aggregate, then shuffle-join the arrays back. Same output.
    if (totSh <= VerifyBroadcastShingles &&
        nDocs <= graft.ops.Bfs.BroadcastRowLimit) {
      val w = broadcast(docFrame.select(
        col("doc"), col("plen"), col("allsh"), col("n_sh")))
      jaccardOf(emissions
        .join(w.as("a"), col("doc_a") === col("a.doc"))
        .join(w.as("b"), col("doc_b") === col("b.doc"))
        .where(element_at(array_intersect(
          slice(col("a.allsh"), lit(1), col("a.plen")),
          slice(col("b.allsh"), lit(1), col("b.plen"))), 1) === col("s"))
        .select(col("doc_a"), col("doc_b"),
          col("a.allsh").as("sh_a"), col("a.n_sh").as("n_a"),
          col("b.allsh").as("sh_b"), col("b.n_sh").as("n_b")))
    } else {
      val cands = emissions.drop("s")
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("__m"))
        .drop("__m")
      jaccardOf(cands
        .join(docFrame.select(col("doc").as("doc_a"),
          col("allsh").as("sh_a"), col("n_sh").as("n_a")), Seq("doc_a"))
        .join(docFrame.select(col("doc").as("doc_b"),
          col("allsh").as("sh_b"), col("n_sh").as("n_b")), Seq("doc_b")))
    }
  }

  /** EXACT asymmetric containment: directed pairs where at least
    * `minBp` basis points (1/10000) of the CONTAINED doc's distinct
    * n-grams also appear in the CONTAINER: |A∩B| / |A| ≥ minBp/10000.
    *
    * Why it exists next to [[jaccardPairs]]: Jaccard normalizes by the
    * UNION, so a short document quoted wholesale inside a much longer
    * one scores near |A|/|B| ≈ 0 and is invisible — yet for a training
    * corpus that quoted copy is exactly the duplication (and eval-
    * leakage) signal that matters. Containment normalizes by the
    * contained side only, which also means NO length-ratio prefilter
    * applies: size-mismatched pairs are the point.
    *
    * Same inverted-index shuffle shape as [[jaccardPairs]] (cost is
    * Σ df², bounded by `maxShingleDf`). The undirected pair aggregate
    * runs ONCE; both directions are emitted from the aggregated row
    * by exploding a two-element struct array — no union, so the
    * expensive subtree is not evaluated twice. The fraction is an
    * integer basis-point floor-division (the count-ratio rule: a
    * double like 1/160 sits exactly on a decimal-rounding midpoint
    * where Spark and DuckDB round differently). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minBp: Long = 5000, maxShingleDf: Long = 0): DataFrame = {
    val withSh = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.wordShingles(df.sparkSession, col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // 64-bit-hashed postings (same rationale and collision math as
    // [[jaccardPairsPrefix]]): the self-join keys, shuffles, and the
    // pair aggregate compare 8-byte longs, not ~30-byte UTF8 strings.
    val inverted0 = withSh
      .select(col("doc"), col("n_sh"), explode(col("sh")).as("shingle"))
      .withColumn("shingle", xxhash64(col("shingle")))
    val inverted =
      if (maxShingleDf <= 0) inverted0
      else {
        val dfCounts = inverted0.groupBy("shingle")
          .agg(count(lit(1)).as("df_count"))
          .where(col("df_count") <= maxShingleDf)
          .select("shingle")
        inverted0.join(dfCounts, "shingle")
      }
    val a = inverted.select(col("shingle"), col("doc").as("doc_a"), col("n_sh").as("n_a"))
    val b = inverted.select(col("shingle"), col("doc").as("doc_b"), col("n_sh").as("n_b"))
    a.join(b, Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          expr("shared * 10000 DIV n_a").as("bp")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          expr("shared * 10000 DIV n_b").as("bp")))).as("r"))
      .select(col("r.contained"), col("r.container"), col("r.bp"))
      .where(col("bp") >= minBp)
  }

  /** The decontamination family's shared benchmark side: the eval
    * set's DISTINCT word n-grams, one column `shingle`. Built three
    * times across contaminated/contaminatedBloom/contaminationScore
    * before r5 — one definition keeps the family's semantics aligned
    * by construction. */
  private def benchShingles(bench: DataFrame, textCol: String,
      n: Int): DataFrame =
    bench.select(explode(
      graft.functions.ShingleExprs.wordShingles(bench.sparkSession,
        col(textCol), n)).as("shingle"))
      .distinct()

  /** Above this many distinct benchmark shingles the decontamination
    * family auto-routes from the broadcast-strings path to the
    * Bloom-bits path (bit-identical output by construction — the
    * bloom prefilter's false positives die in the exact confirm
    * join). 2²¹ ≈ 2M shingle strings is a low-hundreds-MB broadcast —
    * the ceiling where shipping strings stops being the cheap
    * option. */
  val BenchBroadcastMaxShingles: Long = 1L << 21

  /** Decontamination screen (train/eval overlap): corpus docs sharing
    * at least `minShared` distinct word n-grams with any benchmark
    * doc. The benchmark side is an eval set — small by definition — so
    * its distinct shingles broadcast, and the corpus side is one
    * explode + broadcast join + partial aggregate: the corpus text
    * never shuffles, and cost scales with corpus shingle count, not
    * with corpus × benchmark.
    *
    * The broadcast is SIZE-GUARDED: the bench shingles are counted
    * first (one bounded job on the materialized eval side), and past
    * [[BenchBroadcastMaxShingles]] the membership test auto-routes to
    * [[contaminatedBloom]]'s bits+confirm plan. Below the guard, the
    * measured bound is stamped into the plan as a no-op
    * `limit(nBench)` — the structural marker JoinAudit recognizes as
    * a re-bounded broadcast side. */
  def contaminated(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 5, minShared: Long = 1,
      benchBroadcastMax: Long = BenchBroadcastMaxShingles): DataFrame = {
    val spark = corpus.sparkSession
    val shingleCol =
      graft.functions.ShingleExprs.wordShingles(spark, col(textCol), n)
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
      explode(shingleCol).as("shingle"))
    // The broadcast route stamps its measured bound as limit(nBench.toInt):
    // a caller-raised ceiling past Int.MaxValue would wrap that stamp
    // negative — and a >2^31-string broadcast is unreasonable anyway.
    require(benchBroadcastMax <= Int.MaxValue,
      s"benchBroadcastMax $benchBroadcastMax exceeds Int.MaxValue; " +
        "the broadcast-strings route cannot bound a side that large — " +
        "use the Bloom route (contaminatedBloom) instead")
    val (benchSh, nBench) = measuredBenchShingles(bench, textCol, n)
    val joined =
      if (nBench > benchBroadcastMax)
        bloomConfirmJoin(spark, corpusSh, benchSh, nBench, fpp = 0.01)
      else
        corpusSh.join(broadcast(benchSh.limit(nBench.toInt)), Seq("shingle"))
    // wordShingles is distinct per doc, so count(*) = distinct shared
    joined.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Materialize the bench shingles once and measure them: the count
    * IS the routing decision, and every downstream consumer (limit
    * stamp, bloom build, confirm join) reuses the checkpoint instead
    * of re-exploding the eval suite. */
  private def measuredBenchShingles(bench: DataFrame, textCol: String,
      n: Int): (DataFrame, Long) = {
    val sh = benchShingles(bench, textCol, n).localCheckpoint(eager = true)
    (sh, math.max(1L, sh.count()))
  }

  /** The Bloom-bits membership plan shared by [[contaminated]]'s
    * large-bench route and [[contaminatedBloom]]: probe corpus
    * shingles against the bits (codegen'd Column, zero shuffle), then
    * confirm the survivors with an exact shuffle join — deliberately
    * not a broadcast, because at the scale this path exists for the
    * bench string set is too big to ship. */
  private def bloomConfirmJoin(spark: org.apache.spark.sql.SparkSession,
      corpusSh: DataFrame, benchSh: DataFrame, nBench: Long,
      fpp: Double): DataFrame = {
    val bloom = BloomFilters.build(benchSh, "shingle", nBench, fpp)
    corpusSh.where(bloom.mightContain(spark, col("shingle")))
      .join(benchSh, Seq("shingle"))
  }

  /** [[contaminated]]'s scale path: same semantics, same output, but
    * the benchmark membership test broadcasts BITS instead of strings.
    * A Bloom filter built over the benchmark shingles
    * ([[BloomFilters]]) prefilters the corpus shingles with a
    * pure-Column probe (codegen'd, zero shuffle); only the survivors —
    * true overlaps plus the ~fpp false-positive fraction — pay the
    * exact confirm join, which removes every false positive. The
    * result is therefore EXACTLY [[contaminated]]'s (same DuckDB
    * oracle), while the broadcast cost drops from Σ|shingle strings|
    * to m bits — the difference between "cannot ship the eval suite to
    * executors" and ~180 MB at 10⁸ benchmark n-grams. */
  def contaminatedBloom(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 5, minShared: Long = 1,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val shingleCol =
      graft.functions.ShingleExprs.wordShingles(spark, col(textCol), n)
    // Materialize the bench shingles ONCE (localCheckpoint) — three
    // consumers follow (count, bloom build, confirm join), and at the
    // eval-suite scale this function exists for, re-exploding the
    // suite three times would be two redundant heavyweight jobs.
    val (benchSh, nBench) = measuredBenchShingles(bench, textCol, n)
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
      explode(shingleCol).as("shingle"))
    bloomConfirmJoin(spark, corpusSh, benchSh, nBench, fpp)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Graded contamination score — [[contaminated]]'s boolean screen is
    * what ships, but threshold TUNING needs the per-doc overlap
    * fraction: shared distinct n-grams over the doc's total distinct
    * n-grams. Same plan as the screen plus one marker column: ONE
    * corpus explode, a broadcast LEFT join against the eval shingles,
    * one partial+final aggregate keyed by doc (shingle rows stay in
    * their doc's input partition, so the map side collapses them to
    * one row per doc before the exchange). The fraction is emitted in
    * integer BASIS POINTS via floor division — a rounded double here
    * sits in the round()-midpoint divergence class (e.g. 1/160 =
    * 0.00625) the build notes ban. */
  def contaminationScore(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 5,
      benchBroadcastMax: Long = BenchBroadcastMaxShingles): DataFrame = {
    val spark = corpus.sparkSession
    val shingleCol =
      graft.functions.ShingleExprs.wordShingles(spark, col(textCol), n)
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
      explode(shingleCol).as("shingle"))
    // Same size guard as the screen: past the broadcast ceiling the
    // LEFT-join-with-marker plan splits into (per-doc totals) +
    // (bloom-prefiltered exact shared counts) joined back on doc_id —
    // two corpus-shingle passes instead of one, but no vocab-sized
    // broadcast. Below it, the measured bound is stamped as a no-op
    // limit on the broadcast side.
    val (benchShRaw, nBench) = measuredBenchShingles(bench, textCol, n)
    val counted =
      if (nBench > benchBroadcastMax) {
        val perDoc = corpusSh.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"))
        val shared = bloomConfirmJoin(spark, corpusSh, benchShRaw, nBench,
            fpp = 0.01)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("hits"))
        perDoc.join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("hits"), lit(0L)).as("n_shared"))
      } else {
        val benchSh = benchShRaw.limit(nBench.toInt)
          .withColumn("hit", lit(1L))
        corpusSh.join(broadcast(benchSh), Seq("shingle"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            coalesce(sum(col("hit")), lit(0L)).as("n_shared"))
      }
    counted.select(col("doc_id"), col("n_shingles"), col("n_shared"),
        expr("n_shared * 10000 div n_shingles").as("overlap_bp"))
  }

  /** Provenance-priority exact dedup — the multi-source curation rule:
    * when identical (normalized) content appears in several crawls,
    * keep the copy from the MOST TRUSTED source (lowest priority
    * value), ties broken by min id. One partial+final aggregate: the
    * argmin over (priority, id) rides a single packed BIGINT
    * `priority·idBound + id` through the shuffle — no window, no
    * second pass, and the packing arithmetic is integer-exact in any
    * engine, which keeps the DuckDB oracle bit-identical.
    *
    * @param idBound exclusive upper bound on ids (packing base). */
  def exactByPriority(df: DataFrame, textCol: String, idCol: String,
      prioCol: String, idBound: Long = 1000000L): DataFrame = {
    require(idBound > 0, s"idBound $idBound")
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    // Packing is only an argmin encoding if 0 ≤ id < idBound and
    // prio ≥ 0 — fail LOUDLY on violation instead of decoding a
    // nonexistent canonical id.
    val packed = when(
      col(idCol) >= 0 && col(idCol) < idBound && col(prioCol) >= 0,
      col(prioCol).cast("long") * idBound + col(idCol))
      .otherwise(raise_error(concat(
        lit(s"exactByPriority: id/prio outside packing range (idBound=$idBound): "),
        col(idCol).cast("string"), lit("/"), col(prioCol).cast("string"))))
    // Two-stage rather than count_distinct(prio) alongside min/count
    // in one aggregate: the mixed distinct/non-distinct form plans an
    // Expand (every corpus row ×2 before the shuffle). Pre-aggregating
    // per (hash, prio) map-side combines to distinct groups, then the
    // per-hash rollup derives n_sources as a plain count — same
    // result, no row replication anywhere.
    val perPrio = df.withColumn("text_hash", md5(norm))
      .groupBy(col("text_hash"), col(prioCol))
      .agg(min(packed).as("p_packed"), count(lit(1)).as("p_copies"))
    perPrio.groupBy(col("text_hash"))
      .agg(
        min(col("p_packed")).as("packed"),
        sum(col("p_copies")).as("n_copies"),
        count(lit(1)).as("n_sources"))
      .select(
        pmod(col("packed"), lit(idBound)).as("canonical_id"),
        expr(s"packed div $idBound").as("canonical_prio"),
        col("n_copies"), col("n_sources"))
  }

  /** Cross-document EXACT substring-duplication scan (the "dedup
    * repeated spans" signal from the public train-data-dedup
    * literature): an L-token window is duplicated if its exact token
    * sequence occurs more than once in the corpus — any document, any
    * position. Per document: window count, duplicated-window count,
    * duplicated fraction — the score used to drop or trim documents
    * dominated by corpus-wide boilerplate.
    *
    * Shape: ONE explode into per-position windows (native kernel, not
    * a per-element lambda), one partial+final count per distinct
    * window, one join back, one per-doc aggregate — the same
    * shuffle profile as tf-idf. The windows ride the explode and the
    * count shuffle as 8-byte xxhash64 values (the hashed kernel),
    * never as ~10-token strings — the shuffle payload per window
    * drops ~8×, and the DuckDB oracle (which groups the strings) is
    * unchanged because only per-window COUNTS reach the output and
    * hash grouping equals string grouping absent a 2⁻⁶⁴ collision. */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val win = graft.functions.ShingleExprs.wordWindowHashes(spark, col(textCol),
      windowTokens)
    val occ = df.select(col(idCol).as("doc_id"), explode(win).as("w"))
    val counts = occ.groupBy(col("w")).agg(count(lit(1)).as("c"))
    occ.join(counts, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
        round(sum(when(col("c") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("dup_frac"))
  }

  /** The TRANSFORM companion to [[dupSpanStats]] (the ExactSubstr-dedup
    * "remove duplicated spans" step from the public train-data-dedup
    * literature): every occurrence of a duplicated L-token window is
    * dropped EXCEPT the corpus-wide first occurrence (min packed
    * (doc, pos) — deterministic in any engine), and each document is
    * rebuilt from its surviving tokens. Output per doc: the trimmed
    * text plus (n_tok, n_dropped, n_kept, drop_frac) — the counts are
    * integer-exact, so the query form oracle-checks against DuckDB
    * while the rebuilt text is asserted in DedupSpec.
    *
    * Shape: the SAME shuffle profile as [[dupSpanStats]] (one window
    * explode + one count agg + join back) plus one bounded explode of
    * covered positions (dup occurrences × L, clipped to doc length)
    * into a per-doc collect_set — nothing quadratic, nothing
    * collected. Windows ride the checkpoint, the explode, and the
    * count shuffle as 8-byte xxhash64 values (same reasoning as
    * [[dupSpanStats]]): only counts and positions reach the output,
    * so hash grouping is output-identical to string grouping.
    *
    * @param posBound exclusive upper bound on window positions, used
    *   to pack (doc, pos) into one BIGINT for the argmin. */
  def trimDupSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 10, posBound: Long = 1000000000L): DataFrame = {
    val spark = df.sparkSession
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val win = graft.functions.ShingleExprs.wordWindowHashes(spark, col(textCol),
      windowTokens)
    // Materialize the tokenized/windowed frame ONCE: three consumers
    // follow (the window-count aggregate, the dup-occurrence join, and
    // the final rebuild join), and without the checkpoint each one
    // re-runs the split + window kernel over the full corpus text —
    // the same three-consumer reasoning as contaminatedBloom's bench
    // shingles. The windows are stored hashed (longs), so the
    // checkpoint holds toks + 8 bytes/window, not the windows' text.
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        toks.as("toks"), win.as("wins"))
      .withColumn("n_tok", size(col("toks")))
      .localCheckpoint(eager = true)
    val occ = base.select(col("doc_id"), col("n_tok"),
        posexplode(col("wins")))
      .withColumnRenamed("col", "w")
    def pk(doc: Column, pos: Column): Column = doc * posBound + pos
    val counts = occ.groupBy(col("w"))
      .agg(count(lit(1)).as("c"),
        min(pk(col("doc_id"), col("pos"))).as("first_pk"))
    val dupOcc = occ.join(counts.where(col("c") > 1), Seq("w"))
      .where(pk(col("doc_id"), col("pos")) =!= col("first_pk"))
    // covered token positions per doc, clipped to the doc's length
    // (a short doc's single fallback window spans the whole doc)
    val covered = dupOcc.select(col("doc_id"),
        explode(sequence(col("pos"),
          least(col("pos") + (windowTokens - 1), col("n_tok") - 1))).as("cpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cpos")).as("covered"))
    // Rebuild: kept positions via array_except (hash-set difference,
    // one native call per row, preserves left order) instead of a
    // filter+array_contains lambda — that shape scans the covered set
    // once PER TOKEN, O(n_tok × |covered|) interpreted steps on
    // exactly the duplicate-heavy docs that made the span scan
    // necessary. element_at inside the transform indexes the
    // checkpointed toks ATTRIBUTE (O(1) array access), not a
    // re-evaluated expression.
    base.join(covered, Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce(col("covered"), array().cast("array<int>")))
      .withColumn("kept_pos",
        array_except(sequence(lit(0), col("n_tok") - 1), col("cov")))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("kept_pos"),
          i => element_at(col("toks"), i + 1)))
          .as("trimmed_text"),
        col("n_tok"),
        size(col("cov")).as("n_dropped"),
        (col("n_tok") - size(col("cov"))).as("n_kept"),
        round(size(col("cov")).cast("double") / col("n_tok"), 4)
          .as("drop_frac"))
  }

  /** MinHash signature: k independent hash functions simulated by
    * seeding xxhash64 with the hash index (Broder's scheme). Output:
    * `sig` ARRAY<BIGINT> of length k.
    *
    * Computed as ONE aggregate pass over the shingles that maintains
    * all k minima at once. The naive nesting (transform over seeds ×
    * array_min over shingles) re-evaluates the shingle expression k
    * times per row after Catalyst collapses the projection into the
    * lambda — higher-order functions don't codegen, so that costs k
    * interpreted evaluations of split/lower/concat per ROW.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, n: Int = 3): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.minhashSig(df.sparkSession, col(textCol), k, n)
        .as("sig"))

  /** Declarative MinHash (kept as the reference implementation the
    * native kernel is asserted against; see DedupSpec). */
  def minhashSignaturesDeclarative(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, n: Int = 3): DataFrame = {
    val seeds = sequence(lit(0), lit(k - 1))
    df.select(col(idCol).as("doc"),
      aggregate(shingles(col(textCol), n),
        array_repeat(lit(Long.MaxValue), k),
        (acc, s) => zip_with(acc, seeds, (m, i) => least(m, xxhash64(s, i))))
        .as("sig"))
  }

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows each; docs sharing any band hash are candidates.
    * Probability a pair with true Jaccard j becomes a candidate:
    * 1 - (1 - j^r)^b with r = k/bands.
    *
    * A pair agreeing on several bands is emitted ONCE, from its first
    * agreeing band: each banded row carries the doc's full band-key
    * array (bands longs — fixed 8·bands bytes, tiny next to the sig
    * it derives from), and the joined row keeps only pairs whose
    * prior band keys all differ. Same trick as
    * [[simhashCandidatePairs]] / Similarity.rpLshNearDups: the filter
    * is arithmetic on columns already in the row, replacing a
    * `distinct()` that re-shuffled the whole candidate set — a set
    * that on boilerplate-heavy corpora (the ones that need LSH) can
    * dwarf the corpus itself. element_at on the materialized array
    * ATTRIBUTE is O(1) per probe (unlike on an expression, which
    * would re-evaluate the transform per element). */
  def lshCandidatePairs(sigs: DataFrame, bands: Int = 16): DataFrame = {
    val rowsPerBand = size(col("sig")) / bands
    val buckets = sigs
      .select(col("doc"),
        transform(
          sequence(lit(0), lit(bands - 1)),
          bnd => xxhash64(concat_ws("_",
            bnd, concat_ws(",", slice(col("sig"),
              bnd * rowsPerBand + 1, rowsPerBand).cast("array<string>")))))
          .as("bkeys"))
      // posexplode_OUTER, deliberately: bkeys is transform over a
      // fixed `bands`-element sequence, never empty, so outer is
      // semantically identical — but a plain posexplode makes the
      // optimizer infer `size(bkeys) > 0` (InferFiltersFromGenerate)
      // and push it through the projections to the SCAN with every
      // alias substituted: the whole minhash sig re-evaluated inside
      // the per-band lambda, per input row, before the repartition —
      // measured 9× on q_dedup_minhash. Outer generators infer
      // nothing.
      .select(col("doc"), col("bkeys"), posexplode_outer(col("bkeys")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    // sequence(0, band-1) would count DOWN for band = 0; filter the
    // full band range instead (bands elements, constant).
    val priorBands = filter(sequence(lit(0), lit(bands - 1)),
      b => b < col("x.band"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc") < col("y.doc"))
      .where(!exists(priorBands, b =>
        element_at(col("x.bkeys"), (b + 1).cast("int")) ===
          element_at(col("y.bkeys"), (b + 1).cast("int"))))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
  }

  /** MinHash near-dup pipeline: LSH candidates verified by exact
    * Jaccard on the candidates only. */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val sigs = minhashSignatures(df, textCol, idCol, k, n)
    val cands = lshCandidatePairs(sigs, bands)
    val sh = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.wordShingles(df.sparkSession, col(textCol), n).as("sh"))
    cands
      .join(sh.select(col("doc").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash over word tokens: bit i of the hash is the sign of
    * Σ_tokens (±1 by bit i of xxhash64(token)). */
  def simhash64(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // shiftright/shiftleft in the Scala API take Int distances; inside
    // a lambda the distance is a Column, so go through call_function.
    def shr(x: Column, i: Column): Column = call_function("shiftright", x, i)
    def shl(x: Column, i: Column): Column = call_function("shiftleft", x, i)
    val bits = sequence(lit(0), lit(63))
    // One pass over tokens maintaining all 64 bit-sums (see
    // minhashSignatures for why the tokens must be aggregated once).
    val bitSums = aggregate(toks, array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc, bits, (a, i) =>
        a + when(shr(xxhash64(t), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitSums, bits,
        (s, i) => when(s > 0, shl(lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates with hamming distance ≤ maxDist,
    * found by the pigeonhole trick: split 64 bits into maxDist+1
    * chunks; any pair within maxDist must agree on ≥1 whole chunk, so
    * an equi-join per chunk finds all of them without a cross join. */
  def simhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    def keyOf(sig: Column, c: Column): Column =
      call_function("shiftrightunsigned", sig, c * width)
        .bitwiseAND((1L << width) - 1)
    // Native codegen'd expression (bit-identical to the declarative
    // simhash64; equivalence asserted in DedupSpec).
    val hashed = df.select(col(idCol).as("doc"),
      graft.functions.SimHash64Expr.simhash64(df.sparkSession, col(textCol)).as("sh64"))
    val banded = hashed.select(col("doc"), col("sh64"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => keyOf(col("sh64"), c))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    // A pair agreeing on several chunks is emitted once, from its
    // FIRST agreeing chunk — a signature-arithmetic filter on the
    // joined row (same trick as Similarity.rpLshNearDups), replacing
    // a distinct() that would shuffle the whole candidate set again.
    val priorChunks = filter(sequence(lit(0), lit(chunks - 1)),
      c => c < col("x.chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.doc") < col("y.doc"))
      .where(!exists(priorChunks,
        c => keyOf(col("x.sh64"), c) === keyOf(col("y.sh64"), c)))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        hamming64(col("x.sh64"), col("y.sh64")).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** ORACLE-EXACT MinHash near-dup twin of [[minhashNearDups]]: the
    * identical LSH pipeline — per-band signatures, pigeonhole bucket
    * join, FIRST-AGREEING-BAND emission, exact-Jaccard verify on the
    * candidates only — with an md5-derived 52-bit hash family in place
    * of xxhash64, so a DuckDB oracle replays signatures, band keys,
    * candidate generation AND the verify bit-for-bit (the
    * Similarity.rpLshNearDups full-replay recipe; xxhash64 is the one
    * piece of the production tier no second engine can recompute).
    *
    * Hash family: `hv(i, s) = md5("mh|i|s")` 13-hex prefix as a
    * nonneg BIGINT (exact in both engines); the signature is
    * `min_s hv(i, s)` per hash index i. Band key = md5 of the
    * comma-joined in-order minhashes, folded to 52 bits — an 8-byte
    * join key (string posting keys pay UTF8 hashing per probe).
    * Verify emits integer BASIS POINTS via floor div (the count-ratio
    * parity rule), never a rounded quotient.
    *
    * Scale shape is the production tier's: the banded frame carries
    * (doc, bkeys) only, candidates are bounded by bucket collisions —
    * never all-pairs — and shingle sets re-attach by id for surviving
    * candidates alone. Defaults k=16/bands=4 keep the oracle's k×
    * shingle explode affordable at verify SF; the xxhash tier keeps
    * k=64/bands=16 for production recall.
    *
    * @return (doc_a, doc_b, j_bp) — verified near-dup pairs with
    *         Jaccard in basis points, j_bp >= thresholdBp. */
  def minhashNearDupsMd5(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3,
      thresholdBp: Long = 3000L): DataFrame = {
    require(k % bands == 0, s"bands $bands must divide k $k")
    val r = k / bands
    val spark = df.sparkSession
    // consumed by the index build AND both verify legs: compute once
    val sh = df.select(col(idCol).as("doc"),
        graft.functions.ShingleExprs.wordShingles(spark, col(textCol), n)
          .as("ws"))
      .localCheckpoint(true)
    // band keys from the native one-pass kernel (bit-identical to
    // minhashMd5BandKeysRef — DedupSpec): replaces a shingles×k
    // explode plus two hash aggregates with one scan-stage expression
    val docKeys = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.md5MinhashBands(spark, col(textCol),
        k, bands, n).as("bkeys"))
    // posexplode_OUTER for the same InferFiltersFromGenerate reason as
    // lshCandidatePairs (bkeys is never empty, so outer ≡ inner)
    val banded = docKeys
      .select(col("doc"), col("bkeys"), posexplode_outer(col("bkeys")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val priorBands = filter(sequence(lit(0), lit(bands - 1)),
      b => b < col("x.band"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc") < col("y.doc"))
      .where(!exists(priorBands, b =>
        element_at(col("x.bkeys"), (b + 1).cast("int")) ===
          element_at(col("y.bkeys"), (b + 1).cast("int"))))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
    cand
      .join(sh.select(col("doc").as("doc_a"), col("ws").as("ws_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("ws").as("ws_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast("long"))
      .withColumn("j_bp", expr(
        "inter * 10000 div (size(ws_a) + size(ws_b) - inter)"))
      .where(col("j_bp") >= thresholdBp)
      .select(col("doc_a"), col("doc_b"), col("j_bp"))
  }

  /** The DISTRIBUTED (doc, bkeys) chain for the md5 MinHash twin —
    * hash explode → per-(doc, i) min → per-band md5 key → in-order
    * collect. This is the oracle-SHAPED reference implementation the
    * [[graft.functions.ShingleKernels.md5MinhashBands]] kernel is
    * asserted bit-identical to (DedupSpec); operators declare the
    * kernel. */
  private[dedup] def minhashMd5BandKeysRef(df: DataFrame, textCol: String,
      idCol: String, k: Int, bands: Int, n: Int): DataFrame = {
    val r = k / bands
    val spark = df.sparkSession
    val sh = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.wordShingles(spark, col(textCol), n)
        .as("ws"))
    val hv = conv(substring(md5(concat_ws("|", lit("mh"),
        col("i").cast("string"), col("s"))), 1, 13), 16, 10)
      .cast("long")
    val mh = sh.select(col("doc"), explode(col("ws")).as("s"))
      .select(col("doc"), col("s"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .groupBy(col("doc"), col("i")).agg(min(hv).as("mh"))
    val bk = mh.withColumn("band", expr(s"i div $r"))
      .groupBy(col("doc"), col("band"))
      .agg(conv(substring(md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("i"), col("mh")))),
            e => e.getField("mh").cast("string")))), 1, 13), 16, 10)
        .cast("long").as("bkey"))
    bk.groupBy(col("doc"))
      .agg(transform(
        array_sort(collect_list(struct(col("band"), col("bkey")))),
        e => e.getField("bkey")).as("bkeys"))
  }

  /** The DISTRIBUTED (doc, sh52) chain for the md5 SimHash twin —
    * nonempty-token explode → 52 codegen'd bit sums in one hash
    * aggregate → signature assembly. The oracle-SHAPED reference the
    * [[graft.functions.ShingleKernels.md5Simhash52]] kernel is
    * asserted bit-identical to (DedupSpec); operators declare the
    * kernel. Docs with no nonempty token produce NO row. */
  private[dedup] def simhash52Ref(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val nBits = 52
    val toks = df.select(col(idCol).as("doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("t"))
      .where(length(col("t")) > 0)
    val hv = conv(substring(md5(concat(lit("sh|"), col("t"))), 1, 13),
      16, 10).cast("long")
    val sums = (0 until nBits).map(b =>
      sum(when(shiftrightunsigned(col("hv"), b).bitwiseAND(lit(1L)) === 1L,
        1L).otherwise(-1L)).as(s"s$b"))
    val agged = toks.select(col("doc"), hv.as("hv"))
      .groupBy(col("doc")).agg(sums.head, sums.tail: _*)
    val sig = (0 until nBits).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    agged.select(col("doc"), sig.as("sh52"))
  }

  /** ORACLE-EXACT SimHash near-dup twin of [[simhashCandidatePairs]]:
    * a 52-BIT md5-derived SimHash (13-hex-prefix token hashes — the
    * one hash both engines compute identically; 52 bits also keeps
    * every `1::BIGINT << b` in DuckDB's sign-safe range) with the
    * identical pigeonhole chunk join and first-agreeing-chunk
    * emission. Tokens are the NONEMPTY whitespace splits of
    * lower(trim(text)) — declared twin semantics, mirrored verbatim
    * in the oracle.
    *
    * Spark shape: the signature comes from the native one-pass kernel
    * [[graft.functions.ShingleKernels.md5Simhash52]] (bit-identical to
    * [[simhash52Ref]]'s distributed explode + 52-sum aggregate —
    * DedupSpec) — scan-stage, no shuffle before the chunk join.
    *
    * @return (doc_a, doc_b, hamming) — pairs within `maxDist` bits. */
  def simhashNearDupsMd5(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame = {
    val nBits = 52
    val chunks = maxDist + 1
    require(nBits % chunks == 0, s"maxDist+1 must divide 52, got $chunks")
    val width = nBits / chunks
    val sigs = df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.md5Simhash52(df.sparkSession,
        col(textCol)).as("sh52"))
      .where(col("sh52") >= 0) // −1 = no nonempty token (absent in ref)
    def keyOf(s: Column, c: Column): Column =
      call_function("shiftrightunsigned", s, c * width)
        .bitwiseAND((1L << width) - 1)
    val banded = sigs.select(col("doc"), col("sh52"),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          c => keyOf(col("sh52"), c))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val priorChunks = filter(sequence(lit(0), lit(chunks - 1)),
      c => c < col("x.chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.doc") < col("y.doc"))
      .where(!exists(priorChunks,
        c => keyOf(col("x.sh52"), c) === keyOf(col("y.sh52"), c)))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        bit_count(col("x.sh52").bitwiseXOR(col("y.sh52"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxDist)
  }
}
