package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash sampling — the reproducible substitute for
  * `rand()` in a training-data pipeline: the same row is in or out of
  * the sample on every run, on every engine, regardless of
  * partitioning. The coin is the first 4 hex digits of md5(id), a
  * uniform draw from [0, 16^4), compared lexicographically against a
  * per-stratum threshold string (hex compares identically as a string
  * and as a number). md5 rather than xxhash64 because the oracle
  * engine computes the identical digest, so sampling decisions are
  * bit-reproducible across engines.
  *
  * Stratified rates are the mixture-control knob: downsample
  * over-represented strata (lang, source domain) at read time without
  * ever shuffling — the predicate is scan-stage, zero-shuffle work
  * that composes with parquet filter pushdown.
  */
object Sampling {

  /** Per-stratum sampling predicate: `rates` maps stratum values to
    * rates; strata not in the map keep everything (rate 1.0). */
  def stratifiedAt(id: Column, stratum: Column,
      rates: Map[String, Double]): Column = {
    val thresholds = rates.map { case (k, r) => k -> threshold(r) }
    coin(id) < coalesce(try_element_at(typedLit(thresholds), stratum),
      lit("g"))
  }

  /** Weighted Bernoulli (Poisson) sampling: each row kept with
    * probability `weight / wNorm` (clamped at 1), deterministically.
    * The uniform draw is the first 13 md5 hex digits of the id — 52
    * uniform bits, exactly representable as a double — and the
    * comparison runs in ONE fixed IEEE operation order
    * (`u < w / wNorm * 2^52`) that the oracle SQL mirrors literally:
    * identical inputs through identical float ops give identical
    * keep/drop decisions on both engines, with no rounding boundary
    * anywhere. Scan-stage predicate — composes with pushdown, zero
    * shuffle — and the expected kept fraction of stratum S is
    * E[w|S]/wNorm: quality-weighted downsampling without RNG state. */
  def weightedAt(id: Column, weight: Column, wNorm: Double): Column = {
    require(wNorm > 0, s"wNorm must be positive: $wNorm")
    conv(substring(md5(id.cast("string")), 1, 13), 16, 10).cast("double") <
      weight.cast("double") / lit(wNorm) * lit(4503599627370496.0) // 2^52
  }

  /** Deterministic EXACT-k uniform sample per group — the
    * reservoir-sampling answer ("exactly k docs per source, uniformly")
    * without reservoir state: rank every row by a 52-bit md5 draw on
    * its id (ties by id) and keep each group's k smallest. Equivalent
    * to a uniform k-subset because the hash order is a fixed random
    * permutation of ids, and reproducible on any engine that can md5.
    * Ranking runs through the bounded-heap TopK aggregate, so the
    * shuffle carries ≤ k rows per (group, partition) — never a window
    * sort over the group. */
  def groupedExactK(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("double") // 52 bits: exact in a double on every engine
    TopK.byScore(df.select(col(groupCol), col(idCol)).withColumn("__u", -u),
        Seq(groupCol), "__u", idCol, k)
      .select(col(groupCol), col(idCol), col("rk"))
  }

  /** Deterministic EXACT-k WEIGHTED sample without replacement
    * (Efraimidis & Spirakis, "Weighted random sampling with a
    * reservoir", IPL 2006, via exponential clocks): each row draws
    * key = −ln(u)/w from its deterministic 52-bit md5 uniform and the
    * k smallest keys win — inclusion probabilities match sequential
    * weighted draws without replacement. Complements [[weightedAt]]
    * (Bernoulli, variable size) and [[groupedExactK]] (uniform): this
    * is "exactly k docs, quality-weighted". orderBy+limit compiles to
    * TakeOrderedAndProject — a bounded heap per partition and a
    * driver merge of k rows, no global sort. NOT oracle-SQL-paired:
    * ln/pow cross-engine bit-parity is the round()-midpoint class;
    * exactness is pinned against a driver-side replay in
    * SamplingSpec instead. Rows with weight ≤ 0 can never win and
    * are filtered. */
  def weightedExactK(df: DataFrame, idCol: String, weight: Column,
      k: Int, seed: Long = 0L): DataFrame = {
    val key = esKey(col(idCol), weight, seed)
    df.where(weight > 0)
      .withColumn("__es", key)
      .orderBy(asc("__es"), asc(idCol))
      .limit(k)
      .drop("__es")
  }

  /** The E-S exponential clock for one row — exposed so the spec can
    * replay it driver-side bit-for-bit. */
  private[ops] def esKey(id: Column, weight: Column, seed: Long): Column = {
    val u = greatest(
      conv(substring(md5(concat(lit(seed.toString), lit("|"),
        id.cast("string"))), 1, 13), 16, 10).cast("double"),
      lit(1.0)) / lit(4503599627370496.0) // 2^52; u=0 guarded to 2^-52
    -log(u) / weight.cast("double")
  }

  private def coin(id: Column): Column =
    substring(md5(id.cast("string")), 1, 4)

  /** 4-hex-digit threshold: rows with coin < threshold are sampled, so
    * the sampled fraction is round(rate * 16^4) / 16^4 (exact for
    * rates that are multiples of 1/65536). */
  private[ops] def threshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
    val n = math.round(rate * 65536.0).toInt
    if (n >= 65536) "g" // sentinel above every 4-hex string
    else f"$n%04x"
  }
}
