package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-dimension rank-based winsorization (quantile clipping) of an
  * embedding column — the robust-scaling step before quantization or
  * distance indexing: a handful of extreme coordinates otherwise
  * dominate int8 ranges (q_embed_quantize) and PQ codebooks. Bounds
  * are RANK-selected data values (the k-th smallest per dimension),
  * not interpolated quantiles — a data value compares exactly in any
  * engine, dodging the quantile-midpoint rounding divergence class
  * entirely, and clipping at "the k-th value" is what the published
  * robust-scaler recipes do anyway.
  *
  * Scale shape: the melted (dim, value) frame gets EXACT per-dim ranks
  * from ONE range-partitioned sort + zipWithIndex
  * ([[Shuffle.positionsBy]] — global positions minus each dim's start
  * offset). A `row_number() OVER (PARTITION BY dim)` would funnel the
  * whole melted corpus into |dims| reducer partitions — the measured
  * low-cardinality-window skew trap (64 dims is LOW cardinality; the
  * corpus is not). The dim-start offsets, per-dim k targets, and the
  * bounds themselves are all ≤ |dims| rows — broadcast joins; the
  * corpus-sized frames only ever see the one sort exchange and one
  * count aggregate.
  */
object Winsorize {

  /** Per-dimension clip bounds + clip counts: for each dim, `lo` = the
    * ⌈pLo·n⌉-th smallest value, `hi` = the ⌈pHi·n⌉-th smallest
    * (ties broken by id — a strict total order, so ranks are exact and
    * deterministic), plus how many cells fall strictly outside. */
  def bounds(df: DataFrame, vecCol: String, idCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99,
      partitions: Int = 32): DataFrame = {
    val melted = df
      .select(col(idCol).cast("long").as("id"),
        posexplode(col(vecCol).cast("array<double>")))
      .toDF("id", "dim", "v")
    // ONE sort of the melted corpus; materialized because three
    // consumers follow (dim offsets, rank filter, clip counts) and the
    // zipWithIndex lineage would re-sort per consumer.
    val pos = Shuffle.positionsBy(melted, Seq("dim", "v", "id"), "gpos",
        partitions)
      .localCheckpoint(eager = true)
    val dims = pos.groupBy(col("dim"))
      .agg(min(col("gpos")).as("start"), count(lit(1)).as("n"))
    val ks = dims.select(col("dim"), col("n"),
      ceil(col("n") * lit(pLo)).cast("long").as("k_lo"),
      ceil(col("n") * lit(pHi)).cast("long").as("k_hi"))
    val bnds = pos.join(broadcast(ks.join(dims.select("dim", "start"), Seq("dim"))),
        Seq("dim"))
      .withColumn("rk", col("gpos") - col("start") + 1)
      .where(col("rk") === col("k_lo") || col("rk") === col("k_hi"))
      .groupBy(col("dim"))
      .agg(min(when(col("rk") === col("k_lo"), col("v"))).as("lo"),
        min(when(col("rk") === col("k_hi"), col("v"))).as("hi"))
    pos.join(broadcast(bnds), Seq("dim"))
      .groupBy(col("dim"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_above"))
      .select(col("dim"), col("lo"), col("hi"), col("n"),
        col("n_below"), col("n_above"))
  }
}
