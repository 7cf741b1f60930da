package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — the multi-dimensional data-layout
  * lever that a single-key sort or bucketing can't provide.
  *
  * A corpus queried by TWO independent dimensions (source and
  * quality bucket, part and supplier, host and language) can only be
  * sorted by one of them; a predicate on the other reads every file.
  * Interleaving the bits of both dimensions into one z-value and
  * range-sorting the table by it bounds EACH dimension's extent
  * within every shard: with `shardBits = 2b` shards, a shard spans at
  * most 2⁻ᵇ of each dimension's scaled range — so parquet row-group
  * min/max stats stay tight on BOTH columns and a predicate on either
  * one prunes ~(1 − 2⁻ᵇ) of the data. The sort is paid once at write
  * time (one range shuffle, same cost class as any global sort) and
  * amortized over every later scan — the standard lakehouse Z-order
  * layout, built from pure integer Column arithmetic.
  *
  * Everything here is integer-exact (scale by multiply-then-floor-div,
  * spread bits with the classic magic-mask doubling sequence), so the
  * DuckDB oracle reproduces z-values bit-for-bit.
  */
object ZOrder {

  /** Bit-spread a 16-bit value into the even bit positions of a
    * 32-bit value (x15…x0 → 0x15…0x1 0x0): the magic-mask doubling
    * sequence, four shift-or-mask steps, all on longs so the Column
    * arithmetic never touches sign bits. */
  def spread16(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0xFFFFL))
    val m1 = (m0.bitwiseOR(shiftleft(m0, 8))).bitwiseAND(lit(0x00FF00FFL))
    val m2 = (m1.bitwiseOR(shiftleft(m1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = (m2.bitwiseOR(shiftleft(m2, 2))).bitwiseAND(lit(0x33333333L))
    (m3.bitwiseOR(shiftleft(m3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Scale `v` from [vmin, vmax] onto the 16-bit integer grid
    * [0, 65535]. Multiply-before-divide with floor div keeps it
    * integer-exact in every engine (Column `/` on longs would be
    * DOUBLE division); a constant column (vmax = vmin) maps to 0. */
  def scale16(v: Column, vmin: Column, vmax: Column): Column =
    call_function("div",
      (v - vmin) * lit(65535L), greatest(vmax - vmin, lit(1L)))

  /** The 32-bit z-value of two 16-bit scaled dimensions: x in even
    * bits, y in odd. */
  def zvalue(sx: Column, sy: Column): Column =
    spread16(sx).bitwiseOR(shiftleft(spread16(sy), 1))

  /** `df` plus scaled dims (`sx`, `sy`) and the interleaved `zval`.
    * Bounds come from ONE tiny aggregate broadcast back over the
    * corpus (a 1-row cross join — no second scan of `df` per bound,
    * no driver collect). */
  def withZ(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val bounds = df.agg(
      min(col(xCol).cast("long")).as("_xmin"),
      max(col(xCol).cast("long")).as("_xmax"),
      min(col(yCol).cast("long")).as("_ymin"),
      max(col(yCol).cast("long")).as("_ymax"))
    val scaled = df.crossJoin(broadcast(bounds))
      .withColumn("sx",
        scale16(col(xCol).cast("long"), col("_xmin"), col("_xmax")))
      .withColumn("sy",
        scale16(col(yCol).cast("long"), col("_ymin"), col("_ymax")))
    scaled.withColumn("zval", zvalue(col("sx"), col("sy")))
      .drop("_xmin", "_xmax", "_ymin", "_ymax")
  }

  /** Per-shard layout summary: shard = top `shardBits` bits of the
    * z-value, with row count and each dimension's scaled min/max. The
    * bounding-box guarantee is visible directly in the output: with
    * shardBits = 2b, every shard's (sx_max − sx_min) and
    * (sy_max − sy_min) are < 2^(16−b) BY CONSTRUCTION — each shard is
    * a small rectangle, not a slab, which is exactly what parquet
    * min/max skipping needs on both columns at once. */
  def shardSummary(df: DataFrame, xCol: String, yCol: String,
      shardBits: Int = 6): DataFrame = {
    require(shardBits >= 2 && shardBits <= 32 && shardBits % 2 == 0,
      s"shardBits must be even in [2,32], got $shardBits")
    withZ(df, xCol, yCol)
      .withColumn("shard", shiftrightunsigned(col("zval"), 32 - shardBits))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("sx")).as("sx_min"), max(col("sx")).as("sx_max"),
        min(col("sy")).as("sy_min"), max(col("sy")).as("sy_max"))
      .orderBy(col("shard"))
  }
}
