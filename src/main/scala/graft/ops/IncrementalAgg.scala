package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate (materialized-view) maintenance: merge a
  * DELTA of new rows into the current per-key aggregate state without
  * touching the base data — the standard refresh path for any rollup
  * a pipeline keeps warm (per-customer totals, per-source token
  * counts, daily rollups).
  *
  * Merge rules: counts and sums are abelian-group merges (exact);
  * min/max are semilattice merges — correct for INSERT deltas only.
  * Deletions would need either full recompute or 2-level state for
  * the min/max columns (counts/sums handle retractions by sign);
  * this operator declares insert-only semantics.
  *
  * Scale shape: the delta pre-aggregates FIRST (partial+final on the
  * delta alone — typically orders of magnitude smaller than state),
  * then ONE full-outer equi join on the key merges it into state.
  * The base table is never read; state shuffles once on its key (or
  * never, if the state table is bucketed by key). The
  * full-outer + using-columns form coalesces the key columns, so
  * keys new to the delta and keys absent from it both survive (the
  * build-note recipe).
  */
object IncrementalAgg {

  /** `state`: keys ++ (cnt, sum_<c>, min_<c>, max_<c> for each c in
    * `valCols`). `delta`: raw rows with keys ++ valCols. Returns the
    * updated state with the same schema. Use [[initial]] to build
    * the state shape from a base table. */
  def maintain(state: DataFrame, delta: DataFrame,
      keys: Seq[String], valCols: Seq[String]): DataFrame = {
    val d = initial(delta, keys, valCols)
      .select(keys.map(col) ++
        aggCols(valCols).map(c => col(c).as(s"__d_$c")): _*)
    val merged = state.join(d, keys, "full_outer")
    val updated = merged
      .withColumn("cnt",
        coalesce(col("cnt"), lit(0L)) + coalesce(col("__d_cnt"), lit(0L)))
    val withVals = valCols.foldLeft(updated) { (df, c) =>
      df.withColumn(s"sum_$c",
          coalesce(col(s"sum_$c"), lit(0L)) +
            coalesce(col(s"__d_sum_$c"), lit(0L)))
        .withColumn(s"min_$c", least(col(s"min_$c"), col(s"__d_min_$c")))
        .withColumn(s"max_$c", greatest(col(s"max_$c"), col(s"__d_max_$c")))
    }
    withVals.select(keys.map(col) ++ aggCols(valCols).map(col): _*)
  }

  /** Aggregate a base/delta table into the state shape. `valCols`
    * must be integral (exact merges); floor-scale doubles first. */
  def initial(base: DataFrame, keys: Seq[String],
      valCols: Seq[String]): DataFrame =
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        valCols.flatMap(c => Seq(
          sum(col(c)).as(s"sum_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)

  private def aggCols(valCols: Seq[String]): Seq[String] =
    "cnt" +: valCols.flatMap(c => Seq(s"sum_$c", s"min_$c", s"max_$c"))
}
