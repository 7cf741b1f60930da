package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew tools for hot grouping keys.
  *
  * AQE's skew-join splitting handles hot join keys at runtime; a hot
  * GROUP key it can't split: a single pathological group key (one
  * user owning 10⁹ files, one shingle in every document) funnels its
  * whole group through one reducer. [[saltedAgg]] splits each key
  * into `salts` sub-groups for the wide partial aggregate, then
  * combines the partials with a second (tiny) aggregate. Only
  * algebraic aggregates (sum/count/min/max) compose this way — which
  * is why the combine expression is taken explicitly.
  */
object Skew {

  /** Two-phase salted aggregation.
    *
    * @param aggs (name, perRowExpr, combineExpr): perRowExpr aggregates
    *   rows within a salted sub-group; combineExpr (referencing the
    *   column `name`) merges sub-group partials. E.g.
    *   ("n", count(lit(1)), sum(col("n"))).
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salts: Int,
      aggs: Seq[(String, Column, Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(rand(seed = 7) * Int.MaxValue), lit(salts)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map(a => a._2.as(a._1)): _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(aggs.head._3.as(aggs.head._1),
        aggs.tail.map(a => a._3.as(a._1)): _*)
  }
}
