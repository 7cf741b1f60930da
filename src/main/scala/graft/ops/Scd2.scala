package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 history builder: turn an
  * append-only change log (key, ordered sequence, attributes) into
  * versioned validity intervals — the warehouse-standard companion to
  * the latest-wins CDC merge in [[Merge]] (which keeps only the final
  * state; this keeps the full history as [valid_from, valid_to)
  * rows with an open current row per key).
  *
  * Two steps, both windowed over the KEY partitions:
  *   1. collapse runs — a row survives only if its tracked attributes
  *      differ from the previous row's (null-safe), so re-asserting an
  *      unchanged state never opens a new version;
  *   2. interval assembly — `valid_to` = next surviving row's
  *      sequence value, null on the current row; `version` numbers the
  *      survivors 1..n per key.
  *
  * Scale shape: the only shuffle is the hash exchange on the key, and
  * the window partitions by the change-log's natural key (user, entity
  * id) — high cardinality by construction, so the per-partition sort
  * is over each key's handful of changes, never a skewed giant
  * partition (this is the opposite of the low-cardinality-window
  * anti-pattern: here the partition key IS the entity id). Both
  * windows share one partitioning, so Catalyst plans a single
  * exchange + sort reused by the lag, lead and row_number.
  *
  * Ordering must be total per key: pass a `tieCol` (a unique event
  * id) so equal sequence values order deterministically on every
  * engine and every run.
  */
object Scd2 {

  /** Build SCD2 rows from `df`. Output: key, version (1..n),
    * attrCols..., valid_from (= seqCol of the change), valid_to
    * (= next change's seqCol, null while current), is_current (1/0).
    */
  def fromChangeLog(df: DataFrame, keyCol: String, seqCol: String,
      tieCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "need at least one tracked attribute")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol), col(tieCol))
    // null-safe "any attribute changed vs previous row"; the first row
    // of a key has lag = null which <=> fails against any value, so it
    // always survives as version 1.
    val unchanged: Column = attrCols
      .map(a => lag(col(a), 1).over(w) <=> col(a))
      .reduce(_ && _)
    val changes = df
      .withColumn("__keep", !unchanged)
      .where(col("__keep"))
      .drop("__keep")
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
      .select((Seq(col(keyCol), col("version")) ++
        attrCols.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))): _*)
  }
}
