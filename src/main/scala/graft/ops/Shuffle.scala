package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic corpus shuffle — the "global shuffle before training"
  * step of a data pipeline: every row gets a stable pseudo-random
  * position (and optionally a shard assignment derived from it), the
  * same on every run and every engine, with no RNG state anywhere.
  *
  * Plan shape for 100 TB:
  *   - the shuffle key is `md5(seed | id)` — a pure column expression,
  *     uniform by construction, reproducible across engines (DuckDB
  *     computes the identical hex digest, which is what the oracle
  *     exercises);
  *   - global positions come from a RANGE-partitioned sort on
  *     (key, id) + `zipWithIndex` — the same exact-and-parallel rank
  *     machinery as ops/Profile: every partition sorts locally after
  *     one range exchange, and zipWithIndex adds one lightweight
  *     count-per-partition job. A `row_number()` window over the
  *     whole frame would funnel every row through ONE reducer; this
  *     never materializes a global sort on a single node.
  *   - determinism does not depend on the range boundaries (Spark
  *     samples them at runtime): positions follow only from the TOTAL
  *     order, and (key, id) is a strict total order because id is
  *     unique.
  *
  * Shard assignment (`shard_id = pos % shards`) gives round-robin
  * shards of near-equal size — the property training-file writers
  * want — and stays exact under the deterministic positions.
  */
object Shuffle {

  /** Append `posCol` = 0-based global position of each row under the
    * total order of `orderCols` (which MUST be a strict total order —
    * include a unique tiebreaker column). One range exchange + local
    * sorts + zipWithIndex: exact, fully parallel, and deterministic —
    * positions follow only from the total order, never from the
    * sampled range boundaries. The shared machinery behind the corpus
    * shuffle, the exact profiler's ranks, curriculum ordering, and
    * per-dimension winsorization ranks — anywhere a `row_number()`
    * window would funnel the frame through one reducer. */
  def positionsBy(df: DataFrame, orderCols: Seq[String], posCol: String,
      partitions: Int = 32): DataFrame = {
    val sorted = df
      .repartitionByRange(partitions, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = sorted.schema.add(posCol, LongType, nullable = false)
    val withPos = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(withPos, schema)
  }

  /** Append `shuffle_pos` (0-based global position in seeded shuffle
    * order) to `df`. `idCol` must be unique — it both seeds the hash
    * and breaks ties, making the order a strict permutation. */
  def shuffled(df: DataFrame, idCol: String, seed: Long,
      partitions: Int = 32): DataFrame =
    positionsBy(
      df.withColumn("shuffle_key",
        md5(concat(lit(seed.toString), lit("|"), col(idCol).cast("string")))),
      Seq("shuffle_key", idCol), "shuffle_pos", partitions)
      .drop("shuffle_key")

  /** Rendezvous (highest-random-weight) shard assignment: shard =
    * argmax over j∈[0,shards) of md5("<j>|<id>"). Unlike the
    * position-round-robin shards (balanced but wholesale-reassigned
    * when the corpus changes), HRW assignment is
    * STABLE under shard-count growth: raising `shards` to shards+1
    * moves EXACTLY the docs whose new-shard hash wins — every other
    * doc's argmax over the old range is untouched — so an incremental
    * dataset rebuild rewrites one new shard, never the world
    * (Thaler–Ravishankar 1996; the property q_rendezvous_shard makes
    * visible and RendezvousSpec proves by brute force).
    *
    * Pure scan-stage column work: the k candidate hashes live in one
    * transform over a literal range and max by (hash, j) struct order
    * — no shuffle, no state, deterministic across engines (md5 string
    * order). k is the shard count (small); cost O(k) per row. */
  def rendezvousShard(id: Column, shards: Int): Column =
    array_max(transform(sequence(lit(0), lit(shards - 1)),
      j => struct(
        md5(concat(j.cast("string"), lit("|"), id.cast("string"))).as("h"),
        j.as("j")))).getField("j").cast("long")
}
