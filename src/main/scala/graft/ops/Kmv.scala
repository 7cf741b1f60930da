package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV / bottom-k distinct-value sketch (Bar-Yossef et al. 2002;
  * Beyer et al., SIGMOD 2007) — the mergeable set summary that, unlike
  * HLL, supports INTERSECTION estimation directly: keep the k smallest
  * distinct 64-bit hashes of a set; the k-th minimum estimates
  * density, and two sketches' bottom-k union with membership tests
  * gives a Jaccard estimate (the theta-sketch idea).
  *
  * Why next to [[SketchRollup]] (HLL): HLL intersections go through
  * inclusion-exclusion, whose error is relative to the UNION — small
  * overlaps of large sets drown in it. KMV estimates Jaccard on the
  * combined bottom-k directly, so overlap error scales with k, not
  * with |union|/|intersection|.
  *
  * Exactness contract: a sketch holding fewer than k values IS the
  * exact distinct set — estimates degrade to exact counts (the
  * declared query runs in this regime at verify scale, so its oracle
  * is exact SQL; KmvSpec checks the estimating regime with the
  * (k−1)/U_(k) and combined-bottom-k estimators).
  *
  * Merge = union bottom-k: associative, commutative, idempotent —
  * bit-identical across partitionings (same property the count-min
  * rollup relies on). State is a bounded sorted array; the UDAF plans
  * as a regular two-phase ObjectHashAggregate, batch or streaming.
  */
object Kmv {

  /** Bottom-k distinct hashes, kept sorted ascending. */
  final class Sketch(val k: Int) extends Serializable {
    // TreeSet for O(log k) dedup-insert + max eviction.
    val values: java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()
    def add(h: Long): Sketch = {
      if (values.size < k) { values.add(h); () }
      else if (h < values.last()) {
        if (values.add(h)) { values.pollLast(); () }
      }
      this
    }
    def mergeWith(o: Sketch): Sketch = {
      val it = o.values.iterator()
      while (it.hasNext) add(it.next().longValue())
      this
    }
    def toArray: Array[Long] = {
      val out = new Array[Long](values.size)
      val it = values.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
      out
    }
  }

  private def agg(k: Int): Aggregator[Long, Sketch, Seq[Long]] =
    new Aggregator[Long, Sketch, Seq[Long]] {
      def zero: Sketch = new Sketch(k)
      def reduce(b: Sketch, a: Long): Sketch = b.add(a)
      def merge(b1: Sketch, b2: Sketch): Sketch = b1.mergeWith(b2)
      def finish(r: Sketch): Seq[Long] = r.toArray.toSeq
      def bufferEncoder: Encoder[Sketch] = Encoders.kryo[Sketch]
      def outputEncoder: Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }

  /** The sketch as an untyped aggregate column over an ALREADY-HASHED
    * long column (use xxhash64 so the hash space is shared across
    * sketches). Result: sorted array<bigint> of the bottom-k hashes. */
  def sketch(hashCol: Column, k: Int): Column =
    udaf(agg(k), Encoders.scalaLong)(hashCol.cast("long"))

  /** Per-group sketches of `hashCol`. */
  def perGroup(df: DataFrame, groupCol: String, hashCol: Column,
      k: Int): DataFrame =
    df.groupBy(col(groupCol)).agg(sketch(hashCol, k).as("kmv"))
}
