package graft.ops

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The sketch is checked exactly: it must hold the bottom k of the
  * values' xxhash64 hashes, computed here in plain Scala. The accuracy
  * cases then estimate from it: the k-th minimum U_(k), mapped onto
  * (0, 1), estimates the distinct count as (k−1)/U_(k), and membership
  * on the combined bottom k estimates Jaccard (Beyer et al. 2007). */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(ids: Seq[Long], k: Int): Seq[Long] =
    ids.toDF("v").agg(Kmv.sketch(xxhash64(col("v")), k).as("s"))
      .collect()(0).getSeq[Long](0)

  /** Spark's xxhash64 of a long is XXH64.hashLong with seed 42. */
  private def bottomK(ids: Seq[Long], k: Int): Seq[Long] =
    ids.distinct.map(XXH64.hashLong(_, 42L)).sorted.take(k)

  /** (k−1)/U_(k), with the hash's unsigned value mapped onto (0, 1). */
  private def estimate(kth: Long, k: Int): Double =
    (k - 1) / ((kth.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64))

  test("merge is partitioning-invariant: same bottom-k any way the data splits") {
    val ids = (0L until 20000L)
    def sketchOf(parts: Int): Seq[Long] =
      ids.toDF("v").select(xxhash64(col("v")).as("h")).repartition(parts)
        .agg(Kmv.sketch(col("h"), 256).as("s"))
        .collect()(0).getSeq[Long](0)
    val s1 = sketchOf(1)
    assert(s1 == sketchOf(7) && s1 == sketchOf(32))
    assert(s1 == bottomK(ids, 256))
  }

  test("sub-k sketch is the exact distinct set; estimate is exact") {
    val ids = Seq(1L, 2L, 3L, 2L, 1L, 9L)
    val s = sketch(ids, 64)
    assert(s == bottomK(ids, 64))
    assert(s.length == 4) // fewer than k values: the size is the count
  }

  test("distinct estimate within 10% at k=1024 over 50k values") {
    val ids = 0L until 50000L
    val s = sketch(ids, 1024)
    assert(s == bottomK(ids, 1024))
    val est = estimate(s.last, 1024)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.10, s"est=$est")
  }

  test("overlap estimate: planted 10k-of-30k intersection within 25% at k=2048") {
    val a = (0L until 30000L)            // 0..29999
    val b = (20000L until 50000L)        // 20000..49999, overlap 10k
    val k = 2048
    val (sa, sb) = (sketch(a, k), sketch(b, k))
    assert(sa == bottomK(a, k) && sb == bottomK(b, k))
    // membership on the combined bottom k; the union's size from its k-th
    val combined = (sa ++ sb).distinct.sorted.take(k)
    val j = combined.count(h => sa.contains(h) && sb.contains(h)).toDouble / k
    val inter = j * estimate(combined.last, k)
    val trueJ = 10000.0 / 50000.0
    assert(math.abs(j - trueJ) / trueJ < 0.25, s"j=$j")
    assert(math.abs(inter - 10000.0) / 10000.0 < 0.25, s"inter=$inter")
  }

  test("exact-regime overlap returns exact integers") {
    val a = Seq(1L, 2L, 3L, 4L)
    val b = Seq(3L, 4L, 5L)
    val (sa, sb) = (sketch(a, 64), sketch(b, 64))
    // both sketches complete: the sets themselves, hashed
    assert(sa == bottomK(a, 64) && sb == bottomK(b, 64))
    val inter = sa.toSet.intersect(sb.toSet).size
    assert(inter == 2)
    assert(inter.toDouble / sa.toSet.union(sb.toSet).size == 2.0 / 5.0)
  }
}
