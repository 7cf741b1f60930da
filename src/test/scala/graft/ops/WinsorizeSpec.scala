package graft.ops

import graft.SparkSpec

class WinsorizeSpec extends SparkSpec {
  import spark.implicits._

  // 2-dim vectors: dim 0 holds 1..100, dim 1 holds 10·(1..100) — known
  // ranks make the ⌈p·n⌉-th-smallest bounds exactly predictable.
  private lazy val vecs = (1 to 100)
    .map(i => (i.toLong, Seq(i.toDouble, i * 10.0)))
    .toDF("vec_id", "embedding")

  test("bounds: rank-selected clip values and exact clip counts per dim") {
    val b = Winsorize.bounds(vecs, "embedding", "vec_id",
        pLo = 0.05, pHi = 0.95)
      .orderBy("dim")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // k_lo = ceil(100·0.05) = 5 → 5th smallest; k_hi = 95
    assert(b(0) == ((0, 5.0, 95.0, 100L, 4L, 5L)))
    assert(b(1) == ((1, 50.0, 950.0, 100L, 4L, 5L)))
  }

  test("positionsBy: deterministic across runs and equal to the total order") {
    val df = Seq((3L, "b"), (1L, "b"), (2L, "a"), (4L, "a"))
      .toDF("id", "g")
    def run() = Shuffle.positionsBy(df, Seq("g", "id"), "p", partitions = 3)
      .orderBy("p").select("id").as[Long].collect().toSeq
    assert(run() == Seq(2L, 4L, 1L, 3L)) // (a,2),(a,4),(b,1),(b,3)
    assert(run() == run())
  }
}
