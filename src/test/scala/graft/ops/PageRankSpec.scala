package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PageRankSpec extends SparkSpec with BothPaths {

  /** Driver-side reference: same fixed-iteration damped recurrence. */
  private def reference(n: Int, edges: Seq[(Int, Int)], iters: Int,
      d: Double = 0.85): Array[Double] = {
    val outd = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val next = Array.fill(n)((1 - d) / n)
      edges.foreach { case (s, t) => next(t) += d * r(s) / outd(s) }
      r = next
    }
    r
  }

  bothPaths("distributed ranks equal the reference loop on a hand graph") { limit =>
    val s = spark
    import s.implicits._
    // 0 and 1 point at 2; 2 points at 0; 3 is isolated (receives only
    // the teleport term); 4 points at 2 and 0.
    val edges = Seq((0, 2), (1, 2), (2, 0), (4, 2), (4, 0))
    val nodes = (0 until 5).map(_.toLong).toDF("id")
    val e = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val got = PageRank.ranks(nodes, e, n = 5, iters = 4, damping = 0.85, limit)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exp = reference(5, edges, iters = 4)
    (0 until 5).foreach { i =>
      assert(math.abs(got(i.toLong) - exp(i)) < 1e-12,
        s"node $i: ${got(i.toLong)} vs ${exp(i)}")
    }
    // sanity: the isolated node 3 holds the bare teleport mass — the
    // minimum; every receiving node exceeds it
    assert(got(3L) == got.values.min)
    assert(got(0L) > got(3L) && got(2L) > got(3L))
  }

  bothPaths("ranks sum to ~1 when no node is dangling") { limit =>
    val s = spark
    import s.implicits._
    // ring: every node has out-degree 1, no mass leaks
    val n = 50
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val e = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val total = PageRank.ranks(nodes, e, n.toLong, iters = 3, damping = 0.85, limit)
      .agg(sum(col("rank"))).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"total $total")
  }
}
