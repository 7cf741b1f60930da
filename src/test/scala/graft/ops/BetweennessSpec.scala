package graft.ops

import java.security.MessageDigest

import scala.collection.mutable

import graft.SparkSpec

/** Brute-force parity for the sampled-Brandes integer micro-delta:
  * replays the exact declared semantics (md5-rank sources, bounded
  * depth, σ path counts, per-edge `(σ_v·(10⁶+δ_w)) div σ_w`
  * dependency terms — Long `/` truncates and everything is nonneg,
  * so it matches Spark `div` / DuckDB `//`). */
class BetweennessSpec extends SparkSpec with BothPaths {

  // two communities bridged through 3 and the 5-8-9 cycle; 6-10
  // dangles so depth caps bite
  private val fixture: Seq[(Long, Long)] = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L), (3L, 7L),
    (5L, 8L), (8L, 9L), (9L, 5L), (6L, 10L))

  private def md5hex13(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString.substring(0, 13)
  }

  /** node -> (bc_micro, n_src) under the declared integer semantics. */
  private def brute(edges: Seq[(Long, Long)], nSources: Int,
      maxDepth: Int): Map[Long, (Long, Long)] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    val srcs = adj.keys.toSeq
      .sortBy(n => (md5hex13(n.toString), n)).take(nSources)
    val bc = mutable.Map[Long, Long]()
    val nsrc = mutable.Map[Long, Long]()
    for (s <- srcs) {
      val depth = mutable.Map(s -> 0)
      val sigma = mutable.Map(s -> 1L)
      var frontier = Seq(s)
      var h = 1
      while (h <= maxDepth && frontier.nonEmpty) {
        val next = mutable.Map[Long, Long]()
        for (u <- frontier; v <- adj(u) if !depth.contains(v))
          next(v) = next.getOrElse(v, 0L) + sigma(u)
        for ((v, sg) <- next) { depth(v) = h; sigma(v) = sg }
        frontier = next.keys.toSeq
        h += 1
      }
      val delta = mutable.Map[Long, Long]().withDefaultValue(0L)
      val hmax = depth.values.max
      for (hh <- (hmax - 1) to 1 by -1;
           v <- depth.collect { case (n, d) if d == hh => n }) {
        var acc = 0L
        for (w <- adj(v) if depth.get(w).contains(hh + 1))
          acc += sigma(v) * (1000000L + delta(w)) / sigma(w)
        delta(v) = acc
      }
      for ((v, d) <- depth if d >= 1) {
        bc(v) = bc.getOrElse(v, 0L) + delta(v)
        nsrc(v) = nsrc.getOrElse(v, 0L) + 1L
      }
    }
    bc.keys.map(v => v -> (bc(v), nsrc(v))).toMap
  }

  private def run(edges: Seq[(Long, Long)], nSources: Int,
      maxDepth: Int, limit: Long): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Betweenness
      .sampledBrandes(edges.toDF("src", "dst"), nSources, maxDepth,
        k = 1000, limit)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
  }

  bothPaths("all-sources parity with the brute-force integer Brandes") { limit =>
    val got = run(fixture, nSources = 10, maxDepth = 4, limit)
    val want = brute(fixture, nSources = 10, maxDepth = 4)
    assert(got == want)
  }

  bothPaths("depth cap changes the result and parity holds under it") { limit =>
    val got = run(fixture, nSources = 10, maxDepth = 2, limit)
    val want = brute(fixture, nSources = 10, maxDepth = 2)
    assert(got == want)
    assert(got != brute(fixture, nSources = 10, maxDepth = 4))
  }

  bothPaths("pivot sample subsets parity (md5-rank source selection)") { limit =>
    val got = run(fixture, nSources = 3, maxDepth = 4, limit)
    val want = brute(fixture, nSources = 3, maxDepth = 4)
    assert(got == want)
  }

  bothPaths("path graph: the interior broker dominates the leaves") { limit =>
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = run(path, nSources = 5, maxDepth = 4, limit)
    assert(got(3L)._1 > got(1L)._1 && got(3L)._1 > got(5L)._1)
    assert(got == brute(path, nSources = 5, maxDepth = 4))
  }

  bothPaths("single edge: both endpoints reached, zero dependency") { limit =>
    val got = run(Seq((1L, 2L)), nSources = 2, maxDepth = 4, limit)
    assert(got == Map(1L -> (0L, 1L), 2L -> (0L, 1L)))
  }

  bothPaths("rank ordering is (bc desc, node asc) with dense rk") { limit =>
    import spark.implicits._
    val rows = Betweenness
      .sampledBrandes(fixture.toDF("src", "dst"), 10, 4, k = 1000, limit)
      .collect()
    val sorted = rows.sortBy(r => (-r.getLong(2), r.getLong(1)))
    assert(rows.toSeq == sorted.toSeq)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
  }
}
