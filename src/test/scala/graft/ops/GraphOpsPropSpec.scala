package graft.ops

import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import graft.SparkSpec

/** Randomized-graph parity for the round-11 graph operators: seeded
  * Erdős–Rényi graphs, each distributed result compared against an
  * independent sequential implementation (Dijkstra for SSSP — a
  * DIFFERENT algorithm than the engine's Bellman-Ford, so shared-bug
  * blindness is off the table; the declared md5 replays for
  * Brandes/Luby). */
class GraphOpsPropSpec extends SparkSpec with BothPaths {

  private def md5hex13(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString.substring(0, 13)
  }

  private def randomGraph(rng: Random, n: Int,
      p: Double): Seq[(Long, Long)] =
    (for {
      a <- 1 to n; b <- (a + 1) to n
      if rng.nextDouble() < p
    } yield (a.toLong, b.toLong)).toSeq

  private def adjacency(edges: Seq[(Long, Long)]) = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    adj
  }

  bothPaths("SSSP equals full-horizon Dijkstra on random weighted graphs") { limit =>
    import spark.implicits._
    val rng = new Random(11)
    for (trial <- 1 to 5) {
      val edges = randomGraph(rng, 18, 0.2)
        .map { case (a, b) => (a, b, (rng.nextInt(9) + 1) * 100L) }
      if (edges.nonEmpty) {
        // maxRounds >= n-1 makes the bounded result the true SSSP,
        // which Dijkstra computes by a different route entirely
        val got = Sssp
          .boundedBellmanFord(edges.toDF("src", "dst", "cost"),
            seed = edges.head._1, maxRounds = 20, limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val adjW = mutable.Map[Long, mutable.Map[Long, Long]]()
        for ((a, b, c) <- edges) {
          val fa = adjW.getOrElseUpdate(a, mutable.Map())
          fa(b) = math.min(fa.getOrElse(b, Long.MaxValue), c)
          val fb = adjW.getOrElseUpdate(b, mutable.Map())
          fb(a) = math.min(fb.getOrElse(a, Long.MaxValue), c)
        }
        val dist = mutable.Map(edges.head._1 -> 0L)
        val pq = mutable.PriorityQueue((0L, edges.head._1))(
          Ordering.by(t => -t._1))
        val settled = mutable.Set[Long]()
        while (pq.nonEmpty) {
          val (d, u) = pq.dequeue()
          if (!settled(u)) {
            settled += u
            for ((v, c) <- adjW.getOrElse(u, Nil)
                 if d + c < dist.getOrElse(v, Long.MaxValue)) {
              dist(v) = d + c
              pq.enqueue((d + c, v))
            }
          }
        }
        assert(got == dist.toMap, s"trial $trial")
      }
    }
  }

  bothPaths("betweenness equals the sequential Brandes replay on random graphs") { limit =>
    import spark.implicits._
    val rng = new Random(23)
    for (trial <- 1 to 4) {
      val edges = randomGraph(rng, 16, 0.18)
      if (edges.nonEmpty) {
        val adj = adjacency(edges)
        val nSources = adj.size // all sources: full Brandes at this depth
        val got = Betweenness
          .sampledBrandes(edges.toDF("src", "dst"), nSources,
            maxDepth = 4, k = 1000, limit)
          .collect()
          .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
        val bc = mutable.Map[Long, Long]()
        val ns = mutable.Map[Long, Long]()
        for (s <- adj.keys.toSeq
            .sortBy(n => (md5hex13(n.toString), n)).take(nSources)) {
          val depth = mutable.Map(s -> 0)
          val sigma = mutable.Map(s -> 1L)
          var frontier = Seq(s); var h = 1
          while (h <= 4 && frontier.nonEmpty) {
            val next = mutable.Map[Long, Long]()
            for (u <- frontier; v <- adj(u) if !depth.contains(v))
              next(v) = next.getOrElse(v, 0L) + sigma(u)
            for ((v, sg) <- next) { depth(v) = h; sigma(v) = sg }
            frontier = next.keys.toSeq; h += 1
          }
          val delta = mutable.Map[Long, Long]().withDefaultValue(0L)
          for (hh <- (depth.values.max - 1) to 1 by -1;
               v <- depth.collect { case (n, d) if d == hh => n }) {
            var acc = 0L
            for (w <- adj(v) if depth.get(w).contains(hh + 1))
              acc += sigma(v) * (1000000L + delta(w)) / sigma(w)
            delta(v) = acc
          }
          for ((v, d) <- depth if d >= 1) {
            bc(v) = bc.getOrElse(v, 0L) + delta(v)
            ns(v) = ns.getOrElse(v, 0L) + 1L
          }
        }
        val want = bc.keys.map(v => v -> (bc(v), ns(v))).toMap
        assert(got == want, s"trial $trial")
      }
    }
  }

  test("Luby MIS is independent, maximal, and replay-exact on random graphs") {
    import spark.implicits._
    val rng = new Random(37)
    for (trial <- 1 to 4) {
      val edges = randomGraph(rng, 20, 0.15)
      if (edges.nonEmpty) {
        val adj = adjacency(edges)
        val got = Mis.luby(edges.toDF("src", "dst"), maxRounds = 16)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val sel = got.keySet
        assert(!edges.exists { case (a, b) => sel(a) && sel(b) },
          s"trial $trial independence")
        assert((adj.keySet -- sel).forall(v => adj(v).exists(sel)),
          s"trial $trial maximality")
        // replay the declared md5 rounds sequentially
        var active = adj.keySet.toSet
        val want = mutable.Map[Long, Long]()
        var r = 1
        while (active.nonEmpty) {
          val p = active.map(n => n -> md5hex13(s"$n:$r")).toMap
          val winners = active.filter(v =>
            !adj(v).exists(w => active(w) &&
              (p(w) < p(v) || (p(w) == p(v) && w < v))))
          winners.foreach(w => want(w) = r.toLong)
          active = active -- winners -- winners.flatMap(adj)
          r += 1
        }
        assert(got == want.toMap, s"trial $trial replay")
      }
    }
  }
}
