package graft.ops

import java.security.MessageDigest

import scala.collection.mutable

import graft.SparkSpec

/** Brute-force parity for the bounded-round frontier Bellman-Ford:
  * the textbook all-edges relaxation (min cost over paths of ≤ R
  * edges) must equal the frontier form round for round. */
class SsspSpec extends SparkSpec with BothPaths {

  /** Weighted fixture where the cheap path has MORE hops than the
    * direct edge: 1-2-3-4 costs 30 < the direct 1-4 at 100. */
  private val fixture: Seq[(Long, Long, Long)] = Seq(
    (1L, 2L, 10L), (2L, 3L, 10L), (3L, 4L, 10L), (1L, 4L, 100L),
    (4L, 5L, 5L), (2L, 5L, 80L))

  /** Textbook Bellman-Ford: dist after exactly maxRounds all-edge
    * relaxation rounds (min cost over paths of <= maxRounds edges). */
  private def brute(edges: Seq[(Long, Long, Long)], seed: Long,
      maxRounds: Int): Map[Long, Long] = {
    val ed = edges.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    var dist = Map(seed -> 0L)
    for (_ <- 1 to maxRounds) {
      val upd = mutable.Map[Long, Long](dist.toSeq: _*)
      for ((a, b, c) <- ed; da <- dist.get(a))
        if (!upd.get(b).exists(_ <= da + c)) upd(b) = da + c
      dist = upd.toMap
    }
    dist
  }

  private def run(edges: Seq[(Long, Long, Long)], seed: Long,
      maxRounds: Int, limit: Long): Map[Long, Long] = {
    import spark.implicits._
    Sssp.boundedBellmanFord(edges.toDF("src", "dst", "cost"), seed,
        maxRounds, limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  bothPaths("multi-hop cheap path beats the direct edge (weighted, not BFS)") { limit =>
    val got = run(fixture, seed = 1L, maxRounds = 6, limit)
    assert(got(4L) == 30L) // 1-2-3-4, not the direct 100
    assert(got(5L) == 35L) // 1-2-3-4-5, not 1-2-5 at 90
    assert(got == brute(fixture, 1L, 6))
  }

  bothPaths("round cap is the declared semantics: <= R edges exactly") { limit =>
    assert(run(fixture, 1L, 1, limit) == brute(fixture, 1L, 1))
    assert(run(fixture, 1L, 1, limit)(4L) == 100L) // only the direct edge fits
    assert(run(fixture, 1L, 2, limit) == brute(fixture, 1L, 2))
    assert(run(fixture, 1L, 2, limit)(4L) == 100L) // 2 edges can't buy 1-2-3-4 yet
    assert(run(fixture, 1L, 3, limit)(4L) == 30L) // 3 edges can
  }

  bothPaths("early exhaustion matches the fixpoint") { limit =>
    // diameter 4 < maxRounds 10: the loop stops early, same answer
    assert(run(fixture, 1L, 10, limit) == brute(fixture, 1L, 10))
  }

  bothPaths("negative cost fails fast (nonneg envelope, VoptHist rule)") { limit =>
    import spark.implicits._
    val bad = Seq((1L, 2L, 10L), (2L, 3L, -5L)).toDF("src", "dst", "cost")
    val e = intercept[IllegalArgumentException] {
      Sssp.boundedBellmanFord(bad, seed = 1L, maxRounds = 3, limit)
    }
    assert(e.getMessage == "requirement failed: Sssp requires nonneg integer costs; min(cost) = -5")
    val e2 = intercept[IllegalArgumentException] {
      Sssp.nearestFromMd5Seed(bad, maxRounds = 3, k = 5, limit)
    }
    assert(e2.getMessage == e.getMessage)
  }

  bothPaths("empty edge frame yields an empty ranked frame, not a throw") { limit =>
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "cost")
    val out = Sssp.nearestFromMd5Seed(empty, maxRounds = 3, k = 5, limit)
    assert(out.columns.toSeq == Seq("rk", "node", "dist_cost"))
    assert(out.count() == 0L)
  }

  bothPaths("md5 seed + ranking: rk dense, (d asc, node asc) order") { limit =>
    import spark.implicits._
    val df = fixture.toDF("src", "dst", "w")
      .selectExpr("src", "dst", "w AS cost")
    val rows = Sssp.nearestFromMd5Seed(df, maxRounds = 6, k = 10, limit).collect()
    val md5 = (s: String) => MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 13)
    val seed = (1L to 5L).minBy(n => (md5(n.toString), n))
    val want = brute(fixture, seed, 6).toSeq
      .sortBy { case (n, d) => (d, n) }
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq == want)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
  }
}
