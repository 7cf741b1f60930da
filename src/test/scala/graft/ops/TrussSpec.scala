package graft.ops

import graft.SparkSpec

class TrussSpec extends SparkSpec with BothPaths {
  import spark.implicits._

  /** Independent brute-force peel: per round, count each edge's
    * triangles by scanning all node triples of the survivor set. */
  private def brute(edges: Set[(Long, Long)], k: Int): (Set[(Long, Long)], Int) = {
    var cur = edges
    var rounds = 0
    var done = cur.isEmpty
    while (!done) {
      def has(a: Long, b: Long) = cur(if (a < b) (a, b) else (b, a))
      val nodes = cur.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val sup = cur.map { case (u, v) =>
        (u, v) -> nodes.count(w => w != u && w != v && has(u, w) && has(v, w))
      }.toMap
      val keep = cur.filter(e => sup(e) >= k - 2)
      if (keep == cur) done = true
      else {
        cur = keep
        rounds += 1
        if (cur.isEmpty) done = true
      }
    }
    (cur, rounds)
  }

  private def run(edges: Set[(Long, Long)], k: Int, limit: Long): (Set[(Long, Long)], Int) = {
    val df = edges.toSeq.toDF("src", "dst")
    val (t, r) = Truss.truss(df, k, maxRounds = 64, limit)
    (t.collect().map(x => (x.getLong(0), x.getLong(1))).toSet, r)
  }

  // 5-clique (nodes 0-4: a 5-truss) + a triangle strip 10-11-12-13-14
  // (each edge in <= 2 triangles) + a bridge triangle hanging off the
  // clique + pendant edges. k=4 peels the strip in CASCADE: removing
  // its weakest edges strips support from the next.
  private val clique = (for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)).toSet
  private val strip = Set((10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L),
    (12L, 13L), (12L, 14L), (13L, 14L))
  private val bridge = Set((0L, 20L), (1L, 20L)) // triangle 0-1-20
  private val pendants = Set((4L, 30L), (30L, 31L))
  private val g = clique ++ strip ++ bridge ++ pendants

  bothPaths("k=4 equals brute force: clique survives, strip cascades away") { limit =>
    val (got, rounds) = run(g, 4, limit)
    val (want, wantRounds) = brute(g, 4)
    assert(got == want, s"got $got\nwant $want")
    assert(rounds == wantRounds, s"rounds $rounds vs $wantRounds")
    assert(got == clique, "only the 5-clique is a 4-truss here")
    assert(rounds >= 2, "the strip must peel in a cascade, not one pass")
  }

  bothPaths("k=3 equals brute force: every triangle edge survives, pendants drop") { limit =>
    val (got, rounds) = run(g, 3, limit)
    val (want, wantRounds) = brute(g, 3)
    assert(got == want && rounds == wantRounds)
    assert(got.contains((0L, 20L)) && got.contains((11L, 13L)))
    assert(!got.exists(e => e._1 == 30L || e._2 == 30L || e._2 == 31L))
  }

  bothPaths("exhausting maxRounds mid-peel throws instead of returning a non-truss") { limit =>
    // k=4 on g needs a >= 2-round cascade (asserted above); capping at
    // 1 round must fail LOUDLY — a silent non-fixpoint edge set would
    // diverge any unrolled SQL oracle past its nLayers
    val df = g.toSeq.toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Truss.truss(df, 4, maxRounds = 1, limit)
    }
    assert(ex.getMessage.startsWith("k-truss peel still shrinking after maxRounds=1 (edges="))
  }

  bothPaths("a peel that reaches its fixpoint on the last allowed round returns") { limit =>
    // k=4 on g cascades for `need` shrink rounds and keeps the clique:
    // a cap of `need` fits exactly, one less runs out mid-peel
    val (_, need) = brute(g, 4)
    val df = g.toSeq.toDF("src", "dst")
    val (t, rounds) = Truss.truss(df, 4, maxRounds = need, limit)
    assert(t.collect().map(x => (x.getLong(0), x.getLong(1))).toSet == clique)
    assert(rounds == need)
    val ex = intercept[IllegalStateException] {
      Truss.truss(df, 4, maxRounds = need - 1, limit)
    }
    assert(ex.getMessage.startsWith(s"k-truss peel still shrinking after maxRounds=${need - 1} (edges="))
  }

  bothPaths("k=5 and k=6: the clique is a 5-truss but not a 6-truss; empty handled") { limit =>
    val (g5, _) = run(g, 5, limit)
    assert(g5 == clique)
    val (g6, r6) = run(g, 6, limit)
    assert(g6.isEmpty && r6 >= 1)
    val (e0, r0) = run(Set.empty[(Long, Long)], 3, limit)
    assert(e0.isEmpty && r0 == 0)
  }
}
