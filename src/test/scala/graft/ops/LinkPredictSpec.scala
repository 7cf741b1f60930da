package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LinkPredictSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force RA on the integer micro grid. */
  private def bruteRa(edges: Seq[(Long, Long)],
      degCap: Int): Map[(Long, Long), Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val edgeSet = edges.toSet
    val pairs = for {
      (w, ns) <- adj.toSeq
      if deg(w) <= degCap
      a <- ns.toSeq; b <- ns.toSeq
      if a < b
    } yield ((a, b), 1000000L / deg(w))
    pairs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter { case ((a, b), _) => !edgeSet.contains((a, b)) }
  }

  private val g: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
    (2L, 5L), (5L, 6L), (1L, 6L), (6L, 7L), (4L, 7L))

  test("ra matches brute force when the cap does not bind") {
    val e = g.toDF("src", "dst")
    val got = LinkPredict.ra(e, degCap = 1024)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got == bruteRa(g, 1024))
  }

  test("cap drops hub wedges exactly (brute force with the same rule)") {
    // star hub 100 with 6 spokes + the base graph; cap 5 excludes the
    // hub (deg 6) as a wedge center but keeps every other node.
    val hub = (11L to 16L).map(s => (s, 100L))
    val all = g ++ hub
    val e = all.toDF("src", "dst")
    val got = LinkPredict.ra(e, degCap = 5)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val want = bruteRa(all, 5)
    assert(got == want)
    // no spoke pair survives: their only common neighbor is the hub
    assert(!got.keys.exists { case (a, b) => a >= 11L && b <= 16L && b >= 11L })
    // and the capped output is a strict subset of the uncapped one
    val uncapped = bruteRa(all, Int.MaxValue)
    assert(want.keySet.subsetOf(uncapped.keySet))
    assert(want.size < uncapped.size)
  }

  test("ra matches brute force on the hub graph and random graphs at both caps") {
    // deterministic LCG edge sets over 40 nodes, canonical and distinct
    def random(seed: Long, n: Int): Seq[(Long, Long)] = {
      var s = seed
      def nxt(): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s }
      (0 until n).map { _ =>
        val a = nxt() % 40; val b = nxt() % 40
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
    }
    val hub = (11L to 16L).map(s => (s, 100L))
    for (edges <- Seq(g ++ hub, random(777L, 300), random(12345L, 220));
         cap <- Seq(5, 1024)) {
      val got = LinkPredict.ra(edges.toDF("src", "dst"), cap)
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(got == bruteRa(edges, cap), s"cap=$cap edges=${edges.size}")
    }
  }

  test("candidate count through a super-cap hub is linear, not quadratic") {
    // hub with 40 spokes: uncapped candidates include C(40,2) = 780
    // spoke pairs; capped at 32 the hub is dropped and candidates
    // come only from spoke-side wedges (none here — spokes have
    // degree 1), so the candidate set is empty.
    val hub = (1L to 40L).map(s => (s, 999L))
    val e = hub.toDF("src", "dst")
    assert(LinkPredict.candidates(e, degCap = 32).count() == 0L)
    assert(LinkPredict.candidates(e, degCap = 64).count() == 780L)
  }
}
