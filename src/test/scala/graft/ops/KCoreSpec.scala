package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KCoreSpec extends SparkSpec with BothPaths {
  import spark.implicits._

  /** Brute-force peeling on in-memory sets. */
  private def brute(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var es = edges.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    es
  }

  private def run(edges: Seq[(Long, Long)], k: Int, limit: Long,
      maxRounds: Int = 64): (Set[(Long, Long)], Int) = {
    val df = edges.toDF("src", "dst")
    val (core, rounds) = KCore.core(df, k, maxRounds, limit)
    (core.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, rounds)
  }

  bothPaths("matches brute-force peeling on random graphs for several k") { limit =>
    val rnd = new scala.util.Random(11)
    val edges = (0 until 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    for (k <- Seq(1, 2, 3, 5, 8)) {
      val (got, _) = run(edges, k, limit)
      assert(got === brute(edges, k), s"k=$k")
    }
  }

  bothPaths("planted clique survives its own k-core; chain peels away entirely") { limit =>
    // 6-clique (every node degree 5) + a pendant chain off node 0.
    val clique = for {
      a <- 0L until 6L; b <- (a + 1) until 6L
    } yield (a, b)
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val (core5, _) = run(clique ++ chain, 5, limit)
    assert(core5 === clique.toSet)
    // k=2: the chain (all degree <= 2 but endpoints degree 1) peels
    // from the tip inward and vanishes; the clique stays whole.
    val (core2, _) = run(clique ++ chain, 2, limit)
    assert(core2 === clique.toSet)
  }

  bothPaths("empty core returns an empty frame, not the last survivors") { limit =>
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val (core, _) = run(star, 2, limit)
    assert(core.isEmpty)
  }

  bothPaths("a path longer than the round cap throws instead of returning a partial peel") { limit =>
    // k=2 peels a path one end edge per side per round: 20 edges need
    // 10 rounds, so a cap of 5 runs out mid-peel
    val path = (0L until 20L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException](
      KCore.core(path.toDF("src", "dst"), 2, maxRounds = 5, limit))
    assert(e.getMessage.contains("maxRounds=5"), e.getMessage)
    // a cap the peel fits in returns the (empty) 2-core, also when the
    // cap equals the rounds the peel needs
    for (cap <- Seq(64, 10)) {
      val (core, rounds) = KCore.core(path.toDF("src", "dst"), 2, maxRounds = cap, limit)
      assert(core.isEmpty && rounds == 10, s"cap $cap")
    }
    val e9 = intercept[IllegalStateException](
      KCore.core(path.toDF("src", "dst"), 2, maxRounds = 9, limit))
    assert(e9.getMessage.contains("maxRounds=9"), e9.getMessage)
  }

  bothPaths("a peel that reaches its fixpoint on the last allowed round returns") { limit =>
    // a triangle with a 3-edge tail: k=2 peels the tail in 3 rounds and
    // keeps the triangle, so a cap of 3 fits exactly
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    for (cap <- Seq(3, 64)) {
      val (core, rounds) = run(g, 2, limit, cap)
      assert(core == brute(g, 2) && rounds == 3, s"cap $cap")
    }
  }
}
