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

  private def run(edges: Seq[(Long, Long)], k: Int, limit: Long): (Set[(Long, Long)], Int) = {
    val df = edges.toDF("src", "dst")
    val (core, rounds) = KCore.core(df, k, maxRounds = 64, limit)
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
}
