package graft.ops

import graft.SparkSpec

class HitsSpec extends SparkSpec with BothPaths {
  import spark.implicits._

  // bipartite: hub 1 buys ALL of parts 100-109; hubs 2-4 buy three
  // popular parts each (100-102); hub 5 buys only the obscure 200
  private val edges =
    (100L to 109L).map(p => (1L, p)) ++
    (2L to 4L).flatMap(h => (100L to 102L).map(p => (h, p))) ++
    Seq((5L, 200L))

  /** Independent driver replay of the integer iterations. */
  private def replay(es: Seq[(Long, Long)], iters: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    var h = es.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val ar = es.groupBy(_._2).map { case (p, g) =>
        p -> g.map(e => h(e._1)).sum
      }
      val am = ar.values.max
      a = ar.map { case (p, r) => p -> r * 1000000L / am }
      val hr = es.groupBy(_._1).map { case (u, g) =>
        u -> g.map(e => a(e._2)).sum
      }
      val hm = hr.values.max
      h = hr.map { case (u, r) => u -> r * 1000000L / hm }
    }
    (h, a)
  }

  bothPaths("distributed integer HITS equals the driver replay exactly") { limit =>
    val (hubs, auths) = Hits.scores(edges.toDF("src", "dst"), iters = 4, limit)
    val gh = hubs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ga = auths.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (wh, wa) = replay(edges, 4)
    assert(gh == wh, s"hubs $gh vs $wh")
    assert(ga == wa, s"auths $ga vs $wa")
  }

  bothPaths("mutual reinforcement: the broad hub tops; its exclusive parts outrank the obscure one") { limit =>
    val (hubs, auths) = Hits.scores(edges.toDF("src", "dst"), iters = 4, limit)
    val gh = hubs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ga = auths.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hub 1 (10 purchases incl. the popular trio) beats hubs 2-4
    assert(gh(1L) == 1000000L)
    assert((2L to 4L).forall(x => gh(x) < gh(1L)))
    // the popular parts (bought by 4 hubs) top the authority list
    assert(ga(100L) == 1000000L)
    // part 103 (only the best hub buys it) still outranks part 200
    // (only the weak hub 5 buys it) — reinforcement, not raw degree
    assert(ga(103L) > ga(200L))
    // hub 5 has the lowest hub score
    assert(gh(5L) == gh.values.min)
  }
}
