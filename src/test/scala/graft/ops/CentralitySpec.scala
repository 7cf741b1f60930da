package graft.ops

import graft.SparkSpec

class CentralitySpec extends SparkSpec {
  import spark.implicits._

  // star center 0 with leaves 1-6, plus a chain 6-7-8-9 hanging off
  // one leaf: the center dominates, the chain tail trails
  private val edges = (1L to 6L).map(l => (0L, l)) ++
    Seq((6L, 7L), (7L, 8L), (8L, 9L))

  private def md5r(id: Long) = java.security.MessageDigest.getInstance("MD5")
    .digest(id.toString.getBytes("UTF-8"))
    .map("%02x".format(_)).mkString.substring(0, 13)

  /** Plain BFS from `seed`: hop distance of every node within
    * `maxHops`, the seed at 0. */
  private def plainBfs(es: Seq[(Long, Long)], seed: Long,
      maxHops: Int): Map[Long, Int] = {
    val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
    val dist = scala.collection.mutable.Map(seed -> 0)
    var frontier = Set(seed)
    for (d <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    dist.toMap
  }

  /** Brute multi-source BFS + harmonic sum, mirroring the declared
    * rules (md5-rank sources, depth bound, 10^6 div d terms). */
  private def brute(es: Seq[(Long, Long)], nSources: Int, maxDepth: Int)
      : Map[Long, (Long, Long)] = {
    val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
    val nodes = adj.keySet.toSeq
    val srcs = nodes.sortBy(n => (md5r(n), n)).take(nSources)
    val contrib = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    srcs.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Set(s)
      for (d <- 1 to maxDepth) {
        frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
        frontier.foreach(n => dist(n) = d)
      }
      dist.foreach { case (n, d) =>
        if (d >= 1) {
          val (h, c) = contrib.getOrElse(n, (0L, 0L))
          contrib(n) = (h + 1000000L / d, c + 1)
        }
      }
    }
    contrib.toMap
  }

  test("distributed multi-source harmonic equals the brute replay; star center tops") {
    val got = Centrality.sampledHarmonic(edges.toDF("src", "dst"),
        nSources = 8, maxDepth = 4, k = 10)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getLong(3))))
      .toMap
    val want = brute(edges, 8, 4)
    // same nodes, same integer centralities and reach counts
    assert(got.keySet.subsetOf(want.keySet))
    got.foreach { case (n, (_, h, c)) =>
      assert(want(n) == ((h, c)), s"node $n: got ($h,$c) want ${want(n)}")
    }
    // ranking: h desc, node asc — and the star center leads
    val byRank = got.toSeq.sortBy(_._2._1).map(x => (x._1, x._2._2))
    assert(byRank.map(_._2).reverse == byRank.map(_._2).reverse.sorted.reverse ||
      byRank.sliding(2).forall { case Seq(a, b) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    assert(byRank.head._1 == 0L, s"star center must rank 1: $byRank")
    // the chain tail 9 (3+ hops from most sources) trails the center
    assert(got(0L)._2 > got(9L)._2)
  }

  test("double sweep is exact on trees: path graph diameter recovered") {
    // path 0-1-...-9: whatever the md5-smallest seed is, the farthest
    // node is an endpoint, and the second sweep spans the full path
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = Centrality.diameterDoubleSweep(path, maxDepth = 16)
      .collect()(0)
    assert(r.getLong(3) == 9L, s"diameter_lb ${r.getLong(3)}")
    assert(Set(0L, 9L).contains(r.getLong(1)), s"far_node ${r.getLong(1)}")
    assert(r.getLong(4) == 10L)
    // star + chain fixture: diameter = chain tail to opposite leaf
    val r2 = Centrality.diameterDoubleSweep(edges.toDF("src", "dst"),
      maxDepth = 16).collect()(0)
    assert(r2.getLong(3) == 5L, s"star+chain diameter ${r2.getLong(3)}")
  }

  test("hops and the double sweep equal a plain BFS at every depth bound") {
    // fixtures exercising odd/even depths, early exhaustion, and
    // depth-bound truncation: star+chain, pure path, triangle
    val fixtures = Seq(
      edges,
      (0L until 9L).map(i => (i, i + 1)),
      Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    for (es <- fixtures; maxHops <- Seq(1, 2, 3, 5, 16)) {
      val df = es.toDF("src", "dst")
      for (seed <- Seq(0L, 9L).filter(s => es.exists(e => e._1 == s || e._2 == s))) {
        val got = Bfs.hops(df, seed, maxHops).collect()
          .map(r => r.getLong(0) -> r.getInt(1))
        assert(got.length == got.toMap.size, s"duplicate nodes: ${got.toSeq}")
        assert(got.toMap == plainBfs(es, seed, maxHops),
          s"es=${es.take(3)}.. seed=$seed maxHops=$maxHops")
      }
      // the sweep rules: md5-smallest seed, farthest node (ties to the
      // smaller id), then the second sweep's depth and reach
      val seed = es.flatMap(e => Seq(e._1, e._2)).distinct.minBy(n => (md5r(n), n))
      val first = plainBfs(es, seed, maxHops)
      val ecc1 = first.values.max
      val far = first.collect { case (n, d) if d == ecc1 => n }.min
      val second = plainBfs(es, far, maxHops)
      val r = Centrality.diameterDoubleSweep(df, maxHops).collect()(0)
      assert((0 to 4).map(r.getLong) ==
        Seq(seed, far, ecc1.toLong, second.values.max.toLong, second.size.toLong),
        s"es=${es.take(3)}.. maxHops=$maxHops: $r")
    }
  }

  test("depth bound truncates honestly: depth 1 only counts neighbors") {
    val got = Centrality.sampledHarmonic(edges.toDF("src", "dst"),
        nSources = 8, maxDepth = 1, k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val want = brute(edges, 8, 1)
    got.foreach { case (n, c) => assert(want(n)._2 == c, s"node $n") }
  }
}
