package graft.ops

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {

  import spark.implicits._

  private def bruteTriangles(edges: Set[(Long, Long)]): Long = {
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = adj.keys.toSeq.sorted
    // yield distinct triples, not 1L — Set-typed inner generators
    // would collapse duplicate yields and undercount
    (for {
      a <- nodes; b <- adj.getOrElse(a, Set.empty[Long]) if b > a
      c <- adj.getOrElse(b, Set.empty[Long]) if c > b
      if adj.getOrElse(a, Set.empty[Long]).contains(c)
    } yield (a, b, c)).size.toLong
  }

  private def run(edges: Set[(Long, Long)]): (Long, Long, Long) = {
    val r = Triangles.statsAdjacency(edges.toSeq.toDF("src", "dst")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("matches brute force on a known small graph") {
    // K4 (4 triangles... K4 has C(4,3)=4) plus a pendant edge.
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toSet
    val (n, m, t) = run(k4 + ((3L, 9L)))
    assert(n == 5 && m == 7)
    assert(t == 4L)
    assert(t == bruteTriangles(k4 + ((3L, 9L))))
  }

  private def lcgEdges(seed: Long, draws: Int, nodes: Int): Set[(Long, Long)] = {
    var s = seed
    def nxt(): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s }
    (0 until draws).map { _ =>
      val a = nxt() % nodes; val b = nxt() % nodes
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).toSet
  }

  /** Wedge form: every pair of a node's neighbours is a wedge; a
    * triangle closes three wedges, one at each corner. */
  private def wedgeTriangles(edges: Set[(Long, Long)]): Long = {
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val closed = adj.values.map { nb =>
      nb.combinations(2).count(p => edges.contains((p(0), p(1)))).toLong
    }.sum
    assert(closed % 3 == 0)
    closed / 3
  }

  test("matches brute force on a pseudo-random graph") {
    // Deterministic LCG edge set over 30 nodes.
    val edges = lcgEdges(12345L, 220, 30)
    val (n, m, t) = run(edges)
    assert(n == edges.flatMap(e => Seq(e._1, e._2)).size.toLong)
    assert(m == edges.size.toLong)
    assert(t == bruteTriangles(edges), s"got $t (nodes=$n)")
  }

  test("adjacency-intersection form equals the wedge form and brute force") {
    val edges = lcgEdges(777L, 300, 40)
    val (n, m, t) = run(edges)
    assert(n == edges.flatMap(e => Seq(e._1, e._2)).size.toLong)
    assert(m == edges.size.toLong)
    assert(t == wedgeTriangles(edges))
    assert(t == bruteTriangles(edges))
    // and on the wheel (hub stress): all three counts agree
    val star = (1L to 20L).map(i => (0L, i)).toSet
    val rim = (1L to 19L).map(i => (i, i + 1)).toSet + ((1L, 20L))
    val w = run(star ++ rim)._3
    assert(w == 20L)
    assert(w == wedgeTriangles(star ++ rim))
  }

  test("hub graph: star has zero triangles, wheel has spoke count") {
    val star = (1L to 20L).map(i => (0L, i)).toSet
    assert(run(star)._3 == 0L)
    // Wheel: star + cycle around the rim -> one triangle per rim edge.
    val rim = (1L to 19L).map(i => (i, i + 1)).toSet + ((1L, 20L))
    val (_, _, t) = run(star ++ rim)
    assert(t == 20L)
    assert(t == bruteTriangles(star ++ rim))
  }
}
