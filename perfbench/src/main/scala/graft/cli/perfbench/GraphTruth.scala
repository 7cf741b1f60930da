package graft.cli.perfbench

import scala.collection.mutable

/** Reference results of the seven loop calls the benchmark makes,
  * computed in plain Scala on the driver from the collected edge list
  * (canonical `src < dst`, no duplicates). Each follows the definition
  * in its `graft.ops` doc comment — synchronous rounds, integer grids,
  * the same tie rules — so the loop outputs can be checked row for row
  * (through the order-independent hash) and round for round. */
final class GraphTruth(edges: Seq[(Long, Long)]) {
  def nEdges: Int = edges.size
  private val nodes: Vector[Long] = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted.toVector
  /** Undirected adjacency. */
  private val nbrs: Map[Long, Vector[Long]] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      .map { case (k, v) => k -> v.toVector }

  /** `Sssp.boundedBellmanFord` with one cost on every edge: the least
    * hop count within `maxRounds` edges, times `cost`. (node, d). */
  def sssp(seed: Long, maxRounds: Int, cost: Long): Seq[(Long, Long)] = {
    val d = mutable.HashMap(seed -> 0L)
    var frontier = Seq(seed)
    var r = 1
    while (r <= maxRounds && frontier.nonEmpty) {
      frontier = frontier.flatMap(nbrs.getOrElse(_, Vector.empty)).distinct.filterNot(d.contains)
      frontier.foreach(d(_) = r * cost)
      r += 1
    }
    d.toSeq
  }

  /** `Betweenness.sampledBrandes`: (rk, node, bc_micro, n_src). */
  def betweenness(nSources: Int, maxDepth: Int, k: Int): Seq[(Long, Long, Long, Long)] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def key(n: Long) = md5.digest(n.toString.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(13)
    val sources = nodes.sortBy(n => (key(n), n)).take(nSources)
    // per source: layers(h - 1) = depth-h node → sigma
    val perSource = sources.map { s =>
      val seen = mutable.HashSet(s)
      val layers = mutable.ArrayBuffer.empty[Map[Long, Long]]
      var frontier = Map(s -> 1L)
      while (layers.size < maxDepth && frontier.nonEmpty) {
        val next = mutable.HashMap.empty[Long, Long]
        for ((u, su) <- frontier; w <- nbrs(u) if !seen(w)) next(w) = next.getOrElse(w, 0L) + su
        seen ++= next.keys
        frontier = next.toMap
        if (frontier.nonEmpty) layers += frontier
      }
      layers
    }
    // the loop stops at the first hop where no source expands
    val hmax = perSource.map(_.size).maxOption.getOrElse(0)
    val bc = mutable.HashMap.empty[Long, Long]
    val nSrc = mutable.HashMap.empty[Long, Long]
    perSource.foreach { layers =>
      var deltaNext: Map[Long, Long] =
        if (layers.size == hmax) layers(hmax - 1).map { case (v, _) => v -> 0L } else Map.empty
      var all = deltaNext
      (hmax - 1 to 1 by -1).foreach { h =>
        val layer = if (h <= layers.size) layers(h - 1) else Map.empty[Long, Long]
        val below = if (h < layers.size) layers(h) else Map.empty[Long, Long]
        val dh = layer.map { case (v, sv) =>
          v -> nbrs(v).iterator.filter(below.contains)
            .map(w => sv * (1000000L + deltaNext(w)) / below(w)).sum
        }
        all ++= dh
        deltaNext = dh
      }
      all.foreach { case (v, d) =>
        bc(v) = bc.getOrElse(v, 0L) + d
        nSrc(v) = nSrc.getOrElse(v, 0L) + 1
      }
    }
    bc.toSeq.sortBy { case (v, b) => (-b, v) }.take(k).zipWithIndex
      .map { case ((v, b), i) => (i + 1L, v, b, nSrc(v)) }
  }

  /** `LabelProp.run`: the most frequent neighbour label, ties to the
    * smallest, all nodes at once. (node, label). */
  def labelProp(rounds: Int): Seq[(Long, Long)] = {
    var label = nodes.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      label = nodes.map { n =>
        val counts = nbrs(n).groupMapReduce(label)(_ => 1L)(_ + _)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    label.toSeq
  }

  /** `Hits.scores` on the 10⁶ grid over the directed edges:
    * (hubs, authorities), each (id, s). */
  def hits(iters: Int): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    def renorm(raw: Map[Long, Long]) = {
      val mx = raw.values.max
      raw.map { case (k, v) => k -> v * 1000000L / mx }
    }
    var h = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    (1 to iters).foreach { _ =>
      a = renorm(edges.groupMapReduce(_._2)(e => h(e._1))(_ + _))
      h = renorm(edges.groupMapReduce(_._1)(e => a(e._2))(_ + _))
    }
    (h.toSeq, a.toSeq)
  }

  /** `PageRank.ranks` over the directed edges, from 1/n. (id, rank). */
  def pageRank(iters: Int, damping: Double = 0.85): Seq[(Long, Double)] = {
    val n = nodes.size
    val outd = edges.groupMapReduce(_._1)(_ => 1.0)(_ + _)
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupMapReduce(_._2)(e => r(e._1) / outd(e._1))(_ + _)
      r = nodes.map(v => v -> ((1 - damping) / n + damping * in.getOrElse(v, 0.0))).toMap
    }
    r.toSeq
  }

  /** `KCore.core`: the k-core's edges and the peeling rounds (all
    * nodes of degree < k dropped at once per round). */
  def kcore(k: Int): (Seq[(Long, Long)], Int) = {
    var cur = edges
    var survivors = -1
    var rounds = 0
    var done = false
    while (!done) {
      val deg = cur.flatMap { case (a, b) => Seq(a, b) }.groupMapReduce(identity)(_ => 1)(_ + _)
      val keep = deg.collect { case (v, d) if d >= k => v }.toSet
      if (keep.isEmpty) { cur = Nil; done = true }
      else if (keep.size == survivors) done = true
      else {
        survivors = keep.size
        cur = cur.filter { case (a, b) => keep(a) && keep(b) }
        rounds += 1
      }
    }
    (cur, rounds)
  }

  /** `Truss.truss`: the k-truss's edges and the peeling rounds (all
    * edges in fewer than k − 2 triangles dropped at once per round). */
  def truss(k: Int): (Seq[(Long, Long)], Int) = {
    var cur = edges
    var rounds = 0
    var done = cur.isEmpty
    while (!done) {
      val adj = cur.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
        .map { case (v, ns) => v -> ns.toSet }
      def support(a: Long, b: Long) =
        if (adj(a).size <= adj(b).size) adj(a).count(adj(b)) else adj(b).count(adj(a))
      val keep = cur.filter { case (a, b) => support(a, b) >= k - 2 }
      if (keep.size == cur.size) done = true
      else {
        cur = keep
        rounds += 1
        if (keep.isEmpty) done = true
      }
    }
    (cur, rounds)
  }
}
