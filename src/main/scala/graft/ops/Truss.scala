package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by support peeling (Cohen, "Trusses: cohesive
  * subgraphs for social network analysis", 2008): the k-truss is the
  * maximal subgraph in which every EDGE participates in at least k−2
  * triangles (of the subgraph). The edge-level sibling of [[KCore]] —
  * a strictly stronger cohesion screen (every k-truss is a (k−1)-core)
  * and the standard community-backbone primitive.
  *
  * Peeling: per round, compute each surviving edge's triangle support
  * with the degree-oriented adjacency-intersection recipe (the
  * [[Triangles]] form — every out-neighbor array bounded O(√m), one
  * native `array_intersect` per edge, no wedge shuffle), drop edges
  * below k−2, repeat until the edge count stops shrinking. The edge
  * set shrinks monotonically, so an unchanged count IS the fixpoint
  * (the KCore stop rule); `localCheckpoint` truncates lineage per
  * round. Rounds are bounded by the peeling depth.
  *
  * Below [[LocalGraph.EdgeLimit]] edges the peel runs on the driver
  * after one bounded collect — the same orientation, intersection,
  * round count, stop rule and `maxRounds` cap — and the truss is a
  * local relation (the [[LocalGraph]] rule); the distributed rounds
  * above run only above the bound.
  */
object Truss {

  /** Per-edge triangle support of a canonical (src < dst) edge list:
    * (src, dst, sup) — edges in no triangle are ABSENT (support 0).
    * Each triangle {a,b,c} found once via degree orientation, then
    * exploded onto its three canonical edges. */
  private[ops] def supports(e0: DataFrame): DataFrame = {
    val deg = e0.select(col("src").as("node"))
      .unionAll(e0.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val lower = struct(col("ds"), col("src")) < struct(col("dd"), col("dst"))
    val oriented = e0
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .select(when(lower, col("src")).otherwise(col("dst")).as("a"),
        when(lower, col("dst")).otherwise(col("src")).as("b"))
      .localCheckpoint(true) // adjacency + probe legs: compute once
    val adj = oriented.groupBy(col("a"))
      .agg(collect_list(col("b")).as("nbrs"))
    val tris = oriented
      .join(adj.select(col("a"), col("nbrs").as("na")), "a")
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    tris.select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .unionAll(tris.select(least(col("a"), col("c")).as("src"),
        greatest(col("a"), col("c")).as("dst")))
      .unionAll(tris.select(least(col("b"), col("c")).as("src"),
        greatest(col("b"), col("c")).as("dst")))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("sup"))
  }

  /** @param edges undirected simple graph, canonical src < dst, no
    *              duplicates.
    * @param maxRounds hard bound on shrink rounds (the KCore rule). The
    *                  support check still runs after shrink round
    *                  `maxRounds`: an unchanged or empty edge set
    *                  returns, and a peel that would need another
    *                  shrink THROWS rather than silently returning a
    *                  non-truss edge set — callers pairing with an
    *                  unrolled SQL oracle must keep
    *                  `maxRounds <= nLayers` so a too-deep peel fails
    *                  loudly instead of diverging the hash gate.
    * @return (trussEdges, rounds): the k-truss edge list and the
    *         number of strict-shrink peeling rounds to the fixpoint. */
  def truss(edges: DataFrame, k: Int,
      maxRounds: Int = 64): (DataFrame, Int) =
    truss(edges, k, maxRounds, LocalGraph.EdgeLimit)

  /** [[truss]] on the driver when the graph has at most `edgeLimit`
    * edges (0 forces the distributed path). */
  private[graft] def truss(edges: DataFrame, k: Int, maxRounds: Int,
      edgeLimit: Long): (DataFrame, Int) = {
    require(k >= 3, s"k must be >= 3, got $k")
    LocalGraph.collect(edges.select(col("src").cast("long"),
        col("dst").cast("long")), edgeLimit) match {
      case Some(Array(src, dst)) =>
        val (s, d, rounds) = localTruss(src, dst, k, maxRounds)
        (LocalGraph.relation(edges.sparkSession, "src" -> s, "dst" -> d), rounds)
      case _ => distributed(edges, k, maxRounds)
    }
  }

  private def roundsMessage(maxRounds: Int, k: Int, edges: Long): String =
    s"k-truss peel still shrinking after maxRounds=$maxRounds " +
      s"(edges=$edges): result would not be a $k-truss; raise " +
      "maxRounds (and any paired oracle's nLayers)"

  /** [[supports]] on the driver, over node indices `0 until n` (index
    * order = id order): per canonical (lo, hi) index pair, keyed
    * `lo << 32 | hi`, the number of triangles found through it — each
    * oriented edge row intersects its two ends' distinct out-lists,
    * as `array_intersect` does. Pairs in no triangle are absent. */
  private def localSupports(s: Array[Int], d: Array[Int],
      n: Int): scala.collection.mutable.LongMap[Int] = {
    val deg = new Array[Long](n)
    s.foreach(deg(_) += 1); d.foreach(deg(_) += 1)
    def lower(x: Int, y: Int) = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val arcs = s.indices.map { j =>
      if (lower(s(j), d(j))) (s(j).toLong << 32) | d(j) else (d(j).toLong << 32) | s(j)
    }.toArray
    // distinct out-lists in CSR form
    val sorted = LocalGraph.sortedDistinct(arcs)
    val off = new Array[Int](n + 1)
    sorted.foreach(key => off((key >>> 32).toInt + 1) += 1)
    (0 until n).foreach(i => off(i + 1) += off(i))
    val nbr = sorted.map(key => (key & 0xffffffffL).toInt)
    val sup = scala.collection.mutable.LongMap.empty[Int]
    def emit(x: Int, y: Int): Unit = {
      val key = (math.min(x, y).toLong << 32) | math.max(x, y)
      sup(key) = sup.getOrElse(key, 0) + 1
    }
    arcs.foreach { key =>
      val a = (key >>> 32).toInt; val b = (key & 0xffffffffL).toInt
      var p = off(a); var q = off(b)
      while (p < off(a + 1) && q < off(b + 1)) {
        if (nbr(p) < nbr(q)) p += 1
        else if (nbr(p) > nbr(q)) q += 1
        else {
          emit(a, b); emit(a, nbr(p)); emit(b, nbr(p))
          p += 1; q += 1
        }
      }
    }
    sup
  }

  /** The peel on the driver, with the distributed round count, stop
    * rule and `maxRounds` cap. @return (src, dst, rounds) of the
    * truss: the input rows when round 1 drops nothing, else the
    * surviving canonical pairs. */
  private def localTruss(src: Array[Long], dst: Array[Long], k: Int,
      maxRounds: Int): (Array[Long], Array[Long], Int) = {
    val (ids, s0, d0) = LocalGraph.indexed(src, dst)
    var s = s0
    var d = d0
    var round = 0
    var done = s.isEmpty
    while (!done) {
      val keep = localSupports(s, d, ids.length).iterator
        .collect { case (key, n) if n >= k - 2 => key }.toArray
      if (keep.length == s.length) done = true
      else if (round == maxRounds)
        throw new IllegalStateException(roundsMessage(maxRounds, k, s.length))
      else {
        s = keep.map(key => (key >>> 32).toInt)
        d = keep.map(key => (key & 0xffffffffL).toInt)
        round += 1
        if (keep.isEmpty) done = true
      }
    }
    (s.map(ids(_)), d.map(ids(_)), round)
  }

  private def distributed(edges: DataFrame, k: Int,
      maxRounds: Int): (DataFrame, Int) = {
    // size-derived partition count on the INITIAL frame only (the
    // Bfs.undOf coalesce rule, r13): the narrow-select checkpoint
    // inherits the caller's partition count and round 1's whole
    // support build (oriented checkpoint + 3 adjacency consumers)
    // pays one task per partition; later rounds re-checkpoint the
    // AQE-coalesced support aggregate and are size-adaptive already.
    // The count the fanIn needs is the loop's own probe — free.
    val cur0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(true)
    var curCount = cur0.count()
    var cur = Bfs.fitted(cur0, curCount)
    var round = 0
    var done = curCount == 0
    while (!done) {
      val keep = supports(cur).where(col("sup") >= k - 2)
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      val m = keep.count()
      if (m == curCount) done = true // nothing dropped: fixpoint
      else if (round == maxRounds)
        throw new IllegalStateException(roundsMessage(maxRounds, k, curCount))
      else {
        cur = keep // the support frame's edges ARE the survivors
        curCount = m
        round += 1
        if (m == 0) done = true
      }
    }
    (if (curCount == 0) cur.limit(0) else cur, round)
  }
}
