package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round single-source shortest paths over a WEIGHTED edge
  * list (frontier Bellman-Ford — the distributed SSSP that Dijkstra's
  * priority queue can't express; rounds ≡ Pregel supersteps): after R
  * rounds the distance is the exact minimum cost over paths of ≤ R
  * edges, so bounding R makes the result closed-form — an
  * unrolled-CTE oracle replays it exactly (the [[Bfs]] contract,
  * weighted).
  *
  * Frontier form: only nodes IMPROVED in round r−1 relax in round r.
  * By induction this computes the same dist_r as the textbook
  * all-edges round (a non-improved node's relaxations were already
  * applied the round after it last improved), while the per-round
  * work drops from O(E) to O(edges out of the frontier).
  *
  * Exactness: integer costs only (the caller quantizes weights — the
  * q_sssp query uses `10⁶ div support`), so min/plus arithmetic is
  * engine-exact; ties in the final ranking break by node id.
  *
  * Below [[LocalGraph.EdgeLimit]] edges the rounds run on the driver
  * over CSR arrays after one bounded collect, and the result is a
  * local relation (the [[LocalGraph]] rule). Above it, scale shape:
  * per round, one equi join (frontier ⋈ edges, hash on node ids), one
  * (node → min) hash agg, and ONE full-outer min-merge into the dist
  * frame that also tags improvements — a single lazy checkpoint
  * materialized by the improvement-count probe (one Spark job per
  * round), with next round's frontier a free filter over the
  * materialized merge. Rounds are bounded; nothing collects. */
object Sssp {

  /** The edge list as (a, b, cost) longs: what both paths read. */
  private def weighted(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("a"),
      col("dst").cast("long").as("b"), col("cost").cast("long"))

  private def nonnegMessage(minCost: Long): String =
    s"Sssp requires nonneg integer costs; min(cost) = $minCost"

  /** The materialized bidirectional weighted traversal frame — built
    * ONCE per graph and shared with the seed scan (the Bfs.undOf
    * rule: every consumer of a raw edge frame re-executes the whole
    * upstream graph build). */
  def edOf(edges: DataFrame): DataFrame = {
    // checkpoint the DIRECTED projection, derive the reverse
    // direction narrowly (the Bfs.undOf rule: checkpointing the
    // union would run the upstream build once per leg)
    val e = weighted(edges).localCheckpoint(true)
    val ed = e.union(e.select(col("b").as("a"), col("a").as("b"),
      col("cost")))
    // fail-fast envelope (the VoptHist rule): the bounded-round
    // min-merge is only shortest-paths for NONNEG costs — a negative
    // cost silently degrades to "min cost over <= R edges", which no
    // oracle mirrors. One-row agg over the materialized checkpoint —
    // which also carries the edge count for the size-derived coalesce
    // (the Bfs.undOf rule: per-round stages pay one task per cached
    // partition, so small frames must not inherit the session's
    // partition count).
    val probe = ed.agg(min(col("cost")),
      org.apache.spark.sql.functions.count(lit(1))).collect()(0)
    require(probe.isNullAt(0) || probe.getLong(0) >= 0L,
      nonnegMessage(probe.getLong(0)))
    Bfs.fitted(ed, probe.getLong(1))
  }

  /** @param edges weighted (src, dst, cost) list, traversed both
    *              directions; cost must be a nonneg integer column.
    * @param seed  source node id.
    * @return (node, d) exact min path cost within maxRounds edges. */
  def boundedBellmanFord(edges: DataFrame, seed: Long,
      maxRounds: Int): DataFrame =
    boundedBellmanFord(edges, seed, maxRounds, LocalGraph.EdgeLimit)

  /** [[boundedBellmanFord]] on the driver when the graph has at most
    * `edgeLimit` edges (0 forces the distributed path). */
  private[graft] def boundedBellmanFord(edges: DataFrame, seed: Long,
      maxRounds: Int, edgeLimit: Long): DataFrame =
    LocalGraph.collect(weighted(edges), edgeLimit) match {
      case Some(Array(a, b, cost)) =>
        val g = localGraph(a, b, cost)
        require(maxRounds >= 1)
        val (nodes, d) = localBellmanFord(g, seed, maxRounds)
        LocalGraph.relation(edges.sparkSession, "node" -> nodes, "d" -> d)
      case _ => bellmanFordOnEd(edOf(edges), seed, maxRounds)
    }

  /** The undirected weighted CSR of the collected edges, after the
    * [[edOf]] envelope. */
  private def localGraph(a: Array[Long], b: Array[Long],
      cost: Array[Long]): LocalGraph.Csr = {
    if (cost.nonEmpty) require(cost.min >= 0L, nonnegMessage(cost.min))
    LocalGraph.Csr(a, b, undirected = true, weight = cost)
  }

  /** [[bellmanFordOnEd]]'s rounds on the driver: per round, relax the
    * frontier's arcs to a per-node min, then keep the candidates that
    * are new or strictly better; the improved nodes are the next
    * frontier. @return (node ids, distances) of the reached nodes. */
  private def localBellmanFord(g: LocalGraph.Csr, seed: Long,
      maxRounds: Int): (Array[Long], Array[Long]) = {
    val s = LocalGraph.indexOf(g.ids, seed)
    // the seed of an empty or foreign graph reaches only itself
    if (s < 0) return (Array(seed), Array(0L))
    val dist = new Array[Long](g.n)
    val reached = new Array[Boolean](g.n)
    val cand = new Array[Long](g.n)
    val touched = new Array[Boolean](g.n)
    dist(s) = 0L
    reached(s) = true
    var frontier = Array(s)
    var r = 1
    while (r <= maxRounds && frontier.nonEmpty) {
      val hit = scala.collection.mutable.ArrayBuilder.make[Int]
      frontier.foreach { u =>
        var e = g.off(u)
        while (e < g.off(u + 1)) {
          val v = g.to(e)
          val nd = dist(u) + g.w(e)
          if (!touched(v)) { touched(v) = true; cand(v) = nd; hit += v }
          else if (nd < cand(v)) cand(v) = nd
          e += 1
        }
      }
      frontier = hit.result().filter { v =>
        touched(v) = false
        val better = !reached(v) || cand(v) < dist(v)
        if (better) { dist(v) = cand(v); reached(v) = true }
        better
      }
      r += 1
    }
    val idx = (0 until g.n).filter(reached(_))
    (idx.map(g.ids(_)).toArray, idx.map(dist(_)).toArray)
  }

  /** ONE Bellman-Ford round body — the per-round plan the loop
    * materializes. Factored out so the plan-evidence spec/tool assert
    * the PRODUCTION shape, not a replica: relax the frontier against
    * the materialized edge frame (count-informed broadcast — the Bfs
    * rule: under [[Bfs.BroadcastRowLimit]] the frontier broadcasts and
    * the edge frame is probed MAP-SIDE with no per-round exchange;
    * above it the shuffle join returns automatically), per-node min,
    * then min-merge into dist via ONE full-outer join tagging
    * improvements. */
  private[graft] def roundBody(ed: DataFrame, dist: DataFrame,
      frontier: DataFrame, frontierRows: Long): DataFrame = {
    val cand = Bfs.bcastIfSmall(frontier, frontierRows)
      .join(ed, col("node") === col("a"))
      .select(col("b").as("node"), (col("d") + col("cost")).as("nd"))
      .groupBy(col("node")).agg(min(col("nd")).as("nd"))
    val better = col("d").isNull ||
      (col("nd").isNotNull && col("nd") < col("d"))
    dist.join(cand, Seq("node"), "full_outer")
      .select(col("node"),
        when(better, col("nd")).otherwise(col("d")).as("d"),
        better.as("imp"))
  }

  /** [[boundedBellmanFord]] over an already-materialized [[edOf]]
    * frame. */
  def bellmanFordOnEd(ed: DataFrame, seed: Long,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1)
    val spark = ed.sparkSession
    import spark.implicits._
    var dist = Seq((seed, 0L)).toDF("node", "d").localCheckpoint(true)
    var frontier = dist
    var frontierRows = 1L
    var r = 1
    var done = false
    while (r <= maxRounds && !done) {
      // ONE job per round (measured ~2x over the improved-frame +
      // anti-merge form, which paid two materializations and an extra
      // shuffle): relax the frontier, min-merge into dist via ONE
      // full-outer join (using-columns coalesce the key), tag
      // improvements, lazy-checkpoint; the improvement-count probe
      // materializes the merged frame, and next round's frontier is a
      // free filter over it.
      val merged = roundBody(ed, dist, frontier, frontierRows)
        .localCheckpoint(false)
      val nImp = merged.where(col("imp")).count() // the probe job
      if (nImp == 0L) done = true
      else {
        dist = merged.select(col("node"), col("d"))
        frontier = merged.where(col("imp")).select(col("node"), col("d"))
        frontierRows = nImp
        r += 1
      }
    }
    dist.select(col("node"), col("d"))
  }

  /** Top-k nearest nodes from the md5-rank-smallest seed:
    * (rk, node, dist_cost), dist ascending, ties by node id. */
  def nearestFromMd5Seed(edges: DataFrame, maxRounds: Int,
      k: Int): DataFrame =
    nearestFromMd5Seed(edges, maxRounds, k, LocalGraph.EdgeLimit)

  /** [[nearestFromMd5Seed]] on the driver when the graph has at most
    * `edgeLimit` edges (0 forces the distributed path). */
  private[graft] def nearestFromMd5Seed(edges: DataFrame, maxRounds: Int,
      k: Int, edgeLimit: Long): DataFrame =
    LocalGraph.collect(weighted(edges), edgeLimit) match {
      case Some(Array(a, b, cost)) =>
        val g = localGraph(a, b, cost)
        if (g.n == 0) return noSeed(edges)
        val seed = LocalGraph.md5Smallest(g.ids, 1).head
        require(maxRounds >= 1)
        val (nodes, d) = localBellmanFord(g, seed, maxRounds)
        val top = nodes.indices.sortBy(i => (d(i), nodes(i))).take(k).toArray
        LocalGraph.relation(edges.sparkSession, "rk" -> top.indices.map(_ + 1L).toArray,
          "node" -> top.map(nodes(_)), "dist_cost" -> top.map(d(_)))
      case _ => distributedNearest(edges, maxRounds, k)
    }

  /** The empty (rk, node, dist_cost) frame of a graph with no edges. */
  private def noSeed(edges: DataFrame): DataFrame =
    edges.sparkSession.range(0).select(col("id").as("rk"),
      col("id").as("node"), col("id").as("dist_cost"))

  private def distributedNearest(edges: DataFrame, maxRounds: Int,
      k: Int): DataFrame = {
    // one graph build: the seed scan reads the materialized frame
    val ed = edOf(edges)
    val seedRows = ed
      .select(col("a").as("node")).distinct()
      .orderBy(substring(md5(col("node").cast("string")), 1, 13),
        col("node"))
      .limit(1).collect()
    import org.apache.spark.sql.expressions.Window
    // empty-graph-safe (the sampledBrandes rule): no edges -> no seed
    // -> an empty (rk, node, dist_cost) frame, not an AIOOBE
    if (seedRows.isEmpty) return noSeed(edges)
    val seed = seedRows(0).getLong(0)
    bellmanFordOnEd(ed, seed, maxRounds)
      .orderBy(asc("d"), asc("node")).limit(k)
      .select(row_number().over(Window.orderBy(asc("d"), asc("node")))
          .cast("long").as("rk"),
        col("node"), col("d").as("dist_cost"))
  }
}
