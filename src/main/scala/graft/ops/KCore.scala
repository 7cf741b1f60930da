package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman, Social
  * Networks 1983; distributed formulation as in Montresor et al.):
  * repeatedly drop nodes with degree < k and the edges touching them
  * until the survivor set is stable — the fixpoint is the unique
  * maximal subgraph with minimum degree >= k.
  *
  * Below [[LocalGraph.EdgeLimit]] edges the peel runs on the driver
  * after one bounded collect, with the same round count and stop rule,
  * and the core is a local relation (the [[LocalGraph]] rule). Above
  * it, scale shape: each round is one degree aggregate (map-side
  * combined) plus two semi-join-shaped equi joins of the edge list
  * against the survivor set — all hash-partitioned on node ids,
  * nothing quadratic, no windows. `localCheckpoint` truncates lineage per round (the same
  * recipe as ConnectedComponents/PageRank); rounds are bounded by the
  * degeneracy peeling depth, which is small for power-law graphs.
  * Convergence is detected from the survivor COUNT: the set shrinks
  * strictly until the fixpoint, so an unchanged count IS stability.
  * Fail-fast (the rule Truss shares): a peel still shrinking after
  * `maxRounds` rounds throws on both paths instead of returning a
  * subgraph that is not yet the k-core. The degree check after the
  * last allowed round still runs, so a peel that reaches its fixpoint
  * or empties on that round returns.
  */
object KCore {

  /** @param edges undirected edge list `(src, dst)`, canonical
    *              src < dst, no duplicates.
    * @return (coreEdges, rounds): the induced edge list of the k-core
    *         (same canonical form; derive nodes by unioning endpoints)
    *         and the number of peeling rounds to the fixpoint.
    * @throws IllegalStateException if the peel has not reached the
    *         fixpoint after `maxRounds` rounds. */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 64): (DataFrame, Int) =
    core(edges, k, maxRounds, LocalGraph.EdgeLimit)

  /** [[core]] on the driver when the graph has at most `edgeLimit`
    * edges (0 forces the distributed path). */
  private[graft] def core(edges: DataFrame, k: Int, maxRounds: Int,
      edgeLimit: Long): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pair = edges.select(col("src"), col("dst"))
    LocalGraph.collect(pair, edgeLimit) match {
      case Some(Array(src, dst)) =>
        val (kept, rounds) = localCore(src, dst, k, maxRounds)
        val out = LocalGraph.relation(edges.sparkSession,
          "src" -> kept.map(src(_)), "dst" -> kept.map(dst(_)))
        (out.select(pair.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*),
          rounds)
      case _ => distributed(edges, k, maxRounds)
    }
  }

  private def roundsMessage(maxRounds: Int, k: Int): String =
    s"k-core peel still shrinking after maxRounds=$maxRounds: result " +
      s"would not be the $k-core; raise maxRounds (and any paired " +
      "oracle's nLayers)"

  /** The peel on the driver: per round, the degrees of the surviving
    * edge rows, the nodes at degree >= k, and the rows with both ends
    * kept; stops on an empty or unchanged node set. The degree check
    * also runs after shrink round `maxRounds`, so a peel that converges
    * or empties on its last allowed round returns; one that would need
    * another shrink throws.
    * @return (indices of the core's edge rows, rounds). */
  private def localCore(src: Array[Long], dst: Array[Long], k: Int,
      maxRounds: Int): (Array[Int], Int) = {
    val (ids, s, d) = LocalGraph.indexed(src, dst)
    var cur: Array[Int] = src.indices.toArray
    var survivors = -1
    var round = 0
    var done = false
    while (!done) {
      val deg = new Array[Int](ids.length)
      cur.foreach { j => deg(s(j)) += 1; deg(d(j)) += 1 }
      val n = deg.count(_ >= k)
      if (n == 0) { cur = Array.emptyIntArray; done = true }
      else if (n == survivors) done = true
      else if (round == maxRounds)
        throw new IllegalStateException(roundsMessage(maxRounds, k))
      else {
        survivors = n
        cur = cur.filter(j => deg(s(j)) >= k && deg(d(j)) >= k)
        round += 1
      }
    }
    (cur, round)
  }

  private def distributed(edges: DataFrame, k: Int,
      maxRounds: Int): (DataFrame, Int) = {
    // size-derived partition count (the Bfs.undOf coalesce rule, r13):
    // the initial checkpoint's parent is a narrow select inheriting
    // the caller's partition count, and every peel round's
    // re-checkpoint inherits it in turn (the semi joins are map-side
    // under the broadcast rule) — one task per cached partition per
    // round (LoopScaleProbe ×100: 17 s before the coalesce).
    val cur0 = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var cur = Bfs.fitted(cur0, cur0.count())
    var survivors = -1L
    var round = 0
    var done = false
    var coreEmpty = false
    while (!done) {
      val deg = cur.select(col("src").as("node"))
        .union(cur.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select(col("node"))
        .localCheckpoint(true)
      val n = keep.count()
      if (n == 0) { coreEmpty = true; done = true }
      else if (n == survivors) done = true
      else if (round == maxRounds)
        throw new IllegalStateException(roundsMessage(maxRounds, k))
      else {
        survivors = n
        // Alternate the semi-join order. NOT planner reuse (the
        // checkpointed round output reports UnknownPartitioning —
        // PartitionReuseSpec): the measured win (1.9 vs 2.4 s solo at
        // sf0.1, same-session A/B vs a fixed order) comes from the
        // materialized round output being LAID OUT by its last join
        // key, so the next round's first exchange — on that same key —
        // writes with near-perfect locality.
        // count-informed broadcast (the Bfs rule): keep is exactly n
        // rows — a broadcast semi probes the surviving edge frame
        // map-side instead of re-exchanging it twice per round; above
        // the row limit the shuffle path (with the measured
        // alternating-layout win) kicks back in
        val keepSrc = Bfs.bcastIfSmall(
          keep.withColumnRenamed("node", "src"), n)
        val keepDst = Bfs.bcastIfSmall(
          keep.withColumnRenamed("node", "dst"), n)
        cur = (if (round % 2 == 0)
            cur.join(keepSrc, "src", "left_semi")
              .join(keepDst, "dst", "left_semi")
          else
            cur.join(keepDst, "dst", "left_semi")
              .join(keepSrc, "src", "left_semi"))
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        round += 1
      }
    }
    val coreEdges = if (coreEmpty) cur.limit(0) else cur
    (coreEdges, round)
  }
}
