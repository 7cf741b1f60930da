package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-depth breadth-first search over an undirected edge list:
  * exact minimum hop distance from a seed node for every node within
  * `maxHops` (bounded depth makes the result closed-form — no
  * convergence detection needed, and a recursive-CTE oracle can
  * replay it exactly).
  *
  * Scale shape: the classic frontier expansion — per hop, one equi
  * join of the CURRENT FRONTIER (not the visited set) against the
  * edge list, then a LEFT ANTI join against the visited set; both
  * hash on node ids. Work per round is O(frontier boundary), total
  * O(edges within the ball); `localCheckpoint` truncates lineage per
  * hop (the ConnectedComponents/PageRank/KCore recipe). The visited
  * frame stays distributed throughout — nothing collects.
  *
  * [[frontier]] is the one copy of that loop: BFS, harmonic
  * centrality, the double sweep and Brandes' forward pass all run it.
  * Per-round economics (measured — job latency dominates wall time on
  * small graphs, task fan-in dominates at scale):
  *   - ONE Spark job per hop: the checkpoint is LAZY and materializes
  *     inside the `count()` that doubles as the emptiness probe (the
  *     former eager-checkpoint + `isEmpty` pair was two jobs).
  *   - The frontier coalesces to a fan-in SCALED BY the previous
  *     frontier's row count (floor 8 — a ball boundary at test SF is
  *     a sliver of the 32-partition join output, and every later job
  *     pays one task per partition; ceiling = the session's shuffle
  *     partitions). A fixed fan-in would serialize a 10⁶–10⁷-row
  *     frontier through 8 tasks at 100× scale.
  */
object Bfs {

  /** Rows per post-coalesce frontier partition the fan-in targets.
    * ~64k longs/task keeps a checkpoint partition well under a MB
    * while never letting a large frontier funnel through few tasks. */
  private[ops] val TargetRowsPerPartition = 65536L

  /** Count-scaled partition count for a frame of `rows` rows: floor 8
    * (sliver frames pay the fewest per-job tasks), ceiling the
    * session's shuffle partitions (coalesce above the parent partition
    * count is a no-op anyway). */
  private[ops] def fanIn(spark: SparkSession, rows: Long): Int =
    math.max(8L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      rows / TargetRowsPerPartition + 1L)).toInt

  /** `frame` coalesced to [[fanIn]] partitions for `rows` rows. A frame
    * checkpointed off a narrow op inherits its parent's partition
    * count, and every loop round then pays one task per cached
    * partition per stage; coalesce is narrow, so this adds no shuffle.
    * Never for frames feeding double sums (see PageRank). */
  private[ops] def fitted(frame: DataFrame, rows: Long): DataFrame =
    frame.coalesce(fanIn(frame.sparkSession, rows))

  /** Row ceiling for count-informed broadcasts inside frontier loops.
    * The traversal frame is a localCheckpoint — UnknownPartitioning
    * and default (huge) stats — so the planner re-EXCHANGES the whole
    * edge frame on every hop's join unless the frontier side
    * broadcasts. The loop KNOWS the frontier/visited row counts
    * exactly (the probe returns them), so it broadcasts whenever the
    * side is ≤ this many 8-byte ids (~32 MB) and falls back to the
    * shuffle join above it — the dial a 100× frontier flips
    * automatically. */
  private[graft] val BroadcastRowLimit = 4L << 20

  /** `frame` hinted for broadcast iff its KNOWN row count is under
    * [[BroadcastRowLimit]]. */
  private[graft] def bcastIfSmall(frame: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRowLimit) broadcast(frame) else frame

  /** The materialized bidirectional traversal frame: build it ONCE
    * per graph and share it across sweeps/loops — every expansion the
    * caller runs on a non-checkpointed edge frame re-executes the
    * whole upstream graph build (the double-sweep paid the
    * co-purchase self-join three times before this was hoisted).
    *
    * The checkpoint wraps the DIRECTED projection and the reverse
    * direction derives narrowly from it: checkpointing the union
    * instead would execute the upstream build once per union LEG —
    * the whole edge build ran twice (measured ~1.5 s of
    * q_diameter_2sweep's 5.7 at sf0.1) — and would also double the
    * stored bytes at scale.
    *
    * The union is [[fitted]] to the edge count (one cheap count over
    * the cached RDD): the checkpoint inherits the session's shuffle
    * partition count however small the graph is. The r13
    * LoopScaleProbe measured the cost directly — at 100× replication
    * (360 k edges) the loop bodies ran ~1.8× SLOWER on 32 cores than
    * on 8, pure per-round task overhead. */
  def undOf(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"))
      .localCheckpoint(true)
    fitted(e.union(e.select(col("b").as("a"), col("a").as("b"))), 2L * e.count())
  }

  /** The `n` md5-rank-smallest node ids of `und` (replayable, the
    * GridKmeans sample rule): the sampled sources and the sweep seed. */
  private[ops] def md5Smallest(und: DataFrame, n: Int): Array[Long] =
    und.select(col("a")).distinct()
      .orderBy(substring(md5(col("a").cast("string")), 1, 13), col("a"))
      .limit(n).collect().map(_.getLong(0))

  /** The frontier loop: a multi-source BFS from `seed` (`seedRows`
    * rows, unique on `keys` — `Seq("node")` or `Seq("s", "node")`)
    * over an [[undOf]] frame, for at most `maxDepth` hops. Each hop
    * moves the frontier across its edges (`node` becomes the far end,
    * every other column rides along), `candidates` reduces that to one
    * row per key (`distinct` for plain BFS; Brandes sums sigma here,
    * BEFORE the anti join — anti-joining the edge-level rows re-shuffles
    * the whole wedge stream), and a LEFT ANTI against the visited keys
    * leaves the next layer. Both joins broadcast their small side by
    * its known count (the checkpointed edge frame otherwise
    * re-exchanges every hop); the layer is [[fitted]] to the previous
    * frontier's count and checkpointed lazily, so its count — the
    * emptiness probe — is the hop's one job. The visited union is
    * never re-checkpointed: it is a shallow union of materialized
    * layers.
    * @return the layers, seed layer first (layer d holds the keys at
    *         depth d), and their row counts; it stops at the first
    *         empty layer, which it leaves out. */
  private[ops] def frontier(und: DataFrame, seed: DataFrame, seedRows: Long,
      keys: Seq[String], maxDepth: Int)(
      candidates: DataFrame => DataFrame = _.distinct())
      : (IndexedSeq[DataFrame], IndexedSeq[Long]) = {
    val layers = ArrayBuffer(seed)
    val rows = ArrayBuffer(seedRows)
    val keyCols = keys.map(col)
    var visited = seed.select(keyCols: _*)
    var more = true
    while (more && layers.size <= maxDepth) {
      val front = layers.last
      val next = candidates(bcastIfSmall(front, rows.last)
          .join(und, col("node") === col("a"))
          .select(front.columns.toIndexedSeq.map(c =>
            if (c == "node") col("b").as("node") else col(c)): _*))
        .join(bcastIfSmall(visited, rows.sum), keys, "left_anti")
      val layer = fitted(next, rows.last).localCheckpoint(false)
      val n = layer.count()
      more = n > 0L
      if (more) {
        layers += layer
        rows += n
        visited = visited.union(layer.select(keyCols: _*))
      }
    }
    (layers.toIndexedSeq, rows.toIndexedSeq)
  }

  /** @param edges undirected `(src, dst)` edge list (canonical
    *              direction fine — both directions are traversed).
    * @return (node, hop) — minimum hop distance, hop <= maxHops. */
  def hops(edges: DataFrame, seed: Long, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (layers, _) = frontier(undOf(edges), Seq(seed).toDF("node"), 1L,
      Seq("node"), maxHops)()
    depths(layers, "hop")
  }

  /** The `(node, <depthCol>)` rows of [[frontier]]'s layers from depth
    * `from` on (the seed layer is depth 0); empty when no layer is that
    * deep. */
  private[ops] def depths(layers: IndexedSeq[DataFrame], depthCol: String,
      from: Int = 0): DataFrame = {
    val tagged = layers.zipWithIndex.map { case (l, d) =>
      l.select(col("node"), lit(d).as(depthCol)) }
    tagged.drop(from).reduceOption(_ union _).getOrElse(tagged.head.limit(0))
  }
}
