package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled harmonic centrality (Eppstein & Wang 2004 pivot sampling;
  * harmonic rather than closeness per Boldi & Vigna 2014 — the form
  * that handles disconnected graphs gracefully): centrality of v ≈
  * Σ_{s ∈ sample} 1/d(s, v) over a bounded deterministic source
  * sample. All-pairs BFS is the textbook non-starter at scale; pivot
  * sampling is the published answer, and bounding BOTH the sample and
  * the depth makes the result closed-form — exactly replayable by a
  * recursive-CTE oracle (the [[Bfs]] contract, multi-source).
  *
  * Exactness: each 1/d term floors ONCE to micro-units as the integer
  * `10⁶ div d` (d is an exact hop count ≥ 1, so this is pure integer
  * arithmetic — not even the floor-once double chain is needed), and
  * centralities are integer sums. Sources are the md5-rank-smallest
  * nodes (replayable, the GridKmeans sample rule).
  *
  * Scale shape: ONE multi-source [[Bfs.frontier]] expansion — the
  * per-hop frontier carries (source, node) pairs so all |S| BFS trees
  * advance in the same join (work per hop = Σ frontier boundaries,
  * hash on node ids). The |S|× state factor is explicit and bounded;
  * only the |S| sampled source ids collect. */
object Centrality {

  /** @param edges undirected (src, dst) canonical edge list.
    * @return (rk, node, h_micro, n_reached): top-k nodes by sampled
    *         harmonic centrality in micro-units (ties by node id). */
  def sampledHarmonic(edges: DataFrame, nSources: Int, maxDepth: Int,
      k: Int): DataFrame = {
    require(nSources >= 1 && maxDepth >= 1 && k >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    // long ids at entry (the Hits/Truss rule); one shared recipe for
    // the materialized bidirectional traversal frame
    val und = Bfs.undOf(edges)
    val srcs = Bfs.md5Smallest(und, nSources)
    val (layers, _) = Bfs.frontier(und, srcs.toSeq.map(s => (s, s)).toDF("s", "node"),
      srcs.length.toLong, Seq("s", "node"), maxDepth)()
    import org.apache.spark.sql.expressions.Window
    Bfs.depths(layers, "d", from = 1)
      .groupBy(col("node"))
      .agg(sum(expr("1000000L div d")).as("h_micro"),
        count(lit(1)).as("n_reached"))
      .orderBy(desc("h_micro"), asc("node")).limit(k)
      .select(row_number().over(
          Window.orderBy(desc("h_micro"), asc("node")))
          .cast("long").as("rk"),
        col("node"), col("h_micro"), col("n_reached"))
  }

  /** Double-sweep diameter LOWER BOUND (Magnien, Latapy & Habib
    * 2009 — the standard cheap bound; exact on trees): BFS from the
    * md5-rank-smallest node, take the farthest reached node (max hop,
    * ties to the smaller id), BFS again from it — the second
    * eccentricity lower-bounds the diameter, usually tightly on
    * real-world graphs. Two bounded [[Bfs]]-shaped expansions (the
    * same frontier + LEFT ANTI machinery), each depth-capped at
    * `maxDepth`.
    *
    * Round economics: both sweeps run [[Bfs.frontier]] — ONE job
    * per hop, a bare count probe. The first sweep's eccentricity is its
    * layer count and its farthest node one `min(node)` job over its
    * last layer; the second sweep's reached count is the sum of its
    * layer counts, so it runs no job after its loop. The edge build
    * materializes ONCE (undOf checkpoints the directed frame, the
    * reverse derives narrowly). Returns one row:
    * (seed, far_node, ecc1, diameter_lb, n_reached). */
  def diameterDoubleSweep(edges: DataFrame, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ONE materialized traversal frame for the seed scan and BOTH
    // sweeps — each expansion on a raw edge frame would re-execute
    // the whole upstream graph build (measured: the co-purchase
    // self-join ran three times before this hoist)
    val und = Bfs.undOf(edges)
    def sweep(from: Long) =
      Bfs.frontier(und, Seq(from).toDF("node"), 1L, Seq("node"), maxDepth)()
    val seed = Bfs.md5Smallest(und, 1)(0)
    val (first, _) = sweep(seed)
    val farNode = first.last.agg(min(col("node"))).as[Long].head()
    val (second, reached) = sweep(farNode)
    Seq((seed, farNode, first.size - 1L, second.size - 1L, reached.sum))
      .toDF("seed", "far_node", "ecc1", "diameter_lb", "n_reached")
  }
}
