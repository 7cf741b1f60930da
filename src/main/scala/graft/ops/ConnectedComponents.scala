package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the resolution
  * step every dedup pipeline ends with: near-dup PAIRS (from MinHash /
  * SimHash / Jaccard) become duplicate CLUSTERS, and min-id-per-
  * component is the canonical representative to keep.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labeled with itself; each round, every vertex takes the min of its
  * own label and its neighbors' labels; stop when a round changes
  * nothing. Rounds needed ≈ component diameter — near-dup clusters
  * are shallow (a handful of hops), so convergence is fast no matter
  * how many clusters exist.
  *
  * Scale shape per round: one edge⋈label join (hash, on the vertex
  * id) + one min-aggregate + one label join — all equi-operations
  * AQE can replan; nothing is ever collected. Lineage is truncated
  * every round with localCheckpoint, or each iteration's plan would
  * nest the previous one (exponential planning by round 10). The
  * driver sees only the per-round changed-count (one long).
  */
object ConnectedComponents {

  /** (id, component) for every vertex in `edges`; component = the
    * minimum vertex id reachable. `maxIter` bounds pathological chain
    * graphs (propagation halves distance per round on stars, but a
    * pure path of length L needs L rounds; 50 covers any plausible
    * dedup cluster). `maxIter` counts the rounds that change a label;
    * the round that confirms the fixpoint comes on top, so a
    * propagation that settles on round `maxIter` returns. A label
    * still changing on round `maxIter + 1` throws (the Truss/Mis rule)
    * rather than return components that are split. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    // Materialize the DIRECTED edge list before mirroring it: the
    // union below references `e` twice, and Spark re-evaluates the
    // whole upstream plan per branch — for LSH-produced edges that
    // means running the candidate join twice. Checkpointing first
    // makes the (cheap, already-pair-sized) edge list the thing that
    // is read twice, not the pipeline that produced it.
    val e = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
      .localCheckpoint(eager = true)
    // undirected: keep both directions once
    val undirected = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true)
    var labels = undirected.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    // one bounded scalar for the loop's count-informed broadcasts
    // (the Bfs rule: label/message frames are <= nNodes rows, while
    // the checkpointed edge frame would re-exchange every round)
    val nNodes = labels.count()
    var iter = 0
    var converged = false
    while (!converged) {
      // neighbor messages: for vertex a, the labels of everyone it
      // touches; then the round's label = min(own, best message)
      val msgs = undirected
        .join(Bfs.bcastIfSmall(labels.withColumnRenamed("id", "b"),
          nNodes), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("label")).as("msg"))
      // ONE job per round (the Bfs probe rule): lazy checkpoint
      // materialized inside the changed-count probe — the former
      // eager checkpoint + isEmpty pair was two jobs per round
      val next = labels.join(Bfs.bcastIfSmall(msgs, nNodes),
          Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("msg"), col("label"))).as("label"),
          (col("msg") < col("label")).as("changed"))
        .localCheckpoint(eager = false)
      converged = next.where(col("changed")).count() == 0L
      if (!converged && iter == maxIter) throw new IllegalStateException(
        s"connected components still changing after maxIter=$maxIter " +
          "rounds: labels have not reached the component minimum; raise maxIter")
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    labels.withColumnRenamed("label", "component")
  }

  /** Per-component summary: size and canonical (minimum) id. */
  def summary(comps: DataFrame): DataFrame =
    comps.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
}
