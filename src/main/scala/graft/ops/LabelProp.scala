package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA, Raghavan et al. 2007) for
  * community detection, made DETERMINISTIC: every node starts with its
  * own id; each round it adopts the most frequent label among its
  * neighbors, ties broken by the SMALLEST label; a FIXED round count
  * replaces the usual "until stable" (async LPA's order-dependence is
  * what makes it irreproducible — the synchronous+fixed form is a pure
  * function of the graph, so a SQL oracle can replay it round by
  * round).
  *
  * Below [[LocalGraph.EdgeLimit]] edges the rounds run on the driver
  * over CSR arrays after one bounded collect (same packed argmin,
  * literally), and the result is a local relation (the [[LocalGraph]]
  * rule). Above it, scale shape per round: one equi join
  * labels->edges (map-side while the label frame broadcasts) + one
  * (node, label) count aggregate +
  * the packed-BIGINT argmin (count desc, label asc) — the same
  * no-window argmax used by dedup/fuzzy-join; `localCheckpoint`
  * truncates lineage per round.
  *
  * Measured and KEPT OUT (r13, BENCH_NOTES_r13.md "Loop-shape A/Bs", ×100
  * hub-replicated co-purchase graph, 4 alternating same-JVM reps):
  *   - `mode(label, deterministic = true)` — semantically identical
  *     (smallest among most frequent, pinned in LabelPropSpec) and one
  *     exchange instead of two, but Mode is an ObjectHashAggregate
  *     whose sort-based fallback (128 keys/partition) SORTS the whole
  *     joined edge stream: 17.5 s vs 12.8 s.
  *   - LAZY per-round checkpoints (broadcast-build materialization):
  *     reps 11.2-13.5 s vs eager 9.1-12.9 s — no win (the eager job
  *     materializes with clean full-width parallelism; laziness only
  *     pays where it removes a job holding OTHER work, q_sssp-style).
  *   - repartition(a)-fused single-exchange argmin: level within
  *     noise (best 8.9 vs 9.1 s, one 17 s outlier) — the two codegen
  *     hash aggregates with map-side partial aggregation already ship
  *     few bytes; kept the simpler landed shape.
  *
  * Packing bound: labels are node ids < 1e10 and per-(node,label)
  * counts < 1e6 (degree bound) — (1e6)*(1e10) = 1e16 fits BIGINT with
  * headroom. Violations fail loudly via the require below (ONE fused
  * envelope job — r13 halved the former two envelope aggregates).
  */
object LabelProp {

  def run(edges: DataFrame, rounds: Int): DataFrame =
    run(edges, rounds, LocalGraph.EdgeLimit)

  /** [[run]] on the driver when the graph has at most `edgeLimit`
    * edges (0 forces the distributed path). */
  private[graft] def run(edges: DataFrame, rounds: Int,
      edgeLimit: Long): DataFrame =
    LocalGraph.collect(edges.select(col("src"), col("dst")), edgeLimit) match {
      case Some(Array(a, b)) =>
        val g = LocalGraph.Csr(a, b, undirected = true)
        val label = localRun(g, rounds)
        LocalGraph.relation(edges.sparkSession, "node" -> g.ids, "label" -> label)
      case _ => distributed(edges, rounds)
    }

  private def boundMessage(bound: Long): String =
    s"LabelProp: node ids must be < 1e10 for the oracle's argmin packing (max=$bound)"

  private def degreeMessage(maxDeg: Long): String =
    s"LabelProp: max degree must be < 1e6 for the oracle's argmin packing (max=$maxDeg)"

  /** The rounds on the driver: each node's neighbour labels (one per
    * arc, so duplicate edges count twice) sorted and run-length
    * counted, then the same packed argmin. @return label per node. */
  private def localRun(g: LocalGraph.Csr, rounds: Int): Array[Long] = {
    if (g.n > 0) {
      require(g.ids.last < 10000000000L, boundMessage(g.ids.last))
      val maxDeg = (0 until g.n).map(i => g.off(i + 1) - g.off(i)).max
      require(maxDeg < 1000000L, degreeMessage(maxDeg))
    }
    var label = g.ids.clone()
    val nb = new Array[Long](g.to.length)
    (1 to rounds).foreach { _ =>
      val next = new Array[Long](g.n)
      var i = 0
      while (i < g.n) {
        val lo = g.off(i); val hi = g.off(i + 1)
        var e = lo
        while (e < hi) { nb(e) = label(g.to(e)); e += 1 }
        java.util.Arrays.sort(nb, lo, hi)
        var pk = Long.MaxValue
        e = lo
        while (e < hi) {
          var f = e
          while (f < hi && nb(f) == nb(e)) f += 1
          pk = math.min(pk, (1000000L - (f - e)) * 10000000000L + nb(e))
          e = f
        }
        next(i) = pk % 10000000000L
        i += 1
      }
      label = next
    }
    label
  }

  private def distributed(edges: DataFrame, rounds: Int): DataFrame = {
    // Repartitioned on the join key before materializing. NOTE the
    // honest mechanism: Spark 4.1's localCheckpoint drops partitioning
    // metadata (LogicalRDD reports UnknownPartitioning — pinned in
    // PartitionReuseSpec), so the per-round join still plans an
    // exchange; the measured win (3.1 vs 4.1 s solo at sf0.1, same
    // session A/B) comes from the materialized frame being laid out
    // by the key: each round's exchange map task writes almost
    // entirely to one reducer.
    // checkpoint the DIRECTED projection first (the Bfs.undOf rule:
    // a union over a non-materialized build runs it once per leg —
    // the co-purchase self-join executed twice here), then lay the
    // bidirectional frame out by the key
    val dir0 = edges.select(col("src").as("a"), col("dst").as("b"))
      .localCheckpoint(true)
    // size-derived partition count (the Bfs.undOf coalesce rule):
    // a bare repartition(col) inherits the session's shuffle
    // partition count however small the graph, and every round then
    // pays one task per cached partition per stage (LoopScaleProbe
    // measured 32-core loop bodies ~1.8× SLOWER than 8-core at 100×
    // replication from exactly this). The ceiling keeps genuinely
    // large graphs on every core.
    val und = dir0
      .union(dir0.select(col("b").as("a"), col("a").as("b")))
      .repartition(Bfs.fanIn(edges.sparkSession, 2L * dir0.count()), col("b"))
      .localCheckpoint(true)
    val env = und.groupBy(col("a"))
      .agg(count(lit(1)).as("d"), max(greatest(col("a"), col("b"))).as("mx"))
      .agg(max(col("d")).as("maxDeg"), max(col("mx")).as("bound"))
      .collect()(0)
    // null maxima = an empty graph, which the rounds handle
    if (!env.isNullAt(0)) {
      val maxDeg = env.getLong(0)
      val bound = env.getLong(1)
      require(bound < 10000000000L, boundMessage(bound))
      require(maxDeg < 1000000L, degreeMessage(maxDeg))
    }
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // one bounded scalar for count-informed broadcasts (the Bfs
    // rule): the label frame is nNodes rows every round; broadcasting
    // it keeps the laid-out edge checkpoint un-exchanged (the
    // repartition(b) locality win above still pays on the aggregate)
    val nNodes = labels.count()
    (1 to rounds).foreach { _ =>
      labels = und
        .join(Bfs.bcastIfSmall(labels.withColumnRenamed("node", "b"),
          nNodes), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(min(expr("(1000000L - c) * 10000000000L + label")).as("pk"))
        .select(col("a").as("node"), expr("pk % 10000000000L").as("label"))
        .localCheckpoint(true)
    }
    labels
  }
}
