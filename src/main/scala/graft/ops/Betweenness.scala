package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled betweenness centrality (Brandes 2001 dependency
  * accumulation over a bounded pivot sample — the standard scalable
  * estimator per Brandes & Pich 2007): for each sampled source s, a
  * forward BFS records depth d(s,v) AND shortest-path counts σ(s,v),
  * then a backward per-layer pass accumulates the dependency
  *   δ(v) = Σ_{w: d(w)=d(v)+1, (v,w)∈E} σ(v)/σ(w) · (1 + δ(w)),
  * and betweenness(v) = Σ_s δ_s(v). All-pairs Brandes is O(V·E) —
  * the pivot sample and depth cap make the result closed-form and
  * bounded, exactly like [[Centrality.sampledHarmonic]].
  *
  * Exactness: σ is a pure integer path count; each dependency term
  * floors ONCE to micro-units as the pure-integer
  * `(σ_v · (10⁶ + δ_w)) div σ_w` (trunc ≡ floor: everything is
  * nonneg), so δ and the final sums are integer arithmetic end to
  * end — an unrolled-CTE oracle replays sampling, both passes, and
  * the ranking bit-for-bit (no float ever enters).
  *
  * Below [[LocalGraph.EdgeLimit]] edges both passes run on the driver
  * over CSR arrays after one bounded collect, per source in the same
  * layer order (so the envelopes trip on the same layer with the same
  * value), and the result is a local relation (the [[LocalGraph]]
  * rule). Above it, scale shape: the forward pass is ONE multi-source
  * [[Bfs.frontier]] expansion whose per-hop candidates group by
  * (s,node) summing σ map-side. The backward pass is `maxDepth` layer
  * joins, each O(edges between adjacent layers), hash-partitioned on
  * node ids;
  * per-layer frames are the already-materialized forward checkpoints.
  * Above the bound nothing collects beyond one-row envelope guards.
  *
  * Overflow envelope (fail fast, never silently diverge — the
  * VoptHist/Hits rule): σ_max < 2²⁰ and δ_max < 2⁴² are checked as
  * one-row aggregates, so every product σ_v·(10⁶+δ_w) < 2⁶³ on both
  * engines (DuckDB would error on BIGINT overflow; Spark ANSI too —
  * the require makes the bound a declared semantic, not luck). */
object Betweenness {

  /** @param edges undirected canonical (src, dst) edge list.
    * @return (rk, node, bc_micro, n_src): top-k nodes by sampled
    *         betweenness in micro-units (ties by node id); n_src =
    *         sampled sources whose BFS tree contains the node at
    *         depth >= 1. */
  def sampledBrandes(edges: DataFrame, nSources: Int, maxDepth: Int,
      k: Int): DataFrame =
    sampledBrandes(edges, nSources, maxDepth, k, LocalGraph.EdgeLimit)

  /** [[sampledBrandes]] on the driver when the graph has at most
    * `edgeLimit` edges (0 forces the distributed path). */
  private[graft] def sampledBrandes(edges: DataFrame, nSources: Int,
      maxDepth: Int, k: Int, edgeLimit: Long): DataFrame = {
    require(nSources >= 1 && maxDepth >= 2 && k >= 1)
    LocalGraph.collect(edges.select(col("src").cast("long"),
        col("dst").cast("long")), edgeLimit) match {
      case Some(Array(a, b)) =>
        val g = LocalGraph.Csr(a, b, undirected = true)
        val (node, bc, nSrc) = localBrandes(g, nSources, maxDepth)
        val top = node.indices.sortBy(i => (-bc(i), node(i))).take(k).toArray
        LocalGraph.relation(edges.sparkSession, "rk" -> top.indices.map(_ + 1L).toArray,
          "node" -> top.map(node(_)), "bc_micro" -> top.map(bc(_)), "n_src" -> top.map(nSrc(_)))
      case _ => distributed(edges, nSources, maxDepth, k)
    }
  }

  private def sigmaMessage(sigMax: Long): String =
    s"Brandes sigma envelope exceeded: max path count $sigMax >= 2^20 " +
      "— the micro-unit dependency product would overflow BIGINT; " +
      "lower maxDepth or sample sparser sources"

  private def deltaMessage(dMax: Long): String =
    s"Brandes delta envelope exceeded: max dependency $dMax >= 2^42 " +
      "— the next layer's product would overflow BIGINT"

  /** Both passes on the driver, one BFS per sampled source; the
    * backward pass walks layers deepest first ACROSS sources, so the
    * delta envelope checks the same layers in the same order as the
    * distributed pass. @return (node, bc_micro, n_src) of every node
    * some source reached at depth >= 1. */
  private def localBrandes(g: LocalGraph.Csr, nSources: Int,
      maxDepth: Int): (Array[Long], Array[Long], Array[Long]) = {
    val srcs = LocalGraph.md5Smallest(g.ids, nSources).map(LocalGraph.indexOf(g.ids, _))
    // per source: depth (-1 unreached), sigma, and its layers 1..h
    val depth = srcs.map { _ => Array.fill(g.n)(-1) }
    val sigma = srcs.map { _ => new Array[Long](g.n) }
    val layers = srcs.map { _ => scala.collection.mutable.ArrayBuffer.empty[Array[Int]] }
    srcs.indices.foreach { si =>
      val dep = depth(si); val sg = sigma(si)
      dep(srcs(si)) = 0; sg(srcs(si)) = 1L
      var frontier = Array(srcs(si))
      var h = 1
      while (h <= maxDepth && frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuilder.make[Int]
        frontier.foreach { u =>
          var e = g.off(u)
          while (e < g.off(u + 1)) {
            val v = g.to(e)
            if (dep(v) < 0) { dep(v) = h; next += v }
            if (dep(v) == h) sg(v) += sg(u)
            e += 1
          }
        }
        frontier = next.result()
        if (frontier.nonEmpty) layers(si) += frontier
        h += 1
      }
    }
    val hmax = layers.map(_.size).maxOption.getOrElse(0)
    if (hmax == 0) return (Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray)
    val sigMax = layers.indices.iterator.flatMap(si =>
      layers(si).iterator.flatMap(_.iterator.map(sigma(si)(_)))).max
    require(sigMax < (1L << 20), sigmaMessage(sigMax))
    val delta = srcs.map { _ => new Array[Long](g.n) }
    var bh = hmax - 1
    while (bh >= 1) {
      var dMax = Long.MinValue
      srcs.indices.foreach { si =>
        if (layers(si).size >= bh) {
          val dep = depth(si); val sg = sigma(si); val dl = delta(si)
          layers(si)(bh - 1).foreach { v =>
            var acc = 0L
            var e = g.off(v)
            while (e < g.off(v + 1)) {
              val w = g.to(e)
              if (dep(w) == bh + 1) acc += (sg(v) * (1000000L + dl(w))) / sg(w)
              e += 1
            }
            dl(v) = acc
            dMax = math.max(dMax, acc)
          }
        }
      }
      require(dMax < (1L << 42), deltaMessage(dMax))
      bh -= 1
    }
    val bc = new Array[Long](g.n)
    val nSrc = new Array[Long](g.n)
    srcs.indices.foreach { si =>
      layers(si).foreach(_.foreach { v => bc(v) += delta(si)(v); nSrc(v) += 1 })
    }
    val reached = (0 until g.n).filter(nSrc(_) > 0).toArray
    (reached.map(g.ids(_)), reached.map(bc(_)), reached.map(nSrc(_)))
  }

  private def distributed(edges: DataFrame, nSources: Int, maxDepth: Int,
      k: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // long ids at entry (the Hits/Truss rule); one shared recipe for
    // the materialized bidirectional traversal frame
    val und = Bfs.undOf(edges)
    val srcs = Bfs.md5Smallest(und, nSources)

    // ---- forward pass: multi-source BFS carrying sigma ----
    // sigma(v at h) = sum of sigma over its depth-(h-1) neighbors,
    // aggregated BEFORE the anti join (measured 2x faster than
    // anti-joining the edge-level rows first)
    val (all, allRows) = Bfs.frontier(und,
        srcs.toSeq.map(s => (s, s, 1L)).toDF("s", "node", "sigma"),
        srcs.length.toLong, Seq("s", "node"), maxDepth)(
      _.groupBy(col("s"), col("node")).agg(sum(col("sigma")).as("sigma")))
    val layers = all.tail // depths 1..hmax; the seed layer has no delta
    val layerRows = allRows.tail
    val hmax = layers.size // deepest populated layer (0 if none)
    if (hmax == 0) {
      // sources never expand: every sampled delta is empty
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("rk", "node", "bc_micro", "n_src")
    }
    // ONE envelope job over the already-materialized layer frames
    val sigMax = layers.map(_.select(col("sigma"))).reduce(_ union _)
      .agg(max(col("sigma"))).collect()(0).getLong(0)
    require(sigMax < (1L << 20), sigmaMessage(sigMax))

    // ---- backward pass: per-layer dependency accumulation ----
    // deepest layer has delta = 0; layer h reads layer h+1 only
    var deltaNext = layers(hmax - 1)
      .select(col("s"), col("node"), col("sigma"), lit(0L).as("delta"))
    val deltas = scala.collection.mutable.ArrayBuffer[DataFrame](deltaNext)
    var bh = hmax - 1
    while (bh >= 1) {
      // layer sizes are known from the forward probes — broadcast
      // both per-layer sides so the edge frame is probed map-side
      val v = Bfs.bcastIfSmall(
        layers(bh - 1).select(col("s"), col("node").as("vnode"),
          col("sigma").as("vsigma")), layerRows(bh - 1))
      val w = Bfs.bcastIfSmall(
        deltaNext.select(col("s").as("ws"),
          col("node").as("wnode"), col("sigma").as("wsigma"),
          col("delta").as("wdelta")), layerRows(bh))
      val contrib = v
        .join(und, col("vnode") === col("a"))
        .join(w, col("ws") === col("s") && col("wnode") === col("b"))
        .select(col("s"), col("vnode").as("node"),
          expr("(vsigma * (1000000 + wdelta)) div wsigma").as("term"))
        .groupBy(col("s"), col("node"))
        .agg(sum(col("term")).as("dsum"))
      val dh = layers(bh - 1)
        .join(contrib, Seq("s", "node"), "left")
        .select(col("s"), col("node"), col("sigma"),
          coalesce(col("dsum"), lit(0L)).as("delta"))
        .localCheckpoint(false) // lazy: the envelope agg materializes it
      val dMax = dh.agg(max(col("delta"))).collect()(0).getLong(0)
      require(dMax < (1L << 42), deltaMessage(dMax))
      deltas += dh
      deltaNext = dh
      bh -= 1
    }

    import org.apache.spark.sql.expressions.Window
    deltas.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_micro"),
        count(lit(1)).as("n_src"))
      .orderBy(desc("bc_micro"), asc("node")).limit(k)
      .select(row_number().over(
          Window.orderBy(desc("bc_micro"), asc("node")))
          .cast("long").as("rk"),
        col("node"), col("bc_micro"), col("n_src"))
  }
}
