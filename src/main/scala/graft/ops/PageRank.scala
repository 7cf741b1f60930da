package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fixed-iteration damped PageRank over an explicit edge list — the
  * importance-weighting companion to ConnectedComponents (e.g. domain/
  * document authority as a quality-mixing signal).
  *
  * Below [[LocalGraph.EdgeLimit]] rows (edges plus `nodes` rows) the
  * iterations run on the driver after one bounded collect, and the
  * ranks are a local relation (the [[LocalGraph]] rule); each node's
  * inbound sum is added in one fixed (dst, src) order there, where the
  * distributed sums follow partition boundaries. Above the bound,
  * each iteration is ONE equi-join (previous ranks onto edges keyed by
  * src) + ONE aggregate (contributions summed by dst) + a left join
  * back onto the node set — all shuffles on the node id, so successive
  * iterations reuse the same hash partitioning; no collect touches the
  * driver and nothing is quadratic in the graph. `localCheckpoint`
  * truncates the growing lineage each round (the ConnectedComponents
  * lesson). The edge+degree frame is materialized once and reused by
  * every iteration.
  *
  * Dangling nodes (no out-edges) simply leak their mass — the common
  * simplification; callers who need the strict stochastic form can add
  * a dangling-mass redistribution term per iteration. A FIXED iteration
  * count (not convergence-tested) keeps the result deterministic and
  * oracle-checkable.
  */
object PageRank {

  /** @param nodes one row per vertex, column `id`
    * @param edges  directed edges, columns `src`, `dst`
    * @param n      vertex count (caller-supplied; one bounded scalar)
    * @return (id, rank) after `iters` damped iterations from 1/n */
  def ranks(nodes: DataFrame, edges: DataFrame, n: Long, iters: Int = 3,
      damping: Double = 0.85): DataFrame =
    ranks(nodes, edges, n, iters, damping, LocalGraph.EdgeLimit)

  /** [[ranks]] on the driver when the edges and nodes hold at most
    * `edgeLimit` rows together (0 forces the distributed path). */
  private[graft] def ranks(nodes: DataFrame, edges: DataFrame, n: Long,
      iters: Int, damping: Double, edgeLimit: Long): DataFrame = {
    require(n > 0, "empty graph")
    LocalGraph.collectAll(Seq(nodes.select(col("id")),
        edges.select(col("src"), col("dst"))), edgeLimit) match {
      case Some(Seq(Array(id), Array(src, dst))) =>
        val rank = localRanks(id, src, dst, n, iters, damping)
        val out = LocalGraph.relation(nodes.sparkSession, "id" -> id, "rank" -> rank)
        val idType = nodes.schema("id").dataType
        if (idType == LongType) out
        else out.select(col("id").cast(idType), col("rank"))
      case _ => distributed(nodes, edges, n, iters, damping)
    }
  }

  /** The iterations on the driver: every `nodes` row holds a rank (a
    * duplicated id contributes once per row, as the join does), an
    * edge whose src or dst is not a node drops out, and each node's
    * inbound terms are added in (dst, src) order. @return the rank of
    * each `nodes` row. */
  private def localRanks(id: Array[Long], src: Array[Long], dst: Array[Long],
      n: Long, iters: Int, damping: Double): Array[Double] = {
    val ids = LocalGraph.sortedDistinct(id)
    val row = id.map(LocalGraph.indexOf(ids, _))
    val copies = new Array[Int](ids.length)
    row.foreach(copies(_) += 1)
    val s = src.map(LocalGraph.indexOf(ids, _))
    val d = dst.map(LocalGraph.indexOf(ids, _))
    // out-degree counts every edge of a node, whatever its dst
    val outd = new Array[Double](ids.length)
    s.foreach(i => if (i >= 0) outd(i) += 1.0)
    // the edges whose both ends are nodes, in (dst, src) order: index
    // order is id order
    val order = s.indices.filter(j => s(j) >= 0 && d(j) >= 0)
      .map(j => (d(j).toLong << 32) | s(j)).toArray
    java.util.Arrays.sort(order)
    val from = order.map(key => (key & 0xffffffffL).toInt)
    val to = order.map(key => (key >>> 32).toInt)
    var rank = Array.fill(ids.length)(1.0 / n)
    (1 to iters).foreach { _ =>
      val inbound = new Array[Double](ids.length)
      var j = 0
      while (j < from.length) {
        val c = rank(from(j)) / outd(from(j))
        var k = 0
        while (k < copies(from(j))) { inbound(to(j)) += c; k += 1 }
        j += 1
      }
      rank = inbound.map(x => (1 - damping) / n + damping * x)
    }
    row.map(rank(_))
  }

  private def distributed(nodes: DataFrame, edges: DataFrame, n: Long,
      iters: Int, damping: Double): DataFrame = {
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("outd"))
    // NO size-derived coalesce here, deliberately (r13): PageRank's
    // contrib sums are DOUBLES, so changing the edge frame's
    // partition boundaries changes the floating-point summation
    // order — a ×100 parity gate (BENCH_NOTES_r13.md) caught the ranks
    // diverging in the low-order bits the moment a coalesce landed,
    // and the declared q_pagerank must replay bit-stably against its
    // oracle run-to-run. The integer-grid loops (Hits, KCore,
    // LabelProp, the Bfs frames) take the coalesce safely; the ×100
    // coalesced variant also measured SLOWER here (34 vs 24 s).
    val e = edges.join(deg, Seq("src")).localCheckpoint(true)
    var r = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      // count-informed broadcasts (the Bfs rule): the rank and
      // contribution frames are <= n rows — the caller-supplied
      // scalar — while the checkpointed edge frame would otherwise
      // re-exchange every iteration
      val contrib = e
        .join(Bfs.bcastIfSmall(r.withColumnRenamed("id", "src"), n),
          Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("outd")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("inbound"))
      r = nodes.select(col("id"))
        .join(Bfs.bcastIfSmall(contrib, n), Seq("id"), "left")
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("inbound"), lit(0.0))).as("rank"))
        .localCheckpoint(false) // LAZY (r13): the next iteration's
                                // contrib broadcast build (or the
                                // caller's first action) materializes
                                // it — the eager count job per
                                // iteration was pure overhead (no
                                // exchange reuse at stake: r's only
                                // consumer is the next broadcast).
                                // ×100 (BENCH_NOTES_r13.md): median 14.8
                                // vs 18.5 s, better in 3 of 4 reps.
    }
    r
  }
}
