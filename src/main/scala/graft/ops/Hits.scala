package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed /
  * bipartite edge list — the mutually-reinforcing companion to
  * [[PageRank]] (authority = pointed to by good hubs, hub = points at
  * good authorities; on a customer→part graph: influential buyers and
  * flagship parts).
  *
  * Iterated ENTIRELY on the integer grid so the fixed-iteration result
  * is deterministic and engine-replayable (the gridLeadingAxis recipe,
  * but matrix-free and DISTRIBUTED): scores live on a 10⁶ fixed-point
  * grid; each iteration is
  *
  *   `a(p) = Σ_{u→p} h(u)` then `a ← a·10⁶ div max(a)`,
  *   `h(u) = Σ_{u→p} a(p)` then `h ← h·10⁶ div max(h)`,
  *
  * where every sum is an exact BIGINT and the truncating div agrees in
  * every engine on nonnegatives. Below [[LocalGraph.EdgeLimit]] edges
  * the iterations run on the driver over the collected edge arrays
  * (same grid, same truncating div), and both frames are local
  * relations (the [[LocalGraph]] rule). Above it, Spark shape per
  * iteration: two
  * equi-join + hash-aggregate passes keyed on node ids (successive
  * iterations reuse the partitioning — the PageRank loop), and the
  * max-norm rides as a one-row broadcast crossJoin — a mid-loop
  * collect instead measured +12-25% (it ADDS a synchronous job per
  * half-iteration, where the broadcast agg executes inside the
  * checkpoint job); `localCheckpoint` truncates lineage per round.
  *
  * Bound: `10⁶ · max(raw)` must stay inside BIGINT; since every score
  * is ≤ 10⁶ after renorm, `raw ≤ 10⁶·degree`, so the envelope is
  * `10¹² · max_degree < 2⁶³` (max degree < ~9.2·10⁶) — ENFORCED by
  * ONE degree aggregate at entry (fail fast instead of wrapping while
  * a HUGEINT oracle diverges); past that, move the renorm product to
  * DECIMAL(38,0). */
object Hits {

  /** @param edges directed edges (src, dst), no duplicates.
    * @return (hubs, authorities): (id, s) frames on the 10⁶ grid. */
  def scores(edges: DataFrame, iters: Int = 4): (DataFrame, DataFrame) =
    scores(edges, iters, LocalGraph.EdgeLimit)

  /** [[scores]] on the driver when the graph has at most `edgeLimit`
    * edges (0 forces the distributed path). */
  private[graft] def scores(edges: DataFrame, iters: Int,
      edgeLimit: Long): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters $iters")
    LocalGraph.collect(edges.select(col("src").cast("long"),
        col("dst").cast("long")), edgeLimit) match {
      case Some(Array(src, dst)) =>
        val (ids, h, a) = localScores(src, dst, iters)
        def frame(score: Array[Long]) = {
          val scored = ids.indices.filter(score(_) >= 0).toArray
          LocalGraph.relation(edges.sparkSession, "id" -> scored.map(ids(_)),
            "s" -> scored.map(score(_)))
        }
        (frame(h), frame(a))
      case _ => distributed(edges, iters)
    }
  }

  private def degreeMessage(maxDeg: Long): String =
    s"max degree $maxDeg would wrap raw*1000000 in BIGINT on the " +
      "10^6 grid — move the renorm product to DECIMAL(38,0)"

  /** The iterations on the driver. @return (node ids, hub scores,
    * authority scores), a score -1 where the node has no out-edge
    * (hub) or no in-edge (authority), as the frames hold no row. */
  private def localScores(src: Array[Long], dst: Array[Long],
      iters: Int): (Array[Long], Array[Long], Array[Long]) = {
    val (ids, s, d) = LocalGraph.indexed(src, dst)
    if (ids.nonEmpty) {
      val deg = new Array[Long](ids.length)
      s.foreach(deg(_) += 1); d.foreach(deg(_) += 1)
      require(deg.max <= Long.MaxValue / 1000000L / 1000000L, degreeMessage(deg.max))
    }
    var hub = Array.fill(ids.length)(-1L)
    s.foreach(hub(_) = 1000000L)
    var auth = Array.fill(ids.length)(-1L)
    /** `raw * 10⁶ div max(raw)` over the nodes that got a sum. */
    def renorm(from: Array[Int], to: Array[Int], score: Array[Long]): Array[Long] = {
      val raw = Array.fill(ids.length)(-1L)
      var j = 0
      while (j < from.length) {
        raw(to(j)) = math.max(raw(to(j)), 0L) + score(from(j))
        j += 1
      }
      val mx = raw.max
      raw.map(r => if (r < 0) r else r * 1000000L / mx)
    }
    if (ids.nonEmpty) (1 to iters).foreach { _ =>
      auth = renorm(s, d, hub)
      hub = renorm(d, s, auth)
    }
    (ids, hub, auth)
  }

  private def distributed(edges: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    // size-derived partition count for the iterated edge frame (the
    // Bfs.undOf coalesce rule, r13): the checkpoint's parent is a
    // NARROW select, so it inherits the caller's partition count —
    // LoopScaleProbe's ×100 hub union handed it 400+ cached
    // partitions and all 8 half-iterations paid one task per
    // partition per stage (63 s → measured below after the fix).
    // The fanIn ceiling keeps large graphs wide.
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(true)
    val e = Bfs.fitted(e0, e0.count())
    var h = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("s"))
      .localCheckpoint(true)
    var a: DataFrame = null
    // ONE bounded degree aggregate enforces the whole loop's BIGINT
    // envelope up front (raw ≤ 10⁶·degree every iteration) — a per-
    // renorm collect measured +12-25% wall (extra sync job per half-
    // iteration); null max = empty graph, which the loop handles
    val maxDegRow = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("mx"), count(lit(1)).as("n")).collect()(0)
    if (!maxDegRow.isNullAt(0)) {
      val maxDeg = maxDegRow.getLong(0)
      require(maxDeg <= Long.MaxValue / 1000000L / 1000000L,
        degreeMessage(maxDeg))
    }
    // count-informed broadcast (the Bfs rule): the checkpointed edge
    // frame has UnknownPartitioning, so joining the O(V) score frame
    // without a hint re-EXCHANGES all of e twice per iteration; the
    // node count is already on the envelope row
    val nNodes = maxDegRow.getLong(1)
    def scoreSide(df: DataFrame): DataFrame =
      Bfs.bcastIfSmall(df, nNodes)
    // NOTE (r13, measured and KEPT OUT — BENCH_NOTES_r13.md "Loop-shape
    // A/Bs at x100", hub-replicated graph, 4 alternating reps): lazily
    // checkpointing the raw-sum frame before the renorm crossJoin looks like it
    // should halve the joins (the subtree sits under both the
    // crossJoin's stream side and the broadcast-max branch), but it
    // measured 56-114 s vs 56-75 s for THIS shape. The un-checkpointed
    // subtree's inner shuffle Exchange is REUSED by AQE into the
    // broadcast branch (ReusedExchange — only the cheap post-shuffle
    // aggregate re-runs), while a LogicalRDD checkpoint has no
    // Exchange to reuse and adds a full cache write of the raw frame.
    // The CLAUDE.md double-compute rule applies to checkpointed/
    // scan-rooted shared subtrees, not to shuffle-rooted ones.
    for (_ <- 1 to iters) {
      val araw = e
        .join(scoreSide(h.select(col("id").as("src"), col("s").as("hs"))),
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hs")).as("raw"))
      a = araw.crossJoin(broadcast(araw.agg(max(col("raw")).as("mx"))))
        .selectExpr("dst AS id", "CAST(raw * 1000000 DIV mx AS BIGINT) AS s")
        .localCheckpoint(true)
      val hraw = e
        .join(scoreSide(a.select(col("id").as("dst"), col("s").as("as_"))),
          Seq("dst"))
        .groupBy(col("src")).agg(sum(col("as_")).as("raw"))
      h = hraw.crossJoin(broadcast(hraw.agg(max(col("raw")).as("mx"))))
        .selectExpr("src AS id", "CAST(raw * 1000000 DIV mx AS BIGINT) AS s")
        .localCheckpoint(true)
    }
    (h, a)
  }
}
