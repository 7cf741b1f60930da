package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-6 analytics operators: the remaining classic TPC-H decision-
  * support shapes expressible on these tables (Q4/Q14/Q15/Q17/Q21/Q22
  * adaptations — the testdata has no partsupp or receipt/commit dates,
  * so "late" derives from ship-lag vs the order date), plus
  * reciprocal-rank fusion and an exact sparse tf-cosine self-join.
  *
  * Scale notes (100 TB): every fact-side aggregate is one
  * partial+final hash agg; dimension and model frames broadcast;
  * semi/anti joins hash on the fact's own keys (never nested-loop);
  * all money flows through exact integer cents/milli grids (floor of
  * one identically-shaped double expression per engine) so group sums
  * and floor-div ratios are engine-exact at any parallelism.
  */
object Analytics {

  /** The taxonomy for q_phrase_tags (alphabetical so output order is
    * the phrase order); all tokens are from the corpus vocabulary. */
  val tagPhrases: Seq[String] = Seq(
    "hash join", "slow query", "sort merge", "table scan", "window agg")

  /** Exact integer revenue in 1/10000-dollar units: cents x residual
    * discount percent. Both factors are floors of identically-shaped
    * double expressions, so Spark and DuckDB agree bit-for-bit. */
  private def revMilli = expr(
    "CAST(floor(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(floor(l_discount * 100) AS BIGINT))")

  private def ts(d: String) = lit(d).cast("timestamp")

  /** NDCG@10 discount weights floor(1e6 / log2(i+1)) for i = 1..10 —
    * computed ONCE on the JVM and embedded as the same literal
    * integers in both the Spark plan and the generated oracle SQL
    * (q_ndcg), so no per-engine libm log can split a floor. */
  private val ndcgWeights: Seq[Long] = (1 to 10).map(i =>
    math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** The weight lookup as SQL: CASE <rankCol> WHEN 1 THEN w1 ... */
  private def ndcgWeightCase(rankCol: String): String =
    s"CASE $rankCol " + (1 to 10).map(i =>
      s"WHEN $i THEN ${ndcgWeights(i - 1)}").mkString(" ") + " ELSE 0 END"

  /** (z_{0.975} + z_{0.8})² in integer micro — the power-analysis
    * constant, JVM-computed once and embedded as the same literal in
    * both engines (q_power_analysis). */
  private[queries] val powerCMicro: Long = {
    val za = 1.959963985
    val zb = 0.8416212336
    math.floor((za + zb) * (za + zb) * 1e6).toLong
  }

  /** Benford expected first-digit shares floor(1e4·log10(1+1/d)),
    * d = 1..9 — JVM-computed once, embedded as the same literals in
    * both engines (q_benford). */
  private val benfordBp: Seq[Long] = (1 to 9).map(d =>
    math.floor(1e4 * math.log10(1.0 + 1.0 / d)).toLong)

  private def benfordCase(digitCol: String): String =
    s"CASE $digitCol " + (1 to 9).map(d =>
      s"WHEN $d THEN ${benfordBp(d - 1)}").mkString(" ") + " ELSE 0 END"

  /** Sorted-neighborhood candidate pairs over the composite part key
    * (name|brand|type): deterministic range-sort positions, each
    * record EQUI-joined to its next 3 neighbors via exploded offsets,
    * kept when levenshtein(key_a, key_b) <= maxLev. Shared by
    * q_sorted_neighborhood (candidates, lev <= 4) and
    * q_entity_resolution (matches, lev <= 2). */
  private def snPairs(s: SparkSession, dir: String, maxLev: Int): DataFrame = {
    val p = part(s, dir).select(col("p_partkey"),
      concat_ws("|", col("p_name"), col("p_brand"), col("p_type")).as("k"))
    val pos = graft.ops.Shuffle.positionsBy(p, Seq("k", "p_partkey"), "pos")
      .localCheckpoint(true) // self-joined: AQE gets no exchange reuse
    // The positions frame is an O(|parts|) id/key/pos frame with a
    // known count (one cheap job over the materialized checkpoint) —
    // broadcast it under the count-informed rule so the neighbor
    // pairing is a map-side hash probe instead of shuffling BOTH the
    // 3×-exploded probe stream and the positions by pos_b.
    val posB = graft.ops.Bfs.bcastIfSmall(pos, pos.count())
    val probes = pos
      .select(col("p_partkey").as("pk_a"), col("k").as("k_a"),
        col("pos"), explode(typedLit(Seq(1, 2, 3))).as("off"))
      .select(col("pk_a"), col("k_a"), (col("pos") + col("off")).as("pos_b"))
    probes.join(posB.select(col("p_partkey").as("pk_b"),
        col("k").as("k_b"), col("pos").as("pos_b")), Seq("pos_b"))
      .withColumn("lev", levenshtein(col("k_a"), col("k_b")).cast("long"))
      .where(col("lev") <= maxLev)
      .select(col("pk_a"), col("pk_b"), col("lev"))
  }

  /** Exact intersection size of two sorted long arrays (the complete-
    * sketch regime of q_kmv_overlap). */
  private def kmvIntersect(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Part co-purchase graph: canonical (src < dst) part pairs sharing
    * at least `minSupport` orders. Pairs-per-order is bounded by order
    * size, the pair aggregate is one shuffle, and the support cutoff
    * keeps the graph sparse (shared by the graph queries here and in
    * [[Diagnostics]]). */
  private[queries] def copurchaseEdges(s: SparkSession, dir: String,
      minSupport: Long): DataFrame =
    copurchaseWeighted(s, dir, minSupport).select(col("src"), col("dst"))

  /** [[copurchaseEdges]] keeping the co-purchase support count `w`
    * (the weighted-graph inputs: q_sssp edge costs). */
  private def copurchaseWeighted(s: SparkSession, dir: String,
      minSupport: Long): DataFrame = {
    // Per-order collect + map-side pair emission (the Triangles
    // explode(agg) rule): ONE exchange groups the (order, part) rows
    // and the canonical i<j pairs generate inside the next map stage,
    // where the former shape paid distinct + an eager checkpoint +
    // BOTH self-join legs re-exchanging by order key — four exchanges
    // and a join for the same pair stream. collect_set dedups inline;
    // sort_array makes pair emission canonical (src < dst). Pairs per
    // order stay bounded by order size (≤ 7 parts in this schema), so
    // the interpreted nested lambda touches ≤ 21 structs per order.
    lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= minSupport)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q4 shape (order-priority checking): orders in a window
    // with at least one lineitem shipped > 90 days after the order
    // date. The EXISTS compiles to a LEFT SEMI hash join on the order
    // key (the non-equi ship-lag conjunct rides the join condition);
    // at 100 TB both sides shuffle once on l_orderkey and the
    // aggregate is 5 groups.
    "q_late_orders" -> ((s, dir) => {
      val o = orders(s, dir)
        .where(col("o_orderdate") >= ts("1997-01-01") &&
          col("o_orderdate") < ts("1999-01-01"))
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(asc("o_orderpriority"))
    }),

    // TPC-H Q14 shape (promotion effect): promo revenue share of one
    // quarter in basis points. Part is the broadcast dimension; the
    // date filter pushes to the lineitem scan; one aggregate row.
    // Integer milli-revenue + nonneg floor-div => engine-exact.
    "q_promo_share" -> ((s, dir) => {
      lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1998-01-01") &&
          col("l_shipdate") < ts("1998-04-01"))
        .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", revMilli).otherwise(lit(0L)))
            .as("promo_milli"),
          sum(revMilli).as("total_milli"))
        .select(col("promo_milli"), col("total_milli"),
          expr("promo_milli * 10000 div total_milli").as("promo_bp"))
    }),

    // TPC-H Q15 shape (top supplier): per-supplier quarter revenue,
    // keep the suppliers achieving the maximum — via one aggregate +
    // a broadcast single-row max join, NOT a global window (ties all
    // survive; ranking on exact integer milli-revenue). The supplier
    // dimension broadcasts into the tiny aggregated frame.
    "q_top_supplier" -> ((s, dir) => {
      val rev = lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1998-01-01") &&
          col("l_shipdate") < ts("1998-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revMilli).as("rev_milli"))
      val mx = rev.agg(max(col("rev_milli")).as("m"))
      rev.join(broadcast(mx), col("rev_milli") === col("m")).drop("m")
        .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_milli"))
        .orderBy(asc("s_suppkey"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): revenue of
    // brand lineitems whose quantity is below 20% of that part's
    // average. The per-part average never materializes as a double:
    // qty < sum/(5n) <=> 5*n*qty < sum on exact integers (quantities
    // are integral). Per-part stats are one row per brand part —
    // broadcast back onto the fact; the brand filter prunes the fact
    // scan via the broadcast partkey semi-join at scale.
    "q_small_qty_revenue" -> ((s, dir) => {
      val pb = part(s, dir).where(col("p_brand") === "Brand#9")
        .select(col("p_partkey"))
      val li = lineitem(s, dir)
        .join(broadcast(pb), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("qty_i"),
          revMilli.as("rev_milli"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_li"), sum(col("qty_i")).as("sum_qty"))
        .withColumnRenamed("l_partkey", "sp")
      li.join(broadcast(stats), col("l_partkey") === col("sp"))
        .where(col("qty_i") * lit(5L) * col("n_li") < col("sum_qty"))
        .agg(sum(col("rev_milli")).as("rev_milli"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q21 shape (suppliers who kept waiting orders): finished
    // multi-supplier orders where exactly ONE supplier shipped late
    // (> 90 days after the order date) — that supplier gets the
    // blame. Pre-aggregate to one row per (order, supplier) with a
    // lateness flag, then the EXISTS (another supplier participated)
    // and NOT EXISTS (another supplier was also late) are a LEFT SEMI
    // and LEFT ANTI hash join of that frame against itself — all
    // shuffles key on l_orderkey, nothing nested-loop. Top 20 by
    // blame count compiles to TakeOrdered.
    "q_lonely_late_supplier" -> ((s, dir) => {
      val o = orders(s, dir).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val ls = lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          lit(1)).otherwise(lit(0))).as("late"))
        .localCheckpoint(true) // three self-consumers below
      val late = ls.where(col("late") === 1)
      val blamed = late.as("x")
        .join(ls.as("o2"),
          col("o2.l_orderkey") === col("x.l_orderkey") &&
            col("o2.l_suppkey") =!= col("x.l_suppkey"),
          "left_semi")
        .join(late.as("o3"),
          col("o3.l_orderkey") === col("x.l_orderkey") &&
            col("o3.l_suppkey") =!= col("x.l_suppkey"),
          "left_anti")
      blamed.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), asc("s_suppkey"))
        .limit(20)
    }),

    // TPC-H Q22 shape (global sales opportunity): customers with an
    // above-average positive balance and no recent orders, counted
    // per nation. The scalar (sum, n) of positive balances rides a
    // broadcast crossJoin; "above average" compares on exact integer
    // cents (bal*n > sum — no double division); dormancy is a LEFT
    // ANTI hash join against the date-pruned orders scan.
    "q_dormant_customers" -> ((s, dir) => {
      val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal_c"))
      val posStats = c.where(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
      val recent = orders(s, dir)
        .where(col("o_orderdate") >= ts("1999-01-01"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(posStats))
        .where(col("bal_c") * col("n") > col("s"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"), sum(col("bal_c")).as("bal_cents"))
        .orderBy(asc("c_nationkey"))
    }),

    // Reciprocal-rank fusion (RRF, Cormack et al. SIGIR 2009): fuse a
    // spend ranking and an order-count ranking of customers into one
    // list via sum(1/(60+rank)) — here in exact integer micro-units
    // (1000000 div (60+rank), both nonneg so div ≡ //). Each global
    // rank comes from the deterministic range-sort + zipWithIndex
    // machinery over the AGGREGATED per-customer frame (corpus-sized,
    // not fact-sized) — never a one-reducer row_number. Descending
    // order via a negated sort key; ties break on custkey.
    "q_rank_fusion" -> ((s, dir) => {
      val spend = orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"), count(lit(1)).as("n_orders"))
      val ra = graft.ops.Shuffle.positionsBy(
          spend.withColumn("neg", -col("spend_cents")),
          Seq("neg", "custkey"), "p")
        .select(col("custkey"), col("spend_cents"), col("n_orders"),
          (col("p") + 1).as("rank_spend"))
      val rb = graft.ops.Shuffle.positionsBy(
          spend.select(col("custkey").as("ck"), (-col("n_orders")).as("negn")),
          Seq("negn", "ck"), "p")
        .select(col("ck"), (col("p") + 1).as("rank_orders"))
      ra.join(rb, col("custkey") === col("ck")).drop("ck")
        .select(col("custkey"), col("spend_cents"), col("n_orders"),
          expr("1000000 div (60 + rank_spend) + 1000000 div (60 + rank_orders)")
            .as("rrf_micro"))
        .orderBy(desc("rrf_micro"), asc("custkey"))
        .limit(20)
    }),

    // k-core decomposition of the co-purchase graph (parts sharing
    // >= 2 orders — the support cutoff keeps the graph sparse and
    // meaningful): iterative peeling to the unique fixpoint via
    // ops/KCore — one degree aggregate + two LEFT SEMI joins per
    // round, localCheckpoint-truncated lineage, rounds bounded by the
    // peeling depth. HASH-EXACT oracle: antitone peeling has no
    // monotone recursive-CTE form, but the loop UNROLLS as generated
    // materialized CTE layers (kcoreSql — 18 layers vs 10 measured
    // rounds at sf0.01; layers past the fixpoint are no-ops and the
    // CASE chain reads rounds/core off the first repeated survivor
    // count, which is the loop's own stop rule since the survivor
    // set shrinks monotonically). KCoreSpec still pins the algorithm
    // to brute force. Output is the core's size plus the rounds.
    "q_kcore" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      val (core, rounds) = graft.ops.KCore.core(edges, k = 3)
      val nodes = core
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct()
      nodes.agg(count(lit(1)).as("n_core_nodes"))
        .crossJoin(core.agg(count(lit(1)).as("n_core_edges")))
        .select(lit(3).as("k"), col("n_core_nodes"), col("n_core_edges"),
          lit(rounds).as("rounds"))
    }),

    // Sampled harmonic centrality on the co-purchase graph
    // (ops/Centrality — Eppstein-Wang pivot sampling, harmonic form):
    // the "which parts sit at the center of the purchase network"
    // scalar that all-pairs BFS can't answer at scale. 8 md5-rank
    // sources, depth 4, one MULTI-source frontier expansion (all 8
    // BFS trees advance in the same join); each 1/d term is the exact
    // integer 10^6 div d, so the recursive-CTE oracle replays
    // sampling, walk, and ranking bit-for-bit.
    "q_harmonic_centrality" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.Centrality.sampledHarmonic(edges, nSources = 8,
        maxDepth = 4, k = 20)
    }),

    // Double-sweep diameter lower bound of the co-purchase graph
    // (ops/Centrality.diameterDoubleSweep — Magnien/Latapy/Habib 2009,
    // exact on trees, tight in practice): BFS from the md5-smallest
    // node, BFS again from the farthest node reached; the second
    // eccentricity lower-bounds the diameter. Two bounded frontier
    // expansions, two one-row argmax collects between them; the
    // recursive-CTE oracle replays both sweeps and the tie rules.
    "q_diameter_2sweep" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.Centrality.diameterDoubleSweep(edges, maxDepth = 8)
    }),

    // Sampled betweenness centrality (ops/Betweenness — Brandes 2001
    // dependency accumulation over a Brandes-Pich 2007 pivot sample):
    // the "which parts BROKER the purchase network" flow-through
    // complement of q_harmonic_centrality's reach score. 4 md5-rank
    // sources, depth 4; σ path counts and the micro-unit dependency
    // terms are pure integer arithmetic end to end, so the
    // unrolled-CTE oracle replays the forward σ-BFS, the backward
    // per-layer accumulation, and the ranking bit-for-bit.
    "q_betweenness" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.Betweenness.sampledBrandes(edges, nSources = 4,
        maxDepth = 4, k = 20)
    }),

    // Maximal independent set via Luby's parallel algorithm (ops/Mis
    // — Luby 1986): the "maximal non-adjacent representative subset"
    // primitive (anchor/exemplar selection, parallel scheduling) that
    // greedy sequential MIS can't express distributed. Round-r
    // priorities are md5(node:r) 13-hex prefixes with (p, node)
    // tie-break — fixed-length hex compares identically as strings in
    // both engines, so the unrolled-CTE oracle replays every round,
    // the final set, and each member's selection round bit-for-bit.
    "q_mis" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.Mis.luby(edges, maxRounds = 12)
    }),

    // Bounded-round weighted SSSP (ops/Sssp — frontier Bellman-Ford;
    // rounds ≡ Pregel supersteps): exact min path cost over ≤ 6 edges
    // from the md5-smallest node, edge cost = 10⁶ div co-purchase
    // support (stronger ties are cheaper) — the weighted complement
    // of q_bfs_hops. Integer min/plus only; the unrolled-CTE oracle
    // replays all 6 relaxation rounds exactly.
    "q_sssp" -> ((s, dir) => {
      val edges = copurchaseWeighted(s, dir, minSupport = 2)
        .select(col("src"), col("dst"), expr("1000000 div w").as("cost"))
      graft.ops.Sssp.nearestFromMd5Seed(edges, maxRounds = 6, k = 20)
    }),

    // Optimal k-segmentation changepoints over the weekly order-count
    // series (ops/Changepoint — Bellman DP segmentation, exact, not
    // the binary-segmentation heuristic): the drift monitors compare
    // adjacent windows, this finds the globally optimal piecewise-
    // constant fit of the WHOLE history. One aggregate pass builds the
    // week cells (absent weeks = honest zeros), then the shared
    // VoptHist DP; DuckDB replays layers + backtrack.
    "q_changepoints" -> ((s, dir) =>
      graft.ops.Changepoint.segments(orders(s, dir), "o_orderdate",
        k = 5)),

    // V-optimal histogram of order totals (ops/VoptHist): the
    // DP-OPTIMAL complement of q_histogram_equidepth — equi-depth
    // fixes bucket POPULATIONS, v-optimal picks the b boundaries
    // minimizing total within-bucket SSE (the right strata when
    // buckets feed variance-sensitive sampling or selectivity
    // estimates). Two bounded aggregate passes (min/max grid, per-cell
    // count/Σv/Σv²), O(m²b) DP driver-side; SSE floored once from one
    // mirrored IEEE chain, ties to the smaller split, DP replayed by
    // DuckDB as unrolled layers + backtrack.
    "q_vopt_histogram" -> ((s, dir) =>
      graft.ops.VoptHist.plan(orders(s, dir), col("o_totalprice"),
        m = 24, b = 6)),

    // k-truss of the co-purchase graph (ops/Truss): the EDGE-level
    // cohesion sibling of q_kcore — every surviving edge sits in
    // >= k-2 triangles of the subgraph, peeled to the fixpoint with
    // per-round support from the degree-oriented adjacency
    // intersection (the Triangles recipe: O(sqrt m)-bounded neighbor
    // arrays, one native array_intersect per edge, no wedge shuffle).
    // HASH-EXACT oracle: the peel unrolls as generated materialized
    // CTE layers (the kcoreSql pattern); the monotone edge count reads
    // rounds off its first repeat, and layers past the fixpoint are
    // no-ops so the final layer IS the truss.
    "q_ktruss" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      // maxRounds pinned to the oracle's 12 unrolled layers: a peel
      // needing more rounds THROWS (Truss contract) instead of letting
      // driver and oracle silently diverge past the unroll depth
      val (truss, rounds) = graft.ops.Truss.truss(edges, k = 3,
        maxRounds = 12)
      val nodes = truss
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct()
      nodes.agg(count(lit(1)).as("n_truss_nodes"))
        .crossJoin(truss.agg(count(lit(1)).as("n_truss_edges")))
        .select(lit(3).as("k"), col("n_truss_nodes"),
          col("n_truss_edges"), lit(rounds).as("rounds"))
    }),

    // Temporal graph churn: the co-purchase edge set rebuilt per
    // order YEAR, and consecutive years compared by edge-set Jaccard
    // (basis points) plus added/removed counts — how fast the
    // relationship structure rotates. Each year's edges come from the
    // one pair aggregate; the year-over-year compare is a full-outer
    // join of two edge sets (8-byte keyed), nothing quadratic.
    "q_graph_churn" -> ((s, dir) => {
      // r13, measured and KEPT OUT (BENCH_NOTES_r13.md, sf0.1, 4
      // alternating same-JVM reps): the per-(yr, order) collect_set +
      // map-side pair emission (the copurchaseEdges rewrite) measured
      // 2.6-2.8 s vs 1.8-2.6 s for THIS self-join build. Unlike
      // copurchase (which filters w >= 2 and feeds loops), churn keeps
      // ALL 1.2M distinct pairs: the interpreted pair-lambda emits the
      // full stream per order while the SMJ streams it through
      // codegen, and the li checkpoint it removes is cheap here. The
      // join build stays.
      val li = lineitem(s, dir)
        .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(year(col("o_orderdate")).cast("long").as("y"),
          col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val edges = li.as("x")
        .join(li.as("y2"), col("x.ok") === col("y2.ok") &&
          col("x.y") === col("y2.y") && col("x.pk") < col("y2.pk"))
        .select(col("x.y").as("yr"), col("x.pk").as("src"),
          col("y2.pk").as("dst"))
        .distinct()
        .localCheckpoint(true) // joined against itself shifted by a year
      // Measured NOT to help (round 12): collapsing this into one
      // map-side tag explode + single (yr,src,dst) aggregate regressed
      // 3.27 → 3.51 s solo — the explode doubles the rows through one
      // exchange where the full_outer ships E+E through two parallel
      // exchanges off the already-materialized checkpoint. Join stays.
      val a = edges.select(col("yr"), col("src"), col("dst"), lit(1).as("ina"))
      val b = edges.select((col("yr") - 1).as("yr"), col("src"), col("dst"),
        lit(1).as("inb"))
      a.join(b, Seq("yr", "src", "dst"), "full_outer")
        .groupBy(col("yr"))
        .agg(count(col("ina")).as("n_cur"),
          count(col("inb")).as("n_next"),
          count(when(col("ina").isNotNull && col("inb").isNotNull, 1))
            .as("n_shared"))
        .where(col("n_cur") > 0 && col("n_next") > 0)
        .select(col("yr"), (col("yr") + 1).as("yr_next"),
          col("n_cur"), col("n_next"), col("n_shared"),
          expr("n_shared * 10000 div (n_cur + n_next - n_shared)")
            .as("jaccard_bp"))
        .orderBy(asc("yr"))
    }),

    // Difference-in-differences over the md5-coin A/B arms: mean
    // event value per (arm, pre/post) cell on an exact integer micro
    // grid, then DiD = (B_post − B_pre) − (A_post − A_pre). Means and
    // the final contrast can be NEGATIVE, so every floor division
    // goes through the signed SHIFT trick (+1e9 before div, −1e9
    // after) that makes Spark's truncating div agree with DuckDB's
    // flooring // — the q_linreg recipe. One aggregate over four
    // cells.
    "q_diff_in_diff" -> ((s, dir) => {
      val cut = ts("2024-01-16")
      val cells = events(s, dir)
        .select(
          when(conv(substring(md5(concat(lit("ab1|"), col("user_id"))), 1, 13),
            16, 10).cast("long") % 2 === 0, "A").otherwise("B").as("arm"),
          when(col("ts") < cut, "pre").otherwise("post").as("period"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_micro"))
        .groupBy(col("arm"), col("period"))
        .agg(sum(col("v_micro")).as("sv"), count(lit(1)).as("n"))
        .select(col("arm"), col("period"),
          expr("(sv + n * 1000000000L) div n - 1000000000L").as("mean_micro"))
      val wide = cells.groupBy()
        .pivot("arm", Seq("A", "B"))
        .agg(sum(when(col("period") === "pre", col("mean_micro"))).as("pre"),
          sum(when(col("period") === "post", col("mean_micro"))).as("post"))
      wide.select(
          col("A_pre"), col("A_post"), col("B_pre"), col("B_post"),
          ((col("B_post") - col("B_pre")) - (col("A_post") - col("A_pre")))
            .as("did_micro"))
    }),

    // Seasonal adjustment (STL-lite): daily event counts minus the
    // day-of-week mean — the deseasonalized series every ops
    // dashboard wants. All integer: dow means on a milli grid via
    // floor div, adjustment = count*1000 - dow_mean_milli. Windows
    // never touch the event stream — everything runs on the tiny
    // (type, day) pre-aggregate.
    "q_seasonal_adjust" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val dow = daily
        .withColumn("dw", dayofweek(col("d")).cast("long"))
        .groupBy(col("event_type"), col("dw"))
        .agg(expr("sum(n * 1000) div count(1)").as("dow_mean_milli"))
      daily.withColumn("dw", dayofweek(col("d")).cast("long"))
        .join(broadcast(dow), Seq("event_type", "dw"))
        .select(col("event_type"), col("d").cast("string").as("day"),
          col("n"), col("dow_mean_milli"),
          (col("n") * 1000 - col("dow_mean_milli")).as("adj_milli"))
        .orderBy(asc("event_type"), asc("day"))
    }),

    // The SQL surface, end to end: the same operators reached through
    // spark.sql TEXT over a registered view, using the natively-
    // registered kernel functions (lang_id, phrase_count) — proof
    // that a SQL-only user of the session extensions gets the full
    // engine, not just the Scala API.
    "q_sql_surface" -> ((s, dir) => {
      graft.functions.NativeFunctions.install(s)
      documents(s, dir).createOrReplaceTempView("docs_v")
      s.sql("""
        SELECT lang_id(lower(text)) AS lang_pred,
          count(*) AS n_docs,
          sum(element_at(phrase_count(text, array('table scan')), 1))
            AS n_table_scan
        FROM docs_v GROUP BY 1 ORDER BY 1""")
    }),

    // Right-to-be-forgotten cascade audit: given a delete list
    // (negative-balance customers), the rows each table would lose
    // and keep — counted via hash semi/anti joins only, no row ever
    // materialized twice. The governance readout behind any deletion
    // request: blast radius BEFORE the delete runs.
    "q_delete_cascade" -> ((s, dir) => {
      val doomed = customer(s, dir).where(col("c_acctbal") < 0)
        .select(col("c_custkey"))
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val doomedOrders = o.join(broadcast(doomed),
        col("o_custkey") === col("c_custkey"), "left_semi")
      val li = lineitem(s, dir).select(col("l_orderkey"))
      val doomedLi = li.join(doomedOrders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      doomed.agg(count(lit(1)).as("n_customers"))
        .crossJoin(doomedOrders.agg(count(lit(1)).as("n_orders")))
        .crossJoin(doomedLi.agg(count(lit(1)).as("n_lineitems")))
        .crossJoin(customer(s, dir).agg(count(lit(1)).as("total_customers")))
        .select(col("n_customers"), col("n_orders"), col("n_lineitems"),
          col("total_customers"),
          expr("n_customers * 10000 div total_customers").as("affected_bp"))
    }),

    // TPC-H Q8 shape (national market share): NATION_5 suppliers'
    // share of Asia-region revenue per order year, in basis points —
    // numerator and denominator from ONE conditional aggregate over
    // the same joined frame (no second pass), exact integer
    // milli-revenue, nonneg floor-div.
    "q_market_share" -> ((s, dir) => {
      val asiaNations = nation(s, dir)
        .join(broadcast(region(s, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val sup = supplier(s, dir)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
        .select(col("s_suppkey"), col("s_nationkey"))
      lineitem(s, dir)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("s_nationkey") === 5, revMilli).otherwise(lit(0L)))
            .as("nation_milli"),
          sum(revMilli).as("region_milli"))
        .select(col("o_year"), col("nation_milli"), col("region_milli"),
          expr("nation_milli * 10000 div region_milli").as("share_bp"))
        .orderBy(asc("o_year"))
    }),

    // Language-ID confusion matrix: declared lang metadata vs the
    // native langid kernel's prediction — the per-class QA readout a
    // corpus card needs beyond q_lang_id's marginal counts. One
    // codegen'd pass + one aggregate; the oracle replays the
    // stopword-count heuristic in SQL exactly as q_lang_id's does.
    "q_lang_confusion" -> ((s, dir) => {
      documents(s, dir)
        .select(col("lang"),
          graft.functions.LangIdExpr.langId(s, col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(asc("lang"), asc("lang_pred"))
    }),

    // Item-item similarity (the co-occurrence recommender primitive):
    // per part, the top-5 most-similar parts by co-purchase cosine —
    // cooc(a,b) / sqrt(n_a * n_b), carried as exact integer SQUARED
    // cosine on a 1e8 grid (the q_cosine_tf_pairs trick — no sqrt, no
    // doubles). Pair counts from one self-join on the order key
    // (bounded by order size), both directions from one aggregate,
    // per-part top-5 through the bounded-heap TopK (no window over
    // the pair frame).
    "q_item_similarity" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true) // degree agg + pair self-join
      // Per-part basket counts are an O(|parts|) scalar frame consumed
      // by two attach joins: checkpoint once and broadcast under the
      // count-informed rule so the pair frame never re-exchanges.
      val n = li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val nB = graft.ops.Bfs.bcastIfSmall(n, n.count())
      val pairs = li.as("x")
        .join(li.as("y"), col("x.ok") === col("y.ok") &&
          col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("cooc"))
        .where(col("cooc") >= 2)
        .join(nB.select(col("pk").as("a"), col("n").as("na")), Seq("a"))
        .join(nB.select(col("pk").as("b"), col("n").as("nb")), Seq("b"))
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst"),
            expr("CAST(cooc AS DECIMAL(38,0)) * cooc * 100000000 DIV " +
              "(CAST(na AS DECIMAL(38,0)) * nb)").cast("long").as("cos2_e8")),
          struct(col("b").as("src"), col("a").as("dst"),
            expr("CAST(cooc AS DECIMAL(38,0)) * cooc * 100000000 DIV " +
              "(CAST(na AS DECIMAL(38,0)) * nb)").cast("long").as("cos2_e8"))))
          .as("r"))
        .select(col("r.src"), col("r.dst"), col("r.cos2_e8"))
      graft.ops.TopK.byScore(pairs, Seq("src"), "cos2_e8", "dst", k = 5)
        .select(col("src"), col("dst"), col("cos2_e8").cast("long").as("cos2_e8"),
          col("rk"))
        .orderBy(asc("src"), asc("rk"))
    }),

    // Relational division — "customers who bought EVERY part in the
    // target set" (the FORALL join SQL needs double negation for):
    // the target set is the 2 parts in the most orders (deterministic
    // ties), broadcast; a customer qualifies iff their distinct
    // target-part count equals the set size. One semi-joined
    // aggregate, no NOT EXISTS nesting.
    "q_relational_division" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true) // 2 consumers: targets agg + orders join
      val targets = li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pk")).limit(2)
        .select(col("pk"))
      val bought = orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"))
        .join(li, col("o_orderkey") === col("ok"))
        .join(broadcast(targets), Seq("pk"), "left_semi")
        .select(col("o_custkey"), col("pk")).distinct()
      bought.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_target_parts"))
        .where(col("n_target_parts") === 2)
        .orderBy(asc("o_custkey"))
    }),

    // Multi-touch linear attribution: each purchase's 10000 basis
    // points of credit split EQUALLY across the user's views in the
    // 2 hours before it, remainder to the earliest touches (largest-
    // remainder, so every purchase's credits sum to exactly 10000 —
    // integer arithmetic both engines agree on). The per-purchase
    // window partitions on the purchase id (high-cardinality — the
    // acceptable window class); output is the top-50 most-credited
    // view events.
    "q_attribution_multitouch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("vid"), col("ts").as("vts"))
      val touches = p.join(v, Seq("user_id"))
        .where(col("vts") >= col("pts") - expr("INTERVAL 2 HOURS") &&
          col("vts") < col("pts"))
      val w = Window.partitionBy(col("pid")).orderBy(col("vts"), col("vid"))
      val credited = touches
        .withColumn("idx", row_number().over(w))
        .withColumn("k", count(lit(1)).over(Window.partitionBy(col("pid"))))
        .select(col("vid"),
          (expr("10000 div k") +
            when(col("idx") <= expr("10000 % k"), 1L).otherwise(0L))
            .as("credit_bp"))
      credited.groupBy(col("vid"))
        .agg(sum(col("credit_bp")).as("credit_bp"),
          count(lit(1)).as("n_purchases"))
        .orderBy(desc("credit_bp"), asc("vid"))
        .limit(50)
    }),

    // Split-conformal prediction thresholds, class-conditional
    // (Mondrian): per label, the ceil((n+1)*0.9)-th SMALLEST
    // nonconformity score (1 - cosine to the label centroid) — the
    // distribution-free 90% coverage threshold. Engine-exact recipe:
    // centroids on the integer-milli grid (the q_embed_centroids
    // shift-div), scores rounded once, and the threshold is a
    // RANK-SELECTED DATA VALUE via the skew-free GroupRank machinery
    // (range sort + zipWithIndex + broadcast offsets) — never an
    // interpolated quantile, never a per-label window over the corpus.
    "q_conformal" -> ((s, dir) => {
      val cent = embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)"))
            .as("sum_milli"))
        .select(col("label"), col("pos"),
          expr("(sum_milli + n * 1000000L) div n - 1000000L").as("mean_milli"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mean_milli"))))
          .as("cm"))
        .select(col("label"),
          transform(col("cm"), c =>
            c.getField("mean_milli").cast("double") / lit(1000.0)).as("cvec"))
      val scored = embeddings(s, dir)
        .join(broadcast(cent), Seq("label"))
        .select(col("label").cast("long").as("label"), col("vec_id"),
          round(lit(1.0) - graft.functions.CosineSimExpr.cosineSim(s,
            col("embedding").cast("array<double>"), col("cvec")), 4)
            .as("score"))
      graft.ops.GroupRank.ranks(scored, "label", Seq("score"), "vec_id")
        .where(col("rank") ===
          expr("least(((n_in_group + 1) * 9 + 9) div 10, n_in_group)"))
        .select(col("label"), col("n_in_group").as("n_cal"),
          col("rank").as("r"), col("score").as("threshold"))
        .orderBy(asc("label"))
    }),

    // KMV/bottom-k source-overlap matrix: per-source sketches of the
    // distinct 3-gram space, pairwise Jaccard + intersection from the
    // sketch TABLE only (ops/Kmv) — the theta-sketch counterpart to
    // the HLL overlap matrix: KMV estimates intersections directly,
    // where HLL's inclusion-exclusion error is relative to the UNION.
    // One sketch aggregate over the corpus; the 7-sketch table rides
    // to the driver (bounded: sources x k longs) for the pair grid.
    // k = 128k >> the per-source distinct count at verify scale, so
    // every sketch is COMPLETE and the oracle is exact SQL; KmvSpec
    // covers the estimating regime.
    "q_kmv_overlap" -> ((s, dir) => {
      val k = 131072
      val sk = graft.ops.Kmv.perGroup(
        spread(documents(s, dir)).select(col("source"),
          explode(graft.functions.ShingleExprs.wordWindowHashes(
            s, col("text"), 3)).as("h")),
        "source", col("h"), k)
      val rows = sk.collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
        .sortBy(_._1)
      val out = for {
        i <- rows.indices; j <- (i + 1) until rows.length
      } yield {
        val (sa, a) = rows(i); val (sb, b) = rows(j)
        require(a.length < k && b.length < k,
          "q_kmv_overlap: a sketch filled to k — the exact-regime " +
            "contract (k >> per-source distincts) no longer holds; " +
            "raise k or accept estimates (rows-only)")
        val inter = kmvIntersect(a, b)
        val da = a.length.toLong; val db = b.length.toLong
        (sa, sb, da, db, inter, inter * 10000L / (da + db - inter))
      }
      import s.implicits._
      out.toSeq.toDF("source_a", "source_b", "d_a", "d_b", "d_inter",
        "jaccard_bp")
        .orderBy(asc("source_a"), asc("source_b"))
    }),

    // Pipeline drop-off waterfall — the per-stage accounting every
    // cleaning pipeline needs before spending GPU-hours: how many
    // documents each gate (language, length, quality, repetition,
    // PII, exact-dedup) removes, sequentially. ONE scan computes all
    // gate flags (native kernels for quality/repetition — their
    // declarative parity is spec- and oracle-established); the
    // cascade counts are one aggregate; the dedup stage is a distinct
    // count over survivors in a SECOND tiny aggregate (never a mixed
    // distinct/non-distinct Expand). PII is planted exactly as in
    // q_pii_scrub so the gate provably fires.
    "q_pipeline_waterfall" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val planted = spread(documents(s, dir)).select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" see https://example.org/doc/"), col("doc_id"), lit(" page")))
            .otherwise(lit(""))).as("text"))
      val r = graft.functions.RepetitionExpr.repetitionStats(s, col("text"))
      val flagged = planted.select(col("doc_id"),
        (col("lang") === "en").cast("long").as("f1"),
        length(col("text")).between(100, 500).cast("long").as("f2"),
        (graft.text.TextAnalysis.qualityScoreFast(s, col("text")) >= 0.5)
          .cast("long").as("f3"),
        (round(lit(1.0) - element_at(r, 2).cast("double") /
          element_at(r, 1).cast("double"), 4) <= 0.55).cast("long").as("f4"),
        (!col("text").rlike(emailRe)).cast("long").as("f5"),
        md5(trim(lower(col("text")))).as("h"))
        .localCheckpoint(true) // cascade agg + survivor-distinct agg
      val cascade = flagged.agg(
        count(lit(1)).as("c0"), sum(col("f1")).as("c1"),
        sum(col("f1") * col("f2")).as("c2"),
        sum(col("f1") * col("f2") * col("f3")).as("c3"),
        sum(col("f1") * col("f2") * col("f3") * col("f4")).as("c4"),
        sum(col("f1") * col("f2") * col("f3") * col("f4") * col("f5")).as("c5"))
      val dedup = flagged
        .where(col("f1") === 1 && col("f2") === 1 && col("f3") === 1 &&
          col("f4") === 1 && col("f5") === 1)
        .agg(count_distinct(col("h")).as("c6"))
      cascade.crossJoin(broadcast(dedup))
        .select(explode(array(
          struct(lit(1L).as("stage"), lit("lang").as("gate"),
            col("c0").as("n_in"), col("c1").as("n_out")),
          struct(lit(2L).as("stage"), lit("length").as("gate"),
            col("c1").as("n_in"), col("c2").as("n_out")),
          struct(lit(3L).as("stage"), lit("quality").as("gate"),
            col("c2").as("n_in"), col("c3").as("n_out")),
          struct(lit(4L).as("stage"), lit("repetition").as("gate"),
            col("c3").as("n_in"), col("c4").as("n_out")),
          struct(lit(5L).as("stage"), lit("pii").as("gate"),
            col("c4").as("n_in"), col("c5").as("n_out")),
          struct(lit(6L).as("stage"), lit("exact_dedup").as("gate"),
            col("c5").as("n_in"), col("c6").as("n_out")))).as("s"))
        .select(col("s.stage"), col("s.gate"), col("s.n_in"), col("s.n_out"),
          expr("CASE WHEN s.n_in = 0 THEN 0 " +
            "ELSE (s.n_in - s.n_out) * 10000 div s.n_in END").as("drop_bp"))
        .orderBy(asc("stage"))
    }),

    // Materialized-aggregate query rewrite, end to end: build/refresh
    // a summary table for (returnflag, linestatus), register it with
    // the injected Catalyst rule (plans/AggRewrite), then run a plain
    // aggregate over the BASE table — the optimizer answers it from
    // the summary (the base is never scanned; AggRewriteSpec asserts
    // the plan). The oracle recomputes from the base, so a green row
    // proves the summary route is indistinguishable. At 100 TB this
    // is the fact-scan-vs-summary-read difference for every dashboard
    // query; freshness is the registrar's contract, as with any
    // materialized view.
    "q_agg_rewrite" -> ((s, dir) => {
      val basePath = s"$dir/lineitem.parquet"
      // Materialize ONCE per base-data version: the summary path is
      // keyed by a fingerprint of the base file (size + mtime), so a
      // regenerated testdata gets a fresh summary, repeated runs reuse
      // the existing one (overwriting in place would invalidate
      // Spark's shared file-listing cache mid-session), and staleness
      // is structurally impossible.
      val fp = graft.dedup.DedupIndex.fileFp(new java.io.File(basePath))
      val sumDir = System.getProperty("java.io.tmpdir") +
        s"/graft_mv_lineitem_$fp"
      if (!new java.io.File(sumDir).exists()) {
        lineitem(s, dir).groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(sumDir)
      }
      graft.plans.AggRewrite.register(basePath,
        graft.plans.AggRewrite.Summary(sumDir,
          Seq("l_returnflag", "l_linestatus"),
          Map("sum(l_quantity)" -> "sum_qty", "count(1)" -> "n_rows")))
      if (!s.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.plans.AggRewrite.RewriteRule]))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+
            new graft.plans.AggRewrite.RewriteRule(s)
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(asc("l_returnflag"), asc("l_linestatus"))
    }),

    // Leave-one-out kNN classification eval over the embedding space:
    // top-5 cosine neighbors per held-out query (bounded-heap TopK,
    // never a window over the corpus), majority label with
    // smallest-label ties via the packed argmin, output as a
    // confusion matrix — the standard "are my embeddings
    // class-separable" probe. Queries broadcast; the corpus is
    // scanned once.
    "q_knn_classify" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"))
      val labels = emb.select(col("vec_id").as("nid"),
        col("label").cast("long").as("nlabel"))
      val voted = graft.similarity.Similarity.knnJoin(
          spread(emb), "embedding", "vec_id",
          queries, "embedding", "vec_id", k = 5)
        .join(broadcast(labels), col("neighbor_id") === col("nid"))
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("query_id"))
        .agg(min(expr("(100 - c) * 1000 + nlabel")).as("pk"))
        .select(col("query_id"), expr("pk % 1000").as("pred"))
      voted
        .join(broadcast(emb.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label"))), Seq("query_id"))
        .groupBy(col("true_label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc("true_label"), asc("pred"))
    }),

    // Cumulative user growth: first-seen date per user, daily new
    // users, and the running total — the growth-accounting curve.
    // The cumulative window runs over the ~30-row daily aggregate,
    // not the event stream; days emit as strings (the cross-engine
    // date-rendering rule).
    "q_cumulative_users" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("new_users"))
      daily
        .withColumn("cum_users",
          sum(col("new_users")).over(Window.orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("d").cast("string").as("day"), col("new_users"),
          col("cum_users"))
        .orderBy(asc("day"))
    }),

    // Point-in-time-correct churn label construction: features from
    // strictly BEFORE the cutoff (activity count, days inactive),
    // label from the horizon window AFTER it — the temporal-leakage
    // discipline every training-label build needs (features can never
    // see the future). Two date-pruned aggregates + one left join;
    // days compare on exact DATE arithmetic.
    "q_churn_labels" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"))
      val cutoff = ts("2024-01-24")
      val before = ev.where(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_before"),
          max(to_date(col("ts"))).as("last_d"))
      val returned = ev
        .where(col("ts") >= cutoff && col("ts") < ts("2024-01-31"))
        .select(col("user_id")).distinct()
        .withColumn("r", lit(1L))
      before.join(returned, Seq("user_id"), "left")
        .select(col("user_id"), col("n_before"),
          datediff(lit("2024-01-24").cast("date"), col("last_d"))
            .cast("long").as("days_inactive"),
          coalesce(col("r"), lit(0L)).as("returned"))
        .orderBy(asc("user_id"))
    }),

    // Time-decayed popularity (exponential half-life = one week,
    // EXACT): weekly demand counts per part, each week's count
    // right-shifted by its age in weeks — integer halving, so the
    // decay is bit-identical on any engine (never a double pow).
    // One weekly pre-aggregate, one rollup, top 20 via TakeOrdered.
    "q_decayed_popularity" -> ((s, dir) => {
      val weekly = lineitem(s, dir)
        .where(col("l_shipdate") < ts("1998-04-01"))
        .select(col("l_partkey"),
          expr("CAST(datediff(DATE'1998-04-01', to_date(l_shipdate)) div 7 AS BIGINT)")
            .as("age_w"))
        .where(col("age_w") <= 15)
        .groupBy(col("l_partkey"), col("age_w"))
        .agg(count(lit(1)).as("cnt"))
      weekly
        .select(col("l_partkey"),
          expr("shiftright(cnt, CAST(age_w AS INT))").as("decayed_w"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("decayed_w")).as("decayed"))
        .where(col("decayed") > 0)
        .orderBy(desc("decayed"), asc("l_partkey"))
        .limit(20)
    }),

    // Diversified top-k (search-result diversification): global top
    // 20 documents by length with AT MOST 2 per source — per-source
    // top-2 through the bounded-heap TopK aggregate (no window), then
    // one TakeOrdered over the tiny survivor frame.
    "q_diversified_topk" -> ((s, dir) => {
      graft.ops.TopK.byScore(documents(s, dir),
          Seq("source"), "n_chars", "doc_id", k = 2)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(20)
    }),

    // TPC-H Q5 shape (local supplier volume): revenue where the
    // supplying and ordering nation coincide, per nation of one
    // region in one year. Customer and supplier dims broadcast into
    // the fact; the nation-equality conjunct rides the supplier join;
    // one aggregate per nation on exact integer milli-revenue.
    "q_local_supplier_volume" -> ((s, dir) => {
      val asia = nation(s, dir)
        .join(broadcast(region(s, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val o = orders(s, dir)
        .where(col("o_orderdate") >= ts("1997-01-01") &&
          col("o_orderdate") < ts("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
        .join(broadcast(customer(s, dir).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
      lineitem(s, dir)
        .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(revMilli).as("rev_milli"))
        .orderBy(desc("rev_milli"), asc("n_name"))
    }),

    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations by ship year — supplier nation on one side, customer
    // nation on the other, both directions kept. All dims broadcast;
    // the year comes off l_shipdate (engine-identical year()).
    "q_volume_shipping" -> ((s, dir) => {
      val n12 = Seq(1, 2)
      val sup = supplier(s, dir).where(col("s_nationkey").isin(n12: _*))
        .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
      val cus = customer(s, dir).where(col("c_nationkey").isin(n12: _*))
        .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
      lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1998-01-01"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey") &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(revMilli).as("rev_milli"))
        .orderBy(asc("supp_nation"), asc("cust_nation"), asc("l_year"))
    }),

    // TPC-H Q10 shape (returned-item reporting): top 20 customers by
    // revenue lost to returns in one quarter. Ranking on exact
    // integer milli-revenue (ties by custkey) compiles to
    // TakeOrdered; the customer dim broadcasts into the tiny
    // aggregated frame, never the fact.
    "q_returned_revenue" -> ((s, dir) => {
      val o = orders(s, dir)
        .where(col("o_orderdate") >= ts("1997-10-01") &&
          col("o_orderdate") < ts("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(revMilli).as("rev_milli"), count(lit(1)).as("n_items"))
        .join(broadcast(customer(s, dir).select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("rev_milli"), col("n_items"))
        .orderBy(desc("rev_milli"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q13 shape (customer order-count distribution): histogram
    // of orders-per-customer INCLUDING zero-order customers (left
    // join, count of a right-side column). Two aggregates, each one
    // shuffle; the second one is over the per-customer frame.
    "q_order_count_dist" -> ((s, dir) => {
      val perCust = customer(s, dir).select(col("c_custkey"))
        .join(orders(s, dir).select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q18 shape (large-volume orders): orders whose total
    // quantity exceeds a threshold — the per-order aggregate + HAVING
    // + top 20. Quantities are integral so the sum is an exact
    // BIGINT; price in exact cents.
    "q_large_orders" -> ((s, dir) => {
      val big = lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("sum_qty"))
        .where(col("sum_qty") > 300)
      orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("price_c"),
          col("sum_qty"))
        .orderBy(desc("sum_qty"), asc("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate):
    // three (brand, quantity-band, size-band) conjunct groups OR'd
    // together across the part join — the pushdown stress shape: the
    // part-side conjuncts (brand, size) prune the broadcast build
    // side; the fact-side quantity bands evaluate post-join.
    "q_promo_disjunct_revenue" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_partkey"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("qty_i"),
          revMilli.as("rev_milli"))
      val p = part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
      val cond =
        (col("p_brand") === "Brand#3" && col("qty_i").between(1, 11) &&
          col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#12" && col("qty_i").between(10, 20) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#21" && col("qty_i").between(20, 30) &&
          col("p_size").between(1, 15))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(cond)
        .agg(sum(col("rev_milli")).as("rev_milli"), count(lit(1)).as("n_items"))
    }),

    // k-anonymity audit on the (nation, segment) quasi-identifier:
    // group sizes, the minimum k, and how many customers sit in
    // risky (< 5) groups — the standard re-identification screen
    // before a data release. One aggregate + one bounded rollup.
    "q_k_anonymity" -> ((s, dir) => {
      val g = customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("sz"))
      g.agg(count(lit(1)).as("n_groups"),
        min(col("sz")).as("k_min"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("sz") < 5, col("sz")).otherwise(lit(0L)))
          .as("n_risky_customers"))
    }),

    // Decile lift / gains table for the stopword detector (the q_auc
    // scorer): per score-ranked decile, response rate and CUMULATIVE
    // lift vs base rate — the model-targeting readout that tells you
    // how deep to mail. Deciles come from the deterministic
    // range-sort positions (skew-free); cumulative stats are a window
    // over the 10-row decile aggregate; everything emits as integer
    // bp cross-products.
    "q_lift_table" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sc = documents(s, dir).select(col("doc_id"),
        regexp_count(lower(col("text")),
          lit("\\b(the|and|of|to|in|is|that|with)\\b")).cast("long")
          .as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val n = sc.count()
      val ranked = graft.ops.Shuffle.positionsBy(
          sc.withColumn("neg", -col("score")), Seq("neg", "doc_id"), "p")
        .withColumn("decile", expr(s"p * 10 div ${n}L + 1"))
      val dec = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      dec
        .withColumn("cum_n", sum(col("n_docs")).over(wCum))
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .withColumn("tot_n", sum(col("n_docs")).over(wAll))
        .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          expr("n_pos * 10000 div n_docs").as("response_bp"),
          expr("cum_pos * tot_n * 10000 div (tot_pos * cum_n)")
            .as("cum_lift_bp"))
        .orderBy(asc("decile"))
    }),

    // Population Stability Index between the first and second half of
    // the month's event-value distribution — the model-monitoring
    // standard (PSI < 0.1 stable, > 0.25 investigate). Laplace-
    // smoothed bucket shares keep empty buckets finite with the SAME
    // integers on both engines; each (p−q)·ln(p/q) term floors ONCE
    // to nano units then integer-sums (the divergence rule).
    "q_psi" -> ((s, dir) => {
      // floor of a double division — DuckDB ::BIGINT would ROUND
      val bucket = expr("CAST(floor(value / 50) AS BIGINT)")
      // the q_diff_in_diff period cut — proven cross-engine pairing
      val half = when(col("ts") < lit("2024-01-16").cast("timestamp"), "a")
        .otherwise("b")
      val counts = events(s, dir)
        .groupBy(bucket.as("bucket"))
        .agg(sum(when(half === "a", 1L).otherwise(0L)).as("ca"),
          sum(when(half === "b", 1L).otherwise(0L)).as("cb"))
      val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("k"))
      counts.crossJoin(broadcast(tot))
        .withColumn("term_nano", expr(
          """CAST(floor((
             |  (ca + 1) / CAST(na + k AS DOUBLE)
             |  - (cb + 1) / CAST(nb + k AS DOUBLE)
             |) * ln(((ca + 1) / CAST(na + k AS DOUBLE))
             |       / ((cb + 1) / CAST(nb + k AS DOUBLE)))
             | * 1000000000) AS BIGINT)""".stripMargin))
        .agg(max(col("na")).as("n_first_half"), max(col("nb")).as("n_second_half"),
          count(lit(1)).as("n_buckets"), sum(col("term_nano")).as("psi_nano"))
    }),

    // ABC / Pareto classification of parts by exact revenue: class A
    // covers the first 70% of cumulative revenue, B to 90%, C the
    // tail — the inventory-policy cut (which parts deserve per-item
    // treatment). Revenue is the exact integer milli grid; the
    // cumulative window runs over the DIMENSION-sized per-part
    // aggregate (like q_auc's score frame), never the fact table;
    // class boundaries are integer cross-multiplications.
    "q_abc_classes" -> ((s, dir) => {
      // per-part is dimension-sized but grows with SF: a global
      // cumulative Window.orderBy would sort it on ONE reducer. The
      // running revenue instead comes from ops/PrefixSum over the
      // (-rev, partkey) total order — range-partitioned, parallel,
      // exact — with the grand total attached as a broadcast 1-row
      // frame. localCheckpoint: the per-part aggregate feeds both the
      // prefix-sum branch and the broadcast total (shuffle + broadcast
      // consumers never share an exchange).
      val perPart = lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(revMilli).as("rev"))
        .withColumn("neg", -col("rev"))
        .localCheckpoint(true)
      val run = graft.ops.PrefixSum.runningTotal(
        perPart, Nil, Seq("neg", "l_partkey"), "rev", "cum_incl")
      run.crossJoin(broadcast(perPart.agg(sum(col("rev")).as("total"))))
        .withColumn("cum_before", col("cum_incl") - col("rev"))
        .withColumn("cls", expr(
          """CASE WHEN cum_before * 10 < total * 7 THEN 'A'
             |     WHEN cum_before * 10 < total * 9 THEN 'B'
             |     ELSE 'C' END""".stripMargin))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_milli"),
          max(col("total")).as("total"))
        .select(col("cls"), col("n_parts"), col("revenue_milli"),
          expr("revenue_milli * 10000 div total").as("share_bp"))
        .orderBy(asc("cls"))
    }),

    // Capture-recapture (Lincoln-Petersen) population estimate: two
    // INDEPENDENT deterministic md5 screens of the order population;
    // N_hat = n1·n2/m from the overlap — the estimate-what-you-
    // haven't-seen tool (how many dups/PII hits remain after partial
    // screens). Both screens are scan-stage predicates; the estimate
    // is one integer quotient, compared against the true count the
    // synthetic setting exposes.
    "q_capture_recapture" -> ((s, dir) => {
      def coin(salt: String) = conv(substring(md5(concat(lit(salt),
        col("o_orderkey").cast("string"))), 1, 13), 16, 10)
        .cast("double") < lit(0.3 * 4503599627370496.0)
      orders(s, dir).select(col("o_orderkey"),
          coin("cr1|").cast("long").as("s1"),
          coin("cr2|").cast("long").as("s2"))
        .agg(count(lit(1)).as("n_true"), sum(col("s1")).as("n1"),
          sum(col("s2")).as("n2"),
          sum(col("s1") * col("s2")).as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          expr("n1 * n2 div m").as("n_est"),
          expr("""(n1 * n2 div m) * 10000 div n_true""").as("est_bp_of_true"))
    }),

    // Deterministic half-sample error bars: 16 independent coins per
    // order each select ~half the corpus; the spread of the 16
    // half-sample mean prices estimates the sampling error of the
    // full-corpus mean — the bootstrap-flavored CI that stays
    // bit-reproducible (no RNG state). A half-sample coin is ONE BIT,
    // so all 16 draw from ONE md5 digest (coin b = top bit of hex
    // nibble b — independent fair bits), not 16 digests: the md5 work
    // drops 16× and only the cheap nibble test rides the 16× explode.
    // Means are nonneg floor-div, the SD drops to one
    // identically-shaped floor(sqrt(double)).
    "q_halfsample_ci" -> ((s, dir) => {
      val reps = orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("w"),
          md5(concat(lit("hs|"), col("o_orderkey").cast("string"))).as("h"),
          explode(sequence(lit(0), lit(15))).as("b"))
        .where(expr("conv(substring(h, b + 1, 1), 16, 10) >= 8"))
      val perRep = reps.groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
        .select(col("b"), expr("sw div n").as("mean_cents"))
      perRep
        .agg(count(lit(1)).as("n_reps"), sum(col("mean_cents")).as("sm"),
          sum(col("mean_cents") * col("mean_cents")).as("smm"))
        .select(col("n_reps"),
          expr("sm div n_reps").as("mean_of_means_cents"),
          expr("""CAST(floor(sqrt(CAST(n_reps * smm - sm * sm AS DOUBLE)
                 |  / (CAST(n_reps AS DOUBLE) * (n_reps - 1)))) AS BIGINT)"""
            .stripMargin).as("halfsample_sd_cents"))
    }),

    // Degree assortativity of the co-purchase graph — do hubs attach
    // to hubs? The graph-health scalar that predicts whether
    // degree-oriented algorithms (our triangle/LSH bounds) see a
    // friendly or adversarial topology. Emitted as the REGRESSION
    // SLOPE of neighbor degree on own degree over all directed edge
    // endpoints (same sign and monotone in Newman's r, whose sqrt
    // denominator would leave the integer grid); moments are exact
    // integer sums, the ratio runs in DECIMAL(38,0) signed shift-div.
    "q_assortativity" -> ((s, dir) => {
      val e = copurchaseEdges(s, dir, minSupport = 2)
        .localCheckpoint(true) // degree agg + both join legs
      val adj = e.select(col("src").as("u"), col("dst").as("w"))
        .union(e.select(col("dst").as("u"), col("src").as("w")))
      // Degrees are an O(V) id/scalar frame consumed by two join legs:
      // checkpoint once (compute-once sharing) and broadcast under the
      // count-informed rule — both endpoint joins then run exchange-
      // free over the adjacency stream instead of re-shuffling it
      // twice (4E rows) against an aggregate with default stats.
      val deg = adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      val degB = graft.ops.Bfs.bcastIfSmall(deg, deg.count())
      adj
        .join(degB.select(col("node").as("u"), col("d").as("dx")), Seq("u"))
        .join(degB.select(col("node").as("w"), col("d").as("dy")), Seq("w"))
        .agg(count(lit(1)).as("m2"), sum(col("dx")).as("sx"),
          sum(col("dy")).as("sy"), sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"))
        .select(col("m2"), expr(
          """CAST(((CAST(m2 AS DECIMAL(38,0)) * sxy
             |   - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
             |  + CAST(10000000 AS DECIMAL(38,0))
             |    * (CAST(m2 AS DECIMAL(38,0)) * sxx
             |       - CAST(sx AS DECIMAL(38,0)) * sx))
             | div (CAST(m2 AS DECIMAL(38,0)) * sxx
             |      - CAST(sx AS DECIMAL(38,0)) * sx)
             | - 10000000 AS BIGINT)""".stripMargin).as("slope_micro"))
    }),

    // Entropy rate of the first-order event-type Markov chain — "how
    // predictable is user behavior": H = -Σ_s p(s) Σ_t p(t|s) ln
    // p(t|s), each (s,t) term floored ONCE to integer nano-nats from
    // one identically-shaped double expression then integer-summed
    // (the divergence-aggregate rule). Transition counts come from
    // ONE lag window over per-user partitions; everything after is
    // broadcast-sized.
    "q_markov_entropy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val rowTot = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("rn"))
      val grand = pairs.agg(sum(col("n")).as("g"))
      pairs.join(broadcast(rowTot), Seq("prev_type"))
        .crossJoin(broadcast(grand))
        .withColumn("term_nano", expr(
          """CAST(floor(-(rn / CAST(g AS DOUBLE)) * (n / CAST(rn AS DOUBLE))
             |  * ln(n / CAST(rn AS DOUBLE)) * 1000000000) AS BIGINT)"""
            .stripMargin))
        .agg(max(col("g")).as("n_transitions"),
          count(lit(1)).as("n_cells"),
          sum(col("term_nano")).as("entropy_rate_nano"))
    }),

    // A/B sample-size design (power analysis): n per arm for
    // detecting a 10% relative lift on the observed purchase
    // conversion at alpha=0.05 (two-sided), power=0.8 —
    // n = (z_a+z_b)^2 * 2 p(1-p) / delta^2. The z constant is
    // JVM-computed ONCE and embedded as the same integer-micro
    // literal in both engines (the ndcg-weights recipe); everything
    // else is exact integer bp arithmetic with an integer ceil.
    "q_power_analysis" -> ((s, dir) => {
      val ev = events(s, dir)
      val base = ev
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase"))
        .select(col("n_events"), col("n_purchase"),
          expr("n_purchase * 10000 div n_events").as("p_bp"))
        .withColumn("delta_bp", expr("p_bp div 10"))
      base.select(col("n_events"), col("n_purchase"), col("p_bp"),
        col("delta_bp"),
        expr(s"""(${Analytics.powerCMicro} * 2 * p_bp * (10000 - p_bp)
                 | + delta_bp * delta_bp * 1000000 - 1)
                 | div (delta_bp * delta_bp * 1000000)""".stripMargin)
          .as("n_per_arm"))
    }),

    // Luhn-validated PII scan: 13-16 digit runs are only reported as
    // card numbers when the Luhn checksum holds — the false-positive
    // cut every production PII detector layers over the regex. Digit
    // runs come from one scan-stage regexp; the checksum is a single
    // per-candidate pass over a materialized reversed-digit string
    // (identical shape both engines; candidates per doc are bounded
    // by the regex, not the text).
    "q_luhn_scan" -> ((s, dir) => {
      val planted = spread(documents(s, dir)).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit(" card 4539578763621486 on file")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" ref 4539578763621487 logged")).otherwise(lit("")))
          .as("text"))
      val cands = planted.select(col("doc_id"),
          explode(expr("regexp_extract_all(text, '\\\\b\\\\d{13,16}\\\\b', 0)"))
            .as("num"))
        .withColumn("rev", reverse(col("num")))
      val luhnSum = expr(
        """aggregate(sequence(1, length(rev)), 0L, (acc, i) -> acc +
           |  CASE WHEN i % 2 = 1
           |    THEN CAST(substring(rev, i, 1) AS LONG)
           |    ELSE CASE WHEN CAST(substring(rev, i, 1) AS LONG) * 2 > 9
           |      THEN CAST(substring(rev, i, 1) AS LONG) * 2 - 9
           |      ELSE CAST(substring(rev, i, 1) AS LONG) * 2 END
           |  END)""".stripMargin)
      cands.withColumn("valid", (luhnSum % 10 === 0))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_luhn_valid"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("n_rejected"))
    }),

    // Rendezvous (highest-random-weight) shard routing + the
    // reassignment-stability proof: each doc goes to the shard with
    // the max md5('hrw|'doc'|'shard) draw; removing shard 15 moves
    // ONLY the docs that lived there (the HRW guarantee vs mod-N's
    // full reshuffle). argmax via max_by over a (score, shard)
    // struct — deterministic, scan-stage, 31 hashes per doc, zero
    // shuffle beyond two tiny aggregates.
    "q_rendezvous_routing" -> ((s, dir) => {
      def pick(nShards: Int) = documents(s, dir)
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(nShards - 1))).as("sh"))
        .withColumn("score", expr(
          """CAST(conv(substring(md5(concat('hrw|',
             |  CAST(doc_id AS STRING), '|', CAST(sh AS STRING))),
             |  1, 13), 16, 10) AS BIGINT)""".stripMargin))
        .groupBy(col("doc_id"))
        // tiebreak packed into one key: score <= 2^52, so score*16+sh
        // is unique per (score, shard) and fits a long
        .agg(max_by(col("sh"), col("score") * 16 + col("sh")).as("shard"))
      val a = pick(16).withColumnRenamed("shard", "shard16")
      val b = pick(15).withColumnRenamed("shard", "shard15")
      a.join(b, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard16") =!= col("shard15"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("shard16") === 15, 1L).otherwise(0L))
            .as("n_on_removed"))
        .select(col("n_docs"), col("n_moved"), col("n_on_removed"),
          expr("n_moved * 10000 div n_docs").as("moved_bp"),
          (col("n_moved") === col("n_on_removed")).as("only_removed_moved"))
    }),

    // 1-D earth-mover (Wasserstein-1) distance between two sources'
    // length distributions on a 50-char bucket grid — the
    // distribution-shift metric that, unlike the KS statistic
    // (q_drift), weighs HOW FAR mass moved. Integer-exact: EMD =
    // Σ|cumA·NB − cumB·NA| over the bounded grid, scaled to micro by
    // one nonneg floor division at the end.
    "q_emd_lengths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = documents(s, dir)
        .where(col("source").isin("src0", "src1"))
        .groupBy(expr("n_chars div 50").as("bucket"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn("cuma", sum(col("ca")).over(wCum))
        .withColumn("cumb", sum(col("cb")).over(wCum))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
            .as("num"))
        .select(col("n_a"), col("n_b"),
          expr("num * 1000000 div (n_a * n_b)").as("emd_buckets_micro"))
    }),

    // Zipf rank-frequency slope (the corpus-health check: natural
    // text ~ -1): least-squares fit of ln(freq) on ln(rank) over the
    // top-1000 vocabulary, both axes floored ONCE to integer micro
    // (identically-shaped exprs) and the slope emitted through the
    // q_linreg DECIMAL(38,0) signed shift-div. Ranks come from the
    // deterministic range-sort positions (freq desc, token asc) —
    // no one-reducer row_number over the vocabulary.
    "q_zipf_slope" -> ((s, dir) => {
      val freq = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
      val ranked = graft.ops.Shuffle.positionsBy(
          freq.withColumn("negf", -col("f")), Seq("negf", "t"), "pos")
        .where(col("pos") < 1000)
        .select(
          expr("CAST(floor(ln(CAST(pos + 1 AS DOUBLE)) * 1000000) AS BIGINT)")
            .as("x"),
          expr("CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT)")
            .as("y"))
      ranked
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"), expr(
          """CAST((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
            |  * 1000000 + CAST(100000000000000000 AS DECIMAL(38,0))
            |  * (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
            |  AS DECIMAL(38,0)) div
            |  (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
            |  - 100000000000000000""".stripMargin).as("slope_micro"))
    }),

    // Neyman (optimal) stratified-sample allocation: per-stratum
    // budget n_h ∝ N_h·σ_h for a fixed total k=1000 — the survey-
    // design complement to q_pps_estimate. Variance numerator
    // N·Σx² − (Σx)² is exact in DECIMAL(38,0) (the q_linreg shape);
    // σ drops to ONE identically-shaped floor(sqrt(double)) per
    // stratum (IEEE sqrt is correctly rounded — engine-exact on
    // identical inputs); integer base quotas + largest-remainder
    // top-up land on exactly k.
    "q_neyman_alloc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val st = orders(s, dir)
        .select(col("o_orderpriority").as("stratum"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("w"))
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("nh"), sum(col("w")).as("sx"),
          sum(col("w") * col("w")).as("sxx"))
        .withColumn("s_milli", expr(
          """CAST(floor(sqrt(CAST(
             |  CAST(nh AS DECIMAL(38,0)) * sxx
             |  - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
             |  / (CAST(nh AS DOUBLE) * (nh - 1))) * 1000) AS BIGINT)"""
            .stripMargin))
        .withColumn("num", col("nh") * col("s_milli"))
      val stc = st.localCheckpoint(true) // 5 rows; total + main consumer
      val tot = stc.agg(sum(col("num")).as("den"))
      val w = Window.orderBy(desc("rem"), asc("stratum")) // 5-row frame
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      stc.crossJoin(broadcast(tot))
        .withColumn("base", expr("num * 1000 div den"))
        .withColumn("rem", expr("(num * 1000) % den"))
        .withColumn("rk", row_number().over(w))
        .withColumn("short", lit(1000L) - sum(col("base")).over(wAll))
        .select(col("stratum"), col("nh"), col("s_milli"),
          (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
            .as("n_alloc"))
        .orderBy(asc("stratum"))
    }),

    // Stratified-matching treatment-effect estimate (observational
    // causal shape): treatment = BUILDING segment, outcome = total
    // order spend (cents, zero-filled), strata = nation × acctbal
    // quartile (deterministic range-sort quartiles — skew-free).
    // Cells missing either group drop (the common-support rule);
    // ATT = treated-weighted mean of per-cell mean differences.
    // Per-cell means are nonneg floor-divs; the final signed ratio
    // goes through the shift-div.
    "q_att_match" -> ((s, dir) => {
      val spend = orders(s, dir).groupBy(col("o_custkey"))
        .agg(expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").as("y"))
      val c = customer(s, dir)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0L, Seq("y"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("treated"),
          col("y"))
      val n = c.count()
      val q = graft.ops.Shuffle.positionsBy(c, Seq("c_acctbal", "c_custkey"),
          "pos")
        .withColumn("quart", expr(s"pos * 4 div ${n}L"))
      val cells = q.groupBy(col("c_nationkey"), col("quart"))
        .agg(sum(col("treated")).as("nt"),
          (count(lit(1)) - sum(col("treated"))).as("nc"),
          sum(when(col("treated") === 1, col("y")).otherwise(0L)).as("yt"),
          sum(when(col("treated") === 0, col("y")).otherwise(0L)).as("yc"))
        .where(col("nt") > 0 && col("nc") > 0)
        .withColumn("diff_micro",
          expr("yt * 1000000 div nt - yc * 1000000 div nc"))
      cells.agg(count(lit(1)).as("n_cells"), sum(col("nt")).as("n_treated"),
          sum(col("nt") * col("diff_micro")).as("num"))
        .select(col("n_cells"), col("n_treated"), expr(
          """CAST((CAST(num AS DECIMAL(38,0))
             |  + CAST(10000000000000000 AS DECIMAL(38,0)) * n_treated)
             |  div n_treated - 10000000000000000 AS BIGINT)"""
            .stripMargin).as("att_micro"))
    }),

    // Deterministic random-walk corpus (DeepWalk/node2vec input
    // generation): 3-step walks over the undirected co-purchase
    // graph; each step picks neighbor index md5('rw|'seed'|'t'|'cur)
    // mod degree from the node's SORTED adjacency array — fully
    // reproducible on any engine that can md5, no RNG state. The
    // adjacency build is one aggregate; each step is an equi join of
    // the walk frontier against it (frontier size = |seeds|, never
    // grows); element_at on the materialized array attribute is O(1).
    "q_random_walks" -> ((s, dir) => {
      val e = copurchaseEdges(s, dir, minSupport = 2)
      // both directions emitted map-side from ONE pass over the edge
      // build (the union form re-executed the whole co-purchase build
      // once per union leg — the bidirectional-edge-frame rule)
      val adj = e.select(explode(array(
          struct(col("src").as("u"), col("dst").as("w")),
          struct(col("dst").as("u"), col("src").as("w")))).as("p"))
        .select(col("p.u").as("u"), col("p.w").as("w"))
        .groupBy(col("u"))
        .agg(sort_array(collect_list(col("w"))).as("nbrs"))
        .localCheckpoint(true) // joined at every step + seed scan
      // The walk frontier is |V|/20 SCALAR rows while adj carries the
      // O(E) neighbor arrays (the k-truss never-broadcast class), so
      // each step broadcasts the FRONTIER side under the count-informed
      // rule — the checkpointed adj (UnknownPartitioning) is then
      // never exchanged; without this every step shuffled both sides.
      // |adj| bounds the frontier count exactly (seeds ⊆ adj nodes).
      val nAdj = adj.count()
      def step(df: DataFrame, t: Int, cur: String, out: String) =
        graft.ops.Bfs.bcastIfSmall(df, nAdj)
          .join(adj.select(col("u").as(cur), col("nbrs")), Seq(cur))
          .withColumn(out, expr(
            s"""element_at(nbrs, CAST(
               |  CAST(conv(substring(md5(concat('rw|',
               |    CAST(seed AS STRING), '|$t|', CAST($cur AS STRING))),
               |    1, 13), 16, 10) AS BIGINT) % size(nbrs) + 1
               |AS INT))""".stripMargin))
          .drop("nbrs")
      val seeds = adj.where(col("u") % 20 === 0)
        .select(col("u").as("seed"), col("u").as("n0"))
      step(step(step(seeds, 1, "n0", "n1"), 2, "n1", "n2"), 3, "n2", "n3")
        .select(col("seed"), col("n1"), col("n2"), col("n3"))
        .orderBy(asc("seed"))
    }),

    // Leave-one-out influence (training-data valuation): for each
    // doc, the change in ITS OWN log-likelihood under the corpus
    // add-1 unigram LM when the doc is removed from the training
    // counts — the closed-form LOO that data-attribution methods
    // approximate; the most negative deltas are the most
    // "memorized"/unique docs. Per-(doc, token-type) delta terms are
    // floored ONCE from one identically-shaped double expression
    // (micro-nats), then summed as integers (order-free). One corpus
    // explode; token counts derive from the tf frame (the q_tfidf
    // one-explode rule); corpus scalars ride a 1-row broadcast.
    "q_loo_influence" -> ((s, dir) => {
      val tf = documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true) // 3 consumers: nt, len, join
      val nt = tf.groupBy(col("t")).agg(sum(col("tf")).as("nt"))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
      // nn and v both derive from the nt frame (vocab-sized): a
      // sum + count_distinct in one agg over tf would plan an Expand.
      val scal = nt.agg(sum(col("nt")).as("nn"), count(lit(1)).as("v"))
      tf.join(nt, Seq("t"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(scal))
        .withColumn("term_micro", expr(
          """CAST(floor(tf * (
             |  ln((nt - tf + 1) / CAST(nn - len + v AS DOUBLE))
             |  - ln((nt + 1) / CAST(nn + v AS DOUBLE))
             |) * 1000000) AS BIGINT)""".stripMargin))
        .groupBy(col("doc_id"))
        .agg(max(col("len")).as("n_tokens"),
          sum(col("term_micro")).as("influence_micronat"))
        .orderBy(asc("influence_micronat"), asc("doc_id"))
        .limit(20)
    }),

    // l-diversity over the same quasi-identifier groups as
    // q_k_anonymity, sensitive attribute = account-balance band:
    // per (nation, segment) cell, distinct sensitive values (l) and
    // the entropy of the sensitive distribution in integer
    // micro-nats (each term floored ONCE from an identically-shaped
    // double expression, then summed as integers — the divergence-
    // aggregate rule). The k-anonymity complement: a k-safe cell can
    // still leak if everyone in it shares one sensitive value.
    "q_l_diversity" -> ((s, dir) => {
      val sens = customer(s, dir).select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 2000) AS BIGINT)").as("band"))
      val cells = sens
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
        .agg(count(lit(1)).as("c"))
      val g = cells
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(col("c")).as("k"), count(lit(1)).as("l"))
      cells.join(g, Seq("c_nationkey", "c_mktsegment"))
        .withColumn("term_micro", expr(
          """CAST(floor(-(c / CAST(k AS DOUBLE))
             | * ln(c / CAST(k AS DOUBLE)) * 1000000) AS BIGINT)"""
            .stripMargin))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(max(col("k")).as("k"), max(col("l")).as("l"),
          sum(col("term_micro")).as("entropy_micronat"))
        .orderBy(asc("c_nationkey"), asc("c_mktsegment"))
    }),

    // Exact ROC AUC as the Mann-Whitney rank-sum statistic with
    // midrank tie handling, all-integer: per distinct score s the
    // tied group's doubled midrank is 2·cum_below + n_s + 1 (always
    // an integer), so 2U = Σ p_s·(2cum+n_s+1) − n_pos·(n_pos+1) and
    // auc_bp = 10000·2U div (2·n_pos·n_neg) — no doubles anywhere.
    // Detector: English-stopword hits; label: declared lang = 'en'.
    // The ranking window runs over the ≤|distinct scores| aggregate
    // frame, never the corpus.
    "q_auc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sc = documents(s, dir).select(
        regexp_count(lower(col("text")),
          lit("\\b(the|and|of|to|in|is|that|with)\\b")).cast("long")
          .as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byScore = sc.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
        .agg(sum(col("p")).as("n_pos"),
          (sum(col("n")) - sum(col("p"))).as("n_neg"),
          sum(col("p") * (lit(2L) * col("cum") + col("n") + lit(1L)))
            .as("rank2_sum"))
        .select(col("n_pos"), col("n_neg"),
          expr("""(rank2_sum - n_pos * (n_pos + 1)) * 10000
                  div (2 * n_pos * n_neg)""").as("auc_bp"))
    }),

    // Dedup-method agreement: EXACT lexical near-dup pairs (distinct
    // 3-gram Jaccard >= 0.3, NO df cutoff) vs EXACT embedding
    // near-dup pairs (cosine >= 0.45) over the aligned doc_id/vec_id
    // space — the diagnostic that tells you whether the cheap lexical
    // pass and the embedding pass see the same duplication. One
    // full-outer join of two tiny pair frames; set-Jaccard of the
    // pair sets in basis points.
    "q_dedup_agreement" -> ((s, dir) => {
      val lex = graft.dedup.Dedup.jaccardPairs(
          spread(documents(s, dir)), "text", "doc_id",
          n = 3, threshold = 0.3, maxShingleDf = 0)
        .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1).as("in_lex"))
      val emb = graft.similarity.Similarity.cosineNearDups(
          spread(embeddings(s, dir)), "embedding", "vec_id", 0.45)
        .select(col("id_a").as("a"), col("id_b").as("b"), lit(1).as("in_emb"))
      lex.join(emb, Seq("a", "b"), "full_outer")
        .agg(count(col("in_lex")).as("n_lexical"),
          count(col("in_emb")).as("n_embedding"),
          count(when(col("in_lex").isNotNull && col("in_emb").isNotNull, 1))
            .as("n_both"))
        .select(col("n_lexical"), col("n_embedding"), col("n_both"),
          expr("n_both * 10000 div (n_lexical + n_embedding - n_both)")
            .as("agreement_bp"))
    }),

    // Deterministic label-propagation communities on the co-purchase
    // graph: synchronous LPA, 5 FIXED rounds, ties to the smallest
    // label (ops/LabelProp) — the fixed-round synchronous form is a
    // pure function of the graph, so the oracle replays every round
    // as a chained CTE with the identical packed-BIGINT argmin.
    // Output: the 20 largest communities.
    "q_label_prop" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.LabelProp.run(edges, rounds = 5)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), asc("community"))
        .limit(20)
    }),

    // Isotonic calibration (PAV): fit a nondecreasing urgency rate
    // over price buckets — the standard monotone-calibration fit for
    // a score/quality signal. Corpus-sized work is ONE aggregate to
    // the bounded bin table; the pool-adjacent-violators loop runs
    // driver-side on those bins (exact integer rationals,
    // cross-multiplied comparisons) and the fitted rates ride back as
    // a literal map (ops/Isotonic). HASH-EXACT oracle since round 7:
    // the PAV fit is UNIQUE under any adjacent-violator merge order,
    // so the oracle unrolls "merge the leftmost violating pair" as
    // generated CTE layers over exact integer (pos, n) pool states
    // (isotonicSql — 16 layers vs ≤ ~12 price bins at any SF) and
    // maps bins to pools with an ASOF join; IsotonicSpec still pins
    // the driver loop to the brute-force fixpoint.
    "q_isotonic" -> ((s, dir) => {
      val binned = orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 5000000")
            .as("bin"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("urgent"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("urgent")).as("pos"))
      graft.ops.Isotonic.fitBinned(binned)
        .select(col("bin"), col("n"), col("pos"),
          expr("pos * 10000 div n").as("rate_bp"), col("fitted_bp"))
        .orderBy(asc("bin"))
    }),

    // Bounded-depth BFS hop distances on the co-purchase graph from a
    // deterministic seed (the graph's smallest part id): frontier
    // expansion via ops/Bfs — per hop one frontier-edge join + one
    // LEFT ANTI against the visited set, nothing ever collected. The
    // DEPTH BOUND is what makes this oracle-exact: a recursive CTE
    // replays seed-rooted walks to the same bound and takes min(hop)
    // per node (unbounded reachability would need convergence
    // detection, which SQL recursion can't observe). Output is the
    // hop histogram.
    "q_bfs_hops" -> ((s, dir) => {
      val edges = copurchaseEdges(s, dir, minSupport = 2)
        .localCheckpoint(true) // seed probe + per-hop joins
      val seed = edges.agg(min(col("src"))).collect()(0).getLong(0)
      graft.ops.Bfs.hops(edges, seed, maxHops = 4)
        .groupBy(col("hop")).agg(count(lit(1)).as("n_parts"))
        .orderBy(asc("hop"))
    }),

    // Keyword-in-context (KWIC) snippet extraction: for every doc
    // containing the phrase, a +-20-char window around the FIRST
    // occurrence — the retrieval-result snippet shape. Pure
    // scan-stage string arithmetic (locate/strpos are both 1-based
    // with 0 = absent; substring clamps identically), zero shuffles,
    // filter + projection pushed to the parquet scan.
    "q_kwic" -> ((s, dir) => {
      val phrase = "table scan"
      val pos = locate(phrase, col("text"))
      val start = greatest(pos - 20, lit(1))
      documents(s, dir)
        .where(pos > 0)
        .select(col("doc_id"), pos.as("pos"),
          col("text").substr(start,
            (pos - start) + lit(phrase.length + 20)).as("snippet"))
        .orderBy(asc("doc_id"))
    }),

    // Taxonomy phrase tagging: occurrences of a fixed phrase list
    // across the corpus in ONE text pass per document — the native
    // Aho-Corasick kernel (functions/PhraseCountExpr) replaces
    // |phrases| separate replace/LIKE scans; at a real taxonomy size
    // (thousands of phrases) that is the difference between O(n*k)
    // and O(n) per document. Non-overlapping greedy-left counts ==
    // replace() semantics, so the oracle replays them with
    // length-arithmetic. Substring matching (no word boundaries),
    // documented semantics; phrases and text share this corpus's
    // lowercase space-separated form.
    "q_phrase_tags" -> ((s, dir) => {
      val phrases = Analytics.tagPhrases
      spread(documents(s, dir))
        .select(posexplode(graft.functions.PhraseCountExpr.phraseCounts(
          s, col("text"), phrases)).as(Seq("pos", "cnt")))
        .groupBy(col("pos"))
        .agg(count(when(col("cnt") > 0, 1)).as("n_docs"),
          sum(col("cnt")).as("n_occ"))
        .select(element_at(typedLit(phrases), col("pos") + 1).as("phrase"),
          col("n_docs"), col("n_occ"))
        .orderBy(asc("phrase"))
    }),

    // Exact sparse tf-cosine near-dup pairs: documents as 3-gram
    // term-FREQUENCY vectors (windows, not distinct shingles — the
    // multiplicity Jaccard throws away), pairs via the inverted
    // index, similarity as SQUARED cosine on an integer 1e8 grid:
    // cos2_e8 = num^2 * 1e8 div (|a|^2 |b|^2), every factor an exact
    // integer (Cauchy-Schwarz bounds num^2 <= n2a*n2b so the product
    // fits DECIMAL(38,0)/HUGEINT; emitting cos^2 avoids any sqrt).
    // Postings hash to 8-byte longs before the shuffle; the tf frame
    // is checkpointed once for its three consumers (norms + both join
    // sides — broadcast branches don't reuse shuffle exchanges).
    "q_cosine_tf_pairs" -> ((s, dir) => {
      val tf = spread(documents(s, dir))
        .select(col("doc_id"),
          explode(graft.functions.ShingleExprs.wordWindowHashes(
            s, col("text"), 3)).as("shingle"))
        .groupBy(col("doc_id"), col("shingle"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val norms = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
        .localCheckpoint(true) // consumed by both norm joins below
      // Measured NOT to help (round 12): restructuring this self-join
      // into collect_list postings + map-side pair explode regressed
      // 2.46 → 4.08 s solo — the interpreted nested-transform lambdas
      // cost more per pair than the exchange they save (dense shingle
      // postings; contrast Triangles, whose array_intersect kernel is
      // native). The join form stays.
      val num = tf.as("a")
        .join(tf.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(col("a.tf") * col("b.tf")).as("num"))
      // Norms are an O(|docs|) scalar frame — count-informed broadcast
      // (known count off the materialized checkpoint, shuffle fallback
      // above the limit) keeps both attach joins exchange-free.
      val normsB = graft.ops.Bfs.bcastIfSmall(norms, norms.count())
      num
        .join(normsB.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), "doc_a")
        .join(normsB.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("CAST(CAST(num AS DECIMAL(38,0)) * num * 100000000 DIV " +
            "(CAST(n2_a AS DECIMAL(38,0)) * n2_b) AS BIGINT)").as("cos2_e8"))
        .where(col("cos2_e8") >= lit(25000000L)) // cos >= 0.5
        .orderBy(asc("doc_a"), asc("doc_b"))
    }),

    // TPC-H Q6 shape (forecast revenue change): one filtered scan, one
    // aggregate row — the pushdown sanity query. All three predicates
    // reach the parquet scan (date range, discount band on the exact
    // integer percent, quantity cap); "savings" = cents x discount
    // percent, both floors of identically-shaped doubles.
    "q_simple_revenue" -> ((s, dir) => {
      lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1997-01-01") &&
          col("l_shipdate") < ts("1998-01-01") &&
          col("l_quantity") < 24)
        .select(
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(floor(l_discount * 100) AS BIGINT)").as("disc_pct"))
        .where(col("disc_pct").between(2, 4))
        .agg(sum(col("cents") * col("disc_pct")).as("saved_milli"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q12 shape (shipmode line priority — returnflag stands in
    // for the absent l_shipmode): among lines shipped > 60 days after
    // the order date, count critical- vs normal-priority orders per
    // flag. One fact-fact equi join on the order key (both sides
    // shuffle once), 3-group aggregate.
    "q_ship_priority_dist" -> ((s, dir) => {
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(asc("l_returnflag"))
    }),

    // TPC-H Q9 shape (product-type profit — no supplycost in the
    // schema, so profit = revenue): revenue of 'widget' parts per
    // supplier nation per ship year. Part/supplier/nation all
    // broadcast (the name filter prunes part before the broadcast);
    // the fact aggregates once on (nation, year).
    "q_product_profit" -> ((s, dir) => {
      lineitem(s, dir)
        .join(broadcast(part(s, dir)
            .where(col("p_name").contains("widget"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, dir)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"))
        .agg(sum(revMilli).as("profit_milli"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    // TPC-H Q2 shape (minimum-cost supplier — offers derived from
    // lineitem since there is no partsupp): per (part, supplier) the
    // min exact unit price in cents, restricted to mid-size STANDARD
    // parts and AMERICA suppliers; keep the offers matching each
    // part's minimum. The correlated scalar-min subquery decorrelates
    // to ONE aggregate + an equi join-back on (part, cost); the
    // per-part min frame is tiny and AQE broadcasts it. Unit price =
    // cents div integer quantity (nonneg, so div ≡ //).
    "q_min_cost_supplier" -> ((s, dir) => {
      val amSupp = supplier(s, dir)
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).where(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val eligParts = part(s, dir)
        .where(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      val offers = lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div " +
            "CAST(floor(l_quantity) AS BIGINT)").as("unit_cents"))
        .join(broadcast(eligParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(amSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"))
        .agg(min(col("unit_cents")).as("unit_cents"))
      val minCost = offers.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("unit_cents")).as("min_cents"))
      offers.join(minCost,
          col("p_partkey") === col("mk") && col("unit_cents") === col("min_cents"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"), col("unit_cents"))
        .orderBy(asc("p_partkey"), asc("s_suppkey"))
    }),

    // TPC-H Q11 shape (important stock — shipped value stands in for
    // availqty x supplycost): per-part revenue from NATION_7's
    // suppliers, keeping parts above 0.1% of that nation's total.
    // The HAVING-vs-scalar-subquery shape: the grand total is a
    // 1-row aggregate of the per-part frame, broadcast back; the
    // threshold compare is integer cross-multiplication (value x
    // 1000 > total) — no division anywhere.
    "q_important_parts" -> ((s, dir) => {
      val n7 = supplier(s, dir)
        .join(broadcast(nation(s, dir).where(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val perPart = lineitem(s, dir)
        .join(broadcast(n7), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(revMilli).as("value_milli"))
      val total = perPart.agg(sum(col("value_milli")).as("t"))
      perPart.join(broadcast(total), col("value_milli") * 1000 > col("t"))
        .select(col("l_partkey"), col("value_milli"))
        .orderBy(desc("value_milli"), asc("l_partkey"))
    }),

    // TPC-H Q16 shape (supplier-part relationship counting): distinct
    // suppliers per (brand, type, size) over the observed part-
    // supplier pairs, excluding negative-balance suppliers (the
    // "complaints" NOT IN becomes a broadcast LEFT ANTI hash join).
    // The pair frame is pre-distinct on (part, supplier), then ONE
    // single-distinct aggregate (no mixed distinct -> no Expand).
    "q_supplier_part_counts" -> ((s, dir) => {
      val badSupp = supplier(s, dir).where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(part(s, dir)
            .where(col("p_brand") =!= "Brand#3" &&
              !col("p_type").startsWith("PROMO") &&
              col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
          asc("p_size"))
    }),

    // TPC-H Q20 shape (excess inventory shippers — self-relative
    // threshold since there is no availqty): suppliers for whom some
    // 'cold' part's 1997 shipped quantity exceeds half their all-time
    // quantity of that part. ONE conditional aggregate per (supplier,
    // part) computes both sums; the threshold is integer cross-
    // multiplication; qualifying suppliers emerge via a LEFT SEMI
    // join (EUROPE filter broadcast on the supplier side).
    "q_excess_shippers" -> ((s, dir) => {
      val euSupp = supplier(s, dir)
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val excess = lineitem(s, dir)
        .join(broadcast(part(s, dir).where(col("p_name").startsWith("cold"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(
          sum(when(col("l_shipdate") >= ts("1997-01-01") &&
              col("l_shipdate") < ts("1998-01-01"),
            expr("CAST(floor(l_quantity) AS BIGINT)")).otherwise(0L))
            .as("qty_1997"),
          sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("qty_total"))
        .where(col("qty_1997") * 2 > col("qty_total"))
      euSupp.join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy(asc("s_suppkey"))
    }),

    // Link prediction via the resource-allocation index (Zhou/Lu/Zhang
    // 2009): for non-adjacent part pairs sharing co-purchase
    // neighbors, RA(u,v) = sum over common neighbors w of 1/deg(w) —
    // here on an exact integer micro grid (1e6 div deg, engine-exact
    // unlike Adamic-Adar's 1/ln deg where libm ulps could split the
    // floor). The wedge enumeration is DEGREE-CAPPED (ops/LinkPredict:
    // wedges through a neighbor with deg > 1024 are dropped, with the
    // stated ≤1e6/cap-per-hub-pair score bound) so one hub part at
    // 100× can't make the Σ deg(w)² candidate term quadratic; the cap
    // never binds on the test corpora (max degree 13 at sf0.1) and
    // the oracle mirrors the same deg <= cap filter, so the query is
    // hash-exact at any cap. Pairs are emitted MAP-SIDE from per-w
    // neighbor lists (the Triangles adjacency lesson — one Σ deg
    // shuffle of the adjacency, the Σ deg² pair stream reaches its
    // exchange partially aggregated; A/B vs the shuffle_hash self-join
    // in ops/LinkPredict's scaladoc). Existing edges leave
    // via LEFT ANTI; top-20 by (score, u, v) is one TakeOrdered.
    // Hub-skew scale curve: ScaleCheck link_predict.
    "q_link_predict" -> ((s, dir) => {
      val e = copurchaseEdges(s, dir, minSupport = 2)
      graft.ops.LinkPredict.ra(e, degCap = 1024)
        .orderBy(desc("ra_micro"), asc("u"), asc("v"))
        .limit(20)
    }),

    // Equi-depth histogram over line revenue cents: 16 buckets of
    // equal row count (±1) from DETERMINISTIC global positions
    // (range exchange + zipWithIndex — never a one-reducer
    // row_number; ops/Shuffle), bucket = pos*16 div n. The optimizer
    // statistic every engine keeps, as a first-class operator; exact
    // and fully parallel at any scale.
    "q_histogram_equidepth" -> ((s, dir) => {
      val v = lineitem(s, dir).select(
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val pos = graft.ops.Shuffle.positionsBy(
        v, Seq("cents", "l_orderkey", "l_linenumber"), "pos")
      val n = v.agg(count(lit(1)).as("n"))
      pos.crossJoin(broadcast(n))
        .groupBy(expr("pos * 16 div n").as("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"))
        .orderBy(asc("bucket"))
    }),

    // CUSUM changepoint over the daily event-count series: the
    // change day is argmax |cumsum(x_i − mean)| (the classic CUSUM
    // estimator), with everything on an integer micro grid — the
    // cumulative sum is a sum of exact integers, so the argmax is
    // engine-exact. The window runs over the ~2-year DAILY
    // pre-aggregate only (bounded rows), never the raw events; pre/
    // post means are nonneg floor divs (−1 sentinel for an empty
    // post segment).
    "q_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.agg(sum(col("cnt")).as("t"), count(lit(1)).as("nd"))
      val cum = daily.crossJoin(broadcast(tot))
        .withColumn("mm", expr("t * 1000000 div nd"))
        .withColumn("cum",
          sum(col("cnt") * lit(1000000L) - col("mm"))
            .over(Window.orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val top = cum
        .select(col("d").as("change_day"), abs(col("cum")).as("cum_abs_micro"))
        .orderBy(desc("cum_abs_micro"), asc("change_day"))
        .limit(1)
      daily.crossJoin(broadcast(top))
        .groupBy(col("change_day"), col("cum_abs_micro"))
        .agg(
          count(lit(1)).as("n_days"),
          sum(when(col("d") <= col("change_day"), col("cnt"))
            .otherwise(0L)).as("s_pre"),
          count(when(col("d") <= col("change_day"), 1)).as("n_pre"),
          sum(when(col("d") > col("change_day"), col("cnt"))
            .otherwise(0L)).as("s_post"),
          count(when(col("d") > col("change_day"), 1)).as("n_post"))
        .select(col("change_day"), col("n_days"), col("cum_abs_micro"),
          expr("CASE WHEN n_pre = 0 THEN -1 " +
            "ELSE s_pre * 1000000 div n_pre END").as("mean_pre_micro"),
          expr("CASE WHEN n_post = 0 THEN -1 " +
            "ELSE s_post * 1000000 div n_post END").as("mean_post_micro"))
    }),

    // Sorted-neighborhood record linkage (Hernandez/Stolfo 1995):
    // records sorted by a composite blocking key (name|brand|type),
    // each compared only to its next 3 neighbors in the total order —
    // O(n·w) comparisons instead of O(n²). Positions come from the
    // deterministic range-sort machinery (no one-reducer window); the
    // neighbor pairing is an EQUI join on pos+offset (offsets
    // exploded), so no non-equi join anywhere. levenshtein is
    // integer DP — cross-engine exact.
    "q_sorted_neighborhood" -> ((s, dir) =>
      snPairs(s, dir, maxLev = 4)
        .orderBy(asc("pk_a"), asc("pk_b"))),

    // Entity resolution: the sorted-neighborhood MATCH pairs (tighter
    // lev <= 2) closed into entities via distributed connected
    // components (min-label propagation, ops/ConnectedComponents) —
    // the linkage-to-golden-record step of a dedup pipeline. The
    // oracle replays the closure as a DuckDB recursive CTE, so the
    // iterative component algorithm itself is hash-checked, not just
    // rows-counted. Output: one row per entity (canonical = min key).
    "q_entity_resolution" -> ((s, dir) => {
      val pairs = snPairs(s, dir, maxLev = 2).select(col("pk_a"), col("pk_b"))
      val comps = graft.ops.ConnectedComponents
        .components(pairs, "pk_a", "pk_b")
      comps.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
        .orderBy(asc("component"))
    }),

    // Gini coefficient of customer revenue concentration — the
    // "how skewed is this corpus/source" audit. Ranks come from the
    // deterministic range sort (ascending, custkey ties); the
    // textbook Gini = (2 Σ i·x_i)/(n Σx) − (n+1)/n collapses to ONE
    // nonneg floor division in DECIMAL(38,0)/HUGEINT (Chebyshev's sum
    // inequality makes the numerator nonneg for an ascending sort).
    "q_gini" -> ((s, dir) => {
      val x = orders(s, dir).groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("x"))
      val pos = graft.ops.Shuffle.positionsBy(x, Seq("x", "o_custkey"), "pos")
      pos.agg(count(lit(1)).as("n"), sum(col("x")).as("tot"),
          sum(expr("CAST(pos + 1 AS DECIMAL(38,0)) * x")).as("ix"))
        .select(col("n").as("n_customers"), col("tot").as("total_cents"),
          expr("CAST((2 * ix - CAST(n + 1 AS DECIMAL(38,0)) * tot) * 10000" +
            " DIV (CAST(n AS DECIMAL(38,0)) * tot) AS BIGINT)").as("gini_bp"))
    }),

    // Robust outlier detection via median/MAD on the integer milli
    // grid — the GLOBAL single-column path (complement of
    // q_anomaly_mad, which is per-user grouped over bounded daily
    // counts): both medians are the ⌈n/2⌉-th SMALLEST DATA VALUE
    // (rank-selected through the range-sort machinery — a data value
    // compares exactly in any engine; never an interpolated
    // quantile), outlier = deviation > 3×MAD by integer compare.
    // Two parallel rank selections + one aggregate — no one-reducer
    // window anywhere.
    "q_outliers_mad" -> ((s, dir) => {
      val v = events(s, dir).select(col("event_id"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      val nDf = v.agg(count(lit(1)).as("n"))
      val med = graft.ops.Shuffle.positionsBy(v, Seq("vm", "event_id"), "p")
        .crossJoin(broadcast(nDf))
        .where(expr("p = (n + 1) div 2 - 1"))
        .select(col("vm").as("med"))
      val dev = v.crossJoin(broadcast(med))
        .select(col("event_id"), abs(col("vm") - col("med")).as("dev"),
          col("med"))
      val mad = graft.ops.Shuffle.positionsBy(
          dev.select(col("event_id"), col("dev")), Seq("dev", "event_id"), "p")
        .crossJoin(broadcast(nDf))
        .where(expr("p = (n + 1) div 2 - 1"))
        .select(col("dev").as("mad"))
      dev.crossJoin(broadcast(mad))
        .groupBy(col("med").as("median_milli"), col("mad").as("mad_milli"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          max(col("dev")).as("max_dev_milli"))
    }),

    // Benford first-digit audit of order totals — the classic
    // fabricated-data screen for ingested numeric columns. Expected
    // frequencies floor(1e4·log10(1+1/d)) are JVM-computed ONCE and
    // embedded as the same literals in both engines (the ndcg-weights
    // pattern); observed shares are nonneg floor divs, and the delta
    // is a SUBTRACTION of two integers (sign-safe without the shift
    // trick).
    "q_benford" -> ((s, dir) => {
      val c = orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .where(col("cents") > 0)
      val t = c.agg(count(lit(1)).as("t"))
      c.select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(t))
        .select(col("digit"), col("n_orders"),
          expr("n_orders * 10000 div t").as("obs_bp"),
          element_at(typedLit(benfordBp), col("digit").cast("int"))
            .as("exp_bp"))
        .withColumn("delta_bp", col("obs_bp") - col("exp_bp"))
        .orderBy(asc("digit"))
    }),

    // Integer-exact EWMA smoothing of the daily event-count series
    // (alpha = 1/8): s_t = s_{t-1} + trunc((x_t·1e6 − s_{t-1}) / 8).
    // The DAILY aggregate is distributed; the recursion runs driver-
    // side over the calendar-bounded frame (the isotonic-PAV
    // precedent) with JVM long division, which TRUNCATES toward zero
    // — exactly like DuckDB's integer `//` on BIGINT (measured:
    // (-5)//8 = 0, not -1; the flooring-`//` rule in the build notes
    // applies to HUGEINT/DOUBLE expressions, not BIGINT//BIGINT) —
    // so the oracle's recursive-CTE replay matches on negative
    // residuals too. Residual = x·1e6 − s is a sign-safe integer
    // subtraction.
    "q_ewma_smooth" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val rows = daily.collect() // bounded: calendar days
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      graft.ops.Smoothing.ewma(rows, alphaDen = 8L)
        .toDF("d", "cnt", "ewma_micro", "resid_micro").orderBy(asc("d"))
    }),

    // Holt double-exponential (level + trend) forecast over the daily
    // event counts — the trend-aware upgrade of q_ewma_smooth, same
    // recipe: ONE distributed daily aggregate, then the coupled
    // level/trend recursion driver-side on the integer micro grid
    // (ops.Smoothing.holt; signed truncating division ≡ DuckDB BIGINT
    // `//`), replayed by the oracle as a two-state recursive CTE.
    // err_micro is the 1-step-ahead forecast error the monitoring
    // alert would fire on.
    "q_holt_forecast" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val rows = daily.collect() // bounded: calendar days
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      graft.ops.Smoothing.holt(rows, alphaDen = 8L, betaDen = 4L)
        .toDF("d", "cnt", "level_micro", "trend_micro", "forecast_micro",
          "err_micro")
        .orderBy(asc("d"))
    }),

    // Holt–Winters additive seasonal forecast (ops/Smoothing
    // .holtWinters — the weekly-seasonality upgrade of
    // q_holt_forecast): level + trend + a period-7 seasonal array on
    // the integer micro grid, truncating signed division ≡ DuckDB
    // `//`. Distributed daily pre-aggregate, bounded driver
    // recursion; the oracle carries the seasonal LIST through a
    // recursive CTE and replays every step bit-for-bit.
    "q_hw_forecast" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val rows = daily.collect() // bounded: calendar days
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      graft.ops.Smoothing.holtWinters(rows, m = 7, alphaDen = 8L,
          betaDen = 4L, gammaDen = 8L)
        .toDF("d", "cnt", "level_micro", "trend_micro", "season_micro",
          "forecast_micro", "err_micro")
        .orderBy(asc("d"))
    }),

    // Split-conformal forecast intervals on the Holt–Winters
    // 1-step-ahead residuals (ops/Smoothing.conformalRadius): the
    // first 14 post-init steps calibrate, radius = the 12th-smallest
    // |residual| (⌈0.8·15⌉ → ≥80% coverage under exchangeability),
    // every later step gets forecast ± radius and a covered flag.
    // The radius is a rank-selected DATA VALUE — engine-exact, never
    // an interpolated quantile.
    "q_forecast_interval" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("cnt"))
      val rows = daily.collect() // bounded: calendar days
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      import s.implicits._
      val hw = graft.ops.Smoothing.holtWinters(rows, m = 7, alphaDen = 8L,
        betaDen = 4L, gammaDen = 8L)
      val calN = 14
      val out: Seq[(String, Long, Long, Long, Long, Long)] =
        if (hw.size <= 1 + calN) Seq.empty
        else {
          val radius = graft.ops.Smoothing.conformalRadius(
            hw.slice(1, 1 + calN).map(r => math.abs(r._7)), k = 12)
          hw.drop(1 + calN).map { case (d, x, _, _, _, f, e) =>
            (d, x, f, f - radius, f + radius,
              if (math.abs(e) <= radius) 1L else 0L)
          }
        }
      out.toDF("d", "cnt", "forecast_micro", "lo_micro", "hi_micro",
          "covered")
        .orderBy(asc("d"))
    }),

    // Log-rank test between two md5-coin cohorts on time-to-first-
    // purchase (right-censored at the corpus horizon) — the
    // hypothesis test that pairs with q_kaplan_meier's estimator.
    // Per event time: observed-minus-expected deaths in arm A and the
    // hypergeometric variance, each floored ONCE to integer micro
    // from one identically-shaped double expression (the divergence-
    // aggregate rule), then integer-summed; risk sets come from
    // cumulative windows over the bounded hour axis (an aggregated
    // frame, never the corpus). chi2 = U²·1000/V runs in
    // DECIMAL(38,0) (U² can exceed a long).
    "q_logrank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      val gm = ev.agg(max(col("us")).as("h"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("us")).as("t0"),
          min(when(col("event_type") === "purchase", col("us"))).as("tp"))
        .crossJoin(broadcast(gm))
        .select(
          when(expr("CAST(conv(substring(md5(concat('lr|', " +
            "CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2 = 0"),
            lit("A")).otherwise(lit("B")).as("arm"),
          when(col("tp").isNotNull, expr("(tp - t0) div 3600000000"))
            .otherwise(expr("(h - t0) div 3600000000")).as("t"),
          when(col("tp").isNotNull, 1L).otherwise(0L).as("death"))
      val byT = perUser.groupBy(col("t")).agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ne1"),
        sum(when(col("arm") === "A", col("death")).otherwise(0L)).as("d1"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("ne2"),
        sum(when(col("arm") === "B", col("death")).otherwise(0L)).as("d2"))
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byT
        .withColumn("n1", sum(col("ne1")).over(wAll)
          - coalesce(sum(col("ne1")).over(wCum), lit(0L)))
        .withColumn("n2", sum(col("ne2")).over(wAll)
          - coalesce(sum(col("ne2")).over(wCum), lit(0L)))
        .withColumn("d", col("d1") + col("d2"))
        .withColumn("n", col("n1") + col("n2"))
        .where(col("d") > 0)
        .withColumn("term_micro", expr(
          "CAST(floor((d1 - d * n1 / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"))
        .withColumn("var_micro", expr(
          """CASE WHEN n > 1 THEN CAST(floor(d * (n1 / CAST(n AS DOUBLE))
             |  * (n2 / CAST(n AS DOUBLE))
             |  * ((n - d) / CAST(n - 1 AS DOUBLE)) * 1000000) AS BIGINT)
             |ELSE 0 END""".stripMargin))
        .agg(sum(col("term_micro")).as("u_micro"),
          sum(col("var_micro")).as("v_micro"))
        .select(col("u_micro"), col("v_micro"), expr(
          """CAST(CAST(u_micro AS DECIMAL(38,0)) * u_micro * 1000
             | div v_micro AS BIGINT)""".stripMargin).as("chi2_milli"))
    }),

    // Kaplan-Meier survival of per-user inter-event gaps (hours):
    // every inner gap is an observed "death" at its duration, the
    // gap from each user's LAST event to the corpus horizon is
    // right-CENSORED — the textbook renewal-process estimator. Gaps
    // come from ONE lag window over the high-cardinality user
    // partition; per-duration counts are one aggregate over the
    // calendar-bounded hour axis; the product-limit recursion
    // S ← (S·(n−d)) div n runs driver-side on the integer micro grid
    // (nonneg, so truncating JVM division ≡ DuckDB BIGINT `//`),
    // replayed by the oracle as a recursive CTE. A d=0 step
    // multiplies by n/n — an exact no-op — so the recursion runs
    // over every time point uniformly.
    "q_kaplan_meier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val gaps = ev
        .withColumn("prev", lag(col("us"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(expr("(us - prev) div 3600000000").as("t"),
          lit(1L).as("death"))
      val gm = events(s, dir).agg(max(unix_micros(col("ts"))).as("h"))
      val cens = ev.groupBy(col("user_id")).agg(max(col("us")).as("last"))
        .crossJoin(broadcast(gm))
        .select(expr("(h - last) div 3600000000").as("t"), lit(0L).as("death"))
      val byT = gaps.unionByName(cens).groupBy(col("t"))
        .agg(count(lit(1)).as("ne"), sum(col("death")).as("d"))
      val rows = byT.collect() // bounded: calendar-hour axis
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      import s.implicits._
      graft.ops.Survival.productLimit(rows)
        .toDF("t_hours", "n_at_risk", "n_deaths", "surv_micro")
        .orderBy(asc("t_hours"))
    }),

    // RFM customer segmentation (recency/frequency/monetary): each
    // metric scored 1..4 by equi-depth quartile of its deterministic
    // ascending rank — ONE melted range sort for all three metrics
    // (the ops/Winsorize idiom: global positions minus each metric's
    // start offset), never three windows. Segment = r·100+f·10+m;
    // output is the segment census with exact monetary sums.
    "q_rfm_segments" -> ((s, dir) => {
      val gmax = orders(s, dir).agg(max(col("o_orderdate")).as("gm"))
      val perCust = orders(s, dir).crossJoin(broadcast(gmax))
        .groupBy(col("o_custkey"))
        .agg(min(datediff(to_date(col("gm")), to_date(col("o_orderdate")))
            .cast("long")).as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("monetary_cents"))
        .localCheckpoint(true) // melted explode + final segment join
          // both consume it; un-checkpointed, the orders scan+agg ran
          // twice (no subtree reuse across consumers under AQE)
      val melted = perCust.select(col("o_custkey").as("id"),
        explode(map(
          lit("r"), col("recency_days"),
          lit("f"), col("frequency"),
          lit("m"), col("monetary_cents"))).as(Seq("dim", "v")))
      val pos = graft.ops.Shuffle.positionsBy(
          melted, Seq("dim", "v", "id"), "gpos")
        .localCheckpoint(true)
      val dims = pos.groupBy(col("dim"))
        .agg(min(col("gpos")).as("start"), count(lit(1)).as("n"))
      val scored = pos.join(broadcast(dims), Seq("dim"))
        .select(col("id"), col("dim"),
          (expr("(gpos - start) * 4 div n") + 1L).as("score"))
      val seg = scored.groupBy(col("id"))
        .agg(sum(when(col("dim") === "r", col("score") * 100L)
          .when(col("dim") === "f", col("score") * 10L)
          .otherwise(col("score"))).as("segment"))
      seg.join(perCust, seg("id") === perCust("o_custkey"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_cents")).as("sum_monetary_cents"))
        .orderBy(asc("segment"))
    }),

    // NDCG@10 retrieval eval per nation: predicted ranking = account
    // balance (desc), graded relevance = order count capped at 10.
    // Both rankings come from skew-free GroupRank (global range sort,
    // not a 25-key window); the log2 discount weights are JVM-
    // computed ONCE and embedded as the same literal integers in both
    // engines (floor(1e6/log2(i+1)) — never a per-engine libm log),
    // so DCG/IDCG are pure integer dot products and ndcg_bp is one
    // nonneg floor div.
    "q_ndcg" -> ((s, dir) => {
      val oc = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"))
      val base = customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation_key"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("nation_key"),
          (-col("bal")).as("neg_bal"),
          expr("least(coalesce(n_ord, 0), 10)").as("rel"))
      val pred = graft.ops.GroupRank.ranks(base, "nation_key",
          Seq("neg_bal"), "c_custkey")
        .withColumnRenamed("rank", "prank").drop("n_in_group")
      val both2 = graft.ops.GroupRank.ranks(
          pred.withColumn("neg_rel", -col("rel")), "nation_key",
          Seq("neg_rel"), "c_custkey")
        .withColumnRenamed("rank", "irank")
      val w = typedLit(ndcgWeights)
      both2.groupBy(col("nation_key"))
        .agg(
          sum(when(col("prank") <= 10,
            col("rel") * element_at(w, col("prank").cast("int")))
            .otherwise(0L)).as("dcg_micro"),
          sum(when(col("irank") <= 10,
            col("rel") * element_at(w, col("irank").cast("int")))
            .otherwise(0L)).as("idcg_micro"))
        .where(col("idcg_micro") > 0)
        .select(col("nation_key"), col("dcg_micro"), col("idcg_micro"),
          expr("dcg_micro * 10000 div idcg_micro").as("ndcg_bp"))
        .orderBy(asc("nation_key"))
    }),

    // Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    // Models Trained on Code"): per problem with n samples and c
    // correct, pass@k = 1 − C(n−c,k)/C(n,k) — the standard LLM-eval
    // estimator, EXACT here because the combinatorial ratio is a
    // product of ≤ k small integer factors: bp = 10000 −
    // Π(n−c−i)·10000 div Π(n−i) (n ≤ 13 keeps every product far
    // inside int64; nonneg quotients so truncating div ≡ //). Orders
    // play problems (suite = o_orderpriority), lineitems play samples,
    // "correct" = quantity > 25. Scale shape: one per-problem
    // aggregate, one orderkey join, one 5-group rollup — means emit
    // as floor-div of integer bp sums, never a float.
    "q_pass_at_k" -> ((s, dir) => {
      def passBp(k: Int): String = {
        val num = (0 until k).map(i => s"(n - c - $i)").mkString(" * ")
        val den = (0 until k).map(i => s"(n - $i)").mkString(" * ")
        s"CASE WHEN n - c < $k THEN 10000L ELSE 10000L - ($num) * 10000L div ($den) END"
      }
      val probs = lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("c"))
        .where(col("n") >= 4) // pass@k defined for n ≥ k; largest k = 4
      probs
        .join(orders(s, dir).select(col("o_orderkey"),
          col("o_orderpriority").as("suite")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("suite"), expr(passBp(1)).as("p1"),
          expr(passBp(2)).as("p2"), expr(passBp(4)).as("p4"))
        .groupBy(col("suite"))
        .agg(count(lit(1)).as("n_problems"),
          expr("sum(p1) div count(1)").as("pass1_bp"),
          expr("sum(p2) div count(1)").as("pass2_bp"),
          expr("sum(p4) div count(1)").as("pass4_bp"))
        .orderBy(asc("suite"))
    }),

    // Self-consistency maj@3 (Wang et al. 2022, "Self-Consistency
    // Improves Chain of Thought Reasoning"): the probability a
    // MAJORITY of 3 drawn samples is correct, hypergeometric over the
    // (n, c) pool — exact because C(c,2)C(n−c,1)/C(n,3) and
    // C(c,3)/C(n,3) reduce to small-integer products:
    // maj3_bp = (3·c(c−1)(n−c) + c(c−1)(c−2))·10000 div n(n−1)(n−2).
    // Contrasted against pass@3 (any-of-3) on the same problems —
    // the vote-vs-any gap is the self-consistency lift. Same scale
    // shape as q_pass_at_k (cross-ref).
    "q_maj_at_k" -> ((s, dir) => {
      val probs = lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("c"))
        .where(col("n") >= 3)
      val pass3 = "CASE WHEN n - c < 3 THEN 10000L ELSE 10000L - " +
        "(n - c) * (n - c - 1) * (n - c - 2) * 10000L div (n * (n - 1) * (n - 2)) END"
      val maj3 = "(3 * c * (c - 1) * (n - c) + c * (c - 1) * (c - 2)) " +
        "* 10000L div (n * (n - 1) * (n - 2))"
      probs
        .join(orders(s, dir).select(col("o_orderkey"),
          col("o_orderpriority").as("suite")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("suite"), expr(pass3).as("p3"), expr(maj3).as("m3"))
        .groupBy(col("suite"))
        .agg(count(lit(1)).as("n_problems"),
          expr("sum(p3) div count(1)").as("pass3_bp"),
          expr("sum(m3) div count(1)").as("maj3_bp"))
        .orderBy(asc("suite"))
    }),

    // Wilson-score LOWER-bound ranking — "rank by confidence-adjusted
    // rate": a 2-sample 100%-defect supplier must NOT outrank a
    // 200-sample 40% one, which raw-rate ranking gets wrong. The
    // parametric twin of q_halfsample_ci's resampling CI (cross-ref).
    // Inputs are exact integers (defects k, trials n); the bound is
    // ONE identically-shaped double chain (sqrt only — no libm ln)
    // floored ONCE to integer micros, and the ranking compares those
    // integers (ties by supplier) — the q_dimsum replayable class.
    "q_wilson_rank" -> ((s, dir) => {
      val z2 = "3.8416" // z² for 95% two-sided (z = 1.96)
      val agg = lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      val lo =
        s"""CAST(floor((
           |  (k / CAST(n AS DOUBLE) + $z2 / (2 * CAST(n AS DOUBLE))
           |   - 1.96 * sqrt((k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
           |                 + $z2 / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
           |  / (1 + $z2 / CAST(n AS DOUBLE))
           |) * 1000000) AS BIGINT)""".stripMargin
      val scored = agg.select(col("l_suppkey"), col("n"), col("k"),
        expr("k * 10000L div n").as("rate_bp"),
        expr(lo).as("wilson_lo_micro"))
      // TakeOrdered (bounded heap per partition) — no global window
      scored.orderBy(desc("wilson_lo_micro"), asc("l_suppkey")).limit(20)
    }),

    // Cohen's kappa — chance-corrected agreement between the langid
    // kernel and the declared label (the inter-annotator/labeling-QA
    // statistic that complements q_lang_confusion's raw matrix).
    // kappa = (p_o - p_e)/(1 - p_e) computed as ONE integer fraction:
    // (n·agree - Σ r_i·c_i) / (n² - Σ r_i·c_i) over the tiny confusion
    // frame (≤ 6×6 cells — everything after the one distributed
    // aggregate is broadcast-sized). kappa can be NEGATIVE (worse than
    // chance), so the bp emit uses the signed shift-div trick; BIGINT
    // holds to n ≈ 3e7 docs — shift both engines to DECIMAL(38,0)
    // beyond that.
    "q_kappa" -> ((s, dir) => {
      val cm = documents(s, dir)
        .select(col("lang"),
          graft.functions.LangIdExpr.langId(s, col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // tiny; 3 consumers below
      val tot = cm.agg(sum(col("n")).as("n_total"),
        sum(when(col("lang") === col("lang_pred"), col("n")).otherwise(0L))
          .as("n_agree"))
      val r = cm.groupBy(col("lang").as("cls")).agg(sum(col("n")).as("r"))
      val c = cm.groupBy(col("lang_pred").as("cls")).agg(sum(col("n")).as("c"))
      val rc = r.join(c, Seq("cls"), "full_outer")
        .agg(sum(coalesce(col("r"), lit(0L)) * coalesce(col("c"), lit(0L)))
          .as("sum_rc"))
      tot.crossJoin(rc).select(col("n_total"), col("n_agree"), col("sum_rc"),
        expr("""(10000 * (n_total * n_agree - sum_rc)
                 + 100000 * (n_total * n_total - sum_rc))
                div (n_total * n_total - sum_rc) - 100000""").as("kappa_bp"))
    }),

    // PPS (probability-proportional-to-size) Bernoulli sample of
    // orders by price + the Horvitz-Thompson total estimator — the
    // survey-sampling primitive behind "estimate corpus totals from a
    // weighted sample". Inclusion prob pi_i = min(1, k·w_i/T); the
    // draw is the deterministic 52-bit md5 coin compared in ONE fixed
    // IEEE op order that the oracle mirrors literally (u·T < k·w·2^52
    // — identical doubles, identical rounding both engines). The HT
    // term w_i/pi_i is T div k exactly for every uncapped row and w_i
    // for capped rows, so the estimate is an exact integer sum. One
    // scan + one grand-total broadcast; nothing sorts.
    "q_pps_estimate" -> ((s, dir) => {
      val k = 200L
      val w = orders(s, dir).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("w"))
      val tot = w.agg(sum(col("w")).as("t"), count(lit(1)).as("n_pop"))
      val u = conv(substring(md5(concat(lit("pps|"),
        col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("double")
      w.crossJoin(broadcast(tot))
        .where(u * col("t").cast("double") <
          (col("w") * lit(k)).cast("double") * lit(4503599627370496.0))
        .agg(max(col("n_pop")).as("n_pop"), max(col("t")).as("total_cents"),
          count(lit(1)).as("n_sampled"),
          sum(when(col("w") * lit(k) >= col("t"), col("w"))
            .otherwise(expr(s"t div $k"))).as("ht_estimate_cents"))
        .select(col("n_pop"), col("total_cents"), col("n_sampled"),
          col("ht_estimate_cents"),
          expr("ht_estimate_cents * 10000 div total_cents").as("est_bp"))
    }),

    // Distribution matching by rejection sampling: downsample every
    // doc-length bucket to the SMALLEST bucket's expected count (the
    // length/quality rebalancing step before training mixes).
    // Acceptance is Bernoulli with p = m/count(bucket) on the
    // deterministic md5 coin — scan-stage, zero shuffle beyond the
    // two tiny count aggregates, and the same fixed-op-order double
    // compare as q_pps_estimate (u·cnt < m·2^52; m·2^52 is a power-
    // of-two product, exact in a double).
    "q_dist_match" -> ((s, dir) => {
      val bucket = expr(
        """CASE WHEN n_chars < 200 THEN 'xs' WHEN n_chars < 400 THEN 's'
                WHEN n_chars < 600 THEN 'm' WHEN n_chars < 800 THEN 'l'
                ELSE 'xl' END""")
      val d = documents(s, dir).select(col("doc_id"), bucket.as("bucket"))
      val counts = d.groupBy(col("bucket")).agg(count(lit(1)).as("n_before"))
      val m = counts.agg(min(col("n_before")).as("m"))
      val u = conv(substring(md5(concat(lit("dm|"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("double")
      d.join(broadcast(counts), Seq("bucket"))
        .crossJoin(broadcast(m))
        .where(u * col("n_before").cast("double") <
          col("m").cast("double") * lit(4503599627370496.0))
        .groupBy(col("bucket"))
        .agg(max(col("n_before")).as("n_before"), max(col("m")).as("target"),
          count(lit(1)).as("n_accepted"))
        .orderBy(asc("bucket"))
    }),

    // Bradley-Terry preference strengths (the RLHF reward-comparison
    // model) from ship-speed "duels": within an order, the brand of
    // an earlier-shipping line beats the brand of a later-shipping
    // one. The pairwise win aggregate is the distributed half (self
    // equi-join bounded by order size, one shuffle); the item set is
    // the ~25 brands, so the 3 fixed MM iterations run driver-side
    // on the integer micro grid (ops.BradleyTerry) and the oracle
    // unrolls the same iterations as plain CTEs — hash-exact.
    "q_bradley_terry" -> ((s, dir) => {
      val lb = lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          col("l_shipdate").as("sd"))
        .join(broadcast(part(s, dir).select(col("p_partkey").as("pk"),
          col("p_brand").as("brand"))), "pk")
        .select(col("ok"), col("brand"), col("sd"))
      val wins = lb.as("x")
        .join(lb.as("y"), col("x.ok") === col("y.ok") &&
          col("x.sd") < col("y.sd") && col("x.brand") =!= col("y.brand"))
        .groupBy(col("x.brand").as("wi"), col("y.brand").as("lo"))
        .agg(count(lit(1)).as("w"))
      val rows = wins.collect() // bounded: brand x brand
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      import s.implicits._
      graft.ops.BradleyTerry.ratings(rows, iters = 3)
        .toDF("brand", "wins", "n_matches", "rating_micro")
        .orderBy(asc("brand"))
    }),

    // Clipped n-gram precision (the BLEU modified-precision core)
    // between pipeline stages: hypothesis = the PII-scrubbed planted
    // text, reference = the original — "how much text did the
    // cleaning stage preserve", the stage-diff eval every corpus
    // rewrite should report. Per-(doc, gram) counts clip at the
    // reference count; corpus precision is an exact integer ratio in
    // bp. Bigrams build from ONE materialized token array per side
    // (element_at on an attribute is O(1)); everything aggregates in
    // two (doc,gram)-keyed shuffles per order.
    "q_ngram_precision" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val urlRe = "https?://[^\\s]+"
      val planted = spread(documents(s, dir)).select(col("doc_id"),
        col("text"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" see https://example.org/doc/"), col("doc_id"),
              lit(" page"))).otherwise(lit(""))).as("ptext"))
      val scrubbed = regexp_replace(
        regexp_replace(col("ptext"), urlRe, "<URL>"), emailRe, "<EMAIL>")
      def toks(c: Column) = split(trim(lower(c)), "\\s+")
      val base = planted
        .select(col("doc_id"), toks(scrubbed).as("h"), toks(col("text")).as("r"))
      def bigrams(a: Column) = when(size(a) >= 2,
        transform(sequence(lit(1), size(a) - 1),
          i => concat_ws(" ", element_at(a, i), element_at(a, i + 1))))
        .otherwise(array().cast("array<string>"))
      // ONE tagged aggregate replaces the former 4 explode branches ×
      // 2 per-(doc, gram) aggregates × join-then-global-agg per order
      // (plus the checkpoint those 4 consumers needed): every gram —
      // hyp/ref, order 1/2 — rides a single Generate as
      // (order, xxhash64(gram), hc, rc), one hash aggregate counts
      // both sides per (doc, order, gram) (ref-only grams contribute
      // hc = 0, so clip = Σ min(hc, rc) is unchanged — the old LEFT
      // join semantics), and one tiny grouped rollup + 1-row pivot
      // emit the same six columns. Gram keys hash to longs at build
      // (the inverted-index rule: never shuffle gram STRINGS; a
      // collision would merge two grams within one doc's counts,
      // P ≈ grams²/2⁶⁵ ≈ 1e-11, instantly visible to the oracle hash).
      def tag(arr: Column, n: Int, isHyp: Boolean) =
        transform(arr, g => struct(lit(n).as("n"), xxhash64(g).as("g"),
          lit(if (isHyp) 1L else 0L).as("hc"),
          lit(if (isHyp) 0L else 1L).as("rc")))
      val counts = base.select(col("doc_id"), explode(concat(
          tag(col("h"), 1, isHyp = true), tag(col("r"), 1, isHyp = false),
          tag(bigrams(col("h")), 2, isHyp = true),
          tag(bigrams(col("r")), 2, isHyp = false))).as("t"))
        .groupBy(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
        .agg(sum(col("t.hc")).as("hc"), sum(col("t.rc")).as("rc"))
      counts.groupBy(col("n"))
        .agg(sum(col("hc")).as("hyp"),
          sum(least(col("hc"), col("rc"))).as("clip"))
        .agg(
          max(when(col("n") === 1, col("hyp"))).as("hyp_1grams"),
          max(when(col("n") === 1, col("clip"))).as("clip_1grams"),
          max(when(col("n") === 1, expr("clip * 10000 div hyp")))
            .as("p1_bp"),
          max(when(col("n") === 2, col("hyp"))).as("hyp_2grams"),
          max(when(col("n") === 2, col("clip"))).as("clip_2grams"),
          max(when(col("n") === 2, expr("clip * 10000 div hyp")))
            .as("p2_bp"))
    }),

    // Hard-negative mining (contrastive-training data prep): per
    // query embedding, the 5 most cosine-similar corpus vectors with
    // a DIFFERENT label — filter-then-rank through the bounded-heap
    // TopK (similarity/Similarity.hardNegatives), corpus scanned
    // once, queries broadcast.
    "q_hard_negatives" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("ql"))
      graft.similarity.Similarity.hardNegatives(
          emb, "embedding", "vec_id", "label", qs, "qe", "qid", "ql", 5)
        .orderBy(asc("query_id"), asc("rk"))
    }))

  /** q_kcore oracle: the peeling loop UNROLLED as `nLayers` generated
    * CTE layers (each = one degree aggregate + the two survivor
    * joins, AS MATERIALIZED so DuckDB evaluates each layer once
    * instead of inlining the whole chain per reference). The survivor
    * set shrinks monotonically, so an unchanged count IS the fixpoint
    * — exactly ops/KCore.core's stop rule — and the CASE chain reads
    * (rounds, core nodes, core edges) off the first repeated count;
    * layers past the fixpoint reproduce it verbatim, so any
    * `rounds < nLayers` replay is exact. */
  private def kcoreSql(k: Int, nLayers: Int): String = {
    val layers = (1 to nLayers).map { t =>
      val p = t - 1
      s"""k$t AS MATERIALIZED (SELECT node FROM (
         |    SELECT src AS node FROM e$p
         |    UNION ALL SELECT dst AS node FROM e$p) u
         |  GROUP BY node HAVING count(*) >= $k),
         |e$t AS MATERIALIZED (SELECT e.src, e.dst FROM e$p e
         |  JOIN k$t a ON e.src = a.node JOIN k$t b ON e.dst = b.node)"""
        .stripMargin
    }.mkString(",\n")
    val stats = "st AS (SELECT " + (1 to nLayers).map(t =>
      s"(SELECT count(*) FROM k$t) AS n$t, " +
        s"(SELECT count(*) FROM e$t) AS m$t").mkString(", ") + ")"
    val rounds = "CASE WHEN n1 = 0 THEN 0 " + (2 to nLayers).map(t =>
      s"WHEN n$t = 0 OR n$t = n${t - 1} THEN ${t - 1}").mkString(" ") +
      s" ELSE $nLayers END"
    val nodes = "CASE WHEN n1 = 0 THEN 0 " + (2 to nLayers).map(t =>
      s"WHEN n$t = 0 THEN 0 WHEN n$t = n${t - 1} THEN n${t - 1}")
      .mkString(" ") + s" ELSE n$nLayers END"
    val edges = "CASE WHEN n1 = 0 THEN 0 " + (2 to nLayers).map(t =>
      s"WHEN n$t = 0 THEN 0 WHEN n$t = n${t - 1} THEN m${t - 1}")
      .mkString(" ") + s" ELSE m$nLayers END"
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (SELECT x.pk AS src, y.pk AS dst
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |$layers,
       |$stats
       |SELECT $k AS k, ($nodes)::BIGINT AS n_core_nodes,
       |  ($edges)::BIGINT AS n_core_edges, ($rounds) AS rounds
       |FROM st""".stripMargin
  }

  /** q_ktruss oracle: the support peel UNROLLED as `nLayers` generated
    * materialized CTE layers. Each layer enumerates the surviving
    * graph's triangles once (canonical x<y<z via the three-edge join),
    * explodes them onto their edges, and keeps edges with support
    * >= k-2 (edges in no triangle vanish via the inner join — support
    * 0 < k-2). The edge count shrinks monotonically, so `rounds` reads
    * off its first repeat; layers past the fixpoint reproduce it
    * verbatim, so the FINAL layer is the truss and node/edge counts
    * come straight from it. */
  private def ktrussSql(k: Int, nLayers: Int): String = {
    val km2 = k - 2
    val layers = (1 to nLayers).map { t =>
      val p = t - 1
      s"""tri$t AS MATERIALIZED (
         |  SELECT a.src AS x, a.dst AS y, b.dst AS z
         |  FROM e$p a JOIN e$p b ON b.src = a.src AND b.dst > a.dst
         |  JOIN e$p c ON c.src = a.dst AND c.dst = b.dst),
         |e$t AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT x AS src, y AS dst FROM tri$t
         |    UNION ALL SELECT x, z FROM tri$t
         |    UNION ALL SELECT y, z FROM tri$t)
         |  GROUP BY 1, 2 HAVING count(*) >= $km2)""".stripMargin
    }.mkString(",\n")
    val stats = "st AS (SELECT (SELECT count(*) FROM e0) AS m0, " +
      (1 to nLayers).map(t =>
        s"(SELECT count(*) FROM e$t) AS m$t").mkString(", ") + ")"
    val rounds = "CASE WHEN m0 = 0 THEN 0 " + (1 to nLayers).map(t =>
      s"WHEN m$t = m${t - 1} THEN ${t - 1} WHEN m$t = 0 THEN $t")
      .mkString(" ") + s" ELSE $nLayers END"
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (SELECT x.pk AS src, y.pk AS dst
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |$layers,
       |$stats
       |SELECT $k AS k,
       |  (SELECT count(DISTINCT node) FROM (
       |    SELECT src AS node FROM e$nLayers
       |    UNION ALL SELECT dst FROM e$nLayers))::BIGINT AS n_truss_nodes,
       |  (SELECT count(*) FROM e$nLayers)::BIGINT AS n_truss_edges,
       |  ($rounds) AS rounds
       |FROM st""".stripMargin
  }

  /** q_vopt_histogram oracle: the v-optimal DP replayed exactly —
    * integer cells via nonneg `//`, a materialized (i,j) SSE matrix
    * from the same floored-once IEEE chain the driver uses, `b`
    * unrolled DP layers with the packed `cost·(m+1)+i` argmin (ties to
    * the smaller split), then a backtrack chain reading the chosen
    * boundaries. */
  private def voptSql(m: Int, b: Int): String = {
    val m1 = m + 1
    val layers = (2 to b).map { bb =>
      val p = bb - 1
      s"""dp$bb AS MATERIALIZED (
         |  SELECT cm.j, min(d.cost + cm.c)::BIGINT AS cost,
         |    arg_min(d.j, (d.cost + cm.c) * $m1 + d.j)::BIGINT AS arg
         |  FROM dp$p d JOIN cmat cm ON cm.i = d.j
         |  GROUP BY cm.j)""".stripMargin
    }.mkString(",\n")
    val backs = (b - 1 to 1 by -1).map { bb =>
      s"""bk$bb AS (SELECT d.j, d.arg AS i FROM dp$bb d
         |  JOIN bk${bb + 1} u ON d.j = u.i)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to b).map(bb =>
      s"SELECT $bb AS bucket, i, j FROM bk$bb").mkString("\n  UNION ALL ")
    s"""WITH vals AS MATERIALIZED (
       |  SELECT floor(o_totalprice)::BIGINT AS v FROM orders),
       |s AS MATERIALIZED (
       |  SELECT min(v) AS lo, ((max(v) - min(v)) // $m + 1) AS w FROM vals),
       |cells AS MATERIALIZED (
       |  SELECT (v - s.lo) // s.w AS cell, count(*)::BIGINT AS n,
       |    sum(v)::BIGINT AS a, sum(v*v)::BIGINT AS q
       |  FROM vals, s GROUP BY 1),
       |pre AS MATERIALIZED (
       |  SELECT g.i,
       |    coalesce((SELECT sum(n) FROM cells WHERE cell < g.i), 0)::BIGINT AS n,
       |    coalesce((SELECT sum(a) FROM cells WHERE cell < g.i), 0)::BIGINT AS a,
       |    coalesce((SELECT sum(q) FROM cells WHERE cell < g.i), 0)::BIGINT AS q
       |  FROM range(0, $m1) g(i)),
       |cmat AS MATERIALIZED (
       |  SELECT pi.i, pj.i AS j,
       |    (CASE WHEN pj.n - pi.n = 0 THEN 0
       |      ELSE floor((pj.q - pi.q)::DOUBLE - (pj.a - pi.a)::DOUBLE
       |        * (pj.a - pi.a)::DOUBLE / (pj.n - pi.n)::DOUBLE)::BIGINT
       |      END) AS c
       |  FROM pre pi JOIN pre pj ON pi.i <= pj.i),
       |dp1 AS MATERIALIZED (
       |  SELECT j, c::BIGINT AS cost, 0::BIGINT AS arg
       |  FROM cmat WHERE i = 0),
       |$layers,
       |bk$b AS (SELECT j, arg AS i FROM dp$b WHERE j = $m),
       |$backs,
       |out AS (
       |  $outs)
       |SELECT o.bucket::BIGINT AS bucket,
       |  (s.lo + o.i * s.w)::BIGINT AS lo_edge,
       |  (s.lo + o.j * s.w)::BIGINT AS hi_edge,
       |  (pj.n - pi.n)::BIGINT AS n_rows, cm.c::BIGINT AS sse_int
       |FROM out o JOIN pre pi ON pi.i = o.i JOIN pre pj ON pj.i = o.j
       |JOIN cmat cm ON cm.i = o.i AND cm.j = o.j, s
       |ORDER BY bucket""".stripMargin
  }

  /** q_changepoints oracle: the Bellman segmentation DP replayed on
    * week cells — same layer/backtrack machinery as [[voptSql]], with
    * prefix n = cell index (every week is one cell) and a fixed 2²⁰
    * pack multiplier (the week count is data-dependent but far below
    * it; any multiplier > m preserves the (cost, i) tie order). */
  private def changepointSql(k: Int): String = {
    val pack = 1048576 // 2^20 > any week-cell count here
    val layers = (2 to k).map { bb =>
      val p = bb - 1
      s"""dp$bb AS MATERIALIZED (
         |  SELECT cm.j, min(d.cost + cm.c)::BIGINT AS cost,
         |    arg_min(d.j, (d.cost + cm.c) * $pack + d.j)::BIGINT AS arg
         |  FROM dp$p d JOIN cmat cm ON cm.i = d.j
         |  GROUP BY cm.j)""".stripMargin
    }.mkString(",\n")
    val backs = (k - 1 to 1 by -1).map { bb =>
      s"""bk$bb AS (SELECT d.j, d.arg AS i FROM dp$bb d
         |  JOIN bk${bb + 1} u ON d.j = u.i)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to k).map(bb =>
      s"SELECT $bb AS segment, i, j FROM bk$bb").mkString("\n  UNION ALL ")
    s"""WITH wk AS MATERIALIZED (
       |  SELECT (o_orderdate::DATE - DATE '1970-01-01') // 7 AS w,
       |    count(*)::BIGINT AS c
       |  FROM orders GROUP BY 1),
       |s AS MATERIALIZED (
       |  SELECT min(w) AS lo, (max(w) - min(w) + 1)::BIGINT AS m FROM wk),
       |grid AS MATERIALIZED (
       |  SELECT unnest(generate_series(0, (SELECT m FROM s)))::BIGINT AS i),
       |pre AS MATERIALIZED (
       |  SELECT g.i, g.i::BIGINT AS n,
       |    coalesce((SELECT sum(c) FROM wk, s WHERE wk.w - s.lo < g.i),
       |      0)::BIGINT AS a,
       |    coalesce((SELECT sum(c*c) FROM wk, s WHERE wk.w - s.lo < g.i),
       |      0)::BIGINT AS q
       |  FROM grid g),
       |cmat AS MATERIALIZED (
       |  SELECT pi.i, pj.i AS j,
       |    (CASE WHEN pj.n - pi.n = 0 THEN 0
       |      ELSE floor((pj.q - pi.q)::DOUBLE - (pj.a - pi.a)::DOUBLE
       |        * (pj.a - pi.a)::DOUBLE / (pj.n - pi.n)::DOUBLE)::BIGINT
       |      END) AS c
       |  FROM pre pi JOIN pre pj ON pi.i <= pj.i),
       |dp1 AS MATERIALIZED (
       |  SELECT j, c::BIGINT AS cost, 0::BIGINT AS arg
       |  FROM cmat WHERE i = 0),
       |$layers,
       |bk$k AS (SELECT j, arg AS i FROM dp$k
       |  WHERE j = (SELECT m FROM s)),
       |$backs,
       |out AS (
       |  $outs)
       |SELECT o.segment::BIGINT AS segment,
       |  (s.lo + o.i)::BIGINT AS lo_week, (s.lo + o.j)::BIGINT AS hi_week,
       |  (o.j - o.i)::BIGINT AS n_weeks,
       |  (pj.a - pi.a)::BIGINT AS total_rows, cm.c::BIGINT AS sse_int
       |FROM out o JOIN pre pi ON pi.i = o.i JOIN pre pj ON pj.i = o.j
       |JOIN cmat cm ON cm.i = o.i AND cm.j = o.j, s
       |ORDER BY segment""".stripMargin
  }

  /** q_isotonic oracle: PAV unrolled as `nLayers` generated CTE
    * layers, each merging the LEFTMOST adjacent violating pool pair
    * (exact integer cross-multiply test on (pos, n) pool states) —
    * valid because the PAV fit is unique under ANY adjacent-violator
    * merge order, so the layer rule need not mirror the driver
    * stack's. Layers past the fixpoint are no-ops; bins map to their
    * pool (greatest pool key ≤ bin) via ASOF join. */
  private def isotonicSql(nLayers: Int): String = {
    val layers = (1 to nLayers).map { t =>
      val p = t - 1
      s"""p$t AS MATERIALIZED (
         |  SELECT k, n, pos,
         |    lag(k) OVER (ORDER BY k) AS pk,
         |    lag(n) OVER (ORDER BY k) AS pn,
         |    lag(pos) OVER (ORDER BY k) AS ppos
         |  FROM s$p),
         |v$t AS MATERIALIZED (
         |  SELECT min(pk) AS mk FROM p$t WHERE ppos * n > pos * pn),
         |s$t AS MATERIALIZED (
         |  SELECT k, n, pos FROM p$t, v$t
         |  WHERE mk IS NULL OR (k <> mk AND (pk IS NULL OR pk <> mk))
         |  UNION ALL
         |  SELECT mk AS k, pn + n AS n, ppos + pos AS pos FROM p$t, v$t
         |  WHERE mk IS NOT NULL AND pk = mk)""".stripMargin
    }.mkString(",\n")
    s"""WITH b0 AS MATERIALIZED (
       |  SELECT floor(o_totalprice * 100)::BIGINT // 5000000 AS bin,
       |    count(*)::BIGINT AS n,
       |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
       |      AS pos
       |  FROM orders GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT bin AS k, n, pos FROM b0),
       |$layers
       |SELECT b.bin, b.n, b.pos, (b.pos * 10000 // b.n)::BIGINT AS rate_bp,
       |  (p.pos * 10000 // p.n)::BIGINT AS fitted_bp
       |FROM b0 b ASOF JOIN s$nLayers p ON p.k <= b.bin
       |ORDER BY b.bin""".stripMargin
  }

  /** Shared copurchase-graph CTE prefix (li, e) used by the graph
    * oracles that need the weighted edge list. */
  private val copurchaseCte: String =
    """li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS MATERIALIZED (SELECT x.pk AS src, y.pk AS dst,
      |    count(*)::BIGINT AS w
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Unrolled Brandes replay (q_betweenness): forward layers carry
    * integer σ path counts, backward layers accumulate the micro-unit
    * dependency `(σ_v · (10⁶ + δ_w)) // σ_w` — all-integer, so the
    * replay is bit-exact (see ops/Betweenness). */
  private def brandesSql(nSources: Int, maxDepth: Int, k: Int): String = {
    val fwd = (1 to maxDepth).map { h =>
      s"""l$h AS MATERIALIZED (
         |  SELECT v.s, ed.b AS node, sum(v.sigma)::BIGINT AS sigma
         |  FROM l${h - 1} v JOIN ed ON ed.a = v.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} x
         |                    WHERE x.s = v.s AND x.node = ed.b)
         |  GROUP BY 1, 2),
         |v$h AS MATERIALIZED (
         |  SELECT s, node FROM v${h - 1}
         |  UNION ALL SELECT s, node FROM l$h)""".stripMargin
    }.mkString(",\n")
    val bwd = ((maxDepth - 1) to 1 by -1).map { h =>
      s"""b$h AS MATERIALIZED (
         |  SELECT v.s, v.node, v.sigma,
         |    coalesce(sum((v.sigma * (1000000 + w.delta)) // w.sigma),
         |      0)::BIGINT AS delta
         |  FROM l$h v
         |  LEFT JOIN ed ON ed.a = v.node
         |  LEFT JOIN b${h + 1} w ON w.s = v.s AND w.node = ed.b
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val allLayers = (1 to maxDepth)
      .map(h => s"SELECT s, node, delta FROM b$h")
      .mkString("\n  UNION ALL ")
    s"""WITH $copurchaseCte,
       |ed AS MATERIALIZED (
       |  SELECT src AS a, dst AS b FROM e
       |  UNION ALL SELECT dst, src FROM e),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |srcs AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  ORDER BY substring(md5(node::VARCHAR), 1, 13), node
       |  LIMIT $nSources),
       |l0 AS MATERIALIZED (SELECT node AS s, node, 1::BIGINT AS sigma
       |  FROM srcs),
       |v0 AS MATERIALIZED (SELECT s, node FROM l0),
       |$fwd,
       |b$maxDepth AS MATERIALIZED (
       |  SELECT s, node, sigma, 0::BIGINT AS delta FROM l$maxDepth),
       |$bwd,
       |alld AS (
       |  $allLayers),
       |bc AS (SELECT node, sum(delta)::BIGINT AS bc_micro,
       |    count(*)::BIGINT AS n_src
       |  FROM alld GROUP BY 1),
       |top AS (SELECT node, bc_micro, n_src FROM bc
       |  ORDER BY bc_micro DESC, node LIMIT $k)
       |SELECT row_number() OVER (ORDER BY bc_micro DESC, node)::BIGINT
       |    AS rk,
       |  node, bc_micro, n_src
       |FROM top ORDER BY rk""".stripMargin
  }

  /** Unrolled bounded Bellman-Ford replay (q_sssp): each round is one
    * relax CTE + one min-merge CTE; integer costs make every round
    * engine-exact (see ops/Sssp). */
  private def ssspSql(maxRounds: Int, k: Int): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT ed.b AS node, min(v.d + ed.cost)::BIGINT AS d
         |  FROM d${r - 1} v JOIN ed ON ed.a = v.node GROUP BY 1),
         |d$r AS MATERIALIZED (
         |  SELECT node, min(d)::BIGINT AS d FROM (
         |    SELECT node, d FROM d${r - 1}
         |    UNION ALL SELECT node, d FROM c$r) u
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseCte,
       |ed AS MATERIALIZED (
       |  SELECT src AS a, dst AS b, (1000000 // w)::BIGINT AS cost FROM e
       |  UNION ALL SELECT dst, src, (1000000 // w)::BIGINT FROM e),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |seed AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  ORDER BY substring(md5(node::VARCHAR), 1, 13), node LIMIT 1),
       |d0 AS MATERIALIZED (SELECT node, 0::BIGINT AS d FROM seed),
       |$rounds,
       |top AS (SELECT node, d FROM d$maxRounds ORDER BY d, node LIMIT $k)
       |SELECT row_number() OVER (ORDER BY d, node)::BIGINT AS rk,
       |  node, d AS dist_cost
       |FROM top ORDER BY rk""".stripMargin
  }

  /** Unrolled Luby replay (q_mis): per round, a priority CTE, a
    * local-minima winner CTE, and the deactivated remainder; the
    * md5 13-hex priorities and (p, node) tie-break are string
    * comparisons identical in both engines (see ops/Mis). The unroll
    * depth must cover the driver's maxRounds (the Truss rule — the
    * driver throws if it exhausts, so a deeper peel can't silently
    * diverge). */
  private def misSql(maxRounds: Int): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT node,
         |    substring(md5(node::VARCHAR || ':$r'), 1, 13) AS p
         |  FROM a${r - 1}),
         |w$r AS MATERIALIZED (
         |  SELECT v.node FROM p$r v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ed JOIN p$r w ON w.node = ed.b
         |    WHERE ed.a = v.node
         |      AND (w.p < v.p OR (w.p = v.p AND w.node < v.node)))),
         |a$r AS MATERIALIZED (
         |  SELECT node FROM a${r - 1}
         |  WHERE node NOT IN (SELECT node FROM w$r)
         |    AND node NOT IN (
         |      SELECT ed.b FROM ed JOIN w$r x ON x.node = ed.a))""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to maxRounds).map(r =>
      s"SELECT node, $r::BIGINT AS sel_round FROM w$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $copurchaseCte,
       |ed AS MATERIALIZED (
       |  SELECT src AS a, dst AS b FROM e
       |  UNION ALL SELECT dst, src FROM e),
       |a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM ed),
       |$rounds,
       |mis AS (
       |  $unioned)
       |SELECT node, sel_round FROM mis ORDER BY node""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q_betweenness" -> brandesSql(nSources = 4, maxDepth = 4, k = 20),
    "q_sssp" -> ssspSql(maxRounds = 6, k = 20),
    "q_mis" -> misSql(maxRounds = 12),
    "q_kcore" -> kcoreSql(k = 3, nLayers = 18),
    "q_ktruss" -> ktrussSql(k = 3, nLayers = 12),
    "q_vopt_histogram" -> voptSql(m = 24, b = 6),
    "q_changepoints" -> changepointSql(k = 5),
    "q_diameter_2sweep" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seed AS MATERIALIZED (
        |  SELECT node FROM nodes
        |  ORDER BY substring(md5(node::VARCHAR), 1, 13), node LIMIT 1),
        |w1 AS MATERIALIZED (
        |  WITH RECURSIVE r(node, d) AS (
        |    SELECT node, 0 FROM seed
        |    UNION
        |    SELECT CASE WHEN e.src = r.node THEN e.dst ELSE e.src END,
        |      r.d + 1
        |    FROM r JOIN e ON (e.src = r.node OR e.dst = r.node)
        |    WHERE r.d < 8)
        |  SELECT node, min(d) AS hop FROM r GROUP BY 1),
        |far AS MATERIALIZED (
        |  SELECT node, hop FROM w1 ORDER BY hop DESC, node LIMIT 1),
        |w2 AS MATERIALIZED (
        |  WITH RECURSIVE r2(node, d) AS (
        |    SELECT node, 0 FROM far
        |    UNION
        |    SELECT CASE WHEN e.src = r2.node THEN e.dst ELSE e.src END,
        |      r2.d + 1
        |    FROM r2 JOIN e ON (e.src = r2.node OR e.dst = r2.node)
        |    WHERE r2.d < 8)
        |  SELECT node, min(d) AS hop FROM r2 GROUP BY 1)
        |SELECT (SELECT node FROM seed)::BIGINT AS seed,
        |  (SELECT node FROM far)::BIGINT AS far_node,
        |  (SELECT hop FROM far)::BIGINT AS ecc1,
        |  max(hop)::BIGINT AS diameter_lb, count(*)::BIGINT AS n_reached
        |FROM w2""".stripMargin,
    "q_harmonic_centrality" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |srcs AS MATERIALIZED (
        |  SELECT node FROM nodes
        |  ORDER BY substring(md5(node::VARCHAR), 1, 13), node LIMIT 8),
        |walk AS MATERIALIZED (
        |  WITH RECURSIVE r(s, node, d) AS (
        |    SELECT node, node, 0 FROM srcs
        |    UNION
        |    SELECT r.s,
        |      CASE WHEN e.src = r.node THEN e.dst ELSE e.src END, r.d + 1
        |    FROM r JOIN e ON (e.src = r.node OR e.dst = r.node)
        |    WHERE r.d < 4)
        |  SELECT s, node, min(d) AS d FROM r GROUP BY 1, 2),
        |hc AS (
        |  SELECT node, sum(1000000 // d)::BIGINT AS h_micro,
        |    count(*)::BIGINT AS n_reached
        |  FROM walk WHERE d >= 1 GROUP BY 1),
        |top AS (SELECT node, h_micro, n_reached FROM hc
        |  ORDER BY h_micro DESC, node LIMIT 20)
        |SELECT row_number() OVER (ORDER BY h_micro DESC, node)::BIGINT
        |    AS rk,
        |  node, h_micro, n_reached
        |FROM top ORDER BY rk""".stripMargin,
    "q_isotonic" -> isotonicSql(nLayers = 16),
    "q_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_promo_share" ->
      """WITH r AS (
        |  SELECT p_type,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev_milli
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01')
        |SELECT
        |  sum(CASE WHEN p_type = 'PROMO' THEN rev_milli ELSE 0 END)::BIGINT
        |    AS promo_milli,
        |  sum(rev_milli)::BIGINT AS total_milli,
        |  (sum(CASE WHEN p_type = 'PROMO' THEN rev_milli ELSE 0 END) * 10000
        |    // sum(rev_milli))::BIGINT AS promo_bp
        |FROM r""".stripMargin,
    "q_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |      AS rev_milli
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_milli
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_milli = (SELECT max(rev_milli) FROM r)
        |ORDER BY s_suppkey""".stripMargin,
    "q_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty_i,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev_milli
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#9'),
        |st AS (SELECT l_partkey AS sp, count(*) AS n_li,
        |         sum(qty_i)::BIGINT AS sum_qty
        |       FROM li GROUP BY 1)
        |SELECT sum(rev_milli)::BIGINT AS rev_milli, count(*) AS n_items
        |FROM li JOIN st ON l_partkey = sp
        |WHERE qty_i * 5 * n_li < sum_qty""".stripMargin,
    "q_lonely_late_supplier" ->
      """WITH ls AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |        THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM ls x JOIN supplier ON x.l_suppkey = s_suppkey
        |WHERE x.late = 1
        |  AND EXISTS (SELECT 1 FROM ls o2
        |              WHERE o2.l_orderkey = x.l_orderkey
        |                AND o2.l_suppkey <> x.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ls o3
        |                  WHERE o3.l_orderkey = x.l_orderkey
        |                    AND o3.l_suppkey <> x.l_suppkey
        |                    AND o3.late = 1)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    "q_dormant_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |st AS (SELECT sum(bal_c)::BIGINT AS s, count(*) AS n
        |       FROM c WHERE bal_c > 0)
        |SELECT c_nationkey, count(*) AS n_custs, sum(bal_c)::BIGINT AS bal_cents
        |FROM c, st
        |WHERE bal_c * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rank_fusion" ->
      """WITH s AS (
        |  SELECT o_custkey AS custkey,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT AS spend_cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT custkey, spend_cents, n_orders,
        |    row_number() OVER (ORDER BY spend_cents DESC, custkey) AS ra,
        |    row_number() OVER (ORDER BY n_orders DESC, custkey) AS rb
        |  FROM s)
        |SELECT custkey, spend_cents, n_orders,
        |  (1000000 // (60 + ra) + 1000000 // (60 + rb))::BIGINT AS rrf_micro
        |FROM r ORDER BY rrf_micro DESC, custkey LIMIT 20""".stripMargin,
    "q_graph_churn" ->
      """WITH li AS (
        |  SELECT DISTINCT year(o_orderdate) AS y, l_orderkey AS ok,
        |    l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (
        |  SELECT DISTINCT x.y AS yr, x.pk AS src, y2.pk AS dst
        |  FROM li x JOIN li y2
        |    ON x.ok = y2.ok AND x.y = y2.y AND x.pk < y2.pk),
        |j AS (
        |  SELECT coalesce(a.yr, b.yr) AS yr,
        |    a.yr IS NOT NULL AS ina, b.yr IS NOT NULL AS inb
        |  FROM e a FULL OUTER JOIN
        |    (SELECT yr - 1 AS yr, src, dst FROM e) b
        |    ON a.yr = b.yr AND a.src = b.src AND a.dst = b.dst),
        |g AS (
        |  SELECT yr,
        |    count(CASE WHEN ina THEN 1 END) AS n_cur,
        |    count(CASE WHEN inb THEN 1 END) AS n_next,
        |    count(CASE WHEN ina AND inb THEN 1 END) AS n_shared
        |  FROM j GROUP BY 1)
        |SELECT yr::BIGINT AS yr, (yr + 1)::BIGINT AS yr_next,
        |  n_cur, n_next, n_shared,
        |  (n_shared * 10000 // (n_cur + n_next - n_shared))::BIGINT
        |    AS jaccard_bp
        |FROM g WHERE n_cur > 0 AND n_next > 0 ORDER BY yr""".stripMargin,
    "q_diff_in_diff" ->
      """WITH cells AS (
        |  SELECT
        |    CASE WHEN ('0x' || substring(md5('ab1|' || user_id), 1, 13))::BIGINT
        |           % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre' ELSE 'post' END
        |      AS period,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_micro
        |  FROM events),
        |m AS (
        |  SELECT arm, period,
        |    ((sum(v_micro) + count(*) * 1000000000) // count(*)
        |      - 1000000000)::BIGINT AS mean_micro
        |  FROM cells GROUP BY 1, 2)
        |SELECT
        |  max(CASE WHEN arm = 'A' AND period = 'pre' THEN mean_micro END)
        |    AS A_pre,
        |  max(CASE WHEN arm = 'A' AND period = 'post' THEN mean_micro END)
        |    AS A_post,
        |  max(CASE WHEN arm = 'B' AND period = 'pre' THEN mean_micro END)
        |    AS B_pre,
        |  max(CASE WHEN arm = 'B' AND period = 'post' THEN mean_micro END)
        |    AS B_post,
        |  ((max(CASE WHEN arm = 'B' AND period = 'post' THEN mean_micro END)
        |    - max(CASE WHEN arm = 'B' AND period = 'pre' THEN mean_micro END))
        |   - (max(CASE WHEN arm = 'A' AND period = 'post' THEN mean_micro END)
        |    - max(CASE WHEN arm = 'A' AND period = 'pre' THEN mean_micro END)))
        |    ::BIGINT AS did_micro
        |FROM m""".stripMargin,
    "q_seasonal_adjust" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, dayofweek(d) + 1 AS dw_k,
        |    (sum(n * 1000) // count(*))::BIGINT AS dow_mean_milli
        |  FROM daily GROUP BY 1, 2)
        |SELECT daily.event_type, d::VARCHAR AS day, n, dow_mean_milli,
        |  (n * 1000 - dow_mean_milli)::BIGINT AS adj_milli
        |FROM daily JOIN dw
        |  ON daily.event_type = dw.event_type
        |  AND dayofweek(d) + 1 = dw.dw_k
        |ORDER BY daily.event_type, day""".stripMargin,
    "q_sql_surface" ->
      """WITH scores AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|with)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une|dans)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|por|con|para|como)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT text, CASE
        |    WHEN s_zh > 0 THEN 'zh'
        |    WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM scores)
        |SELECT lang_pred, count(*) AS n_docs,
        |  sum((length(text) - length(replace(text, 'table scan', '')))
        |      // length('table scan'))::BIGINT AS n_table_scan
        |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_delete_cascade" ->
      """WITH doomed AS (
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |od AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM doomed)),
        |ld AS (SELECT 1 FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM od))
        |SELECT (SELECT count(*) FROM doomed) AS n_customers,
        |  (SELECT count(*) FROM od) AS n_orders,
        |  (SELECT count(*) FROM ld) AS n_lineitems,
        |  (SELECT count(*) FROM customer) AS total_customers,
        |  ((SELECT count(*) FROM doomed) * 10000
        |    // (SELECT count(*) FROM customer))::BIGINT AS affected_bp""".stripMargin,
    "q_market_share" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year,
        |  sum(CASE WHEN s_nationkey = 5 THEN
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)) ELSE 0 END)
        |    ::BIGINT AS nation_milli,
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS region_milli,
        |  (sum(CASE WHEN s_nationkey = 5 THEN
        |     CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |       (100 - CAST(floor(l_discount * 100) AS BIGINT)) ELSE 0 END)
        |   * 10000 // sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |       (100 - CAST(floor(l_discount * 100) AS BIGINT))))::BIGINT
        |    AS share_bp
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lang_confusion" ->
      """WITH scores AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|with)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une|dans)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|por|con|para|como)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT lang, CASE
        |    WHEN s_zh > 0 THEN 'zh'
        |    WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM scores)
        |SELECT lang, lang_pred, count(*) AS n_docs FROM pred
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_item_similarity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT pk, count(*) AS n FROM li GROUP BY 1),
        |pr AS (
        |  SELECT x.pk AS a, y.pk AS b, count(*) AS cooc
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sim AS (
        |  SELECT a, b,
        |    ((cooc::HUGEINT * cooc * 100000000)
        |      // (na.n::HUGEINT * nb.n))::BIGINT AS cos2_e8
        |  FROM pr JOIN n na ON pr.a = na.pk JOIN n nb ON pr.b = nb.pk),
        |bi AS (
        |  SELECT a AS src, b AS dst, cos2_e8 FROM sim
        |  UNION ALL SELECT b, a, cos2_e8 FROM sim),
        |r AS (
        |  SELECT src, dst, cos2_e8,
        |    row_number() OVER (PARTITION BY src
        |                       ORDER BY cos2_e8 DESC, dst) AS rk
        |  FROM bi)
        |SELECT src, dst, cos2_e8, rk::INT AS rk FROM r
        |WHERE rk <= 5 ORDER BY src, rk""".stripMargin,
    "q_relational_division" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |t AS (SELECT pk FROM (
        |        SELECT pk, count(*) AS n FROM li GROUP BY 1
        |        ORDER BY n DESC, pk LIMIT 2)),
        |bought AS (
        |  SELECT DISTINCT o_custkey, li.pk
        |  FROM orders JOIN li ON o_orderkey = li.ok
        |  WHERE li.pk IN (SELECT pk FROM t))
        |SELECT o_custkey, count(*) AS n_target_parts
        |FROM bought GROUP BY 1 HAVING count(*) = 2
        |ORDER BY o_custkey""".stripMargin,
    "q_attribution_multitouch" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS vid, ts AS vts FROM events
        |  WHERE event_type = 'view'),
        |touches AS (
        |  SELECT p.pid, v.vid, v.vts FROM p JOIN v USING (user_id)
        |  WHERE v.vts >= p.pts - INTERVAL 2 HOUR AND v.vts < p.pts),
        |ranked AS (
        |  SELECT pid, vid,
        |    row_number() OVER (PARTITION BY pid ORDER BY vts, vid) AS idx,
        |    count(*) OVER (PARTITION BY pid) AS k
        |  FROM touches),
        |credited AS (
        |  SELECT vid,
        |    (10000 // k) + CASE WHEN idx <= 10000 % k THEN 1 ELSE 0 END
        |      AS credit_bp
        |  FROM ranked)
        |SELECT vid, sum(credit_bp)::BIGINT AS credit_bp,
        |  count(*) AS n_purchases
        |FROM credited GROUP BY 1
        |ORDER BY credit_bp DESC, vid LIMIT 50""".stripMargin,
    "q_conformal" ->
      """WITH u AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings),
        |g AS (
        |  SELECT label, pos, count(*) AS n,
        |    sum(CAST(floor(v * 1000) AS BIGINT))::BIGINT AS sum_milli
        |  FROM u GROUP BY 1, 2),
        |c AS (
        |  SELECT label,
        |    list(((sum_milli + n * 1000000) // n - 1000000) / 1000.0
        |         ORDER BY pos) AS cvec
        |  FROM g GROUP BY 1),
        |sc AS (
        |  SELECT e.label, e.vec_id,
        |    round(1.0 - list_cosine_similarity(e.embedding::DOUBLE[], c.cvec),
        |      4) AS score
        |  FROM embeddings e JOIN c ON e.label = c.label),
        |r AS (
        |  SELECT label, vec_id, score,
        |    row_number() OVER (PARTITION BY label
        |                       ORDER BY score, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY label) AS n
        |  FROM sc)
        |SELECT label::BIGINT AS label, n::BIGINT AS n_cal,
        |  least(((n + 1) * 9 + 9) // 10, n)::BIGINT AS r,
        |  score AS threshold
        |FROM r WHERE rk = least(((n + 1) * 9 + 9) // 10, n)
        |ORDER BY label""".stripMargin,
    "q_kmv_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, shingle FROM (
        |    SELECT source, unnest(CASE WHEN len(w) < 3
        |        THEN [array_to_string(w, ' ')]
        |        ELSE [w[i]||' '||w[i+1]||' '||w[i+2]
        |              for i in range(1, len(w) - 1)]
        |      END) AS shingle
        |    FROM (SELECT source,
        |            regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |          FROM documents))),
        |d AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT da.source AS source_a, db.source AS source_b,
        |  da.n AS d_a, db.n AS d_b,
        |  coalesce(p.inter, 0)::BIGINT AS d_inter,
        |  (coalesce(p.inter, 0) * 10000
        |    // (da.n + db.n - coalesce(p.inter, 0)))::BIGINT AS jaccard_bp
        |FROM d da JOIN d db ON da.source < db.source
        |LEFT JOIN p ON p.sa = da.source AND p.sb = db.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q_pipeline_waterfall" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      s"""WITH planted AS (
         |  SELECT doc_id, lang,
         |    text
         |    || CASE WHEN doc_id % 5 = 0
         |            THEN ' contact user' || doc_id || '@example.com now'
         |            ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |            THEN ' see https://example.org/doc/' || doc_id || ' page'
         |            ELSE '' END AS text
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS w,
         |    round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE
         |      / length(text), 4) AS alpha_ratio,
         |    round(len(regexp_extract_all(text, '\\s'))::DOUBLE
         |      / length(text), 4) AS space_ratio,
         |    round((length(text) - len(regexp_extract_all(text, '\\s')))::DOUBLE
         |      / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 4) AS mwl
         |  FROM planted),
         |f AS (
         |  SELECT doc_id, md5(trim(lower(text))) AS h,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f1,
         |    CASE WHEN length(text) BETWEEN 100 AND 500 THEN 1 ELSE 0 END AS f2,
         |    CASE WHEN round(least(1.0, alpha_ratio * 0.6 +
         |        space_ratio * 2.0 * 0.2 +
         |        (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
         |          * 0.2), 4) >= 0.5 THEN 1 ELSE 0 END AS f3,
         |    CASE WHEN round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4)
         |        <= 0.55 THEN 1 ELSE 0 END AS f4,
         |    CASE WHEN NOT regexp_matches(text, '$email')
         |        THEN 1 ELSE 0 END AS f5
         |  FROM m),
         |agg AS (
         |  SELECT count(*) AS c0, sum(f1)::BIGINT AS c1,
         |    sum(f1 * f2)::BIGINT AS c2,
         |    sum(f1 * f2 * f3)::BIGINT AS c3,
         |    sum(f1 * f2 * f3 * f4)::BIGINT AS c4,
         |    sum(f1 * f2 * f3 * f4 * f5)::BIGINT AS c5,
         |    count(DISTINCT CASE WHEN f1 * f2 * f3 * f4 * f5 = 1
         |                        THEN h END) AS c6
         |  FROM f),
         |rows_ AS (
         |  SELECT 1 AS stage, 'lang' AS gate, c0 AS n_in, c1 AS n_out FROM agg
         |  UNION ALL SELECT 2, 'length', c1, c2 FROM agg
         |  UNION ALL SELECT 3, 'quality', c2, c3 FROM agg
         |  UNION ALL SELECT 4, 'repetition', c3, c4 FROM agg
         |  UNION ALL SELECT 5, 'pii', c4, c5 FROM agg
         |  UNION ALL SELECT 6, 'exact_dedup', c5, c6 FROM agg)
         |SELECT stage::BIGINT AS stage, gate, n_in::BIGINT AS n_in,
         |  n_out::BIGINT AS n_out,
         |  (CASE WHEN n_in = 0 THEN 0
         |        ELSE (n_in - n_out) * 10000 // n_in END)::BIGINT AS drop_bp
         |FROM rows_ ORDER BY stage""".stripMargin
    },
    "q_agg_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |           FROM embeddings WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
        |                                            q.qvec), 4) DESC,
        |               e.vec_id) AS rk
        |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
        |votes AS (
        |  SELECT s.query_id, n.label::BIGINT AS nlabel, count(*) AS c
        |  FROM scored s JOIN embeddings n ON s.neighbor_id = n.vec_id
        |  WHERE s.rk <= 5 GROUP BY 1, 2),
        |pred AS (
        |  SELECT query_id, min((100 - c) * 1000 + nlabel) % 1000 AS pred
        |  FROM votes GROUP BY 1)
        |SELECT t.label::BIGINT AS true_label, p.pred, count(*) AS n
        |FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, min(ts::DATE) AS d FROM events GROUP BY 1),
        |daily AS (SELECT d, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT d::VARCHAR AS day, new_users,
        |  sum(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_users
        |FROM daily ORDER BY day""".stripMargin,
    "q_churn_labels" ->
      """WITH b AS (
        |  SELECT user_id, count(*) AS n_before, max(ts::DATE) AS last_d
        |  FROM events WHERE ts < TIMESTAMP '2024-01-24' GROUP BY 1),
        |r AS (
        |  SELECT DISTINCT user_id, 1 AS ret FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-24'
        |    AND ts < TIMESTAMP '2024-01-31')
        |SELECT b.user_id, n_before,
        |  date_diff('day', last_d, DATE '2024-01-24')::BIGINT AS days_inactive,
        |  coalesce(ret, 0)::BIGINT AS returned
        |FROM b LEFT JOIN r ON b.user_id = r.user_id
        |ORDER BY b.user_id""".stripMargin,
    "q_decayed_popularity" ->
      """WITH w AS (
        |  SELECT l_partkey,
        |    date_diff('day', l_shipdate::DATE, DATE '1998-04-01') // 7 AS age_w,
        |    count(*) AS cnt
        |  FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY 1, 2 HAVING age_w <= 15)
        |SELECT l_partkey, sum(cnt >> age_w)::BIGINT AS decayed
        |FROM w GROUP BY 1 HAVING decayed > 0
        |ORDER BY decayed DESC, l_partkey LIMIT 20""".stripMargin,
    "q_diversified_topk" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 2 ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,
    "q_local_supplier_volume" ->
      """SELECT n_name,
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS rev_milli
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY rev_milli DESC, n_name""".stripMargin,
    "q_volume_shipping" ->
      """SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS rev_milli
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE s_nationkey IN (1, 2) AND c_nationkey IN (1, 2)
        |  AND s_nationkey <> c_nationkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_returned_revenue" ->
      """SELECT c_custkey, c_name,
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS rev_milli,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2 ORDER BY rev_milli DESC, c_custkey LIMIT 20""".stripMargin,
    "q_order_count_dist" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    sum(CAST(floor(l_quantity) AS BIGINT))::BIGINT AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 300)
        |SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_promo_disjunct_revenue" ->
      """SELECT
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS rev_milli,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE
        |  (p_brand = 'Brand#3'
        |    AND CAST(floor(l_quantity) AS BIGINT) BETWEEN 1 AND 11
        |    AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#12'
        |    AND CAST(floor(l_quantity) AS BIGINT) BETWEEN 10 AND 20
        |    AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#21'
        |    AND CAST(floor(l_quantity) AS BIGINT) BETWEEN 20 AND 30
        |    AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS sz
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_groups, min(sz) AS k_min,
        |  sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
        |  sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT AS n_risky_customers
        |FROM g""".stripMargin,
    "q_dedup_agreement" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3
        |      THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)]
        |    END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |lex AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4)
        |    >= 0.3),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
        |emb AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.em, b.em), 4) >= 0.45),
        |j AS (
        |  SELECT coalesce(lex.a, emb.a) AS a,
        |    lex.a IS NOT NULL AS in_lex, emb.a IS NOT NULL AS in_emb
        |  FROM lex FULL OUTER JOIN emb ON lex.a = emb.a AND lex.b = emb.b)
        |SELECT
        |  count(CASE WHEN in_lex THEN 1 END) AS n_lexical,
        |  count(CASE WHEN in_emb THEN 1 END) AS n_embedding,
        |  count(CASE WHEN in_lex AND in_emb THEN 1 END) AS n_both,
        |  (count(CASE WHEN in_lex AND in_emb THEN 1 END) * 10000
        |    // (count(CASE WHEN in_lex THEN 1 END)
        |        + count(CASE WHEN in_emb THEN 1 END)
        |        - count(CASE WHEN in_lex AND in_emb THEN 1 END)))::BIGINT
        |    AS agreement_bp
        |FROM j""".stripMargin,
    "q_label_prop" -> {
      // The 5 LPA rounds as chained CTEs, built programmatically —
      // each round is the identical join + count + packed argmin the
      // Spark loop runs.
      val rounds = (1 to 5).map { r =>
        s"""l$r AS (
           |  SELECT a AS node, pk % 10000000000 AS label FROM (
           |    SELECT a, min((1000000 - c) * 10000000000 + label) AS pk
           |    FROM (SELECT und.a, p.label, count(*) AS c
           |          FROM und JOIN l${r - 1} p ON und.b = p.node
           |          GROUP BY 1, 2)
           |    GROUP BY 1))""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (
         |  SELECT x.pk AS src, y.pk AS dst
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |und AS (SELECT src AS a, dst AS b FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
         |$rounds
         |SELECT label AS community, count(*) AS size FROM l5
         |GROUP BY 1 ORDER BY size DESC, community LIMIT 20""".stripMargin
    },
    "q_bfs_hops" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT src AS a, dst AS b FROM e
        |        UNION ALL SELECT dst, src FROM e),
        |seed AS (SELECT min(src) AS s FROM e),
        |walk(node, hop) AS (
        |  SELECT s, 0 FROM seed
        |  UNION ALL
        |  SELECT b, hop + 1 FROM walk JOIN und ON a = node WHERE hop < 4),
        |dist AS (SELECT node, min(hop) AS hop FROM walk GROUP BY 1)
        |SELECT hop, count(*) AS n_parts FROM dist
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kwic" ->
      """SELECT doc_id, strpos(text, 'table scan') AS pos,
        |  substring(text,
        |    greatest(strpos(text, 'table scan') - 20, 1),
        |    (strpos(text, 'table scan')
        |      - greatest(strpos(text, 'table scan') - 20, 1)) + 30) AS snippet
        |FROM documents
        |WHERE strpos(text, 'table scan') > 0
        |ORDER BY doc_id""".stripMargin,
    "q_phrase_tags" ->
      """WITH p AS (
        |  SELECT unnest(['hash join', 'slow query', 'sort merge',
        |                 'table scan', 'window agg']) AS phrase),
        |occ AS (
        |  SELECT phrase,
        |    (length(text) - length(replace(text, phrase, '')))
        |      // length(phrase) AS c
        |  FROM documents CROSS JOIN p)
        |SELECT phrase, count(CASE WHEN c > 0 THEN 1 END) AS n_docs,
        |  sum(c)::BIGINT AS n_occ
        |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cosine_tf_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) < 3
        |      THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)]
        |    END) AS shingle
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |tf AS (SELECT doc_id, shingle, count(*) AS tf FROM sh GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM tf GROUP BY 1),
        |num AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.tf * b.tf)::BIGINT AS num
        |  FROM tf a JOIN tf b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  ((num::HUGEINT * num * 100000000) //
        |    (na.n2::HUGEINT * nb.n2))::BIGINT AS cos2_e8
        |FROM num
        |JOIN norms na ON doc_a = na.doc_id
        |JOIN norms nb ON doc_b = nb.doc_id
        |WHERE (num::HUGEINT * num * 100000000) //
        |  (na.n2::HUGEINT * nb.n2) >= 25000000
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_simple_revenue" ->
      """SELECT
        |  sum(floor(l_extendedprice * 100)::BIGINT *
        |      floor(l_discount * 100)::BIGINT)::BIGINT AS saved_milli,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_quantity < 24
        |  AND floor(l_discount * 100)::BIGINT BETWEEN 2 AND 4""".stripMargin,
    "q_ship_priority_dist" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_product_profit" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |  sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |    AS profit_milli
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
        |    min(floor(l_extendedprice * 100)::BIGINT //
        |        floor(l_quantity)::BIGINT) AS unit_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        |    AND r_name = 'AMERICA'
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
        |  unit_cents::BIGINT AS unit_cents
        |FROM offers o
        |WHERE unit_cents = (SELECT min(unit_cents) FROM offers m
        |                    WHERE m.p_partkey = o.p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q_important_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(floor(l_discount * 100) AS BIGINT)))::BIGINT
        |      AS value_milli
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |  GROUP BY 1)
        |SELECT l_partkey, value_milli FROM pp
        |WHERE value_milli * 1000 > (SELECT sum(value_milli) FROM pp)
        |ORDER BY value_milli DESC, l_partkey""".stripMargin,
    "q_supplier_part_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#3'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_excess_shippers" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01'
        |        THEN floor(l_quantity)::BIGINT ELSE 0 END) AS qty_1997,
        |    sum(floor(l_quantity)::BIGINT) AS qty_total
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'cold%'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND EXISTS (SELECT 1 FROM sp WHERE l_suppkey = s_suppkey
        |              AND qty_1997 * 2 > qty_total)
        |ORDER BY s_suppkey""".stripMargin,
    "q_link_predict" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT src AS u, dst AS w FROM e
        |  UNION ALL SELECT dst AS u, src AS w FROM e),
        |deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY 1),
        |wadj AS (SELECT u, w, 1000000 // d AS rw
        |  FROM adj JOIN deg ON w = node WHERE d <= 1024),
        |cand AS (SELECT a.u AS u, b.u AS v, sum(a.rw)::BIGINT AS ra_micro
        |  FROM wadj a JOIN wadj b ON a.w = b.w AND a.u < b.u
        |  GROUP BY 1, 2)
        |SELECT u, v, ra_micro FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE src = c.u AND dst = c.v)
        |ORDER BY ra_micro DESC, u, v LIMIT 20""".stripMargin,
    "q_histogram_equidepth" ->
      """WITH v AS (SELECT floor(l_extendedprice * 100)::BIGINT AS cents,
        |    l_orderkey, l_linenumber FROM lineitem),
        |p AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) - 1
        |      AS pos,
        |    (SELECT count(*) FROM v) AS n
        |  FROM v)
        |SELECT (pos * 16 // n)::BIGINT AS bucket, count(*) AS n_rows,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (SELECT ts::DATE::VARCHAR AS d, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |tot AS (SELECT (sum(cnt) * 1000000 // count(*))::BIGINT AS mm,
        |    count(*) AS nd FROM daily),
        |c AS (SELECT d,
        |    sum(cnt * 1000000 - mm) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily, tot),
        |top AS (SELECT d AS change_day, abs(cum)::BIGINT AS cum_abs_micro
        |  FROM c ORDER BY abs(cum) DESC, d LIMIT 1)
        |SELECT t.change_day, m.nd AS n_days, t.cum_abs_micro,
        |  (SELECT CASE WHEN count(*) = 0 THEN -1
        |     ELSE (sum(cnt) * 1000000 // count(*))::BIGINT END
        |   FROM daily WHERE d <= t.change_day) AS mean_pre_micro,
        |  (SELECT CASE WHEN count(*) = 0 THEN -1
        |     ELSE (sum(cnt) * 1000000 // count(*))::BIGINT END
        |   FROM daily WHERE d > t.change_day) AS mean_post_micro
        |FROM top t, tot m""".stripMargin,
    "q_sorted_neighborhood" ->
      """WITH p AS (SELECT p_partkey,
        |    p_name || '|' || p_brand || '|' || p_type AS k FROM part),
        |pos AS (SELECT p_partkey, k,
        |    row_number() OVER (ORDER BY k, p_partkey) - 1 AS pos FROM p)
        |SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |  levenshtein(a.k, b.k)::BIGINT AS lev
        |FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3
        |WHERE levenshtein(a.k, b.k) <= 4
        |ORDER BY 1, 2""".stripMargin,
    "q_entity_resolution" ->
      """WITH RECURSIVE p AS (SELECT p_partkey,
        |    p_name || '|' || p_brand || '|' || p_type AS k FROM part),
        |pos AS (SELECT p_partkey, k,
        |    row_number() OVER (ORDER BY k, p_partkey) - 1 AS pos FROM p),
        |pairs AS (SELECT a.p_partkey AS a, b.p_partkey AS b
        |  FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3
        |  WHERE levenshtein(a.k, b.k) <= 2),
        |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT und.a, reach.lab FROM und JOIN reach ON und.b = reach.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*) AS n_members, max(id) AS max_member
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_gini" ->
      """WITH x AS (SELECT o_custkey,
        |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn
        |  FROM x),
        |g AS (SELECT count(*) AS n, sum(x)::HUGEINT AS tot,
        |    sum(rn::HUGEINT * x) AS ix FROM r)
        |SELECT n AS n_customers, tot::BIGINT AS total_cents,
        |  ((2 * ix - (n + 1)::HUGEINT * tot) * 10000 //
        |    (n::HUGEINT * tot))::BIGINT AS gini_bp
        |FROM g""".stripMargin,
    "q_outliers_mad" ->
      """WITH v AS (SELECT event_id, floor(value * 1000)::BIGINT AS vm
        |  FROM events),
        |n AS (SELECT count(*) AS n FROM v),
        |med AS (SELECT vm AS med FROM
        |    (SELECT vm, row_number() OVER (ORDER BY vm, event_id) AS rn
        |     FROM v), n
        |  WHERE rn = (n + 1) // 2),
        |d AS (SELECT event_id, abs(vm - med) AS dev FROM v, med),
        |mad AS (SELECT dev AS mad FROM
        |    (SELECT dev, row_number() OVER (ORDER BY dev, event_id) AS rn
        |     FROM d), n
        |  WHERE rn = (n + 1) // 2)
        |SELECT med.med AS median_milli, mad.mad AS mad_milli,
        |  count(*) AS n_events,
        |  sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers,
        |  max(d.dev) AS max_dev_milli
        |FROM d, med, mad GROUP BY 1, 2""".stripMargin,
    "q_benford" ->
      s"""WITH o AS (SELECT substring((floor(o_totalprice * 100)::BIGINT)
        |      ::VARCHAR, 1, 1)::BIGINT AS digit
        |  FROM orders WHERE floor(o_totalprice * 100) > 0),
        |t AS (SELECT count(*) AS t FROM o)
        |SELECT digit, count(*) AS n_orders,
        |  (count(*) * 10000 // t.t)::BIGINT AS obs_bp,
        |  (${benfordCase("digit")})::BIGINT AS exp_bp,
        |  ((count(*) * 10000 // t.t) - (${benfordCase("digit")}))::BIGINT
        |    AS delta_bp
        |FROM o, t GROUP BY digit, t.t ORDER BY digit""".stripMargin,
    "q_ewma_smooth" ->
      """WITH RECURSIVE idx AS (
        |  SELECT d, cnt, row_number() OVER (ORDER BY d) AS rn FROM (
        |    SELECT ts::DATE::VARCHAR AS d, count(*) AS cnt
        |    FROM events GROUP BY 1)),
        |rec(rn, d, cnt, s) AS (
        |  SELECT rn, d, cnt, cnt * 1000000 FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.rn, i.d, i.cnt, r.s + (i.cnt * 1000000 - r.s) // 8
        |  FROM idx i JOIN rec r ON i.rn = r.rn + 1)
        |SELECT d, cnt, s::BIGINT AS ewma_micro,
        |  (cnt * 1000000 - s)::BIGINT AS resid_micro
        |FROM rec ORDER BY d""".stripMargin,
    "q_logrank" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |gm AS (SELECT max(us) AS h FROM ev),
        |pu AS (
        |  SELECT
        |    CASE WHEN ('0x' || substring(md5('lr|' || user_id), 1, 13))::BIGINT
        |           % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CASE WHEN min(CASE WHEN event_type = 'purchase' THEN us END)
        |           IS NOT NULL
        |      THEN (min(CASE WHEN event_type = 'purchase' THEN us END)
        |            - min(us)) // 3600000000
        |      ELSE (max(gm.h) - min(us)) // 3600000000 END AS t,
        |    CASE WHEN min(CASE WHEN event_type = 'purchase' THEN us END)
        |           IS NOT NULL THEN 1 ELSE 0 END AS death
        |  FROM ev, gm GROUP BY user_id),
        |byt AS (
        |  SELECT t,
        |    sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS ne1,
        |    sum(CASE WHEN arm = 'A' THEN death ELSE 0 END)::BIGINT AS d1,
        |    sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS ne2,
        |    sum(CASE WHEN arm = 'B' THEN death ELSE 0 END)::BIGINT AS d2
        |  FROM pu GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    (sum(ne1) OVER () - coalesce(sum(ne1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS n1,
        |    (sum(ne2) OVER () - coalesce(sum(ne2) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS n2
        |  FROM byt),
        |terms AS (
        |  SELECT
        |    floor((d1 - (d1 + d2) * n1 / (n1 + n2)::DOUBLE) * 1000000)::BIGINT
        |      AS term_micro,
        |    CASE WHEN n1 + n2 > 1 THEN
        |      floor((d1 + d2) * (n1 / (n1 + n2)::DOUBLE)
        |        * (n2 / (n1 + n2)::DOUBLE)
        |        * (((n1 + n2) - (d1 + d2)) / ((n1 + n2) - 1)::DOUBLE)
        |        * 1000000)::BIGINT
        |    ELSE 0 END AS var_micro
        |  FROM r WHERE d1 + d2 > 0),
        |agg AS (SELECT sum(term_micro)::BIGINT AS u_micro,
        |    sum(var_micro)::BIGINT AS v_micro FROM terms)
        |SELECT u_micro, v_micro,
        |  (u_micro::HUGEINT * u_micro * 1000 // v_micro)::BIGINT
        |    AS chi2_milli
        |FROM agg""".stripMargin,
    // Two-state recursive CTE; the level expression is repeated
    // textually inside the trend update (same integer ops → same
    // value), mirroring ops.Smoothing.holt step for step.
    "q_holt_forecast" ->
      """WITH RECURSIVE idx AS (
        |  SELECT d, cnt, row_number() OVER (ORDER BY d) AS rn FROM (
        |    SELECT ts::DATE::VARCHAR AS d, count(*) AS cnt
        |    FROM events GROUP BY 1)),
        |rec(rn, d, cnt, l, b, f) AS (
        |  SELECT rn, d, cnt, cnt * 1000000, 0::BIGINT, cnt * 1000000
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.rn, i.d, i.cnt,
        |    (r.l + r.b) + (i.cnt * 1000000 - (r.l + r.b)) // 8,
        |    r.b + ((((r.l + r.b) + (i.cnt * 1000000 - (r.l + r.b)) // 8)
        |            - r.l) - r.b) // 4,
        |    r.l + r.b
        |  FROM idx i JOIN rec r ON i.rn = r.rn + 1)
        |SELECT d, cnt, l::BIGINT AS level_micro, b::BIGINT AS trend_micro,
        |  f::BIGINT AS forecast_micro, (cnt * 1000000 - f)::BIGINT
        |    AS err_micro
        |FROM rec ORDER BY d""".stripMargin,
    // Holt–Winters replay: the seasonal state rides the recursion as
    // a BIGINT[7] list column (list comprehensions can rebuild the
    // updated array inside a recursive CTE); every arithmetic step is
    // the same truncating `//` chain as the driver's long division.
    "q_hw_forecast" -> {
      val xm = "(i.cnt * 1000000)"
      val pos = "(((i.rn - 1) % 7) + 1)"
      val sOld = s"r.s[$pos]"
      val lb = "(r.l + r.b)"
      val lNew = s"($lb + (($xm - $sOld) - $lb) // 8)"
      val bNew = s"(r.b + (($lNew - r.l) - r.b) // 4)"
      val sNew = s"($sOld + (($xm - $lNew) - $sOld) // 8)"
      s"""WITH RECURSIVE idx AS (
         |  SELECT d, cnt, row_number() OVER (ORDER BY d) AS rn FROM (
         |    SELECT ts::DATE::VARCHAR AS d, count(*) AS cnt
         |    FROM events GROUP BY 1)),
         |rec(rn, d, cnt, l, b, s, sn, f) AS (
         |  SELECT rn, d, cnt, cnt * 1000000, 0::BIGINT,
         |    [0::BIGINT for j in range(1, 8)], 0::BIGINT, cnt * 1000000
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.d, i.cnt,
         |    $lNew,
         |    $bNew,
         |    [CASE WHEN j = $pos THEN $sNew ELSE r.s[j] END
         |       for j in range(1, 8)],
         |    $sNew,
         |    ($lb + $sOld)
         |  FROM idx i JOIN rec r ON i.rn = r.rn + 1)
         |SELECT d, cnt, l::BIGINT AS level_micro, b::BIGINT AS trend_micro,
         |  sn::BIGINT AS season_micro, f::BIGINT AS forecast_micro,
         |  (cnt * 1000000 - f)::BIGINT AS err_micro
         |FROM rec ORDER BY d""".stripMargin
    },
    // Same HW recursion; the radius is the 12th-smallest calibration
    // |residual| (ORDER BY + OFFSET — a data value, engine-exact).
    "q_forecast_interval" -> {
      val xm = "(i.cnt * 1000000)"
      val pos = "(((i.rn - 1) % 7) + 1)"
      val sOld = s"r.s[$pos]"
      val lb = "(r.l + r.b)"
      val lNew = s"($lb + (($xm - $sOld) - $lb) // 8)"
      val bNew = s"(r.b + (($lNew - r.l) - r.b) // 4)"
      val sNew = s"($sOld + (($xm - $lNew) - $sOld) // 8)"
      s"""WITH RECURSIVE idx AS (
         |  SELECT d, cnt, row_number() OVER (ORDER BY d) AS rn FROM (
         |    SELECT ts::DATE::VARCHAR AS d, count(*) AS cnt
         |    FROM events GROUP BY 1)),
         |rec(rn, d, cnt, l, b, s, sn, f) AS (
         |  SELECT rn, d, cnt, cnt * 1000000, 0::BIGINT,
         |    [0::BIGINT for j in range(1, 8)], 0::BIGINT, cnt * 1000000
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.d, i.cnt,
         |    $lNew,
         |    $bNew,
         |    [CASE WHEN j = $pos THEN $sNew ELSE r.s[j] END
         |       for j in range(1, 8)],
         |    $sNew,
         |    ($lb + $sOld)
         |  FROM idx i JOIN rec r ON i.rn = r.rn + 1),
         |cal AS (SELECT abs(cnt * 1000000 - f) AS ae FROM rec
         |  WHERE rn >= 2 AND rn <= 15),
         |rad AS (SELECT ae AS radius FROM cal ORDER BY ae
         |  LIMIT 1 OFFSET 11)
         |SELECT d, cnt, f::BIGINT AS forecast_micro,
         |  (f - radius)::BIGINT AS lo_micro,
         |  (f + radius)::BIGINT AS hi_micro,
         |  (CASE WHEN abs(cnt * 1000000 - f) <= radius
         |    THEN 1 ELSE 0 END)::BIGINT AS covered
         |FROM rec, rad WHERE rn > 15 ORDER BY d""".stripMargin
    },
    "q_kaplan_meier" ->
      """WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS us
        |  FROM events),
        |g AS (SELECT (us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us)) // 3600000000 AS t FROM ev),
        |gaps AS (SELECT t::BIGINT AS t, 1 AS death FROM g
        |  WHERE t IS NOT NULL),
        |gm AS (SELECT max(epoch_us(ts)) AS h FROM events),
        |cens AS (SELECT ((h - max(us)) // 3600000000)::BIGINT AS t,
        |    0 AS death
        |  FROM ev, gm GROUP BY user_id, h),
        |u AS (SELECT * FROM gaps UNION ALL SELECT * FROM cens),
        |byt AS (SELECT t, count(*) AS ne, sum(death)::BIGINT AS d
        |  FROM u GROUP BY 1),
        |tot AS (SELECT sum(ne)::BIGINT AS total FROM byt),
        |r AS (SELECT t, ne, d, row_number() OVER (ORDER BY t) AS rn,
        |    (total - coalesce(sum(ne) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS nr
        |  FROM byt, tot),
        |rec(rn, s) AS (
        |  SELECT rn, (1000000 * (nr - d)) // nr FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT i.rn, (p.s * (i.nr - i.d)) // i.nr
        |  FROM r i JOIN rec p ON i.rn = p.rn + 1)
        |SELECT r.t AS t_hours, r.nr AS n_at_risk, r.d AS n_deaths,
        |  rec.s::BIGINT AS surv_micro
        |FROM rec JOIN r USING (rn) WHERE r.d > 0 ORDER BY r.t""".stripMargin,
    "q_rfm_segments" ->
      """WITH gm AS (SELECT max(o_orderdate) AS gm FROM orders),
        |pc AS (SELECT o_custkey,
        |    min(gm::DATE - o_orderdate::DATE)::BIGINT AS r,
        |    count(*) AS f,
        |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS m
        |  FROM orders, gm GROUP BY 1),
        |rk AS (SELECT o_custkey, r, f, m,
        |    row_number() OVER (ORDER BY r, o_custkey) - 1 AS pr,
        |    row_number() OVER (ORDER BY f, o_custkey) - 1 AS pf,
        |    row_number() OVER (ORDER BY m, o_custkey) - 1 AS pm,
        |    count(*) OVER () AS n
        |  FROM pc),
        |seg AS (SELECT o_custkey, m,
        |    (pr * 4 // n + 1) * 100 + (pf * 4 // n + 1) * 10 +
        |      (pm * 4 // n + 1) AS segment
        |  FROM rk)
        |SELECT segment::BIGINT AS segment, count(*) AS n_customers,
        |  sum(m)::BIGINT AS sum_monetary_cents
        |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ndcg" ->
      s"""WITH oc AS (SELECT o_custkey, count(*) AS n_ord FROM orders
        |  GROUP BY 1),
        |base AS (SELECT c_custkey, c_nationkey::BIGINT AS nation_key,
        |    floor(c_acctbal * 100)::BIGINT AS bal,
        |    least(coalesce(n_ord, 0), 10)::BIGINT AS rel
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
        |r AS (SELECT nation_key, rel,
        |    row_number() OVER (PARTITION BY nation_key
        |      ORDER BY bal DESC, c_custkey) AS prank,
        |    row_number() OVER (PARTITION BY nation_key
        |      ORDER BY rel DESC, c_custkey) AS irank
        |  FROM base),
        |agg AS (SELECT nation_key,
        |    sum(CASE WHEN prank <= 10
        |      THEN rel * (${ndcgWeightCase("prank")}) ELSE 0 END)::BIGINT
        |      AS dcg_micro,
        |    sum(CASE WHEN irank <= 10
        |      THEN rel * (${ndcgWeightCase("irank")}) ELSE 0 END)::BIGINT
        |      AS idcg_micro
        |  FROM r GROUP BY 1)
        |SELECT nation_key, dcg_micro, idcg_micro,
        |  (dcg_micro * 10000 // idcg_micro)::BIGINT AS ndcg_bp
        |FROM agg WHERE idcg_micro > 0
        |ORDER BY nation_key""".stripMargin,
    "q_pass_at_k" ->
      """WITH p AS (
        |  SELECT l_orderkey, count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM lineitem GROUP BY 1),
        |f AS (SELECT * FROM p WHERE n >= 4),
        |j AS (
        |  SELECT o.o_orderpriority AS suite,
        |    CASE WHEN n - c < 1 THEN 10000
        |         ELSE 10000 - (n - c) * 10000 // n END AS p1,
        |    CASE WHEN n - c < 2 THEN 10000
        |         ELSE 10000 - (n - c) * (n - c - 1) * 10000
        |              // (n * (n - 1)) END AS p2,
        |    CASE WHEN n - c < 4 THEN 10000
        |         ELSE 10000 - (n - c) * (n - c - 1) * (n - c - 2) * (n - c - 3) * 10000
        |              // (n * (n - 1) * (n - 2) * (n - 3)) END AS p4
        |  FROM f JOIN orders o ON f.l_orderkey = o.o_orderkey)
        |SELECT suite, count(*)::BIGINT AS n_problems,
        |  (sum(p1) // count(*))::BIGINT AS pass1_bp,
        |  (sum(p2) // count(*))::BIGINT AS pass2_bp,
        |  (sum(p4) // count(*))::BIGINT AS pass4_bp
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_maj_at_k" ->
      """WITH p AS (
        |  SELECT l_orderkey, count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM lineitem GROUP BY 1),
        |f AS (SELECT * FROM p WHERE n >= 3),
        |j AS (
        |  SELECT o.o_orderpriority AS suite,
        |    CASE WHEN n - c < 3 THEN 10000
        |         ELSE 10000 - (n - c) * (n - c - 1) * (n - c - 2) * 10000
        |              // (n * (n - 1) * (n - 2)) END AS p3,
        |    (3 * c * (c - 1) * (n - c) + c * (c - 1) * (c - 2)) * 10000
        |      // (n * (n - 1) * (n - 2)) AS m3
        |  FROM f JOIN orders o ON f.l_orderkey = o.o_orderkey)
        |SELECT suite, count(*)::BIGINT AS n_problems,
        |  (sum(p3) // count(*))::BIGINT AS pass3_bp,
        |  (sum(m3) // count(*))::BIGINT AS maj3_bp
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // Wilson lower bound: the SAME double chain shape as the Spark
    // expression (sqrt-only — no libm ln), floored once to micros.
    "q_wilson_rank" ->
      """WITH a AS (
        |  SELECT l_suppkey, count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS k
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT l_suppkey, n, k, k * 10000 // n AS rate_bp,
        |    CAST(floor((
        |      (k / n::DOUBLE + 3.8416 / (2 * n::DOUBLE)
        |       - 1.96 * sqrt((k / n::DOUBLE) * (1 - k / n::DOUBLE) / n::DOUBLE
        |                     + 3.8416 / (4 * n::DOUBLE * n::DOUBLE)))
        |      / (1 + 3.8416 / n::DOUBLE)
        |    ) * 1000000) AS BIGINT) AS wilson_lo_micro
        |  FROM a)
        |SELECT l_suppkey, n, k, rate_bp::BIGINT AS rate_bp, wilson_lo_micro
        |FROM s ORDER BY wilson_lo_micro DESC, l_suppkey LIMIT 20""".stripMargin,
    // Replays the langid kernel (identical stopword/CJK rules as
    // q_lang_confusion's oracle), then kappa as one integer fraction
    // with the signed shift-div emit.
    "q_kappa" ->
      """WITH scores AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|with)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|une|dans)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|por|con|para|como)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT lang, CASE
        |    WHEN s_zh > 0 THEN 'zh'
        |    WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM scores),
        |cm AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
        |  FROM pred GROUP BY 1, 2),
        |tot AS (SELECT sum(n)::BIGINT AS n_total,
        |    sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)::BIGINT
        |      AS n_agree
        |  FROM cm),
        |rm AS (SELECT lang AS cls, sum(n)::BIGINT AS r FROM cm GROUP BY 1),
        |cmg AS (SELECT lang_pred AS cls, sum(n)::BIGINT AS c
        |  FROM cm GROUP BY 1),
        |rc AS (SELECT sum(coalesce(r, 0) * coalesce(c, 0))::BIGINT AS sum_rc
        |  FROM rm FULL OUTER JOIN cmg ON rm.cls = cmg.cls)
        |SELECT n_total, n_agree, sum_rc,
        |  ((10000 * (n_total * n_agree - sum_rc)
        |    + 100000 * (n_total * n_total - sum_rc))
        |   // (n_total * n_total - sum_rc) - 100000)::BIGINT AS kappa_bp
        |FROM tot, rc""".stripMargin,
    // Mirrors the Spark predicate's exact IEEE op order:
    // double(u52) * double(T) < double(k*w) * 2^52.
    "q_pps_estimate" ->
      """WITH w AS (SELECT o_orderkey,
        |    floor(o_totalprice * 100)::BIGINT AS w FROM orders),
        |tot AS (SELECT sum(w)::BIGINT AS t, count(*)::BIGINT AS n_pop
        |  FROM w),
        |s AS (
        |  SELECT w.w, tot.t, tot.n_pop FROM w, tot
        |  WHERE ('0x' || substring(md5('pps|' || o_orderkey::VARCHAR), 1, 13))::BIGINT::DOUBLE
        |      * t::DOUBLE < (w * 200)::DOUBLE * 4503599627370496.0)
        |SELECT max(n_pop) AS n_pop, max(t) AS total_cents,
        |  count(*)::BIGINT AS n_sampled,
        |  sum(CASE WHEN w * 200 >= t THEN w ELSE t // 200 END)::BIGINT
        |    AS ht_estimate_cents,
        |  (sum(CASE WHEN w * 200 >= t THEN w ELSE t // 200 END)
        |    * 10000 // max(t))::BIGINT AS est_bp
        |FROM s""".stripMargin,
    "q_dist_match" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars < 200 THEN 'xs' WHEN n_chars < 400 THEN 's'
        |         WHEN n_chars < 600 THEN 'm' WHEN n_chars < 800 THEN 'l'
        |         ELSE 'xl' END AS bucket
        |  FROM documents),
        |counts AS (SELECT bucket, count(*)::BIGINT AS n_before
        |  FROM d GROUP BY 1),
        |mm AS (SELECT min(n_before)::BIGINT AS m FROM counts),
        |acc AS (
        |  SELECT d.bucket, counts.n_before, mm.m
        |  FROM d JOIN counts USING (bucket), mm
        |  WHERE ('0x' || substring(md5('dm|' || doc_id::VARCHAR), 1, 13))::BIGINT::DOUBLE
        |      * n_before::DOUBLE < m::DOUBLE * 4503599627370496.0)
        |SELECT bucket, max(n_before) AS n_before, max(m) AS target,
        |  count(*)::BIGINT AS n_accepted
        |FROM acc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lift_table" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|with)\b'))::BIGINT AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY score DESC, doc_id) - 1 AS p,
        |    count(*) OVER () AS n FROM sc),
        |d AS (SELECT p * 10 // n + 1 AS decile, count(*)::BIGINT AS n_docs,
        |    sum(pos)::BIGINT AS n_pos
        |  FROM r GROUP BY 1),
        |c AS (SELECT *,
        |    sum(n_docs) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_n,
        |    sum(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_pos,
        |    sum(n_docs) OVER ()::BIGINT AS tot_n,
        |    sum(n_pos) OVER ()::BIGINT AS tot_pos
        |  FROM d)
        |SELECT decile::BIGINT AS decile, n_docs, n_pos,
        |  (n_pos * 10000 // n_docs)::BIGINT AS response_bp,
        |  (cum_pos * tot_n * 10000 // (tot_pos * cum_n))::BIGINT
        |    AS cum_lift_bp
        |FROM c ORDER BY decile""".stripMargin,
    "q_psi" ->
      """WITH counts AS (
        |  SELECT floor(value / 50)::BIGINT AS bucket,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT
        |      AS ca,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)::BIGINT
        |      AS cb
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
        |    count(*)::BIGINT AS k FROM counts)
        |SELECT max(na) AS n_first_half, max(nb) AS n_second_half,
        |  count(*)::BIGINT AS n_buckets,
        |  sum(floor((
        |    (ca + 1) / (na + k)::DOUBLE - (cb + 1) / (nb + k)::DOUBLE
        |  ) * ln(((ca + 1) / (na + k)::DOUBLE)
        |         / ((cb + 1) / (nb + k)::DOUBLE))
        |   * 1000000000)::BIGINT)::BIGINT AS psi_nano
        |FROM counts, tot""".stripMargin,
    "q_abc_classes" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(floor(l_extendedprice * 100)::BIGINT
        |        * (100 - floor(l_discount * 100)::BIGINT))::BIGINT AS rev
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT l_partkey, rev,
        |    coalesce(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cum_before,
        |    sum(rev) OVER ()::BIGINT AS total
        |  FROM pp),
        |cl AS (
        |  SELECT CASE WHEN cum_before * 10 < total * 7 THEN 'A'
        |              WHEN cum_before * 10 < total * 9 THEN 'B'
        |              ELSE 'C' END AS cls, rev, total
        |  FROM r)
        |SELECT cls, count(*)::BIGINT AS n_parts,
        |  sum(rev)::BIGINT AS revenue_milli,
        |  (sum(rev) * 10000 // max(total))::BIGINT AS share_bp
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_capture_recapture" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN ('0x' || substring(md5('cr1|' || o_orderkey::VARCHAR),
        |        1, 13))::BIGINT::DOUBLE < 0.3 * 4503599627370496.0
        |      THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN ('0x' || substring(md5('cr2|' || o_orderkey::VARCHAR),
        |        1, 13))::BIGINT::DOUBLE < 0.3 * 4503599627370496.0
        |      THEN 1 ELSE 0 END AS s2
        |  FROM orders),
        |agg AS (SELECT count(*)::BIGINT AS n_true, sum(s1)::BIGINT AS n1,
        |    sum(s2)::BIGINT AS n2, sum(s1 * s2)::BIGINT AS m FROM s)
        |SELECT n_true, n1, n2, m,
        |  (n1 * n2 // m)::BIGINT AS n_est,
        |  ((n1 * n2 // m) * 10000 // n_true)::BIGINT AS est_bp_of_true
        |FROM agg""".stripMargin,
    "q_halfsample_ci" ->
      """WITH reps AS (
        |  SELECT floor(o_totalprice * 100)::BIGINT AS w, b
        |  FROM orders, unnest(range(0, 16)) AS t(b)
        |  WHERE ('0x' || substring(md5('hs|' || o_orderkey::VARCHAR),
        |      (b + 1)::INT, 1))::INT >= 8),
        |pr AS (SELECT b, (sum(w) // count(*))::BIGINT AS mean_cents
        |  FROM reps GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS n_reps,
        |    sum(mean_cents)::BIGINT AS sm,
        |    sum(mean_cents * mean_cents)::BIGINT AS smm FROM pr)
        |SELECT n_reps, (sm // n_reps)::BIGINT AS mean_of_means_cents,
        |  floor(sqrt((n_reps * smm - sm * sm)::DOUBLE
        |    / (n_reps::DOUBLE * (n_reps - 1))))::BIGINT
        |    AS halfsample_sd_cents
        |FROM agg""".stripMargin,
    "q_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT src AS u, dst AS w FROM e
        |  UNION ALL SELECT dst AS u, src AS w FROM e),
        |deg AS (SELECT u AS node, count(*)::BIGINT AS d FROM adj GROUP BY 1),
        |m AS (
        |  SELECT count(*)::BIGINT AS m2, sum(a.d)::BIGINT AS sx,
        |    sum(b.d)::BIGINT AS sy, sum(a.d * b.d)::BIGINT AS sxy,
        |    sum(a.d * a.d)::BIGINT AS sxx
        |  FROM adj JOIN deg a ON adj.u = a.node JOIN deg b ON adj.w = b.node)
        |SELECT m2,
        |  (((m2::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
        |    + 10000000::HUGEINT * (m2::HUGEINT * sxx - sx::HUGEINT * sx))
        |   // (m2::HUGEINT * sxx - sx::HUGEINT * sx)
        |   - 10000000)::BIGINT AS slope_micro
        |FROM m""".stripMargin,
    "q_markov_entropy" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |pairs AS (
        |  SELECT prev_type, event_type, count(*)::BIGINT AS n FROM seq
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT prev_type, sum(n)::BIGINT AS rn FROM pairs
        |  GROUP BY 1),
        |g AS (SELECT sum(n)::BIGINT AS g FROM pairs)
        |SELECT max(g.g) AS n_transitions, count(*)::BIGINT AS n_cells,
        |  sum(floor(-(rn / g.g::DOUBLE) * (n / rn::DOUBLE)
        |    * ln(n / rn::DOUBLE) * 1000000000)::BIGINT)::BIGINT
        |    AS entropy_rate_nano
        |FROM pairs JOIN rt USING (prev_type), g""".stripMargin,
    "q_power_analysis" ->
      s"""WITH base AS (
        |  SELECT count(*)::BIGINT AS n_events,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS n_purchase
        |  FROM events),
        |p AS (SELECT n_events, n_purchase,
        |    (n_purchase * 10000 // n_events)::BIGINT AS p_bp FROM base),
        |d AS (SELECT *, (p_bp // 10)::BIGINT AS delta_bp FROM p)
        |SELECT n_events, n_purchase, p_bp, delta_bp,
        |  (($powerCMicro * 2 * p_bp * (10000 - p_bp)
        |    + delta_bp * delta_bp * 1000000 - 1)
        |   // (delta_bp * delta_bp * 1000000))::BIGINT AS n_per_arm
        |FROM d""".stripMargin,
    "q_luhn_scan" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' card 4539578763621486 on file' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |            THEN ' ref 4539578763621487 logged' ELSE '' END AS text
        |  FROM documents),
        |cands AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text,
        |      '\b\d{13,16}\b')) AS num
        |  FROM planted),
        |checked AS (
        |  SELECT num,
        |    list_sum([CASE WHEN i % 2 = 1 THEN r[i]::BIGINT
        |      ELSE CASE WHEN r[i]::BIGINT * 2 > 9
        |        THEN r[i]::BIGINT * 2 - 9 ELSE r[i]::BIGINT * 2 END
        |      END for i in range(1, len(r) + 1)]) % 10 = 0 AS valid
        |  FROM (SELECT num, string_split(reverse(num), '') AS r FROM cands))
        |SELECT count(*)::BIGINT AS n_candidates,
        |  sum(CASE WHEN valid THEN 1 ELSE 0 END)::BIGINT AS n_luhn_valid,
        |  sum(CASE WHEN valid THEN 0 ELSE 1 END)::BIGINT AS n_rejected
        |FROM checked""".stripMargin,
    "q_rendezvous_routing" ->
      """WITH s16 AS (
        |  SELECT doc_id, arg_max(sh, sc * 16 + sh) AS shard16 FROM (
        |    SELECT doc_id, sh,
        |      ('0x' || substring(md5('hrw|' || doc_id || '|' || sh),
        |        1, 13))::BIGINT AS sc
        |    FROM documents, unnest(range(0, 16)) AS t(sh))
        |  GROUP BY 1),
        |s15 AS (
        |  SELECT doc_id, arg_max(sh, sc * 16 + sh) AS shard15 FROM (
        |    SELECT doc_id, sh,
        |      ('0x' || substring(md5('hrw|' || doc_id || '|' || sh),
        |        1, 13))::BIGINT AS sc
        |    FROM documents, unnest(range(0, 15)) AS t(sh))
        |  GROUP BY 1),
        |j AS (SELECT * FROM s16 JOIN s15 USING (doc_id)),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    sum(CASE WHEN shard16 <> shard15 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_moved,
        |    sum(CASE WHEN shard16 = 15 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_on_removed
        |  FROM j)
        |SELECT n_docs, n_moved, n_on_removed,
        |  (n_moved * 10000 // n_docs)::BIGINT AS moved_bp,
        |  n_moved = n_on_removed AS only_removed_moved
        |FROM agg""".stripMargin,
    "q_emd_lengths" ->
      """WITH d AS (
        |  SELECT n_chars // 50 AS bucket,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |c AS (
        |  SELECT bucket,
        |    sum(ca) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cuma,
        |    sum(cb) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cumb,
        |    sum(ca) OVER ()::BIGINT AS na,
        |    sum(cb) OVER ()::BIGINT AS nb
        |  FROM d),
        |agg AS (SELECT max(na) AS n_a, max(nb) AS n_b,
        |    sum(abs(cuma * nb - cumb * na))::BIGINT AS num FROM c)
        |SELECT n_a, n_b,
        |  (num * 1000000 // (n_a * n_b))::BIGINT AS emd_buckets_micro
        |FROM agg""".stripMargin,
    "q_zipf_slope" ->
      """WITH freq AS (
        |  SELECT t, count(*)::BIGINT AS f FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0 GROUP BY 1),
        |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) - 1 AS pos
        |  FROM freq),
        |xy AS (SELECT
        |    floor(ln((pos + 1)::DOUBLE) * 1000000)::BIGINT AS x,
        |    floor(ln(f::DOUBLE) * 1000000)::BIGINT AS y
        |  FROM r WHERE pos < 1000),
        |agg AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM xy)
        |SELECT n,
        |  (((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
        |    + 100000000000000000::HUGEINT *
        |      (n::HUGEINT * sxx - sx::HUGEINT * sx))
        |   // (n::HUGEINT * sxx - sx::HUGEINT * sx)
        |   - 100000000000000000)::BIGINT AS slope_micro
        |FROM agg""".stripMargin,
    "q_neyman_alloc" ->
      """WITH st AS (
        |  SELECT o_orderpriority AS stratum, count(*)::BIGINT AS nh,
        |    sum(floor(o_totalprice)::BIGINT)::BIGINT AS sx,
        |    sum(floor(o_totalprice)::BIGINT
        |        * floor(o_totalprice)::BIGINT)::BIGINT AS sxx
        |  FROM orders GROUP BY 1),
        |s AS (SELECT stratum, nh,
        |    floor(sqrt((nh::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
        |      / (nh::DOUBLE * (nh - 1))) * 1000)::BIGINT AS s_milli
        |  FROM st),
        |n AS (SELECT stratum, nh, s_milli, nh * s_milli AS num,
        |    sum(nh * s_milli) OVER () AS den FROM s),
        |b AS (SELECT stratum, nh, s_milli,
        |    (num * 1000 // den)::BIGINT AS base,
        |    ((num * 1000) % den)::BIGINT AS rem FROM n),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum)
        |      AS rk,
        |    1000 - sum(base) OVER () AS short FROM b)
        |SELECT stratum, nh, s_milli,
        |  (base + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT
        |    AS n_alloc
        |FROM rk ORDER BY stratum""".stripMargin,
    "q_att_match" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100)::BIGINT)::BIGINT
        |      AS y
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
        |    coalesce(y, 0) AS y
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |q AS (SELECT *,
        |    row_number() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS pos,
        |    count(*) OVER () AS n FROM c),
        |qq AS (SELECT c_nationkey, pos * 4 // n AS quart, treated, y FROM q),
        |cells AS (
        |  SELECT c_nationkey, quart,
        |    sum(treated)::BIGINT AS nt,
        |    (count(*) - sum(treated))::BIGINT AS nc,
        |    sum(CASE WHEN treated = 1 THEN y ELSE 0 END)::BIGINT AS yt,
        |    sum(CASE WHEN treated = 0 THEN y ELSE 0 END)::BIGINT AS yc
        |  FROM qq GROUP BY 1, 2),
        |d AS (SELECT nt,
        |    yt * 1000000 // nt - yc * 1000000 // nc AS diff_micro
        |  FROM cells WHERE nt > 0 AND nc > 0),
        |agg AS (SELECT count(*)::BIGINT AS n_cells, sum(nt)::BIGINT
        |      AS n_treated,
        |    sum(nt * diff_micro)::BIGINT AS num FROM d)
        |SELECT n_cells, n_treated,
        |  ((num::HUGEINT + 10000000000000000::HUGEINT * n_treated)
        |    // n_treated - 10000000000000000)::BIGINT AS att_micro
        |FROM agg""".stripMargin,
    "q_random_walks" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u, list_sort(list(w)) AS nbrs FROM (
        |    SELECT src AS u, dst AS w FROM e
        |    UNION ALL SELECT dst AS u, src AS w FROM e)
        |  GROUP BY 1),
        |s0 AS (SELECT u AS seed, u AS n0, nbrs FROM adj WHERE u % 20 = 0),
        |s1 AS (SELECT seed,
        |    nbrs[(('0x' || substring(md5('rw|' || seed || '|1|' || n0),
        |      1, 13))::BIGINT % len(nbrs) + 1)::INT] AS n1
        |  FROM s0),
        |s1j AS (SELECT s1.seed, s1.n1, adj.nbrs FROM s1
        |  JOIN adj ON adj.u = s1.n1),
        |s2 AS (SELECT seed, n1,
        |    nbrs[(('0x' || substring(md5('rw|' || seed || '|2|' || n1),
        |      1, 13))::BIGINT % len(nbrs) + 1)::INT] AS n2
        |  FROM s1j),
        |s2j AS (SELECT s2.seed, s2.n1, s2.n2, adj.nbrs FROM s2
        |  JOIN adj ON adj.u = s2.n2)
        |SELECT seed, n1, n2,
        |  nbrs[(('0x' || substring(md5('rw|' || seed || '|3|' || n2),
        |    1, 13))::BIGINT % len(nbrs) + 1)::INT] AS n3
        |FROM s2j ORDER BY seed""".stripMargin,
    "q_loo_influence" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*)::BIGINT AS tf FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0 GROUP BY 1, 2),
        |nt AS (SELECT t, sum(tf)::BIGINT AS nt FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS len FROM tf GROUP BY 1),
        |scal AS (SELECT sum(nt)::BIGINT AS nn, count(*)::BIGINT AS v
        |  FROM nt)
        |SELECT doc_id, max(len)::BIGINT AS n_tokens,
        |  sum(floor(tf * (
        |    ln((nt - tf + 1) / (nn - len + v)::DOUBLE)
        |    - ln((nt + 1) / (nn + v)::DOUBLE)
        |  ) * 1000000)::BIGINT)::BIGINT AS influence_micronat
        |FROM tf JOIN nt USING (t) JOIN dl USING (doc_id), scal
        |GROUP BY doc_id
        |ORDER BY influence_micronat, doc_id LIMIT 20""".stripMargin,
    "q_l_diversity" ->
      """WITH sens AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 2000)::BIGINT AS band
        |  FROM customer),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, band, count(*)::BIGINT AS c
        |  FROM sens GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT c_nationkey, c_mktsegment, sum(c)::BIGINT AS k,
        |    count(*)::BIGINT AS l
        |  FROM cells GROUP BY 1, 2)
        |SELECT g.c_nationkey, g.c_mktsegment, max(g.k) AS k, max(g.l) AS l,
        |  sum(floor(-(c / k::DOUBLE) * ln(c / k::DOUBLE)
        |      * 1000000)::BIGINT)::BIGINT AS entropy_micronat
        |FROM cells JOIN g USING (c_nationkey, c_mktsegment)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_auc" ->
      """WITH sc AS (
        |  SELECT len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|with)\b'))::BIGINT AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bys AS (SELECT score, count(*)::BIGINT AS n, sum(pos)::BIGINT AS p
        |  FROM sc GROUP BY 1),
        |r AS (SELECT score, n, p,
        |    coalesce(sum(n) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cum
        |  FROM bys),
        |agg AS (SELECT sum(p)::BIGINT AS n_pos,
        |    (sum(n) - sum(p))::BIGINT AS n_neg,
        |    sum(p * (2 * cum + n + 1))::BIGINT AS rank2_sum
        |  FROM r)
        |SELECT n_pos, n_neg,
        |  ((rank2_sum - n_pos * (n_pos + 1)) * 10000
        |    // (2 * n_pos * n_neg))::BIGINT AS auc_bp
        |FROM agg""".stripMargin,
    // Unrolls the 3 MM iterations as plain CTEs: iteration 1's
    // denominators use p0 = 1e6 for every item (so p_i + p_j is the
    // constant 2e6), iterations 2/3 join the previous ratings twice.
    // All operands nonnegative, so `//` ≡ the driver's truncating
    // long division.
    "q_bradley_terry" ->
      """WITH lb AS (
        |  SELECT l_orderkey AS ok, p_brand AS brand, l_shipdate AS sd
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |wins AS (
        |  SELECT x.brand AS wi, y.brand AS lo, count(*)::BIGINT AS w
        |  FROM lb x JOIN lb y
        |    ON x.ok = y.ok AND x.sd < y.sd AND x.brand <> y.brand
        |  GROUP BY 1, 2),
        |nm AS (
        |  SELECT i, j, sum(w)::BIGINT AS n FROM (
        |    SELECT wi AS i, lo AS j, w FROM wins
        |    UNION ALL SELECT lo AS i, wi AS j, w FROM wins)
        |  GROUP BY 1, 2),
        |wt AS (SELECT wi AS i, sum(w)::BIGINT AS wtot FROM wins GROUP BY 1),
        |base AS (
        |  SELECT nm.i, coalesce(max(wt.wtot), 0)::BIGINT AS wtot,
        |    sum(nm.n)::BIGINT AS n_matches
        |  FROM nm LEFT JOIN wt ON nm.i = wt.i GROUP BY 1),
        |p1 AS (
        |  SELECT d.i, CASE WHEN d.denom > 0
        |      THEN (base.wtot * 1000000000000 // d.denom)::BIGINT
        |      ELSE 0 END AS p
        |  FROM (SELECT i, sum(n * 1000000000000 // 2000000)::BIGINT AS denom
        |        FROM nm GROUP BY 1) d JOIN base ON d.i = base.i),
        |p2 AS (
        |  SELECT d.i, CASE WHEN d.denom > 0
        |      THEN (base.wtot * 1000000000000 // d.denom)::BIGINT
        |      ELSE 0 END AS p
        |  FROM (SELECT nm.i,
        |          sum(nm.n * 1000000000000 // (a.p + b.p))::BIGINT AS denom
        |        FROM nm JOIN p1 a ON nm.i = a.i JOIN p1 b ON nm.j = b.i
        |        GROUP BY 1) d JOIN base ON d.i = base.i),
        |p3 AS (
        |  SELECT d.i, CASE WHEN d.denom > 0
        |      THEN (base.wtot * 1000000000000 // d.denom)::BIGINT
        |      ELSE 0 END AS p
        |  FROM (SELECT nm.i,
        |          sum(nm.n * 1000000000000 // (a.p + b.p))::BIGINT AS denom
        |        FROM nm JOIN p2 a ON nm.i = a.i JOIN p2 b ON nm.j = b.i
        |        GROUP BY 1) d JOIN base ON d.i = base.i)
        |SELECT base.i AS brand, base.wtot AS wins, base.n_matches,
        |  p3.p::BIGINT AS rating_micro
        |FROM base JOIN p3 ON base.i = p3.i ORDER BY brand""".stripMargin,
    "q_ngram_precision" ->
      """WITH planted AS (
        |  SELECT doc_id, text,
        |    text
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' contact user' || doc_id || '@example.com now'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' see https://example.org/doc/' || doc_id || ' page'
        |            ELSE '' END AS ptext
        |  FROM documents),
        |pair AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(regexp_replace(
        |      regexp_replace(ptext, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'
        |    ))), '\s+') AS h,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS r
        |  FROM planted),
        |h1 AS (SELECT doc_id, unnest(h) AS g FROM pair),
        |r1 AS (SELECT doc_id, unnest(r) AS g FROM pair),
        |h2 AS (SELECT doc_id,
        |    unnest([h[i] || ' ' || h[i+1] for i in range(1, len(h))]) AS g
        |  FROM pair),
        |r2 AS (SELECT doc_id,
        |    unnest([r[i] || ' ' || r[i+1] for i in range(1, len(r))]) AS g
        |  FROM pair),
        |c1 AS (
        |  SELECT sum(hc)::BIGINT AS hyp,
        |    sum(least(hc, coalesce(rc, 0)))::BIGINT AS clip
        |  FROM (SELECT doc_id, g, count(*)::BIGINT AS hc FROM h1 GROUP BY 1, 2) a
        |  LEFT JOIN (SELECT doc_id, g, count(*)::BIGINT AS rc FROM r1
        |             GROUP BY 1, 2) b USING (doc_id, g)),
        |c2 AS (
        |  SELECT sum(hc)::BIGINT AS hyp,
        |    sum(least(hc, coalesce(rc, 0)))::BIGINT AS clip
        |  FROM (SELECT doc_id, g, count(*)::BIGINT AS hc FROM h2 GROUP BY 1, 2) a
        |  LEFT JOIN (SELECT doc_id, g, count(*)::BIGINT AS rc FROM r2
        |             GROUP BY 1, 2) b USING (doc_id, g))
        |SELECT c1.hyp AS hyp_1grams, c1.clip AS clip_1grams,
        |  (c1.clip * 10000 // c1.hyp)::BIGINT AS p1_bp,
        |  c2.hyp AS hyp_2grams, c2.clip AS clip_2grams,
        |  (c2.clip * 10000 // c2.hyp)::BIGINT AS p2_bp
        |FROM c1, c2""".stripMargin,
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
        |    label AS qlabel
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4) AS score,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4) DESC,
        |               e.vec_id) AS rk
        |  FROM embeddings e JOIN q
        |    ON e.vec_id <> q.query_id AND e.label <> q.qlabel)
        |SELECT query_id, neighbor_id, score, rk FROM scored
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)
}
