package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link prediction via the resource-allocation index (Zhou/Lu/Zhang
  * 2009) with a HUB DEGREE CAP — the scale guard that keeps the wedge
  * enumeration linear on skewed graphs.
  *
  * RA(u,v) = Σ over common neighbors w of 1/deg(w), here on an exact
  * integer micro grid (`1000000 div deg`) so the ranking is
  * engine-exact (unlike Adamic-Adar's 1/ln deg, where libm ulps could
  * split a floor).
  *
  * Why the cap: the candidate stage enumerates every 2-path through a
  * shared neighbor w — Σ_w deg(w)² rows. One hub with deg 10⁶ at
  * 100 TB makes that term quadratic (the exact failure mode
  * [[Triangles]] solves with degree orientation — unavailable here,
  * because RA needs ALL wedge endpoints as output pairs, not a count).
  * The fix is the standard one: DROP wedges through any w with
  * deg(w) > degCap.
  *
  * Error bound (stated, exact): every dropped wedge contributes
  * `1000000 div deg(w)` ≤ 1000000/degCap micro-units, so a pair's
  * score undercount is ≤ (its common hub neighbors) × 1e6/degCap —
  * with the default cap 1024, under 977 micro (0.000977) per hub.
  * Hub wedges are precisely the wedges RA values least (weight
  * 1/deg(w)) while costing the most rows, so the cap trims the
  * cheapest signal first. On the test corpora the cap never binds
  * (max co-purchase degree 13 at sf0.1), so the capped operator is
  * bit-identical to the exact one there — and the DuckDB oracle
  * mirrors the `deg <= cap` filter, keeping the query hash-exact at
  * any cap.
  *
  * Plan shape (the Triangles adjacency lesson applied to RA): group
  * the capped adjacency per shared neighbor w (one Σ deg shuffle of
  * the adjacency — never the Σ deg² wedge stream) and emit the
  * C(deg,2) pairs MAP-SIDE from the collected neighbor list, so the
  * pair stream reaches the final (u,v) exchange already partially
  * aggregated. Per-row list size is bounded by the cap. Against the
  * self-join form (a shuffle-hash join of the capped adjacency with
  * itself on w; same-session A/B, r13, sf0.1): copurchase graph
  * neutral at 0.63–0.65 s both forms; hub-skewed graph 0.72 s agg vs
  * 0.84 s join — and the gap widens with hub degree, since the join
  * form shuffles the raw wedge stream where this form pre-aggregates.
  *
  * Scale shape (ScaleCheck `link_predict` family): on a hub-skewed
  * replication (disjoint graph copies PLUS a hub whose degree grows
  * with the factor) candidate rows grow ~linearly per doubling;
  * uncapped they grow quadratically through the hub term.
  */
object LinkPredict {

  val DefaultDegCap = 1024

  /** Candidate non-oriented pairs with RA micro scores: one row per
    * (u, v, ra_micro), u < v, BEFORE removing existing edges. The
    * count of this frame is the family's work metric. `edges` must be
    * canonical (src < dst, deduplicated). */
  def candidates(edges: DataFrame, degCap: Int = DefaultDegCap): DataFrame =
    candidatesOn(edges.select(col("src"), col("dst")).localCheckpoint(true),
      degCap)

  /** Scored NON-ADJACENT pairs: candidates minus existing edges
    * (LEFT ANTI on the canonical edge list). One checkpoint feeds all
    * three edge consumers (two adjacency legs + the anti side). */
  def ra(edges: DataFrame, degCap: Int = DefaultDegCap): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val cand = candidatesOn(e, degCap)
    cand.join(e, cand("u") === e("src") && cand("v") === e("dst"),
      "left_anti")
  }

  /** Aggregate-form core: per-w neighbor lists → map-side pair
    * explode → one partially-aggregated (u, v) exchange; each emitted
    * pair adds its shared neighbor's rw(w). */
  private def candidatesOn(e: DataFrame, degCap: Int): DataFrame = {
    val adj = e.select(col("src").as("u"), col("dst").as("w"))
      .union(e.select(col("dst").as("u"), col("src").as("w")))
    // Measured NOT to help (round 12): checkpoint+count+broadcast of
    // the degree frame regressed q_link_predict 2.90 → 3.36 s — the
    // shuffle join's w-exchange is REUSED by the groupBy(w, rw) right
    // below (HashPartitioning(w) satisfies the clustering), so the
    // broadcast saves only the small deg exchange while the groupBy
    // then pays a fresh full exchange of the capped adjacency.
    val deg = adj.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("d"))
    // Hub cap applied BEFORE the per-w aggregate: super-cap neighbor
    // lists are never collected.
    val byW = adj.join(deg, col("w") === col("node"))
      .where(col("d") <= lit(degCap))
      .groupBy(col("w"), expr("1000000 div d").as("rw"))
      .agg(sort_array(collect_list(col("u"))).as("us"))
      .where(size(col("us")) >= 2)
    byW
      .select(col("rw"), explode(expr(
        """flatten(transform(us,
          |  x -> transform(filter(us, y -> y > x),
          |       y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(sum(col("rw")).as("ra_micro"))
  }
}
