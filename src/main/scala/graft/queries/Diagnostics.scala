package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-6 diagnostics operators: the model/data-quality measurements
  * a pipeline runs BETWEEN the heavy stages — time-series
  * autocorrelation, functional-dependency discovery, importance-weight
  * health, cluster-separation quality, and community-structure
  * strength. Every query follows the repo's oracle-parity rules: all
  * ratios are floored integer grids (milli/bp/nano), signed divisions
  * go through the DECIMAL shift trick, and every per-term float is
  * floored ONCE from an identically-shaped expression before any
  * integer aggregation.
  *
  * Scale notes (100 TB): every query aggregates the corpus to a
  * bounded frame FIRST (days × types, FD groups, label × dim grid,
  * brand communities) and does its arithmetic there; nothing joins or
  * windows over raw rows except the one scan-stage pass that builds
  * the aggregate.
  */
object Diagnostics {

  /** ACF lags measured by q_acf (calendar-day lags; a missing day
    * simply contributes no pair at that lag — declared semantics). */
  val acfLags: Seq[Int] = Seq(1, 2, 3, 7)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Autocorrelation function of daily event counts per type at
    // calendar lags 1/2/3/7 — the seasonality/burstiness complement
    // that says HOW persistent daily load is (lag-7 picks up weekly
    // cycles). Exactness: with N = days present and S = Σx, the
    // mean-centered deviation N·x_t − S is an exact integer, so
    // num_k = Σ (N·x_t − S)(N·x_{t+k} − S) and den = Σ (N·x_t − S)²
    // are exact integer sums (the N² factors cancel in the ratio).
    // The signed milli ratio goes through the DECIMAL shift div. One
    // scan-stage daily aggregate; everything after runs on the
    // days × types frame (≤ a few hundred rows at any SF).
    "q_acf" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val st = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"))
      val dev = daily.join(broadcast(st), Seq("event_type"))
        .select(col("event_type"), col("d"),
          (col("nd") * col("x") - col("sx")).as("e"))
        .localCheckpoint(true) // den agg + both pair-join legs
      val den = dev.groupBy(col("event_type"))
        .agg(sum(col("e") * col("e")).as("den"))
      val lagged = dev
        .select(col("event_type"), col("d"), col("e"),
          explode(typedLit(acfLags)).as("lag"))
      val num = lagged.as("a")
        .join(dev.as("b"),
          col("a.event_type") === col("b.event_type") &&
            date_add(col("a.d"), col("a.lag")) === col("b.d"))
        .groupBy(col("a.event_type").as("event_type"), col("a.lag").as("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a.e") * col("b.e")).as("num"))
      num.join(broadcast(den), Seq("event_type"))
        .where(col("den") > 0)
        .select(col("event_type"), col("lag"), col("n_pairs"),
          expr("""CAST((CAST(num AS DECIMAL(38,0)) * 1000
                 |  + CAST(10000000 AS DECIMAL(38,0)) * den)
                 | div CAST(den AS DECIMAL(38,0))
                 | - 10000000 AS BIGINT)""".stripMargin).as("acf_milli"))
        .orderBy(asc("event_type"), asc("lag"))
    }),

    // Functional-dependency discovery audit (TANE-style g3 error,
    // Huhtala et al. 1999): for each candidate FD LHS → RHS, the
    // distinct-LHS group count, how many groups witness >1 RHS value
    // (violating groups), and g3 = the minimum rows to delete to make
    // the FD hold exactly (Σ per group of n − max single-RHS count) —
    // the standard "how approximate is this dependency" profile that
    // drives schema normalization and DQ rule mining. Each FD costs
    // one two-level hash aggregate on its own table; the reported
    // frame is 6 rows.
    "q_fd_audit" -> ((s, dir) => {
      def fd(name: String, df: DataFrame, lhs: String, rhs: String) =
        df.groupBy(col(lhs).as("l"), col(rhs).as("r"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("l"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
            max(col("c")).as("mx"))
          .agg(count(lit(1)).as("n_groups"),
            sum((col("k") > 1).cast("long")).as("viol_groups"),
            sum(col("n")).as("n_rows"),
            sum(col("n") - col("mx")).as("g3"))
          .select(lit(name).as("fd"), col("n_groups"), col("viol_groups"),
            expr("viol_groups * 10000L div n_groups").as("viol_bp"),
            col("n_rows"), col("g3"),
            expr("g3 * 10000L div n_rows").as("g3_bp"))
      fd("customer.c_custkey->c_nationkey", customer(s, dir),
          "c_custkey", "c_nationkey")
        .unionAll(fd("customer.c_nationkey->c_mktsegment", customer(s, dir),
          "c_nationkey", "c_mktsegment"))
        .unionAll(fd("lineitem.l_partkey->l_suppkey", lineitem(s, dir),
          "l_partkey", "l_suppkey"))
        .unionAll(fd("part.p_brand->p_type", part(s, dir),
          "p_brand", "p_type"))
        .unionAll(fd("part.p_name->p_brand", part(s, dir),
          "p_name", "p_brand"))
        .unionAll(fd("part.p_type->p_size", part(s, dir),
          "p_type", "p_size"))
        .orderBy(asc("fd"))
    }),

    // Importance-weight health diagnostics — the effective sample
    // size the reweighted estimators (PPS / DSIR / temperature mixes)
    // actually carry: ESS = (Σw)²/Σw² (Kish), the max single-weight
    // share, and the relative variance of the weights — all from ONE
    // aggregate over exact integer cent weights; every emitted ratio
    // is a DECIMAL cross-multiplied floor division (S² exceeds
    // BIGINT at scale, so the arithmetic runs in DECIMAL(38,0)
    // throughout). An ESS ratio near 10000 bp means weighting is
    // nearly free; a small one warns the estimator rests on few rows.
    "q_weight_ess" -> ((s, dir) => {
      orders(s, dir)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("w"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("s"),
          // w² sums overflow BIGINT (w is cents; w² ~ 2.5e15 × rows) —
          // the moment sum runs in DECIMAL(38,0), as does everything after
          sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("ss"),
          max(col("w")).as("mx"))
        .select(col("n"), col("s").as("sum_w"),
          expr("""CAST(CAST(s AS DECIMAL(38,0)) * s * 1000
                 | div CAST(ss AS DECIMAL(38,0)) AS BIGINT)"""
            .stripMargin).as("ess_milli"),
          expr("""CAST(CAST(s AS DECIMAL(38,0)) * s * 10000
                 | div (CAST(ss AS DECIMAL(38,0)) * n) AS BIGINT)"""
            .stripMargin).as("ess_ratio_bp"),
          expr("mx * 10000L div s").as("max_share_bp"),
          expr("""CAST((CAST(n AS DECIMAL(38,0)) * ss * 1000)
                 | div (CAST(s AS DECIMAL(38,0)) * s) - 1000 AS BIGINT)"""
            .stripMargin).as("relvar_milli"))
    }),

    // Simplified silhouette per embedding label (centroid form,
    // Hruschka et al.): a = squared distance to the OWN label
    // centroid, b = min squared distance to any OTHER label centroid,
    // s = (b − a)/max(a, b) — the cluster-separation readout for the
    // labels the ANN/IVF family indexes. Engine-exact: components
    // floor to the integer milli grid (the q_embed_centroids cast),
    // centroids are floor-div milli means (declared: the centroid
    // LIVES on the milli grid), so every d² is an exact integer and
    // both signed ratios ride the shift div. One posexplode pass
    // against the broadcast label × dim centroid grid (|labels|·64
    // rows); nothing quadratic in the corpus.
    "q_silhouette" -> ((s, dir) => {
      val ex = embeddings(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .select(col("vec_id"), col("label"), col("pos"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("vm"))
        .localCheckpoint(true) // centroid agg + the distance pass
      val cent = ex.groupBy(col("label").as("clabel"), col("pos"))
        .agg(sum(col("vm")).as("sm"), count(lit(1)).as("cn"))
        .select(col("clabel"), col("pos"),
          expr("(sm + cn * 10000000L) div cn - 10000000L").as("cm"))
      val d2 = ex.join(broadcast(cent), Seq("pos"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(sum((col("vm") - col("cm")) * (col("vm") - col("cm"))).as("d2"))
      val ab = d2.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("clabel") === col("label"), col("d2"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("d2"))).as("b"))
        .where(greatest(col("a"), col("b")) > 0)
        .select(col("label"), expr(
          """((b - a) * 1000 + 10000000L * greatest(a, b))
            | div greatest(a, b) - 10000000L""".stripMargin).as("sv"))
      ab.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("sv")).as("ssum"))
        .select(col("label"), col("n_vecs"),
          expr("(ssum + n_vecs * 10000000L) div n_vecs - 10000000L")
            .as("mean_s_milli"))
        .orderBy(asc("label"))
    }),

    // Spearman rank correlation between document length and distinct
    // vocabulary (the monotone-association complement to q_linreg's
    // linear slope). Ranks are the DETERMINISTIC total order
    // (value, doc_id) through the range-sort position machinery — a
    // permutation of 0..n−1 on both engines, so ρ = 1 − 6Σd²/(n(n²−1))
    // is an exact rational; the subtracted term is nonnegative, so
    // truncating div agrees cross-engine without a shift. No window
    // over the corpus — positions come from the skew-free
    // repartitionByRange + zipWithIndex path.
    "q_spearman" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"),
        col("n_chars").as("x"),
        size(array_distinct(split(trim(lower(col("text"))), "\\s+")))
          .cast("long").as("y"))
      val rx = graft.ops.Shuffle.positionsBy(base, Seq("x", "doc_id"), "rx")
      val rxy = graft.ops.Shuffle.positionsBy(rx, Seq("y", "doc_id"), "ry")
      rxy.select(((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
        .select(col("n"), col("sd2"),
          expr("""1000000L - CAST(CAST(sd2 AS DECIMAL(38,0)) * 6000000
                 | div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))
                 | AS BIGINT)""".stripMargin).as("rho_micro"))
    }),

    // Kendall τ-b between daily order count and daily revenue — the
    // tie-aware pairwise-concordance complement to q_spearman's
    // rank-difference ρ (τ's pair classes are what bootstrap CIs and
    // partial correlations build on). Exactness: the five pair
    // classes (concordant / discordant / x-tie-only / y-tie-only /
    // both-tied) are integer counts from sign comparisons on exact
    // integers (order counts, revenue cents); τ-b floors ONCE from
    // one identically-shaped double, (C−D)·10⁶ / √((n0−n1)(n0−n2)),
    // whose integer inputs (≤ ~10¹³) are double-exact. Scale shape:
    // the corpus aggregates to the bounded calendar axis FIRST (the
    // q_acf rule — the axis does not grow with SF), and the pair
    // enumeration runs on that broadcast-bounded frame only; nothing
    // quadratic ever touches raw rows.
    "q_kendall" -> ((s, dir) => {
      val daily = orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("y"))
        .localCheckpoint(true) // both legs of the pair join
      // spread the streamed side of the nested loop (the q_theil_sen
      // lesson: AQE coalesces the tiny daily aggregate to ~1
      // partition, serializing the axis² pair enumeration)
      val p = daily.repartition(32).as("a")
        .join(broadcast(daily.as("b")), col("a.d") < col("b.d"))
        .select(signum(col("b.x") - col("a.x")).cast("int").as("sx"),
          signum(col("b.y") - col("a.y")).cast("int").as("sy"))
      p.agg(
          count(lit(1)).as("n0"),
          sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("conc"),
          sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).as("disc"),
          sum(when(col("sx") === 0 && col("sy") =!= 0, 1L).otherwise(0L))
            .as("tie_x"),
          sum(when(col("sy") === 0 && col("sx") =!= 0, 1L).otherwise(0L))
            .as("tie_y"),
          sum(when(col("sx") === 0 && col("sy") === 0, 1L).otherwise(0L))
            .as("tie_xy"))
        .select(col("n0"), col("conc"), col("disc"), col("tie_x"),
          col("tie_y"), col("tie_xy"),
          expr("""CAST(floor((conc - disc) * 1000000.0
                 | / sqrt(CAST(n0 - tie_x - tie_xy AS DOUBLE)
                 |        * CAST(n0 - tie_y - tie_xy AS DOUBLE))) AS BIGINT)"""
            .stripMargin).as("tau_micro"))
    }),

    // Theil–Sen robust trend of daily revenue (median of all pairwise
    // slopes, Sen 1968 — 29% breakdown point vs q_linreg's OLS, the
    // outlier-immune answer to "is volume drifting"). Slopes are
    // exact rationals Δcents/Δdays; the median is the lower-median
    // rank-selected PAIR under the (slope-double, d1, d2) total order
    // — the double is ONE identically-shaped expression on both
    // engines used for ORDERING only (rationals colliding in double
    // order deterministically by date pair), and the emitted value is
    // the selected pair's exact integer micro-slope (num·10⁶ div den;
    // BIGINT div truncates identically on both engines either sign).
    // Scale shape: calendar-bounded axis first (the q_acf rule), then
    // one skew-free range-sort rank selection (ops/Shuffle
    // positionsBy, never a single-reducer window) over the ~axis²/2
    // pair frame — bounded at ANY SF.
    "q_theil_sen" -> ((s, dir) => {
      val daily = orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("rev"))
        .localCheckpoint(true) // both legs of the pair join
      // The streamed side of the broadcast nested loop is the tiny
      // daily aggregate — AQE coalesces it to ~1 partition, which
      // would serialize the axis² pair generation; spread it so the
      // loop runs on every core.
      val pairs = daily.repartition(32).as("a")
        .join(broadcast(daily.as("b")), col("a.d") < col("b.d"))
        .select((col("b.rev") - col("a.rev")).as("num"),
          datediff(col("b.d"), col("a.d")).cast("long").as("den"),
          col("a.d").as("d1"), col("b.d").as("d2"))
        .withColumn("s",
          col("num").cast("double") / col("den").cast("double"))
      // n_pairs is pure arithmetic on the (tiny) axis count, so the
      // ranked pair frame has exactly ONE consumer — the median
      // filter — and is evaluated once, no checkpoint needed.
      val nd = daily.count()
      val np = nd * (nd - 1) / 2
      graft.ops.Shuffle.positionsBy(pairs, Seq("s", "d1", "d2"), "pos")
        .where(col("pos") === lit((np - 1) / 2))
        .select(lit(np).as("n_pairs"), col("num").as("slope_num"),
          col("den").as("slope_den"),
          expr("num * 1000000L div den").as("slope_micro"))
    }),

    // Kendall τ-b over the UNBOUNDED corpus — q_kendall without the
    // calendar-axis restriction: doc length vs distinct vocabulary
    // per document, discordant pairs counted EXACTLY in O(n log n)
    // by ops/Inversions (Knight's construction: D = inversions of
    // the (y,x,id)-rank sequence read in (x,y,id) order — the
    // consistent tie-breaks make rank-space inversions equal
    // value-space discordant pairs), tie classes n1/n2/n3 from three
    // group-size aggregates, C derived by inclusion–exclusion
    // (C = n0 − D − n1 − n2 + n3, pinned against brute force in
    // InversionsSpec). τ-b floors once from the identically-shaped
    // double (integer inputs < 2⁵³ at verify/bench scales). Scale
    // shape: no pair frame EVER materializes — two skew-free
    // range-sort rank passes, two perfectly-balanced grouped local
    // counts, one P×B histogram; the oracle replays the O(n²) pair
    // definition, affordable only because DuckDB verifies at sf0.01.
    "q_kendall_docs" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"),
          col("n_chars").cast("long").as("x"),
          size(array_distinct(split(trim(lower(col("text"))), "\\s+")))
            .cast("long").as("y"))
        .localCheckpoint(true) // rank passes + three tie aggregates
      val d = graft.ops.Inversions.count(
        base, Seq("x", "y", "doc_id"), Seq("y", "x", "doc_id"))
      def tiePairs(cols: Seq[String], out: String) =
        base.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as(out))
      base.agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tiePairs(Seq("x"), "n1")))
        .crossJoin(broadcast(tiePairs(Seq("y"), "n2")))
        .crossJoin(broadcast(tiePairs(Seq("x", "y"), "n3")))
        .select(col("n"), expr("n * (n - 1) div 2").as("n0"),
          col("n1"), col("n2"), col("n3"), lit(d).as("disc"))
        .select(col("n"), col("n0"), col("n1"), col("n2"), col("n3"),
          expr("n0 - disc - n1 - n2 + n3").as("conc"), col("disc"))
        .select(col("n"), col("n0"), col("n1"), col("n2"), col("n3"),
          col("conc"), col("disc"),
          expr("""CAST(floor((conc - disc) * 1000000.0
                 | / sqrt(CAST(n0 - n1 AS DOUBLE)
                 |        * CAST(n0 - n2 AS DOUBLE))) AS BIGINT)"""
            .stripMargin).as("tau_micro"))
    }),

    // Collocation discovery via Dunning's G² log-likelihood ratio
    // (Dunning 1993) — the statistically-sound upgrade over raw PMI
    // for "which bigrams are real phrases": per bigram the 2×2
    // contingency (a, r−a, c−a, N−r−c+a) against the independence
    // model, G² = 2·Σ k·ln(kN/(row·col)). Every k, row, col, N is an
    // exact integer count (products < 2⁵³ stay exact in the double
    // ln argument), the whole G² floors ONCE to integer nano units,
    // and ranking happens on the floored integer. Bigrams come from
    // ONE materialized token array per doc (element_at on an
    // attribute is O(1)); marginals derive from the bigram-count
    // frame itself, so the corpus explodes exactly once.
    "q_collocations" -> ((s, dir) => {
      val toks = documents(s, dir)
        .select(split(trim(lower(col("text"))), "\\s+").as("w"))
        .localCheckpoint(true)
      val big = toks
        .where(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("g"))
        .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
        .agg(count(lit(1)).as("a"))
        .localCheckpoint(true) // marginals + grand total + final join
      val r = big.groupBy(col("w1")).agg(sum(col("a")).as("row_n"))
      val c = big.groupBy(col("w2")).agg(sum(col("a")).as("col_n"))
      val nTot = big.agg(sum(col("a")).as("nn"))
      big.where(col("a") >= 5)
        .join(broadcast(r), Seq("w1"))
        .join(broadcast(c), Seq("w2"))
        .crossJoin(broadcast(nTot))
        .select(col("w1"), col("w2"), col("a"), expr(
          """CAST(floor((
            |  CASE WHEN a > 0 THEN a * ln(CAST(a * nn AS DOUBLE)
            |    / CAST(row_n * col_n AS DOUBLE)) ELSE 0.0 END
            |  + CASE WHEN row_n - a > 0 THEN (row_n - a)
            |    * ln(CAST((row_n - a) * nn AS DOUBLE)
            |      / CAST(row_n * (nn - col_n) AS DOUBLE)) ELSE 0.0 END
            |  + CASE WHEN col_n - a > 0 THEN (col_n - a)
            |    * ln(CAST((col_n - a) * nn AS DOUBLE)
            |      / CAST((nn - row_n) * col_n AS DOUBLE)) ELSE 0.0 END
            |  + CASE WHEN nn - row_n - col_n + a > 0
            |    THEN (nn - row_n - col_n + a)
            |    * ln(CAST((nn - row_n - col_n + a) * nn AS DOUBLE)
            |      / CAST((nn - row_n) * (nn - col_n) AS DOUBLE)) ELSE 0.0 END
            |) * 2000000000) AS BIGINT)""".stripMargin).as("g2_nano"))
        .orderBy(desc("g2_nano"), asc("w1"), asc("w2"))
        .limit(30)
    }),

    // Near-dup threshold sweep — the tuning curve that decides WHERE
    // to set the dedup knife: from ONE exact Jaccard pair frame
    // (same machinery/params as q_near_dup_jaccard), the pair count
    // and distinct higher-id docs dropped at each candidate
    // threshold. Exactness: jaccard is round(·,4) on both engines,
    // so jbp = floor(j·10⁴ + 0.5) is the identical integer, and the
    // sweep compares integers. The pair frame is tiny post-0.3, so
    // the 7× threshold explode and the distinct agg are free.
    "q_dedup_sweep" -> ((s, dir) => {
      val pairs = graft.dedup.Dedup.jaccardPairs(
          spread(documents(s, dir)), "text", "doc_id",
          n = 3, threshold = 0.3, maxShingleDf = 10)
        .select(expr("CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)")
          .as("jbp"), col("doc_b"))
      pairs
        .select(col("jbp"), col("doc_b"), explode(typedLit(
          Seq(3000L, 4000L, 5000L, 6000L, 7000L, 8000L, 9000L)))
          .as("threshold_bp"))
        .where(col("jbp") >= col("threshold_bp"))
        .groupBy(col("threshold_bp"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_b")).as("n_docs_dropped"))
        .orderBy(asc("threshold_bp"))
    }),

    // Permutation test for the A/B conversion lift — the
    // nonparametric complement to q_power_analysis: 16 md5-seeded
    // re-randomizations of the arm assignment (p = 0 IS the observed
    // experiment — same coin family), per-permutation statistic
    // T = |rate₁ − rate₀| floored ONCE to micro from one
    // identically-shaped double expression, and the one-sided
    // p-value (1 + #{T_perm ≥ T_obs})/(n_perms + 1) in basis points.
    // One scan builds the per-user frame; the 17× explode and all
    // aggregates run on |users| rows then a 17-row frame.
    "q_perm_test" -> ((s, dir) => {
      val users = events(s, dir)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("long"))
          .as("converted"))
      val armed = users
        .select(col("user_id"), col("converted"),
          explode(typedLit((0 to 16).toList)).as("p"))
        .withColumn("arm",
          conv(substring(md5(concat(lit("perm|"), col("p").cast("string"),
            lit("|"), col("user_id").cast("string"))), 1, 13), 16, 10)
            .cast("long") % 2)
      val stats = armed.groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("sc"),
          sum(col("arm")).as("n1"),
          sum(col("arm") * col("converted")).as("s1"))
        .select(col("p"), col("n1"), (col("n") - col("n1")).as("n0"),
          col("s1"), (col("sc") - col("s1")).as("s0"))
        .select(col("p"), expr(
          """CAST(floor(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            | - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000000)
            | AS BIGINT)""".stripMargin).as("t_micro"))
      val obs = stats.where(col("p") === 0)
        .select(col("t_micro").as("t_obs_micro"))
      stats.where(col("p") >= 1)
        .crossJoin(broadcast(obs))
        .agg(max(col("t_obs_micro")).as("t_obs_micro"),
          count(lit(1)).as("n_perms"),
          sum((col("t_micro") >= col("t_obs_micro")).cast("long"))
            .as("n_ge"))
        .select(col("t_obs_micro"), col("n_perms"), col("n_ge"),
          expr("(1 + n_ge) * 10000L div (n_perms + 1)").as("p_value_bp"))
    }),

    // Benjamini-Hochberg FDR screen (JRSS-B 1995) over per-token
    // permutation tests — the MULTIPLE-testing control between
    // q_chi2's association scores and q_perm_test's single test:
    // "which of the top-20 df tokens associate with LONG documents
    // (n_chars >= 260 — a fixed split constant, never a data-dependent
    // median), at FDR 0.25". Per token, the statistic is the absolute presence-
    // rate gap in basis points (floor-div per side, abs of the signed
    // difference — exact integers); 32 md5-nibble label permutations
    // (ONE digest carries all 32 coins — the q_halfsample_ci rule;
    // 32 keeps the minimum p-value 1/33 BELOW the BH line at small
    // ranks, so the test has actual power at m=20) give the
    // permutation p-value (1+#{T>=T_obs})·10000 div 33; BH
    // picks k* = max{k : p_(k)·m <= k·alpha_bp} by pure integer
    // cross-multiply. Scale shape: one distinct-token explode feeds
    // BOTH the df ranking and the presence join (checkpointed); the
    // 33× perm explode runs on docs and on the 20-token presence
    // slice; everything after the two hash aggregates is a 20-row
    // frame (its rank window is the bounded GlobalWindow class).
    "q_fdr_tokens" -> ((s, dir) =>
      graft.ops.Fdr.tokenScreen(
        documents(s, dir).select(col("doc_id"),
          (col("n_chars") >= 260).as("lbl"), col("text")),
        m = 20, alphaBp = 2500L)),

    // DIMSUM-sampled all-pairs item cosine (Zadeh & Carlson, KDD'13 /
    // RowMatrix.columnSimilarities) — the shuffle-bounded scale path
    // behind q_item_similarity's exact wedge join: each in-basket
    // pair survives to the shuffle with p = min(1, γ/(‖cᵢ‖·‖cⱼ‖)), so
    // hot-item pairs (the quadratic blowup) are thinned hardest while
    // cold pairs pass exactly. Deterministic 52-bit md5 coin →
    // bit-reproducible estimates. HASH-EXACT oracle since round 7:
    // the coin is an exact md5 dyadic and every float op (sqrt
    // products, the p·2⁵² threshold, the floor-once estimate) is ONE
    // identically-shaped IEEE expression mirrored verbatim in SQL, so
    // DuckDB replays the SAMPLE itself bit-for-bit; DimsumSpec still
    // pins exact-equivalence at p=1 and the dimsum_mean_ratio gate
    // tracks estimate quality at verify SF.
    "q_dimsum" -> ((s, dir) =>
      graft.similarity.Dimsum.pairs(
        lineitem(s, dir).select(col("l_orderkey").as("r"),
          col("l_partkey").as("c")),
        "r", "c", gamma = 20.0, minCosE4 = 500L)
        // support cutoff mirrors q_item_similarity's cooc >= 2: the
        // cooc=1 tiny-support tail is high-cosine but meaningless
        .where(col("n_sampled") >= 2)
        .orderBy(asc("a"), asc("b"))),

    // Entry-sampled ("two-sided") DIMSUM — the tier above q_dimsum:
    // entries are coined BEFORE the pair join (p_c = min(1, √γ/‖c‖)),
    // so the wedge stream is built from the thinned matrix and never
    // materializes at full size — the shape that survives when hot
    // rows make pair ENUMERATION itself the bottleneck (DISCO,
    // Zadeh & Goel 2012). γ=16 keeps √γ exactly representable, so the
    // DuckDB oracle replays the thinned matrix bit-for-bit (same
    // md5-dyadic + fixed-IEEE-shape recipe as q_dimsum).
    "q_dimsum_entry" -> ((s, dir) =>
      graft.similarity.Dimsum.pairsTwoSided(
        lineitem(s, dir).select(col("l_orderkey").as("r"),
          col("l_partkey").as("c")),
        "r", "c", gamma = 16.0, minCosE4 = 500L)
        .where(col("n_sampled") >= 2)
        .orderBy(asc("a"), asc("b"))),

    // Greedy maximum-coverage exemplar selection (Nemhauser 1978
    // (1−1/e) guarantee) — "which 5 docs show the most vocabulary":
    // the sequential argmax runs driver-side over a bounded md5-order
    // candidate set (the ivfCentroids/coreset recipe) and the corpus
    // is touched by ONE distributed pass scoring the chosen prefix
    // against the full vocabulary. The oracle replays the greedy
    // EXACTLY as five unrolled argmax CTE layers (gain DESC, doc_id
    // tie-break mirrored), so the selection itself is hash-checked.
    "q_greedy_cover" -> ((s, dir) =>
      graft.ops.Coverage.coverageReport(documents(s, dir), "text",
        "doc_id", candidates = 100, k = 5)),

    // Cramér's V² association strength between categorical column
    // pairs — the any-shape r×c generalization of q_chi2's 2×2 token
    // test, the "which dimensions are redundant" screen before
    // stratification/blocking choices. Never a float: each cell's
    // χ² term (o·n − r·c)²/(n·r·c) is an exact integer division on
    // the nano grid in DECIMAL(38,0) (the squared numerator exceeds
    // double precision, so floor-once-from-double would NOT be exact
    // here — integer division per cell is), terms integer-sum, and
    // V² = χ²/(n·min(r−1,c−1)) emits in basis points. One hash agg
    // per pair builds the cell frame; marginals derive from it.
    "q_cramers_v" -> ((s, dir) => {
      def v2(name: String, df: DataFrame, a: String, b: String) = {
        val cells = df.groupBy(col(a).cast("string").as("ca"),
            col(b).cast("string").as("cb"))
          .agg(count(lit(1)).as("o"))
          .localCheckpoint(true) // marginals ×2 + total + final join
        val margR = cells.groupBy(col("ca")).agg(sum(col("o")).as("rn"))
        val margC = cells.groupBy(col("cb")).agg(sum(col("o")).as("cn"))
        val tot = cells.agg(sum(col("o")).as("nn"),
          count_distinct(col("ca")).as("r_levels"),
          count_distinct(col("cb")).as("c_levels"))
        cells.join(broadcast(margR), Seq("ca"))
          .join(broadcast(margC), Seq("cb"))
          .crossJoin(broadcast(tot))
          .select(col("r_levels"), col("c_levels"), col("nn"), expr(
            """CAST((CAST(o AS DECIMAL(38,0)) * nn - CAST(rn AS DECIMAL(38,0)) * cn)
              |  * (CAST(o AS DECIMAL(38,0)) * nn - CAST(rn AS DECIMAL(38,0)) * cn)
              |  * 1000000000
              | div (CAST(nn AS DECIMAL(38,0)) * rn * cn)
              | AS DECIMAL(38,0))""".stripMargin).as("term_nano"))
          .groupBy(col("r_levels"), col("c_levels"), col("nn"))
          .agg(sum(col("term_nano")).as("chi2_nano"))
          .select(lit(name).as("pair"), col("nn").as("n"),
            col("r_levels"), col("c_levels"),
            expr("CAST(chi2_nano div 1000000 AS BIGINT)").as("chi2_milli"),
            expr("""CAST(chi2_nano * 10000
                   | div (CAST(least(r_levels - 1, c_levels - 1) AS DECIMAL(38,0))
                   |      * nn * 1000000000) AS BIGINT)""".stripMargin)
              .as("v2_bp"))
      }
      v2("lineitem.returnflag~linestatus", lineitem(s, dir),
          "l_returnflag", "l_linestatus")
        .unionAll(v2("orders.priority~status", orders(s, dir),
          "o_orderpriority", "o_orderstatus"))
        .unionAll(v2("part.brand~size", part(s, dir), "p_brand", "p_size"))
        .orderBy(asc("pair"))
    }),

    // Quantile normalization mapping table — the batch-effect
    // remover's lookup: for each source and decile p, the source's
    // own p-th length value next to the POOLED p-th value it maps
    // onto. Every quantile is the ⌈p·n⌉-th smallest DATA VALUE
    // (rank-selected, never interpolated — the Winsorize rule), so
    // both engines agree exactly. Per-source ranks via the skew-free
    // GroupRank (never a per-source window at scale); pooled ranks
    // via the same global range sort.
    "q_quantile_normalize" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ps = typedLit(Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L))
      val srcRanks = graft.ops.GroupRank.ranks(
        docs, "source", Seq("n_chars"), "doc_id")
      val src = srcRanks
        .select(col("source"), col("n_chars"), col("rank"),
          col("n_in_group"), explode(ps).as("p"))
        .where(col("rank") === expr("(n_in_group * p + 99) div 100"))
        .select(col("source"), col("p"), col("n_chars").as("src_value"))
      val pooledRanks = graft.ops.Shuffle.positionsBy(
        docs, Seq("n_chars", "doc_id"), "gpos")
      val n = docs.agg(count(lit(1)).as("n"))
      val pooled = pooledRanks.crossJoin(broadcast(n))
        .select(col("n_chars"), (col("gpos") + 1).as("rank"), col("n"),
          explode(ps).as("p"))
        .where(col("rank") === expr("(n * p + 99) div 100"))
        .select(col("p"), col("n_chars").as("pooled_value"))
      src.join(broadcast(pooled), Seq("p"))
        .select(col("source"), col("p"), col("src_value"),
          col("pooled_value"))
        .orderBy(asc("source"), asc("p"))
    }),

    // One-way ANOVA of document length by source on the integer
    // milli grid: SSB = Σ_g S_g²/n_g − S²/n and SST = ΣQ − S²/n with
    // every fractional term an exact integer division (DECIMAL —
    // S² exceeds BIGINT), so η² (variance explained by source) and
    // the F statistic are engine-exact integer ratios. The corpus
    // contributes one partial+final aggregate; everything else runs
    // on the |sources| frame.
    "q_anova" -> ((s, dir) => {
      val byG = documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ng"), sum(col("n_chars")).as("sg"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("s"),
          sum(expr("CAST(sg AS DECIMAL(38,0)) * sg * 1000 div ng"))
            .as("ssb_raw"))
      val q = documents(s, dir)
        .agg(sum(col("n_chars") * col("n_chars")).as("qq"))
      byG.crossJoin(broadcast(q))
        .select(col("k"), col("n"),
          expr("""CAST(ssb_raw - CAST(s AS DECIMAL(38,0)) * s * 1000 div n
                 | AS BIGINT)""".stripMargin).as("ssb_milli"),
          expr("""CAST(CAST(qq AS DECIMAL(38,0)) * 1000
                 | - CAST(s AS DECIMAL(38,0)) * s * 1000 div n
                 | AS BIGINT)""".stripMargin).as("sst_milli"))
        .select(col("k"), col("n"), col("ssb_milli"), col("sst_milli"),
          (col("sst_milli") - col("ssb_milli")).as("ssw_milli"),
          expr("ssb_milli * 10000L div sst_milli").as("eta2_bp"),
          expr("""CAST(CAST(ssb_milli AS DECIMAL(38,0)) * (n - k) * 1000
                 | div (CAST(sst_milli - ssb_milli AS DECIMAL(38,0)) * (k - 1))
                 | AS BIGINT)""".stripMargin).as("f_milli"))
    }),

    // Average precision of the stopword-density ranking against the
    // English label — the area-under-PR complement to q_auc's ROC
    // rank-sum. The ranking is the DETERMINISTIC total order
    // (score DESC, doc_id), so every per-positive term j/k is a pure
    // integer floor division (j·10⁶ div k) and AP is integers end to
    // end — no float ever enters. Both global rank k and
    // within-positives rank j come from the skew-free range-sort
    // position machinery, never a corpus-wide window.
    "q_avg_precision" -> ((s, dir) => {
      val sc = documents(s, dir).select(col("doc_id"),
        regexp_count(lower(col("text")),
          lit("\\b(the|and|of|to|in|is|that|with)\\b")).cast("long")
          .as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val ranked = graft.ops.Shuffle.positionsBy(
        sc.select(col("doc_id"), col("pos"), (-col("score")).as("negs")),
        Seq("negs", "doc_id"), "k0")
      val tot = sc.agg(count(lit(1)).as("n"))
      val j = graft.ops.Shuffle.positionsBy(
        ranked.where(col("pos") === 1).select(col("k0")), Seq("k0"), "j0")
      j.agg(count(lit(1)).as("n_pos"),
          sum(expr("(j0 + 1) * 1000000L div (k0 + 1)")).as("term_sum"))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("n_pos"),
          expr("term_sum div n_pos").as("ap_micro"),
          expr("n_pos * 1000000L div n").as("prevalence_micro"))
    }),

    // Blocking-key quality audit for the fuzzy-join family — blocked
    // joins MUST have their block-size distribution checked before
    // running at a new scale (one fat block turns the verify stage
    // into b² pairs): block count, exact p50/p90/max
    // block sizes (rank-selected DATA VALUES via the range-sort
    // positions — engine-exact, never interpolated), total candidate
    // pairs Σ b(b−1)/2, and the comparison-reduction ratio vs the
    // full n(n−1)/2 in basis points. The key is the composite
    // (first char, token-1 length, tail) the sorted-neighborhood /
    // fuzzy-join queries block on. Everything after the one groupBy
    // runs on the |blocks| frame.
    "q_blocking_audit" -> ((s, dir) => {
      val toks = split(col("p_name"), " ")
      val key = concat(substring(col("p_name"), 1, 1), lit("|"),
        length(element_at(toks, 1)).cast("string"), lit("|"),
        concat_ws(" ", slice(toks, lit(2), size(toks))))
      val blocks = part(s, dir).groupBy(key.as("bkey"))
        .agg(count(lit(1)).as("bn"))
        .localCheckpoint(true) // stats agg + the ranked quantile pass
      val stats = blocks.agg(count(lit(1)).as("n_blocks"),
        sum(col("bn")).as("n_rows"), max(col("bn")).as("max_block"),
        sum(expr("bn * (bn - 1) div 2")).as("n_candidate_pairs"))
      val ranked = graft.ops.Shuffle.positionsBy(
          blocks, Seq("bn", "bkey"), "pos")
        .crossJoin(broadcast(stats.select(col("n_blocks").as("nb"))))
      val p50 = ranked.where(col("pos") + 1 === expr("(nb * 50 + 99) div 100"))
        .select(col("bn").as("p50_block"))
      val p90 = ranked.where(col("pos") + 1 === expr("(nb * 90 + 99) div 100"))
        .select(col("bn").as("p90_block"))
      stats.crossJoin(broadcast(p50)).crossJoin(broadcast(p90))
        .select(col("n_blocks"), col("n_rows"), col("max_block"),
          col("p50_block"), col("p90_block"), col("n_candidate_pairs"),
          expr("""n_candidate_pairs * 10000L
                  div (n_rows * (n_rows - 1) div 2)""").as("reduction_bp"))
    }),

    // IVF nprobe recall sweep — the index-tuning table: recall@10 of
    // the probed kNN join vs the exact join at nprobe 1/2/4/8/16 over
    // a 16-cell index (rows-only: the quantizer is iterative k-means;
    // SimilaritySpec pins monotonicity and exhaustive-probe recall =
    // 10000 bp). Exact neighbors compute once; each probe width only
    // re-ranks through the index, so the sweep costs little more
    // than one exact join.
    "q_ivf_sweep" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = graft.similarity.Similarity.ivfCentroids(
        emb, "embedding", "vec_id", 16, trainPct = 25)
      val assigned = graft.similarity.Similarity.ivfAssign(
        spread(emb), "embedding", "vec_id", cents)
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.similarity.Similarity.ivfRecallSweep(assigned, "embedding",
        "vec_id", queries, "qv", "qid", cents, k = 10,
        nprobes = Seq(1, 2, 4, 8, 16))
    }),

    // Modularity of the brand partition on the co-purchase part graph
    // (Newman–Girvan): per community c, the contribution
    // (m_c/m − (d_c/2m)²) — emitted exactly as
    // (4m·m_c − d_c²)·1e9 / 4m² nano units through the signed DECIMAL
    // shift div (one floor per community, never a float). A strongly
    // positive total says parts of a brand are co-bought together;
    // ≈0 says the brand partition explains nothing. The graph builds
    // once (the assortativity edge set); communities via one
    // broadcast join against part, then all arithmetic happens on the
    // |brands|-row frame.
    "q_modularity" -> ((s, dir) => {
      val e = Analytics.copurchaseEdges(s, dir, minSupport = 2)
        .localCheckpoint(true) // m count + both aggregate consumers
      // m is a driver scalar off the checkpoint (~no cost) inlined as
      // a SQL literal — the former 1-row m frame cost a broadcast
      // build + crossJoin. brands broadcasts ONCE: both endpoint joins
      // use the same projection (only the condition differs), so the
      // physical broadcast exchange canonicalizes equal and is reused
      // (the r12 ADVICE item: differently-aliased selects built two).
      val m = e.count()
      val brands = broadcast(part(s, dir)
        .select(col("p_partkey").as("node"), col("p_brand").as("community")))
      // NOT re-checkpointed: both consumers below re-run only the two
      // map-side hash probes over the materialized e — the former
      // eager checkpoint of withB paid a full extra materialization
      // job to save exactly that.
      val withB = e
        .join(brands.as("ba"), col("src") === col("ba.node"))
        .join(brands.as("bb"), col("dst") === col("bb.node"))
        .select(col("src"), col("dst"), col("ba.community").as("cs"),
          col("bb.community").as("cd"))
      val mc = withB.where(col("cs") === col("cd"))
        .groupBy(col("cs").as("community")).agg(count(lit(1)).as("m_c"))
      // endpoint degrees in ONE pass: the union-of-two-projections
      // form re-planned the whole subtree per leg (r12 rule).
      val dc = withB.select(explode(array(col("cs"), col("cd"))).as("community"))
        .groupBy(col("community")).agg(count(lit(1)).as("d_c"))
      dc.join(mc, Seq("community"), "full_outer")
        .na.fill(0L, Seq("m_c", "d_c"))
        .select(col("community"), col("m_c"), col("d_c"), expr(
          s"""CAST(((CAST(4 AS DECIMAL(38,0)) * $m * m_c - CAST(d_c AS DECIMAL(38,0)) * d_c)
            |    * 1000000000
            |  + CAST(100000000000 AS DECIMAL(38,0))
            |    * (CAST(4 AS DECIMAL(38,0)) * $m * $m))
            | div (CAST(4 AS DECIMAL(38,0)) * $m * $m)
            | - 100000000000 AS BIGINT)""".stripMargin).as("contrib_nano"))
        .orderBy(asc("community"))
    }))

  def oracle: Map[String, String] = Map(
    "q_acf" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS nd, sum(x)::BIGINT AS sx
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT daily.event_type, d, (nd * x - sx)::BIGINT AS e
        |  FROM daily JOIN st USING (event_type)),
        |den AS (
        |  SELECT event_type, sum(e * e)::BIGINT AS den
        |  FROM dev GROUP BY 1),
        |num AS (
        |  SELECT a.event_type, l.lag, count(*)::BIGINT AS n_pairs,
        |    sum(a.e * b.e)::BIGINT AS num
        |  FROM dev a
        |  CROSS JOIN (VALUES (1), (2), (3), (7)) l(lag)
        |  JOIN dev b ON b.event_type = a.event_type AND b.d = a.d + l.lag
        |  GROUP BY 1, 2)
        |SELECT num.event_type, lag, n_pairs,
        |  ((num::HUGEINT * 1000 + 10000000::HUGEINT * den)
        |   // den::HUGEINT - 10000000)::BIGINT AS acf_milli
        |FROM num JOIN den USING (event_type)
        |WHERE den > 0
        |ORDER BY event_type, lag""".stripMargin,
    "q_fd_audit" ->
      """WITH cand AS (
        |  SELECT 'customer.c_custkey->c_nationkey' AS fd,
        |    c_custkey::VARCHAR AS l, c_nationkey::VARCHAR AS r
        |  FROM customer
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->c_mktsegment',
        |    c_nationkey::VARCHAR, c_mktsegment FROM customer
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->l_suppkey',
        |    l_partkey::VARCHAR, l_suppkey::VARCHAR FROM lineitem
        |  UNION ALL
        |  SELECT 'part.p_brand->p_type', p_brand, p_type FROM part
        |  UNION ALL
        |  SELECT 'part.p_name->p_brand', p_name, p_brand FROM part
        |  UNION ALL
        |  SELECT 'part.p_type->p_size', p_type, p_size::VARCHAR FROM part),
        |lv1 AS (
        |  SELECT fd, l, r, count(*)::BIGINT AS c
        |  FROM cand GROUP BY 1, 2, 3),
        |lv2 AS (
        |  SELECT fd, l, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
        |    max(c)::BIGINT AS mx
        |  FROM lv1 GROUP BY 1, 2)
        |SELECT fd, count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT AS viol_groups,
        |  (sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) * 10000
        |   // count(*))::BIGINT AS viol_bp,
        |  sum(n)::BIGINT AS n_rows,
        |  sum(n - mx)::BIGINT AS g3,
        |  (sum(n - mx) * 10000 // sum(n))::BIGINT AS g3_bp
        |FROM lv2 GROUP BY fd ORDER BY fd""".stripMargin,
    "q_weight_ess" ->
      """WITH w AS (
        |  SELECT floor(o_totalprice * 100)::BIGINT AS w FROM orders),
        |a AS (
        |  SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS s,
        |    sum(w * w)::HUGEINT AS ss, max(w)::BIGINT AS mx
        |  FROM w)
        |SELECT n, s AS sum_w,
        |  (s::HUGEINT * s * 1000 // ss)::BIGINT AS ess_milli,
        |  (s::HUGEINT * s * 10000 // (ss * n))::BIGINT AS ess_ratio_bp,
        |  (mx * 10000 // s)::BIGINT AS max_share_bp,
        |  ((n::HUGEINT * ss * 1000) // (s::HUGEINT * s) - 1000)::BIGINT
        |    AS relvar_milli
        |FROM a""".stripMargin,
    "q_silhouette" ->
      """WITH u AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(floor(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT) AS vm
        |  FROM embeddings),
        |g AS (
        |  SELECT label AS clabel, pos, sum(vm)::BIGINT AS sm,
        |    count(*)::BIGINT AS cn
        |  FROM u GROUP BY 1, 2),
        |cent AS (
        |  SELECT clabel, pos,
        |    ((sm + cn * 10000000) // cn - 10000000)::BIGINT AS cm
        |  FROM g),
        |d AS (
        |  SELECT u.vec_id, u.label, cent.clabel,
        |    sum((vm - cm) * (vm - cm))::BIGINT AS d2
        |  FROM u JOIN cent ON cent.pos = u.pos
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN d2 END)::BIGINT AS a,
        |    min(CASE WHEN clabel <> label THEN d2 END)::BIGINT AS b
        |  FROM d GROUP BY 1, 2),
        |sv AS (
        |  SELECT label,
        |    (((b - a) * 1000 + 10000000 * greatest(a, b))
        |     // greatest(a, b) - 10000000)::BIGINT AS sv
        |  FROM ab WHERE greatest(a, b) > 0)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |  ((sum(sv) + count(*) * 10000000) // count(*) - 10000000)::BIGINT
        |    AS mean_s_milli
        |FROM sv GROUP BY label ORDER BY label""".stripMargin,
    "q_greedy_cover" ->
      """WITH cand AS (
        |  SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS ts
        |  FROM documents
        |  ORDER BY ('0x' || substring(md5('cov|' || doc_id::VARCHAR), 1, 13))::BIGINT,
        |    doc_id
        |  LIMIT 100),
        |s1 AS (SELECT doc_id, ts, len(ts)::BIGINT AS gain FROM cand
        |  ORDER BY gain DESC, doc_id LIMIT 1),
        |c1 AS (SELECT ts AS cov FROM s1),
        |s2 AS (SELECT c.doc_id, c.ts,
        |    (len(list_distinct(list_concat(cov, c.ts))) - len(cov))::BIGINT AS gain
        |  FROM cand c CROSS JOIN c1
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM s1)
        |  ORDER BY gain DESC, c.doc_id LIMIT 1),
        |c2 AS (SELECT list_distinct(list_concat(cov, ts)) AS cov
        |  FROM c1 CROSS JOIN s2),
        |s3 AS (SELECT c.doc_id, c.ts,
        |    (len(list_distinct(list_concat(cov, c.ts))) - len(cov))::BIGINT AS gain
        |  FROM cand c CROSS JOIN c2
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM s1
        |    UNION SELECT doc_id FROM s2)
        |  ORDER BY gain DESC, c.doc_id LIMIT 1),
        |c3 AS (SELECT list_distinct(list_concat(cov, ts)) AS cov
        |  FROM c2 CROSS JOIN s3),
        |s4 AS (SELECT c.doc_id, c.ts,
        |    (len(list_distinct(list_concat(cov, c.ts))) - len(cov))::BIGINT AS gain
        |  FROM cand c CROSS JOIN c3
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM s1
        |    UNION SELECT doc_id FROM s2 UNION SELECT doc_id FROM s3)
        |  ORDER BY gain DESC, c.doc_id LIMIT 1),
        |c4 AS (SELECT list_distinct(list_concat(cov, ts)) AS cov
        |  FROM c3 CROSS JOIN s4),
        |s5 AS (SELECT c.doc_id, c.ts,
        |    (len(list_distinct(list_concat(cov, c.ts))) - len(cov))::BIGINT AS gain
        |  FROM cand c CROSS JOIN c4
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM s1
        |    UNION SELECT doc_id FROM s2 UNION SELECT doc_id FROM s3
        |    UNION SELECT doc_id FROM s4)
        |  ORDER BY gain DESC, c.doc_id LIMIT 1),
        |c5 AS (SELECT list_distinct(list_concat(cov, ts)) AS cov
        |  FROM c4 CROSS JOIN s5),
        |sel AS (
        |  SELECT 1 AS step, doc_id, gain FROM s1
        |  UNION ALL SELECT 2, doc_id, gain FROM s2
        |  UNION ALL SELECT 3, doc_id, gain FROM s3
        |  UNION ALL SELECT 4, doc_id, gain FROM s4
        |  UNION ALL SELECT 5, doc_id, gain FROM s5),
        |covs AS (
        |  SELECT 1 AS step, len(cov)::BIGINT AS covered_sample FROM c1
        |  UNION ALL SELECT 2, len(cov)::BIGINT FROM c2
        |  UNION ALL SELECT 3, len(cov)::BIGINT FROM c3
        |  UNION ALL SELECT 4, len(cov)::BIGINT FROM c4
        |  UNION ALL SELECT 5, len(cov)::BIGINT FROM c5),
        |vocab AS (
        |  SELECT DISTINCT token FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS token
        |    FROM documents) WHERE token <> ''),
        |fs AS (
        |  SELECT token, CASE
        |    WHEN list_contains(t1, token) THEN 1
        |    WHEN list_contains(t2, token) THEN 2
        |    WHEN list_contains(t3, token) THEN 3
        |    WHEN list_contains(t4, token) THEN 4
        |    WHEN list_contains(t5, token) THEN 5
        |    ELSE NULL END AS first_step
        |  FROM vocab
        |  CROSS JOIN (SELECT ts AS t1 FROM s1)
        |  CROSS JOIN (SELECT ts AS t2 FROM s2)
        |  CROSS JOIN (SELECT ts AS t3 FROM s3)
        |  CROSS JOIN (SELECT ts AS t4 FROM s4)
        |  CROSS JOIN (SELECT ts AS t5 FROM s5)),
        |tot AS (SELECT count(*)::BIGINT AS vocab_total FROM vocab),
        |cum AS (
        |  SELECT st.step,
        |    sum(CASE WHEN first_step <= st.step THEN 1 ELSE 0 END)::BIGINT
        |      AS corpus_covered
        |  FROM fs CROSS JOIN (SELECT unnest(range(1, 6)) AS step) st
        |  GROUP BY 1)
        |SELECT sel.step::BIGINT AS step, doc_id, gain, covered_sample,
        |  corpus_covered, vocab_total,
        |  (corpus_covered * 10000 // vocab_total)::BIGINT AS cover_bp
        |FROM sel JOIN covs ON covs.step = sel.step
        |JOIN cum ON cum.step = sel.step
        |CROSS JOIN tot
        |ORDER BY sel.step""".stripMargin,
    "q_cramers_v" ->
      """WITH cand AS (
        |  SELECT 'lineitem.returnflag~linestatus' AS pair,
        |    l_returnflag AS ca, l_linestatus AS cb FROM lineitem
        |  UNION ALL
        |  SELECT 'orders.priority~status', o_orderpriority, o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT 'part.brand~size', p_brand, p_size::VARCHAR FROM part),
        |cells AS (
        |  SELECT pair, ca, cb, count(*)::BIGINT AS o
        |  FROM cand GROUP BY 1, 2, 3),
        |mr AS (SELECT pair, ca, sum(o)::BIGINT AS rn FROM cells GROUP BY 1, 2),
        |mc AS (SELECT pair, cb, sum(o)::BIGINT AS cn FROM cells GROUP BY 1, 2),
        |tot AS (
        |  SELECT pair, sum(o)::BIGINT AS nn,
        |    count(DISTINCT ca)::BIGINT AS r_levels,
        |    count(DISTINCT cb)::BIGINT AS c_levels
        |  FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT cells.pair,
        |    (cells.o::HUGEINT * nn - rn::HUGEINT * cn)
        |      * (cells.o::HUGEINT * nn - rn::HUGEINT * cn) * 1000000000
        |      // (nn::HUGEINT * rn * cn) AS term_nano
        |  FROM cells
        |  JOIN mr ON mr.pair = cells.pair AND mr.ca = cells.ca
        |  JOIN mc ON mc.pair = cells.pair AND mc.cb = cells.cb
        |  JOIN tot ON tot.pair = cells.pair)
        |SELECT terms.pair, nn AS n, r_levels, c_levels,
        |  (sum(term_nano) // 1000000)::BIGINT AS chi2_milli,
        |  (sum(term_nano) * 10000
        |   // (least(r_levels - 1, c_levels - 1)::HUGEINT * nn
        |      * 1000000000))::BIGINT AS v2_bp
        |FROM terms JOIN tot ON tot.pair = terms.pair
        |GROUP BY 1, 2, 3, 4 ORDER BY terms.pair""".stripMargin,
    "q_quantile_normalize" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM documents),
        |ps AS (SELECT unnest(range(1, 10)) * 10 AS p),
        |src AS (
        |  SELECT source, p, n_chars AS src_value
        |  FROM r JOIN ps ON rk = (ns * p + 99) // 100),
        |pool AS (
        |  SELECT p, n_chars AS pooled_value
        |  FROM g JOIN ps ON rk = (n * p + 99) // 100)
        |SELECT source, src.p::BIGINT AS p, src_value, pooled_value
        |FROM src JOIN pool ON pool.p = src.p
        |ORDER BY source, src.p""".stripMargin,
    "q_anova" ->
      """WITH byg AS (
        |  SELECT source, count(*)::BIGINT AS ng,
        |    sum(n_chars)::BIGINT AS sg
        |  FROM documents GROUP BY 1),
        |agg AS (
        |  SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
        |    sum(sg)::BIGINT AS s,
        |    sum(sg::HUGEINT * sg * 1000 // ng)::HUGEINT AS ssb_raw
        |  FROM byg),
        |q AS (
        |  SELECT sum(n_chars::BIGINT * n_chars)::BIGINT AS qq
        |  FROM documents),
        |ss AS (
        |  SELECT k, n,
        |    (ssb_raw - s::HUGEINT * s * 1000 // n)::BIGINT AS ssb_milli,
        |    (qq::HUGEINT * 1000 - s::HUGEINT * s * 1000 // n)::BIGINT
        |      AS sst_milli
        |  FROM agg CROSS JOIN q)
        |SELECT k, n, ssb_milli, sst_milli,
        |  (sst_milli - ssb_milli)::BIGINT AS ssw_milli,
        |  (ssb_milli * 10000 // sst_milli)::BIGINT AS eta2_bp,
        |  (ssb_milli::HUGEINT * (n - k) * 1000
        |   // ((sst_milli - ssb_milli)::HUGEINT * (k - 1)))::BIGINT
        |    AS f_milli
        |FROM ss""".stripMargin,
    "q_avg_precision" ->
      """WITH sc AS (
        |  SELECT doc_id, len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|with)\b'))::BIGINT AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS k
        |  FROM sc),
        |pr AS (
        |  SELECT k, row_number() OVER (ORDER BY k) AS j
        |  FROM rk WHERE pos = 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM sc)
        |SELECT n, count(*)::BIGINT AS n_pos,
        |  (sum(j * 1000000 // k) // count(*))::BIGINT AS ap_micro,
        |  (count(*) * 1000000 // n)::BIGINT AS prevalence_micro
        |FROM pr CROSS JOIN tot GROUP BY n""".stripMargin,
    "q_blocking_audit" ->
      """WITH keys AS (
        |  SELECT substring(p_name, 1, 1) || '|'
        |      || length(w[1])::VARCHAR || '|'
        |      || array_to_string(w[2:], ' ') AS bkey
        |  FROM (SELECT p_name, regexp_split_to_array(p_name, ' ') AS w
        |        FROM part)),
        |blocks AS (
        |  SELECT bkey, count(*)::BIGINT AS bn FROM keys GROUP BY 1),
        |st AS (
        |  SELECT count(*)::BIGINT AS n_blocks, sum(bn)::BIGINT AS n_rows,
        |    max(bn)::BIGINT AS max_block,
        |    sum(bn * (bn - 1) // 2)::BIGINT AS n_candidate_pairs
        |  FROM blocks),
        |ranked AS (
        |  SELECT bn, row_number() OVER (ORDER BY bn, bkey) AS rn
        |  FROM blocks),
        |p50 AS (SELECT bn AS p50_block FROM ranked CROSS JOIN st
        |  WHERE rn = (n_blocks * 50 + 99) // 100),
        |p90 AS (SELECT bn AS p90_block FROM ranked CROSS JOIN st
        |  WHERE rn = (n_blocks * 90 + 99) // 100)
        |SELECT n_blocks, n_rows, max_block, p50_block, p90_block,
        |  n_candidate_pairs,
        |  (n_candidate_pairs * 10000
        |   // (n_rows * (n_rows - 1) // 2))::BIGINT AS reduction_bp
        |FROM st CROSS JOIN p50 CROSS JOIN p90""".stripMargin,
    "q_spearman" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars::BIGINT AS x,
        |    len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))::BIGINT AS y
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY x, doc_id) - 1 AS rx,
        |    row_number() OVER (ORDER BY y, doc_id) - 1 AS ry
        |  FROM base)
        |SELECT count(*)::BIGINT AS n,
        |  sum((rx - ry) * (rx - ry))::BIGINT AS sd2,
        |  (1000000 - sum((rx - ry) * (rx - ry))::HUGEINT * 6000000
        |   // (count(*)::HUGEINT * (count(*)::HUGEINT * count(*) - 1)))::BIGINT
        |    AS rho_micro
        |FROM rk""".stripMargin,
    // Replays the DIMSUM sample itself: the coin dyadic, the
    // p·2⁵² threshold and the estimator are the query's expressions
    // verbatim (IEEE sqrt/×/÷ are deterministic, floor taken once).
    "q_dimsum" ->
      """WITH rc AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS r, l_partkey AS c FROM lineitem),
        |nn AS (SELECT c, count(*)::BIGINT AS n FROM rc GROUP BY 1),
        |sides AS MATERIALIZED (
        |  SELECT rc.r, rc.c, nn.n FROM rc JOIN nn USING (c)),
        |sampled AS (
        |  SELECT x.c AS a, y.c AS b, x.n AS na, y.n AS nb
        |  FROM sides x JOIN sides y ON x.r = y.r AND x.c < y.c
        |  WHERE ('0x' || substring(md5('ds|' || x.r::VARCHAR || '|'
        |        || x.c::VARCHAR || '|' || y.c::VARCHAR), 1, 13))
        |      ::BIGINT::DOUBLE
        |    < least(1.0, 20.0 / (sqrt(CAST(x.n AS DOUBLE))
        |        * sqrt(CAST(y.n AS DOUBLE)))) * 4503599627370496.0),
        |agg AS (
        |  SELECT a, b, na, nb, count(*)::BIGINT AS n_sampled
        |  FROM sampled GROUP BY 1, 2, 3, 4)
        |SELECT a, b, n_sampled,
        |  CAST(floor(CAST(n_sampled AS DOUBLE) * 10000.0 /
        |    (least(1.0, 20.0 / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |     * sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |   AS BIGINT) AS est_cos_e4
        |FROM agg
        |WHERE CAST(floor(CAST(n_sampled AS DOUBLE) * 10000.0 /
        |    (least(1.0, 20.0 / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |     * sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |   AS BIGINT) >= 500
        |  AND n_sampled >= 2
        |ORDER BY a, b""".stripMargin,
    "q_dimsum_entry" ->
      """WITH rc AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS r, l_partkey AS c FROM lineitem),
        |nn AS (SELECT c, count(*)::BIGINT AS n FROM rc GROUP BY 1),
        |sides AS MATERIALIZED (
        |  SELECT rc.r, rc.c, nn.n FROM rc JOIN nn USING (c)
        |  WHERE ('0x' || substring(md5('d2|' || rc.r::VARCHAR || '|'
        |        || rc.c::VARCHAR), 1, 13))::BIGINT::DOUBLE
        |    < least(1.0, 4.0 / sqrt(CAST(nn.n AS DOUBLE)))
        |        * 4503599627370496.0),
        |agg AS (
        |  SELECT x.c AS a, y.c AS b, x.n AS na, y.n AS nb,
        |    count(*)::BIGINT AS n_sampled
        |  FROM sides x JOIN sides y ON x.r = y.r AND x.c < y.c
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a, b, n_sampled,
        |  CAST(floor(CAST(n_sampled AS DOUBLE) * 10000.0 /
        |    ((least(1.0, 4.0 / sqrt(CAST(na AS DOUBLE)))
        |      * least(1.0, 4.0 / sqrt(CAST(nb AS DOUBLE))))
        |     * sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |   AS BIGINT) AS est_cos_e4
        |FROM agg
        |WHERE CAST(floor(CAST(n_sampled AS DOUBLE) * 10000.0 /
        |    ((least(1.0, 4.0 / sqrt(CAST(na AS DOUBLE)))
        |      * least(1.0, 4.0 / sqrt(CAST(nb AS DOUBLE))))
        |     * sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
        |   AS BIGINT) >= 500
        |  AND n_sampled >= 2
        |ORDER BY a, b""".stripMargin,
    // Pair classes are exact integer counts; τ-b floors once from the
    // identically-shaped double (the q_collocations ln recipe).
    "q_kendall" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS d, count(*)::BIGINT AS x,
        |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |ag AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)::BIGINT AS conc,
        |    sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)::BIGINT AS disc,
        |    sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS tie_x,
        |    sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS tie_y,
        |    sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS tie_xy
        |  FROM p)
        |SELECT n0, conc, disc, tie_x, tie_y, tie_xy,
        |  CAST(floor((conc - disc) * 1000000.0
        |    / sqrt(CAST(n0 - tie_x - tie_xy AS DOUBLE)
        |           * CAST(n0 - tie_y - tie_xy AS DOUBLE))) AS BIGINT)
        |    AS tau_micro
        |FROM ag""".stripMargin,
    // O(n²) value-space pair replay of the Knight-construction count
    // (sf0.01 is ~125k pairs in DuckDB; Spark never builds a pair
    // frame). Tie classes and the τ-b floor mirror the query.
    "q_kendall_docs" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars::BIGINT AS x,
        |    len(list_distinct(regexp_split_to_array(trim(lower(text)),
        |      '\s+')))::BIGINT AS y
        |  FROM documents),
        |p AS (
        |  SELECT
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
        |  FROM base a JOIN base b ON a.doc_id < b.doc_id),
        |ag AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)::BIGINT AS conc,
        |    sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)::BIGINT AS disc,
        |    sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)::BIGINT AS n3
        |  FROM p),
        |nn AS (SELECT count(*)::BIGINT AS n FROM base)
        |SELECT n, n0, n1, n2, n3, conc, disc,
        |  CAST(floor((conc - disc) * 1000000.0
        |    / sqrt(CAST(n0 - n1 AS DOUBLE)
        |           * CAST(n0 - n2 AS DOUBLE))) AS BIGINT) AS tau_micro
        |FROM ag, nn""".stripMargin,
    // The slope double is ordering-only; the emitted micro-slope is
    // the selected pair's exact integer division (both engines
    // truncate BIGINT division toward zero).
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS d,
        |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT (b.rev - a.rev)::BIGINT AS num, (b.d - a.d)::BIGINT AS den,
        |    a.d AS d1, b.d AS d2,
        |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY s, d1, d2) - 1 AS pos,
        |    count(*) OVER () AS np
        |  FROM p)
        |SELECT np::BIGINT AS n_pairs, num AS slope_num, den AS slope_den,
        |  (num * 1000000 // den)::BIGINT AS slope_micro
        |FROM r WHERE pos = (np - 1) // 2""".stripMargin,
    "q_collocations" ->
      """WITH w AS (
        |  SELECT doc_id AS did,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |tok AS (
        |  SELECT did, generate_subscripts(w, 1) AS i, unnest(w) AS t
        |  FROM w),
        |big AS (
        |  SELECT a.t AS w1, b.t AS w2, count(*)::BIGINT AS a
        |  FROM tok a JOIN tok b ON b.did = a.did AND b.i = a.i + 1
        |  GROUP BY 1, 2),
        |r AS (SELECT w1, sum(a)::BIGINT AS row_n FROM big GROUP BY 1),
        |c AS (SELECT w2, sum(a)::BIGINT AS col_n FROM big GROUP BY 1),
        |nt AS (SELECT sum(a)::BIGINT AS nn FROM big)
        |SELECT w1, w2, a,
        |  CAST(floor((
        |    CASE WHEN a > 0 THEN a * ln(CAST(a * nn AS DOUBLE)
        |      / CAST(row_n * col_n AS DOUBLE)) ELSE 0.0 END
        |    + CASE WHEN row_n - a > 0 THEN (row_n - a)
        |      * ln(CAST((row_n - a) * nn AS DOUBLE)
        |        / CAST(row_n * (nn - col_n) AS DOUBLE)) ELSE 0.0 END
        |    + CASE WHEN col_n - a > 0 THEN (col_n - a)
        |      * ln(CAST((col_n - a) * nn AS DOUBLE)
        |        / CAST((nn - row_n) * col_n AS DOUBLE)) ELSE 0.0 END
        |    + CASE WHEN nn - row_n - col_n + a > 0
        |      THEN (nn - row_n - col_n + a)
        |      * ln(CAST((nn - row_n - col_n + a) * nn AS DOUBLE)
        |        / CAST((nn - row_n) * (nn - col_n) AS DOUBLE)) ELSE 0.0 END
        |  ) * 2000000000) AS BIGINT) AS g2_nano
        |FROM big JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN nt
        |WHERE a >= 5
        |ORDER BY g2_nano DESC, w1, w2 LIMIT 30""".stripMargin,
    "q_dedup_sweep" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w) - 1)] END) AS ws
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |jp AS (
        |  SELECT floor(jaccard * 10000 + 0.5)::BIGINT AS jbp, doc_b
        |  FROM pairs WHERE jaccard >= 0.3)
        |SELECT t.threshold_bp::BIGINT AS threshold_bp,
        |  count(*)::BIGINT AS n_pairs,
        |  count(DISTINCT doc_b)::BIGINT AS n_docs_dropped
        |FROM jp CROSS JOIN (VALUES (3000), (4000), (5000), (6000), (7000),
        |  (8000), (9000)) t(threshold_bp)
        |WHERE jbp >= t.threshold_bp
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fdr_tokens" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, (n_chars >= 260) AS lbl,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS ts
        |  FROM documents),
        |tk AS MATERIALIZED (
        |  SELECT doc_id, lbl, unnest(ts) AS token FROM d),
        |tk2 AS MATERIALIZED (SELECT * FROM tk WHERE token <> ''),
        |top AS MATERIALIZED (
        |  SELECT token FROM tk2 GROUP BY token
        |  ORDER BY count(*) DESC, token LIMIT 20),
        |perms AS (SELECT unnest(range(0, 33)) AS p),
        |sided AS MATERIALIZED (
        |  SELECT d.doc_id, p.p,
        |    (CASE WHEN p.p = 0
        |      THEN (CASE WHEN d.lbl THEN 1 ELSE 0 END)
        |      ELSE (CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR),
        |          p.p::INT, 1))::BIGINT >= 8 THEN 1 ELSE 0 END)
        |    END)::BIGINT AS side
        |  FROM d, perms p),
        |totals AS MATERIALIZED (
        |  SELECT p, sum(side)::BIGINT AS n1,
        |    (count(*) - sum(side))::BIGINT AS n0
        |  FROM sided GROUP BY p),
        |pres AS MATERIALIZED (
        |  SELECT t.token, s.p, sum(s.side)::BIGINT AS c1,
        |    (count(*) - sum(s.side))::BIGINT AS c0
        |  FROM tk2 t JOIN top USING (token)
        |  JOIN sided s ON s.doc_id = t.doc_id
        |  GROUP BY 1, 2),
        |tt AS MATERIALIZED (
        |  SELECT pr.token, pr.p,
        |    abs((pr.c1 * 10000 // greatest(tl.n1, 1))
        |      - (pr.c0 * 10000 // greatest(tl.n0, 1)))::BIGINT AS t_bp
        |  FROM pres pr JOIN totals tl USING (p)),
        |obs AS (SELECT token, t_bp AS t_obs FROM tt WHERE p = 0),
        |pv AS MATERIALIZED (
        |  SELECT t.token, o.t_obs AS t_obs_bp,
        |    ((1 + sum(CASE WHEN t.t_bp >= o.t_obs THEN 1 ELSE 0 END))
        |      * 10000 // 33)::BIGINT AS p_bp
        |  FROM tt t JOIN obs o USING (token) WHERE t.p >= 1
        |  GROUP BY 1, 2),
        |rkd AS (SELECT token, t_obs_bp, p_bp,
        |    row_number() OVER (ORDER BY p_bp, token)::BIGINT AS rk
        |  FROM pv),
        |ks AS (SELECT coalesce(
        |    max(CASE WHEN p_bp * 20 <= rk * 2500 THEN rk END), 0) AS k_star
        |  FROM rkd)
        |SELECT token, t_obs_bp, p_bp,
        |  (CASE WHEN rk <= ks.k_star THEN 1 ELSE 0 END)::BIGINT
        |    AS significant
        |FROM rkd, ks ORDER BY token""".stripMargin,
    "q_perm_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS converted
        |  FROM events GROUP BY 1),
        |armed AS (
        |  SELECT p.p, converted,
        |    ('0x' || substring(md5('perm|' || p.p::VARCHAR || '|'
        |      || user_id::VARCHAR), 1, 13))::BIGINT % 2 AS arm
        |  FROM u CROSS JOIN (SELECT unnest(range(0, 17)) AS p) p),
        |st AS (
        |  SELECT p, count(*)::BIGINT AS n, sum(converted)::BIGINT AS sc,
        |    sum(arm)::BIGINT AS n1, sum(arm * converted)::BIGINT AS s1
        |  FROM armed GROUP BY 1),
        |t AS (
        |  SELECT p,
        |    CAST(floor(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(sc - s1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
        |      * 1000000) AS BIGINT) AS t_micro
        |  FROM st),
        |obs AS (SELECT t_micro AS t_obs_micro FROM t WHERE p = 0)
        |SELECT max(t_obs_micro)::BIGINT AS t_obs_micro,
        |  count(*)::BIGINT AS n_perms,
        |  sum(CASE WHEN t_micro >= t_obs_micro THEN 1 ELSE 0 END)::BIGINT
        |    AS n_ge,
        |  ((1 + sum(CASE WHEN t_micro >= t_obs_micro THEN 1 ELSE 0 END))
        |   * 10000 // (count(*) + 1))::BIGINT AS p_value_bp
        |FROM t CROSS JOIN obs WHERE p >= 1""".stripMargin,
    "q_modularity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT x.pk AS src, y.pk AS dst
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |m AS (SELECT count(*)::BIGINT AS m FROM e),
        |wb AS (
        |  SELECT e.src, e.dst, ps.p_brand AS cs, pd.p_brand AS cd
        |  FROM e JOIN part ps ON ps.p_partkey = e.src
        |  JOIN part pd ON pd.p_partkey = e.dst),
        |mc AS (
        |  SELECT cs AS community, count(*)::BIGINT AS m_c
        |  FROM wb WHERE cs = cd GROUP BY 1),
        |dc AS (
        |  SELECT community, count(*)::BIGINT AS d_c FROM (
        |    SELECT cs AS community FROM wb
        |    UNION ALL SELECT cd FROM wb)
        |  GROUP BY 1)
        |SELECT coalesce(dc.community, mc.community) AS community,
        |  coalesce(m_c, 0)::BIGINT AS m_c,
        |  coalesce(d_c, 0)::BIGINT AS d_c,
        |  (((4::HUGEINT * m.m * coalesce(m_c, 0)
        |     - coalesce(d_c, 0)::HUGEINT * coalesce(d_c, 0)) * 1000000000
        |    + 100000000000::HUGEINT * (4::HUGEINT * m.m * m.m))
        |   // (4::HUGEINT * m.m * m.m) - 100000000000)::BIGINT
        |    AS contrib_nano
        |FROM dc FULL OUTER JOIN mc ON mc.community = dc.community
        |CROSS JOIN m
        |ORDER BY community""".stripMargin)
}
