package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling curves for the flagship scale paths — the plan
  * audits (JoinAudit/ScanAudit) prove the SHAPE is right; this tool
  * measures that the shape's cost actually grows ~linearly when the
  * data does, by running each family at 1×/2×/4×(/8×) replication of
  * the input and asserting the growth of its work metric.
  *
  * Replication that preserves each family's semantics:
  *   - documents: ids shifted per copy AND every token prefixed with a
  *     copy tag, so within-copy similarity structure is preserved
  *     bijectively while cross-copy shingle overlap is exactly zero —
  *     near-dup candidate counts must therefore grow linearly, not
  *     quadratically (naive replication would make every doc an exact
  *     dup of its f−1 replicas and the "linear" assertion meaningless).
  *   - embeddings / orders: ids shifted per copy (duplicate payloads
  *     are fine — cells and merge groups replicate independently).
  *
  * Metrics: total shuffle-write bytes per run (Spark listener over
  * completed stages) for the shuffle-bound families, candidate/output
  * row counts where the family's cost IS the candidate set. A
  * consecutive-doubling ratio ≤ 3.0 passes (linear = 2, quadratic = 4,
  * n·log n ≈ 2.2); metrics below a noise floor are skipped. Exits
  * non-zero on any violated curve. Runtime ≈ 1–2 min at sf0.1.
  *
  * The graph-loop families (label_prop, ktruss, hits, betweenness,
  * sssp) force the distributed path (`edgeLimit = 0`): their curves
  * describe the distributed rounds' shuffle bytes, and below
  * `LocalGraph.EdgeLimit` the driver path shuffles nothing to measure.
  */
object ScaleCheck {

  private final class ShuffleMeter extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  private val NoiseFloorBytes = 1L << 20 // ratios on <1 MiB are noise

  /** Read IntervalSweepJoinExec's max-open-intervals accumulator from
    * an EXECUTED plan — recursing through AdaptiveSparkPlanExec, whose
    * inner plan is a field, not a child (plan.collect sees nothing
    * under it). */
  private def maxOpenOf(
      p: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => maxOpenOf(a.executedPlan)
      // query stages (Shuffle/Result) also hide their plan in a FIELD
      case q: QueryStageExec => maxOpenOf(q.plan)
      case e: graft.plans.IntervalSweepJoinExec => e.maxOpenIntervals.value
    }.maxOption.getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scalecheck")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    val docsBase = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
      .localCheckpoint(eager = true)
    val embBase = graft.Tables.embeddings(spark, sfDir)
      .localCheckpoint(eager = true)
    val ordersBase = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .localCheckpoint(eager = true)

    /** Union of `f` copies with per-copy shifted ids; `tagTokens`
      * additionally prefixes every text token with the copy tag. */
    def replicate(base: DataFrame, f: Int, idCol: String, idShift: Long,
        tagTokens: Boolean): DataFrame =
      (0 until f).map { k =>
        val shifted = base.withColumn(idCol, col(idCol) + lit(k * idShift))
        if (tagTokens)
          shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"c${k}_" + "$1"))
        else shifted
      }.reduce(_ union _)

    /** Run one (family, factor) point: returns (metric, shuffleBytes,
      * seconds). `metricOf` counts the frame — for candidate-metric
      * families the count IS the metric; for shuffle-metric families
      * it just forces execution. */
    def run(build: Int => DataFrame)(f: Int): (Long, Long, Double) = {
      meter.bytes.set(0L)
      val t0 = System.nanoTime()
      val n = build(f).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener events are async; let the bus drain
      (n, meter.bytes.get(), secs)
    }

    var failed = List.empty[String]
    def check(family: String, factors: Seq[Int], useBytes: Boolean,
        build: Int => DataFrame): Unit = {
      val pts = factors.map(f => f -> run(build)(f))
      pts.foreach { case (f, (n, b, s)) =>
        println(f"SCALE $family%-18s x$f%-2d rows=$n%9d shuffleMB=${b / 1e6}%9.2f  ${s}%6.2f s")
      }
      val metric = pts.map { case (f, (n, b, _)) =>
        f -> (if (useBytes) b else n) }
      metric.sliding(2).foreach {
        case Seq((f1, m1), (f2, m2)) =>
          val skip = useBytes && m1 < NoiseFloorBytes
          val ratio = m2.toDouble / math.max(1L, m1)
          val bound = 3.0 * (f2.toDouble / f1) / 2.0 // ≤1.5× over linear
          if (!skip && ratio > bound) {
            failed ::= f"$family x$f1→x$f2: metric grew $ratio%.2fx (bound $bound%.2fx)"
          }
        case _ => ()
      }
    }

    // 1. MinHash+LSH near-dup candidates: the metric is the candidate
    // pair count — LSH exists to keep it ~linear in the corpus.
    check("lsh_candidates", Seq(1, 2, 4, 8), useBytes = false, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L, tagTokens = true)
      graft.dedup.Dedup.lshCandidatePairs(
        graft.dedup.Dedup.minhashSignatures(docs, "text", "doc_id"))
    })

    // 2. IVF-kNN join, fixed query set: the metric is scored candidate
    // rows (cells replicate with the corpus; nprobe fixed), measured
    // as the candidate frame's count — the same construction
    // ivfKnnJoin scores, pre-TopK (TopK output is k rows per query
    // regardless of scale, so the JOIN's work is the right metric).
    val queries = embBase.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .localCheckpoint(eager = true)
    val cents = graft.similarity.Similarity.ivfCentroids(
      embBase, "embedding", "vec_id", 16, trainPct = 25)
    check("ivf_knn_cands", Seq(1, 2, 4), useBytes = false, { f =>
      val corpus = replicate(embBase, f, "vec_id", 10000000L, tagTokens = false)
      val assigned = graft.similarity.Similarity.ivfAssign(
        graft.Tables.spread(corpus), "embedding", "vec_id", cents)
      val probes = graft.similarity.Similarity.ivfAssignQuery(
        queries.select(col("qv").as("qvec")).limit(1), cents, 4)
      assigned.join(broadcast(probes), Seq("centroid_id"))
    })

    // 3. Latest-wins CDC merge: base and a 10% change stream replicate
    // together; the merge is one aggregate + join, so shuffle bytes
    // must track input size.
    check("cdc_merge", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val base = replicate(ordersBase, f, "o_orderkey", 100000000L, tagTokens = false)
      val changes = base.where(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("seq", lit(1L))
        .withColumn("op", lit("u"))
      graft.ops.Merge.latestWins(base, changes, Seq("o_orderkey"))
    })

    // 4. Token-budget sample: bucketed prefix sums — shuffle bytes
    // must track the corpus, never funnel into |sources| reducers.
    check("budget_sample", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L, tagTokens = false)
      graft.ops.BudgetSample.byBudget(docs, "source", "doc_id",
        size(split(col("text"), "\\s+")), seed = 7L, budget = 100000L)
    })

    // 5. Deterministic global ordering (Shuffle.positionsBy — the
    // curriculum / corpus-shuffle / rank machinery): one range
    // exchange + zipWithIndex; shuffle bytes must track the corpus,
    // and nothing may funnel through a single reducer.
    check("positions_by", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L, tagTokens = false)
        .select(col("doc_id"),
          md5(concat(lit("7|"), col("doc_id").cast("string"))).as("k"))
      graft.ops.Shuffle.positionsBy(docs, Seq("k", "doc_id"), "p")
    })

    // 6. Interval-overlap join: each copy occupies a disjoint key band
    // (id shift ≫ interval length), so true pairs grow linearly; the
    // pair count is the metric — a broken bin-dedup or widened bins
    // would show super-linear candidate growth here.
    check("interval_overlap", Seq(1, 2, 4, 8), useBytes = false, { f =>
      val base = replicate(ordersBase, f, "o_orderkey", 100000000L,
        tagTokens = false)
      val a = base.select(col("o_orderkey").as("aid"),
        col("o_orderkey").as("alo"), (col("o_orderkey") + 8L).as("ahi"))
      val b = base.select(col("o_orderkey").as("bid"),
        (col("o_orderkey") + 4L).as("blo"),
        (col("o_orderkey") + 12L).as("bhi"))
      graft.ops.RangeJoin.overlapByBinning(a, "alo", "ahi",
        b, "blo", "bhi", binWidth = 16L)
    })

    // 7. SCD2 history build: windows partition by the entity key, so
    // replicating DISTINCT keys must grow shuffle bytes linearly
    // (more partitions, same size) — the shape that distinguishes a
    // keyed window from the low-cardinality-window anti-pattern.
    val eventsBase = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("seq"),
        col("event_id"), col("event_type"))
      .localCheckpoint(eager = true)
    check("scd2_history", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val log = replicate(eventsBase, f, "user_id", 1000000L,
        tagTokens = false)
      graft.ops.Scd2.fromChangeLog(log, "user_id", "seq", "event_id",
        Seq("event_type"))
    })

    // 8. Triangle counting: the graph replicates as DISJOINT copies
    // (both endpoints shifted), so wedges and triangles per copy are
    // constant and total work must grow linearly. Shuffle bytes are
    // the metric — the wedge stream is the dominant shuffle; a broken
    // orientation (or lost checkpoint) would grow super-linearly.
    val edgeBase = {
      val li = graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        .distinct()
        .localCheckpoint(eager = true)
    }
    check("triangles", Seq(1, 2, 4), useBytes = true, { f =>
      val g = (0 until f).map { k =>
        edgeBase.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      // statsAdjacency is what q_triangles declares; disjoint copies
      // keep per-copy adjacency arrays constant-size, so the shipped
      // array bytes must grow linearly.
      graft.ops.Triangles.statsAdjacency(g)
    })

    // 8b. Triangle counting under a PLANTED HOT KEY — the AQE-skew
    // interplay audit for the shuffle_hash-hinted closing join: one
    // shared hub wired to every 4th node of every copy makes the
    // closing join's b-key hot (orientation points every spoke at
    // the max-degree hub, so in-deg(hub) grows with f). Total
    // shuffle bytes must STILL grow linearly — the hub's wedge rows
    // replicate with the copies and its own neighbor array stays
    // empty. Task-level imbalance is AQE's job, and the hint does
    // NOT block it on this build (tools/SkewProbe: a forced
    // ShuffledHashJoin plans skew=true with a "coalesced and skewed"
    // AQEShuffleRead once a partition crosses the skew thresholds;
    // below them splitting is simply unnecessary).
    check("triangles_skew", Seq(1, 2, 4), useBytes = true, { f =>
      val g = (0 until f).map { k =>
        val cp = edgeBase.select(
          (col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
        val hub = cp.select(col("src")).distinct()
          .where(pmod(col("src"), lit(4)) === 0)
          .select(col("src"), lit(999999998L).as("dst"))
        cp.union(hub)
      }.reduce(_ union _)
      graft.ops.Triangles.statsAdjacency(g)
    })

    // 9. Label propagation (the iterative graph family: LPA shares
    // its per-round shape with KCore/Bfs — join on node id + count
    // aggregate + argmin): DISJOINT graph copies never exchange
    // labels, so per-round work and total shuffle bytes must grow
    // linearly; a broken checkpoint (lineage re-execution) or an
    // accidental cross-copy edge would show super-linear growth.
    val lpaEdges = {
      val li = graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("src"), col("y.pk").as("dst"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
        .select(col("src"), col("dst"))
        .localCheckpoint(eager = true)
    }
    check("label_prop", Seq(1, 2, 4), useBytes = true, { f =>
      val g = (0 until f).map { k =>
        lpaEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      graft.ops.LabelProp.run(g, rounds = 3, edgeLimit = 0L)
    })

    // 9b. k-truss support peeling (ops/Truss — per-round triangle
    // support via adjacency intersection): disjoint copies keep every
    // neighbor array constant-size and the round count unchanged, so
    // total shuffle bytes across the peel must grow linearly; a
    // cross-copy edge or a broken per-round checkpoint would blow up.
    check("ktruss", Seq(1, 2, 4), useBytes = true, { f =>
      val g = (0 until f).map { k =>
        lpaEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      graft.ops.Truss.truss(g, k = 3, maxRounds = 64, edgeLimit = 0L)._1
    })

    // 9c. Integer-grid HITS (ops/Hits — two join+agg passes per
    // iteration on node ids): disjoint bipartite copies each keep
    // their own max-norm scale-invariantly (scores are ratios), so
    // per-iteration shuffle bytes must track the edge count.
    val hitsEdges = {
      val o = ordersBase.select(col("o_orderkey").as("ok"),
        col("o_custkey").as("src"))
      val li = graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
      o.join(li, Seq("ok")).select(col("src"), col("dst")).distinct()
        .localCheckpoint(eager = true)
    }
    check("hits", Seq(1, 2, 4), useBytes = true, { f =>
      val g = (0 until f).map { k =>
        hitsEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      graft.ops.Hits.scores(g, iters = 2, edgeLimit = 0L)._1
    })

    // 9d. Sampled harmonic centrality (ops/Centrality — the
    // multi-source frontier loop): copies CONNECT through one shared
    // hub (disjoint copies would leave each source's ball — hence the
    // work — constant, asserting nothing), so every source's
    // bounded-depth ball spans all copies and total frontier bytes
    // must track the graph. A frontier loop that re-shuffled the
    // visited union per hop, or a fan-in that funneled the growing
    // frontier, would grow super-linearly (or stall) here.
    def hubbed(f: Int): DataFrame = {
      val copies = (0 until f).map { k =>
        lpaEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      val bridges = (0 until f).map { k =>
        lpaEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          lit(999999999L).as("dst")).limit(32)
      }.reduce(_ union _)
      copies.union(bridges)
    }
    check("harmonic", Seq(1, 2, 4), useBytes = true, { f =>
      graft.ops.Centrality.sampledHarmonic(hubbed(f), nSources = 4,
        maxDepth = 3, k = 20)
    })

    // 9e. Double-sweep diameter bound (two ops/Bfs.frontier sweeps):
    // same hub-connected growth — both sweeps' balls cover the whole
    // graph within the depth cap, so the two expansions' shuffle
    // bytes must grow linearly while the round count stays flat.
    check("diameter_2sweep", Seq(1, 2, 4), useBytes = true, { f =>
      graft.ops.Centrality.diameterDoubleSweep(hubbed(f), maxDepth = 4)
    })

    // 9f. Sampled Brandes betweenness (ops/Betweenness): the same
    // hub-connected growth — forward σ-BFS balls span all copies, and
    // the backward per-layer dependency joins touch every inter-layer
    // edge, so total shuffle bytes must track graph size while layer
    // count stays flat. A backward pass that re-joined the whole
    // visited union per layer (instead of the adjacent layers only)
    // would grow super-linearly here.
    check("betweenness", Seq(1, 2, 4), useBytes = true, { f =>
      graft.ops.Betweenness.sampledBrandes(hubbed(f), nSources = 4,
        maxDepth = 3, k = 20, edgeLimit = 0L)
    })

    // 9g. Bounded-round weighted SSSP (ops/Sssp): hub-connected
    // copies with unit costs — every round's relax join is O(edges
    // out of the frontier) and the improved-only frontier spans all
    // copies through the hub, so per-round bytes must track graph
    // size with a flat round count.
    check("sssp", Seq(1, 2, 4), useBytes = true, { f =>
      graft.ops.Sssp.nearestFromMd5Seed(
        hubbed(f).withColumn("cost", lit(1000L)), maxRounds = 4, k = 20,
        edgeLimit = 0L)
    })

    // 9h. Luby MIS (ops/Mis): hub-connected copies — actives span all
    // copies, every round's beaten/neighborhood joins touch the
    // active subgraph's edges, and the expected round count is
    // O(log n)-flat, so total winners/survivors shuffle bytes must
    // track graph size. A round that materialized winners, actives,
    // and neighborhoods separately (instead of filters over the one
    // tagged checkpoint), or re-shuffled the full edge frame against
    // a non-shrinking active set, would grow super-linearly here.
    check("mis", Seq(1, 2, 4), useBytes = true, { f =>
      graft.ops.Mis.luby(hubbed(f), maxRounds = 40)
    })

    // 10. Physical as-of merge join (plans/AsOfMergeJoin): replicated
    // DISJOINT user bands double both sides; the exec is one merge
    // per co-partition after SMJ-grade exchanges, so shuffle bytes
    // must track the inputs — a broken distribution requirement
    // (e.g. a fallback to BNLJ) would blow up immediately.
    check("asof_merge", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val ev = replicate(eventsBase, f, "user_id", 1000000L,
        tagTokens = false)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("seq").as("ts"), col("event_id"))
      val r = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("seq").as("ts"))
        .agg(count(lit(1)).as("v"))
      graft.plans.AsOfMergeJoin.asof(l, r, "user_id", "ts", Seq("v"))
    })

    // 11. Exact inversion counting (ops/Inversions — the Kendall
    // core): two range-sort rank passes, two perfectly-balanced
    // grouped local counts, one P×B aggregate. The STATISTIC grows
    // ~quadratically under replication (cross-copy pairs are real
    // pairs) but the algorithm's WORK must stay ~n·log n — shuffle
    // bytes are the metric. Inversions.count runs eagerly inside the
    // builder (metered); the returned 1-row frame just carries the
    // result for run()'s forcing count.
    check("inversions", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L,
          tagTokens = false)
        .select(col("doc_id"), length(col("text")).cast("long").as("x"),
          xxhash64(col("text"), col("doc_id")).as("y"))
      val d = graft.ops.Inversions.count(docs,
        Seq("x", "y", "doc_id"), Seq("y", "x", "doc_id"))
      // Auto-scaling invariants at every factor: a BINDING
      // targetGroupRows must (a) keep every mergesort group at or
      // under the target — P and B rise with n, so the bound holds at
      // 8× exactly as at 1× — and (b) leave the count unchanged.
      val target = 5000L
      val n = docs.count()
      val needed = (n + target - 1) / target
      val blocksAuto = math.min(math.max(32L, needed), n)
      if ((n + blocksAuto - 1) / blocksAuto > target)
        failed ::= s"inversions x$f: auto group size ${(n + blocksAuto - 1) / blocksAuto} > target $target"
      val dTight = graft.ops.Inversions.count(docs,
        Seq("x", "y", "doc_id"), Seq("y", "x", "doc_id"),
        targetGroupRows = target)
      if (dTight != d)
        failed ::= s"inversions x$f: auto-scaled count $dTight != default $d"
      spark.range(1).withColumn("inv", lit(d)).toDF()
    })

    // 12. Duplicated-span masking (dedup/SpanDedup): token-tagged
    // copies share zero grams across copies, so dup-gram groups and
    // hit positions replicate per copy — shuffle bytes (the one
    // key-partitioned shuffle of the gram stream under the count
    // window dominates) must track the corpus. A broken postings
    // aggregate (e.g. a count-then-join-back second exchange, or
    // pair-wise gram matching) would grow super-linearly.
    // The filter references the coverage column: count() over the bare
    // left-outer join would let Catalyst ELIMINATE the join (unique
    // right key) and skip the whole gram pipeline.
    check("span_dedup", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L, tagTokens = true)
      graft.dedup.SpanDedup.spanStats(docs, "text", "doc_id", 8)
        .where(col("dup_bp") >= 0)
    })

    // 13. Entry-sampled DIMSUM: disjoint basket copies replicate the
    // column structure, so surviving entries — and the pair rows the
    // thinned matrix generates — must grow linearly; a broken entry
    // coin (sampling after the join, or a p that ignores the norm)
    // would blow up quadratically on the replicated hot columns.
    check("dimsum_entry", Seq(1, 2, 4, 8), useBytes = false, { f =>
      // baskets of ~8 consecutive (sparse) order keys, columns from a
      // 500-symbol alphabet; both ids banded per copy so the copies
      // are disjoint and the pair structure replicates exactly
      val rc = replicate(ordersBase, f, "o_orderkey", 100000000L,
          tagTokens = false)
        .select(expr("CAST(o_orderkey / 100000000 AS BIGINT)").as("copy"),
          pmod(col("o_orderkey"), lit(100000000L)).as("ok"))
        .select(
          (expr("CAST(ok / 64 AS BIGINT)") + col("copy") * 10000000L).as("r"),
          concat(lit("c"),
            pmod(col("ok"), lit(500L)) + col("copy") * 1000L).as("c"))
      graft.similarity.Dimsum.pairsTwoSided(rc, "r", "c", gamma = 16.0)
    })

    // 14. Physical interval-overlap join (plans/IntervalSweepJoin):
    // keys scale WITH the corpus (constant per-key density), so pair
    // output and shuffle bytes must grow linearly while the
    // OPEN-INTERVAL working set — the operator's memory bound, read
    // from its max-accumulator — stays ~constant: it is the true
    // per-key concurrency, not a function of n. A buffer that tracked
    // corpus size (e.g. missing eviction or key reset) fails here
    // long before it OOMs a real cluster.
    var sweepBase = -1L
    check("interval_sweep", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val nKeys = 64L * f
      def side(salt: Int) = spark.range(20000L * f).select(
        pmod(col("id"), lit(nKeys)).as("k"),
        pmod(xxhash64(col("id"), lit(salt)), lit(10000L)).as("s"))
        .withColumn("e", col("s") + lit(60L))
      val df = graft.plans.IntervalSweepJoin.overlap(side(1), side(2),
        Seq("k"), "s", "e", "s", "e", Seq("s"))
      // force THIS QueryExecution (df.count() would plan a fresh one
      // whose exec instance owns a different, never-filled accumulator)
      val pairs = df.queryExecution.toRdd.count()
      val maxOpen = maxOpenOf(df.queryExecution.executedPlan)
      println(f"SCALE interval_sweep   x$f%-2d maxOpen=$maxOpen%5d pairs=$pairs%9d")
      if (sweepBase < 0) sweepBase = maxOpen
      else if (maxOpen > sweepBase * 2 + 16)
        failed ::= s"interval_sweep x$f: open-interval buffer $maxOpen vs base $sweepBase — working set tracks corpus size"
      spark.range(1).select(lit(pairs).as("pairs"))
    })

    // 15. Degree-capped link prediction (ops/LinkPredict) on a
    // HUB-SKEWED replication: disjoint co-purchase copies (linear
    // term) PLUS one hub whose degree grows with the factor
    // (3000 × f spokes). Uncapped, the hub alone contributes
    // C(3000f, 2) ∝ f² candidate pairs — the Σ deg(w)² failure mode;
    // with the default cap (1024 < 3000) hub wedges are dropped
    // before the wedge join, so candidate rows must grow ~linearly.
    // Metric is the candidate-pair count: the family's cost IS the
    // candidate set.
    check("link_predict", Seq(1, 2, 4), useBytes = false, { f =>
      val copies = (0 until f).map { k =>
        lpaEdges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      val hub = spark.range(3000L * f).select(
        col("id").as("src"), lit(999999999L).as("dst"))
      graft.ops.LinkPredict.candidates(copies.union(hub))
    })

    // 16. The flagship E2E: the whole pipeline CLI (quality screen →
    // span dedup → mixture → sharded export) at 1×/2×/4× corpus
    // replication through the REAL entry point (pipelineRun on a
    // written parquet dir — exactly what `cli pipeline` executes).
    // Copy-tagged tokens keep cross-copy span overlap at zero, and
    // the budget scales with the corpus so every stage does per-row
    // work; total shuffle bytes must grow ~linearly.
    check("pipeline_e2e", Seq(1, 2, 4), useBytes = true, { f =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-sc-pipe$f").toString
      replicate(docsBase, f, "doc_id", 10000000L, tagTokens = true)
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val nDocs = spark.read.parquet(s"$base/documents.parquet").count()
      val r = graft.cli.Main.pipelineRun(spark, base, s"$base/out",
        nShards = 8, format = "jsonl-sink", budget = nDocs)
      if (r.badShards.nonEmpty)
        failed ::= s"pipeline_e2e x$f: export verify FAILED ${r.badShards}"
      spark.range(1).select(lit(r.nSelected).as("selected"))
    })

    // 17. KN trigram perplexity (text/LangModel): copy-tagged tokens
    // make each copy's vocabulary disjoint, so the model frames
    // (trigram types, contexts, continuation counts) and the probe
    // stream all replicate per copy — shuffle bytes must track the
    // corpus. A forced vocab-sized broadcast or a distinct-induced
    // Expand in the count derivations would grow super-linearly here.
    check("kn_perplexity", Seq(1, 2, 4, 8), useBytes = true, { f =>
      val docs = replicate(docsBase, f, "doc_id", 1000000L, tagTokens = true)
      graft.text.LangModel.knTrigramDocScores(docs, "text", "doc_id")
    })

    spark.stop()
    if (failed.nonEmpty) {
      failed.reverse.foreach(f => System.err.println(s"SCALECHECK FAIL $f"))
      sys.exit(1)
    }
    println("SCALECHECK: all growth curves ~linear")
  }
}
