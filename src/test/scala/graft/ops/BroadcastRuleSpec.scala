package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-level pin of the round-12 count-informed broadcast rule on the
  * PRODUCTION Sssp round body (`Sssp.roundBody` — the exact per-round
  * plan `bellmanFordOnEd` materializes):
  *
  *   - frontier row count ≤ [[Bfs.BroadcastRowLimit]] ⇒ the relax join
  *     broadcasts the frontier and the checkpointed edge frame is
  *     probed MAP-SIDE — the only shuffles left in the round are the
  *     per-node min aggregate and the full-outer dist merge, never a
  *     re-exchange of the edge frame;
  *   - a row count ABOVE the limit ⇒ the broadcast hint is absent and
  *     the shuffle join returns (both relax sides exchange again).
  *
  * The committed `plans/r13/q_sssp_round_{before,after}.txt` dumps
  * (graft.tools.BroadcastEvidence) show the same flip on the real
  * co-purchase graph; this spec keeps the claim executable.
  */
class BroadcastRuleSpec extends SparkSpec {

  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Long =
    PlanChecks.count(p) { case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => }

  private def broadcastJoins(p: org.apache.spark.sql.execution.SparkPlan): Long =
    PlanChecks.count(p) { case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => }

  private def fixture = {
    val s = spark
    import s.implicits._
    // a weighted path graph plus fan-out, big enough that the edge
    // side is a real distributed frame
    val edges = (0L until 2000L).map(i => (i, i + 1, 1L + (i % 7)))
      .toDF("src", "dst", "cost")
    val ed = Sssp.edOf(edges)
    val dist = Seq((0L, 0L)).toDF("node", "d").localCheckpoint(true)
    (ed, dist)
  }

  /** Production loop frames derive from joins over parquet whose size
    * ESTIMATES exceed the auto-broadcast threshold — that regime is
    * why the count-informed rule exists (the r12 sf0.1 A/Bs measured
    * the hint's win under default configs). A tiny spec fixture would
    * auto-broadcast on stats alone and mask the rule, so these tests
    * disable the threshold: ONLY the hint decides, as at scale. */
  private def withNoAutoBroadcast[T](f: => T): T = {
    val k1 = "spark.sql.autoBroadcastJoinThreshold"
    val k2 = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val (v1, v2) = (spark.conf.getOption(k1), spark.conf.getOption(k2))
    spark.conf.set(k1, "-1"); spark.conf.set(k2, "-1")
    try f finally {
      v1.fold(spark.conf.unset(k1))(spark.conf.set(k1, _))
      v2.fold(spark.conf.unset(k2))(spark.conf.set(k2, _))
    }
  }

  test("round body broadcasts a small frontier: edge frame never re-exchanges") {
    withNoAutoBroadcast {
      val (ed, dist) = fixture
      val merged = Sssp.roundBody(ed, dist, dist, frontierRows = 1L)
      merged.foreach(_ => ()) // finalize the adaptive plan
      val plan = merged.queryExecution.executedPlan
      assert(broadcastJoins(plan) >= 1L,
        "small frontier no longer plans a broadcast relax join")
      // allowed shuffles: relax min-aggregate + full-outer merge sides
      // (dist is a checkpoint with UnknownPartitioning) — but NEVER a
      // re-exchange of the edge frame, so the count stays <= 3
      assert(shuffles(plan) <= 3L,
        s"edge frame appears to re-exchange: ${shuffles(plan)} shuffles")
    }
  }

  test("round body above BroadcastRowLimit falls back to the shuffle join") {
    withNoAutoBroadcast {
      val (ed, dist) = fixture
      val merged = Sssp.roundBody(ed, dist, dist,
        frontierRows = Bfs.BroadcastRowLimit + 1L)
      merged.foreach(_ => ())
      val plan = merged.queryExecution.executedPlan
      assert(broadcastJoins(plan) == 0L,
        "unhinted round body still broadcasts with thresholds off")
      // the relax join's two sides exchange again (+ agg + merge)
      assert(shuffles(plan) >= 4L,
        s"fallback shuffle join did not return: ${shuffles(plan)} shuffles")
    }
  }

  test("roundBody is what the loop computes (distances unchanged)") {
    val (ed, dist) = fixture
    // 3 rounds through the public loop == 3 manual roundBody steps
    val loop = Sssp.bellmanFordOnEd(ed, 0L, 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    var d = dist
    var f = dist
    var fr = 1L
    (1 to 3).foreach { _ =>
      val m = Sssp.roundBody(ed, d, f, fr).localCheckpoint(false)
      fr = m.where(col("imp")).count()
      f = m.where(col("imp")).select(col("node"), col("d"))
      d = m.select(col("node"), col("d"))
    }
    val manual = d.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(loop.sameElements(manual))
  }
}
