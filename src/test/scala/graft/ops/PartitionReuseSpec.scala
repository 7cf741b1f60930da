package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the ACTUAL Spark 4.1 behavior behind this repo's checkpoint
  * idioms, so future sessions don't re-assume the opposite:
  *
  *   1. `localCheckpoint` DROPS partitioning metadata — the resulting
  *      LogicalRDD reports UnknownPartitioning, so a join on the
  *      checkpointed key still plans an exchange on that side. Any
  *      `repartition(key).localCheckpoint()` in this repo is therefore
  *      justified only by MEASURED shuffle-write locality (LabelProp,
  *      Dimsum.pairs — same-session A/B), never by planner reuse; most
  *      sites measured neutral-or-worse and carry no repartition.
  *   2. What the checkpoint DOES buy is compute-once sharing: both
  *      legs of a self-join read the materialized RDD instead of
  *      re-deriving the upstream pipeline (AQE gives self-joins no
  *      exchange reuse).
  *
  * If a Spark upgrade starts preserving LogicalRDD partitioning, the
  * first test fails and the repartition decisions deserve a re-audit
  * (planner reuse would flip several of those A/Bs).
  */
class PartitionReuseSpec extends SparkSpec {

  private def bigKV = {
    val s = spark
    import s.implicits._
    (0L until 20000L).map(i => (i % 700L, i)).toDF("k", "v")
  }

  test("localCheckpoint drops partitioning metadata (Spark 4.1 behavior)") {
    val pre = bigKV.repartition(col("k")).localCheckpoint(true)
    val part = pre.queryExecution.executedPlan.outputPartitioning
    assert(part.toString.startsWith("UnknownPartitioning"),
      s"localCheckpoint now PRESERVES partitioning ($part) — re-audit " +
        "every repartition-before-checkpoint A/B decision")
  }

  test("joins on a checkpointed frame still exchange both sides") {
    val s = spark
    import s.implicits._
    val pre = bigKV.repartition(col("k")).localCheckpoint(true)
    val small = (0L until 700L).map(i => (i, 1L)).toDF("k", "w")
    val j = pre.join(small.hint("shuffle_hash"), Seq("k"))
    j.foreach(_ => ()) // execute THIS frame so the adaptive plan is final
    assert(PlanChecks.shuffleCount(j) == 2L,
      "expected both join sides to exchange (no planner reuse of the " +
        "checkpointed distribution) — behavior changed, re-audit")
  }
}
