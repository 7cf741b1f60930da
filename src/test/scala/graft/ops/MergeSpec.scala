package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq(
    (1L, "a", 100L), (2L, "b", 200L), (3L, "c", 300L), (4L, "d", 400L))
    .toDF("k", "name", "v")

  private def changes = Seq(
    // k=1: two updates, seq 2 wins
    (1L, "a1", 110L, 1L, "U"), (1L, "a2", 120L, 2L, "U"),
    // k=2: deleted
    (2L, "b", 200L, 1L, "D"),
    // k=3: deleted then resurrected at seq 2
    (3L, "c", 300L, 1L, "D"), (3L, "c2", 333L, 2L, "U"),
    // k=5: brand-new insert; k=4 untouched
    (5L, "e", 500L, 1L, "U"))
    .toDF("k", "name", "v", "seq", "op")

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k").as[(Long, String, Long)].collect().toSeq

  test("latestWins: update, delete, resurrect, insert, untouched") {
    val out = collect(Merge.latestWins(base, changes, Seq("k")))
    assert(out === Seq(
      (1L, "a2", 120L),   // seq-2 update wins over seq-1
      (3L, "c2", 333L),   // delete superseded by later upsert
      (4L, "d", 400L),    // untouched base row survives
      (5L, "e", 500L)))   // insert of a new key
    // k=2 stays deleted
  }

  test("broadcast-anti scale shape is identical to the general shape") {
    val a = collect(Merge.latestWins(base, changes, Seq("k")))
    val b = collect(Merge.latestWinsSmallChanges(base, changes, Seq("k")))
    assert(a === b)
  }

  test("randomized equivalence of both shapes") {
    val rnd = new scala.util.Random(7)
    val b = (1L to 200L).map(k => (k, s"n$k", rnd.nextLong() % 1000)).toDF("k", "name", "v")
    val ch = (1 to 300).map { i =>
      val k = rnd.nextInt(250).toLong + 1 // some keys beyond the base
      (k, s"c$i", rnd.nextLong() % 1000, i.toLong, // unique seq per (k, seq)
        if (rnd.nextInt(4) == 0) "D" else "U")
    }.toDF("k", "name", "v", "seq", "op")
    val x = collect(Merge.latestWins(b, ch, Seq("k")))
    val y = collect(Merge.latestWinsSmallChanges(b, ch, Seq("k")))
    assert(x === y)
    assert(x.nonEmpty)
  }

  test("streaming latest-wins merge equals the batch merge") {
    // the SAME argmax aggregate — max(struct(seq, op, payload)) — is
    // streaming-compatible: per-key state is one struct, updated as
    // change batches arrive; complete-mode output IS the merged table
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-stream")
    val stamped = base
      .withColumn("seq", lit(Long.MinValue)).withColumn("op", lit("U"))
      .select("k", "name", "v", "seq", "op")
    stamped.coalesce(1).write.parquet(s"$dir/a")
    changes.select("k", "name", "v", "seq", "op")
      .coalesce(1).write.parquet(s"$dir/b")
    val q = spark.readStream
      .schema("k LONG, name STRING, v LONG, seq LONG, op STRING")
      .parquet(s"$dir/*")
      .groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("name"), col("v"))).as("w"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("merged_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql(
      "SELECT k, w.name, w.v FROM merged_stream WHERE w.op <> 'D' ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq
    assert(streamed === collect(Merge.latestWins(base, changes, Seq("k"))))
  }

  test("scale shape: the anti join broadcasts; the base never sort-merges") {
    val merged = Merge.latestWinsSmallChanges(base, changes, Seq("k"))
    merged.collect() // force AQE to finalize the executed plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // AQE wraps stages in QueryStageExec whose inner plan is a FIELD,
    // not a child (the PlanChecks lesson) — unwrap all of
    // AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: nodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        p +: nodes(r.child)
      case _ => p +: p.children.flatMap(nodes)
    }
    val all = nodes(merged.queryExecution.executedPlan)
    // the superseded-key drop must be a broadcast anti join: a
    // sort-merge / shuffled-hash form would shuffle the whole base
    assert(all.exists {
      case j: BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, s"no broadcast anti join in:\n${all.map(_.nodeName).mkString(", ")}")
    assert(!all.exists(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec]),
      "base-side shuffling join in the scale shape")
  }
}
