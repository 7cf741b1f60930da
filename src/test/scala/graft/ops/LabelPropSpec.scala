package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins LabelProp's declared semantics — "most frequent neighbor
  * label, ties to the SMALLEST label" (what the DuckDB oracle replays
  * via the packed argmin) — against an inline reference round body, on
  * a fixture dense enough to contain real ties, so any future
  * round-body rewrite (r13 tried `mode(label, deterministic = true)`
  * and lazy checkpoints — both verified identical HERE, then kept out
  * on ×100 measurements; LabelProp.scala scaladoc) has a correctness
  * gate ready.
  */
class LabelPropSpec extends SparkSpec with BothPaths {

  /** The pre-r13 round body: per-(node,label) count + packed argmin. */
  private def referenceRun(edges: DataFrame, rounds: Int): DataFrame = {
    val dir0 = edges.select(col("src").as("a"), col("dst").as("b"))
      .localCheckpoint(true)
    val und = dir0
      .union(dir0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      labels = und
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(min(expr("(1000000L - c) * 10000000000L + label")).as("pk"))
        .select(col("a").as("node"), expr("pk % 10000000000L").as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    // two dense-ish communities bridged in the middle plus pendant
    // chains: plenty of 1-1 count ties in early rounds, where the
    // tie rule decides the final communities
    val intra = for {
      c <- Seq(0L, 100L)
      i <- 0L until 8L
      j <- (i + 1) until 8L
      if (i + j) % 3 != 0
    } yield (c + i, c + j)
    val bridge = Seq((7L, 100L), (6L, 101L))
    val chains = (0L until 6L).map(i => (200L + i, 201L + i))
    (intra ++ bridge ++ chains).toDF("src", "dst")
  }

  bothPaths("production round body equals the packed-argmin reference, all rounds") { limit =>
    (1 to 4).foreach { r =>
      val got = LabelProp.run(fixture, r, limit)
        .orderBy(col("node")).collect().map(x => (x.getLong(0), x.getLong(1)))
      val want = referenceRun(fixture, r)
        .orderBy(col("node")).collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(got.sameElements(want), s"round $r diverged")
    }
  }

  bothPaths("envelope still fails loudly when oracle packing would overflow") { limit =>
    val s = spark
    import s.implicits._
    val bad = Seq((10000000000L, 1L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      LabelProp.run(bad, 1, limit).collect()
    }
    assert(e.getMessage.endsWith(
      "LabelProp: node ids must be < 1e10 for the oracle's argmin packing (max=10000000000)"))
    // the degree bound: one hub with 10^6 neighbours
    val hub = spark.range(1, 1000001).select(lit(0L).as("src"), col("id").as("dst"))
    val d = intercept[IllegalArgumentException] {
      LabelProp.run(hub, 1, limit).collect()
    }
    assert(d.getMessage.endsWith(
      "LabelProp: max degree must be < 1e6 for the oracle's argmin packing (max=1000000)"))
  }
}
