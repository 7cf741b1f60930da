package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One HIGHER-SCALE parallel-scaling point for the iterative graph
  * loops (r12 verdict item 4): at sf0.1 the loop suite wall clocks are
  * stage-latency-bound (c8/c32 ≈ 1 — SCALE.md documents the
  * sequential-rounds floor), which says nothing about whether the
  * per-round WORK parallelizes once real bytes flow. This probe
  * replicates the sf0.1 co-purchase graph `factor`× hub-connected
  * (the ScaleCheck growth construction: every bounded-depth ball
  * spans all copies) and times the q_sssp / q_betweenness /
  * q_label_prop loop bodies at the session's core count.
  *
  * Run it twice — `SPARK_GRAFT_CPUS=32` and `=8` — minutes apart and
  * compare: ratios moving from ~1 toward 4 mean the per-round work
  * parallelizes with data; ratios pinned at ~1 at 10× would be a real
  * structural finding (per-round stage count / partition counts).
  *
  * Every loop runs twice per rep, on the driver path
  * ([[graft.ops.LocalGraph]]) and on the forced distributed path, so
  * each factor is also a crossover point for `LocalGraph.EdgeLimit`.
  *
  * Usage: runMain graft.tools.LoopScaleProbe [sfDir] [factor] [reps]
  */
object LoopScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-loop-scale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the q_* co-purchase edge build (collect_set + map-side pairs)
    val edges = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select(col("src"), col("dst"))
      .localCheckpoint(true)

    // hub-connected replication (the ScaleCheck construction)
    def hubbed(f: Int): DataFrame = {
      val copies = (0 until f).map { k =>
        edges.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }.reduce(_ union _)
      val bridges = (0 until f).map { k =>
        edges.select((col("src") + lit(k * 10000000L)).as("src"),
          lit(999999999L).as("dst")).limit(32)
      }.reduce(_ union _)
      copies.union(bridges).localCheckpoint(true)
    }
    val g = hubbed(factor)
    val nE = g.count()
    println(s"[loopscale] cpus=$cpus factor=$factor edges=$nE")

    // Each loop runs on both paths, alternating local/distributed
    // within every rep (a same-session A/B): the driver path under
    // LocalGraph.EdgeLimit, and the distributed rounds forced with a
    // bound of 0. The crossover that sets EdgeLimit is where the
    // local arm stops winning.
    def timed(label: String)(f: Long => Unit): Unit = {
      val arms = Seq("local" -> graft.ops.LocalGraph.EdgeLimit, "distributed" -> 0L)
      val times = (1 to reps).flatMap { _ =>
        arms.map { case (arm, limit) =>
          System.gc(); Thread.sleep(500)
          val t0 = System.nanoTime()
          f(limit)
          arm -> (System.nanoTime() - t0) / 1e9
        }
      }.groupMap(_._1)(_._2)
      arms.foreach { case (arm, _) =>
        val ts = times(arm)
        println(f"[loopscale] $label%-14s $arm%-11s cpus=$cpus x$factor: " +
          f"best=${ts.min}%6.2f s  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    timed("sssp") { limit =>
      sink(graft.ops.Sssp.boundedBellmanFord(
        g.withColumn("cost", lit(1000L)), seed = 999999999L,
        maxRounds = 6, edgeLimit = limit))
    }
    timed("betweenness") { limit =>
      sink(graft.ops.Betweenness.sampledBrandes(g, nSources = 4,
        maxDepth = 3, k = 20, edgeLimit = limit))
    }
    timed("label_prop") { limit =>
      sink(graft.ops.LabelProp.run(g, rounds = 3, edgeLimit = limit))
    }
    // r13 session-3 additions: the loops whose OWN edge checkpoints
    // (not Bfs.undOf/edOf) also need size-derived partition counts —
    // this probe's hub-replicated union hands them factor×legs cached
    // partitions and every round pays one task per partition
    timed("hits") { limit =>
      val (h, a) = graft.ops.Hits.scores(g, iters = 4, edgeLimit = limit)
      sink(h)
      sink(a)
    }
    timed("pagerank") { limit =>
      val nodes = g.select(col("src").as("id"))
        .union(g.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      sink(graft.ops.PageRank.ranks(nodes, g, nodes.count(), iters = 3,
        damping = 0.85, edgeLimit = limit))
    }
    timed("kcore") { limit =>
      sink(graft.ops.KCore.core(g, k = 3, maxRounds = 64, edgeLimit = limit)._1)
    }
    timed("ktruss") { limit =>
      sink(graft.ops.Truss.truss(
          g.select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst")).distinct(),
          k = 3, maxRounds = 64, edgeLimit = limit)._1)
    }
    spark.stop()
  }
}
