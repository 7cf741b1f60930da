package graft.cli

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.ids.IdMaps
import graft.ingest.{Incremental, Snapshot}
import graft.stats.{Calculator, Stats, StatsArtifact}

/** Regression bounds on the Spark jobs each `idu` artifact costs: the
  * six stats frames of a snapshot below `Stats.RowLimit` come from one
  * bounded collect written as one table (the distributed aggregation,
  * forced, keeps its own bound), incremental stats are that same
  * computation, a report tree is two
  * bounded collects, a rescan is
  * the prev-index read, the walk and one counting job whose cache the
  * snapshot write reads, and a find is one shuffle into a sorted
  * partition and its read.
  * Opening a snapshot or an artifact reads its pinned schema, and the
  * analyze summary was observed on the snapshot write, so those run no
  * job at all. A per-frame recompute or write adds at least five jobs
  * to a step and fails its bound. The bounds are the counts measured
  * on this spec's tree under the shared test session (`local[4]`, 4
  * shuffle partitions). A graph loop below `LocalGraph.EdgeLimit` is
  * one bounded collect, and a resumed `pipeline --work` stage reads
  * its dir with a pinned schema and its row count from a file. */
class JobCountSpec extends SparkSpec {

  /** Jobs started in `body`'s job group. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = s"job-count-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Three levels, two subdirs and four files per dir, old mtimes. */
  private def buildTree(): Path = {
    val root = Files.createTempDirectory("graft-jobs")
    val t0 = FileTime.fromMillis(1700000000000L)
    def mk(dir: Path, level: Int): Unit = {
      for (i <- 0 until 4) {
        val f = dir.resolve(s"f$level-$i")
        Files.write(f, ("x" * (100 * i + 1)).getBytes)
        Files.setLastModifiedTime(f, t0)
      }
      if (level < 2) (0 until 2).foreach { i =>
        val d = dir.resolve(s"d$level-$i")
        Files.createDirectory(d)
        mk(d, level + 1)
      }
      Files.setLastModifiedTime(dir, t0)
    }
    mk(root, 0)
    root
  }

  test("stats, incremental stats, reports and rescan stay within their job bounds") {
    // the CLI flow: every step reads the snapshot parquet it works on
    val root = buildTree()
    val db = Files.createTempDirectory("graft-jobs-db").toString
    Main.firstScan(spark, db, root.toString, Nil).get
    val prevName = Snapshot.latestName(db).get
    val (prev, readFiles) = jobsIn(Snapshot.readFiles(spark, db))
    val (_, summarize) = jobsIn(Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.summarize(spark, db)
    })

    val (_, full) = jobsIn(StatsArtifact.write(db, Stats.compute(prev), "/", ""))
    val (_, distributed) = jobsIn(StatsArtifact.write(db,
      Stats.compute(prev, lit(true), lit(true), Calculator.Identity, false, 0L), "/", ""))
    val (_, readArtifact) = jobsIn(StatsArtifact.read(spark, db))

    Files.write(root.resolve("d0-0/d1-1/f-new"), "new".getBytes)
    val (res, rescan) = jobsIn(Incremental.rescan(spark, root.toString, prev, seedDepth = 1))
    assert(res.summary.prefixes_changed == 1)
    val (_, rescanWrite) = jobsIn(Snapshot.write(db, res.entries, res.errors))

    val prevFiles = Snapshot.readFiles(spark, db, Some(prevName))
    val files = Snapshot.readFiles(spark, db)
    val prevArtifact = StatsArtifact.read(spark, db)
    val (_, incremental) = jobsIn {
      val c = Stats.computeIncremental(prevArtifact, prevFiles, files,
        Stats.changedPrefixesOf(prevFiles, files))
      StatsArtifact.write(db, c, "/", "")
    }

    val out = Files.createTempDirectory("graft-jobs-reports")
    val c = StatsArtifact.read(spark, db)
    val (_, reports) = jobsIn(Main.writeReportTree(c, out, 10, IdMaps(Map.empty, Map.empty)))

    val (n, find) = jobsIn {
      val it = Main.findFrame(files, Some(root.toString), lit(true)).toLocalIterator()
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    assert(n == 28 + 7 + 1) // the first scan's rows and f-new

    val counts = Map("stats" -> full, "distributedStats" -> distributed,
      "incremental" -> incremental,
      "reports" -> reports, "rescan" -> rescan, "rescanWrite" -> rescanWrite,
      "find" -> find, "readFiles" -> readFiles, "readArtifact" -> readArtifact,
      "summarize" -> summarize)
    info(s"jobs: $counts")
    val bounds = Map("stats" -> 2, "distributedStats" -> 4, "incremental" -> 2,
      "reports" -> 2, "rescan" -> 3,
      "rescanWrite" -> 2, "find" -> 2, "readFiles" -> 0, "readArtifact" -> 0, "summarize" -> 0)
    bounds.foreach { case (step, bound) =>
      assert(counts(step) <= bound, s"$step ran ${counts(step)} jobs, bound $bound")
    }
  }

  /** Each named loop's output rows, collected, and the jobs that took.
    * The loops run on a checkpointed 30-node edge frame, as their
    * callers hand them over. */
  private def loopJobs(edgeLimit: Long, extra: org.apache.spark.sql.DataFrame =>
      Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])]): Seq[(String, Int)] = {
    import spark.implicits._
    val g = (for (a <- 1L to 30L; b <- (a + 1) to 30L if (a * 7 + b * 3) % 5 == 0)
      yield (a, b)).toDF("src", "dst").localCheckpoint()
    val w = g.withColumn("cost", lit(10L))
    val nodes = g.select($"src".as("id")).union(g.select($"dst".as("id"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    import graft.ops._
    val loops: Seq[(String, () => Seq[org.apache.spark.sql.DataFrame])] = Seq(
      "sssp" -> (() => Seq(Sssp.boundedBellmanFord(w, 1L, 3, edgeLimit))),
      "nearest" -> (() => Seq(Sssp.nearestFromMd5Seed(w, 3, 5, edgeLimit))),
      "betweenness" -> (() => Seq(Betweenness.sampledBrandes(g, 2, 2, 20, edgeLimit))),
      "label_prop" -> (() => Seq(LabelProp.run(g, 2, edgeLimit))),
      "hits" -> (() => { val (h, a) = Hits.scores(g, 2, edgeLimit); Seq(h, a) }),
      "pagerank" -> (() => Seq(PageRank.ranks(nodes, g, n, 2, 0.85, edgeLimit))),
      "kcore" -> (() => Seq(KCore.core(g, 3, 64, edgeLimit)._1)),
      "ktruss" -> (() => Seq(Truss.truss(g, 3, 64, edgeLimit)._1))) ++ extra(g)
    val counts = loops.map { case (name, run) =>
      val (rows, jobs) = jobsIn(run().map(_.collect().length).sum)
      assert(rows > 0, name)
      name -> jobs
    }
    info(s"jobs: $counts")
    counts
  }

  test("each graph loop below the edge limit is one collect: 1 job with its output read") {
    // the collect; the local relation it returns reads without a job
    loopJobs(graft.ops.LocalGraph.EdgeLimit, _ => Nil).foreach { case (name, jobs) =>
      assert(jobs <= 1, s"$name ran $jobs jobs, bound 1")
    }
  }

  test("the distributed graph loops stay within their job bounds") {
    import graft.ops._
    val counts = loopJobs(0L, g => Seq(
      "bfs" -> (() => Seq(Bfs.hops(g, 1L, 4))),
      "harmonic" -> (() => Seq(Centrality.sampledHarmonic(g, 4, 3, 10))),
      "diameter" -> (() => Seq(Centrality.diameterDoubleSweep(g, 8))),
      "mis" -> (() => Seq(Mis.luby(g, 40))),
      "components" -> (() => Seq(ConnectedComponents.components(g, "src", "dst")))))
    // the counts measured on this graph under the shared test session;
    // bfs took 13 and diameter 27 while each sweep checkpointed its
    // seed and the second sweep also ran the farthest-node job
    val bounds = Map("sssp" -> 15, "nearest" -> 17, "betweenness" -> 18,
      "label_prop" -> 21, "hits" -> 30, "pagerank" -> 10, "kcore" -> 14,
      "ktruss" -> 15, "bfs" -> 12, "harmonic" -> 16, "diameter" -> 23,
      "mis" -> 20, "components" -> 18)
    counts.foreach { case (name, jobs) =>
      assert(jobs <= bounds(name), s"$name ran $jobs jobs, bound ${bounds(name)}")
    }
  }

  test("pipeline --work reads its stage dirs with pinned schemas: no inference job") {
    val dir = "/root/testdata/sf0.001"
    val work = Files.createTempDirectory("graft-jobs-work").toString
    def run(tag: String) = jobsIn(Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.pipelineRun(spark, dir, Files.createTempDirectory(s"graft-jobs-$tag").toString + "/p",
        nShards = 2, minQualityBp = 7640, budget = 100L, work = Some(work))
    })._2
    val (computed, resumed) = (run("a"), run("b"))
    info(s"jobs: computed $computed, resumed $resumed")
    // a schema-less read of each of the three stage dirs added one
    // inference job per read: 38 and 19 before the reads were pinned;
    // 35 and 16 before the span screen shuffled its grams once and the
    // stage counts came from the stages' observations; a resumed run
    // took 14 while it counted each resumed dir again
    assert(computed <= 18, s"computed run: $computed jobs")
    assert(resumed <= 8, s"resumed run: $resumed jobs")
  }
}
