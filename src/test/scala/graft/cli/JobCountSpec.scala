package graft.cli

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.ids.IdMaps
import graft.ingest.{Incremental, Snapshot}
import graft.stats.{Stats, StatsArtifact}

/** Regression bounds on the Spark jobs each `idu` artifact costs: the
  * six stats frames come from one aggregation written as one table,
  * incremental stats merge with one union-aggregate, a report tree is
  * two bounded collects and the rescan summary is one aggregation.
  * Opening a snapshot or an artifact reads its pinned schema, and the
  * analyze summary was observed on the snapshot write, so those run no
  * job at all. A per-frame recompute or write adds at least five jobs
  * to a step and fails its bound. The bounds are the counts measured
  * on this spec's tree under the shared test session (`local[4]`, 4
  * shuffle partitions). */
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
    val (_, readArtifact) = jobsIn(StatsArtifact.read(spark, db))

    Files.write(root.resolve("d0-0/d1-1/f-new"), "new".getBytes)
    val (res, rescan) = jobsIn(Incremental.rescan(spark, root.toString, prev, seedDepth = 1))
    assert(res.summary.prefixes_changed == 1)
    val s = spark
    import s.implicits._
    Snapshot.write(db, res.entries, Seq.empty[graft.model.ScanError].toDF())

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

    val counts = Map("stats" -> full, "incremental" -> incremental,
      "reports" -> reports, "rescan" -> rescan, "readFiles" -> readFiles,
      "readArtifact" -> readArtifact, "summarize" -> summarize)
    info(s"jobs: $counts")
    val bounds = Map("stats" -> 4, "incremental" -> 18, "reports" -> 2, "rescan" -> 12,
      "readFiles" -> 0, "readArtifact" -> 0, "summarize" -> 0)
    bounds.foreach { case (step, bound) =>
      assert(counts(step) <= bound, s"$step ran ${counts(step)} jobs, bound $bound")
    }
  }
}
