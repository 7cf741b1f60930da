package graft.cli.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.cli.Main
import graft.ingest.{Incremental, Snapshot}
import graft.stats.{Stats, StatsArtifact}

/** One benchmark workload: a repeatable set-up, one flow iteration
  * (the timed region), and the output checks run after each. */
trait Workload {
  /** Operations one set-up attempts (each failed check fails one). */
  def opsPerSetup: Int = 0
  /** Operations one flow attempts (each failed check fails one). */
  def opsPerFlow: Int
  /** Build the inputs from scratch; timed as one set-up. */
  def setup(): Unit
  /** Failed checks of the last set-up, one message each. */
  def checkSetup(): Seq[String] = Nil
  /** Untimed work after the last set-up, before the first flow. */
  def reference(): Unit = ()
  /** Untimed work before flow `it`. */
  def prepare(it: Int): Unit = ()
  /** Run flow `it`; returns its timed seconds. */
  def flow(it: Int): Double
  /** Failed checks of flow `it`, one message each. */
  def check(it: Int): Seq[String]
  /** Per-layer values of traced flow `it`, from its spans and jobs. */
  def layers(it: Int, jobs: Seq[JobRec]): Map[String, Double]
}

/** Workloads run back to back as one: one set-up, one flow. */
final class Composite(parts: Seq[Workload]) extends Workload {
  override def opsPerSetup: Int = parts.map(_.opsPerSetup).sum
  def opsPerFlow: Int = parts.map(_.opsPerFlow).sum
  def setup(): Unit = parts.foreach(_.setup())
  override def checkSetup(): Seq[String] = parts.flatMap(_.checkSetup())
  override def reference(): Unit = parts.foreach(_.reference())
  override def prepare(it: Int): Unit = parts.foreach(_.prepare(it))
  def flow(it: Int): Double = parts.map(_.flow(it)).sum
  def check(it: Int): Seq[String] = parts.flatMap(_.check(it))
  def layers(it: Int, jobs: Seq[JobRec]): Map[String, Double] =
    parts.map(_.layers(it, jobs)).reduce(_ ++ _)
}

object Workload {
  /** Seconds `body` takes. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def du(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def counters(prefix: String, js: Seq[JobRec]): Map[String, Double] =
    Meter.Counters.map(_._1).zip(Meter.counters(js))
      .map { case (k, v) => s"$prefix.$k" -> v }.toMap

  /** Per-row hash over all columns in name order, as a non-negative
    * 31-bit value whose sum is an order-independent fingerprint
    * (doubles rounded to 1e-10 so summation order cannot flip it). */
  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 10)
        case _ => col(f.name)
      }
    }
    pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))
  }

  /** (hash, rows) of `df`, computed in the same job that writes it to
    * the noop sink. */
  def sinkHash(df: DataFrame): (Long, Long) = {
    val obs = Observation()
    df.observe(obs, coalesce(sum(rowHash(df)), lit(0L)).as("h"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("h").asInstanceOf[Long], m("n").asInstanceOf[Long])
  }

  /** (hash, rows) of each frame, all in one job. */
  def fingerprints(frames: Seq[DataFrame]): Seq[(Long, Long)] = {
    val tagged = frames.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("f"), rowHash(df).as("h"))
    }.reduce(_ union _)
    val m = tagged.groupBy(col("f")).agg(sum(col("h")), count(lit(1))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    frames.indices.map(i => m.getOrElse(i, (0L, 0L)))
  }
}

/** The `idu` product flow over a generated tree. Set-up generates the
  * tree and runs `analyze` (first scan) into an empty db. Each flow
  * then runs a match-all `stats compute` and three `find`s; changes
  * about 1 % of the dirs (untimed); runs `analyze --incremental` →
  * incremental `stats compute` → `reports`, and prunes old snapshots,
  * artifacts and report dirs as `--keep 2` does. The tree keeps its
  * size across flows. Flow time is the sum of the two timed halves. */
final class TreeWorkload(spark: SparkSession, work: Path, seed: Long,
    nFiles: Int, nDirs: Int, p: Probe) extends Workload {
  import TreeWorkload._

  private val root = work.resolve("tree")
  private val db = work.resolve("db").toString
  private val reportsOut = work.resolve("reports")
  private var gen: TreeGen = _

  // per-set-up and per-flow state the checks and layer metrics read
  private var finds: Seq[TreeGen.FindCase] = Nil
  private var findRows: Seq[Long] = Nil
  private var summaries = Seq.empty[(Long, Long)]
  private var change: Incremental.ChangeSummary = _
  private var prevSnapshot = ""
  private var mid = Seq.empty[String]
  private var equalityChecked = false

  override def opsPerSetup: Int = 1
  def opsPerFlow: Int = 1 + 3 + 3

  private def excludes = Seq(gen.excludePattern)

  private def summarize(): Unit = {
    val (f, d, _, _) = p("cli.summarize") { Main.summarize(spark, db) }
    summaries :+= (f -> d)
  }

  def setup(): Unit = {
    Seq(root, Paths.get(db), reportsOut).foreach(TreeGen.remove)
    gen = new TreeGen(root, seed, nFiles, nDirs).generate()
    summaries = Nil
    p("analyze") {
      p("ingest.walk") { Main.firstScan(spark, db, root.toString, excludes).get }
      summarize()
    }
  }

  override def checkSetup(): Seq[String] = checkSummary("analyze", gen.truth())

  override def prepare(it: Int): Unit = {
    finds = gen.findCases()
    prevSnapshot = Snapshot.latestName(db).get
    summaries = Nil
  }

  def flow(it: Int): Double = {
    val full = Workload.time {
      p("stats") {
        val c = Stats.compute(Snapshot.readFiles(spark, db))
        p("stats.write") { StatsArtifact.write(db, c, "/", "") }
      }
      p("find") {
        val files = Snapshot.readFiles(spark, db)
        val ops = graft.expr.FileOperands(gen.idMaps.userByName, gen.idMaps.groupByName)
        findRows = finds.map { fc =>
          val m = p("expr.compile") { ops.compile(fc.expr) }
          p("find.enumerate") {
            val rows = Main.findFrame(files, fc.root, m).toLocalIterator()
            var n = 0L
            while (rows.hasNext) { rows.next(); n += 1 }
            n
          }
        }
      }
    }
    // untimed: check the full artifact and the finds, then change ~1 % of dirs
    mid = checkArtifact("stats compute", StatsArtifact.read(spark, db), gen.truth()) ++
      finds.zip(findRows).collect { case (fc, n) if n != fc.rows =>
        s"find '${fc.expr}' rows: got $n, want ${fc.rows}" }
    gen.mutate(it)
    val incremental = Workload.time {
      p("analyze_incremental") {
        val prev = Snapshot.readFiles(spark, db)
        val r = p("ingest.rescan") { Incremental.rescan(spark, root.toString, prev, excludes) }
        change = r.summary
        val errs = { import spark.implicits._; Seq.empty[graft.model.ScanError].toDF() }
        p("ingest.snapshot_write_incremental") { Snapshot.write(db, r.entries, errs) }
        summarize()
      }
      p("stats_incremental") {
        val prevFiles = Snapshot.readFiles(spark, db, Some(prevSnapshot))
        val files = Snapshot.readFiles(spark, db)
        val prev = StatsArtifact.read(spark, db)
        p("stats.delta") {
          val c = Stats.computeIncremental(prev, prevFiles, files,
            Stats.changedPrefixesOf(prevFiles, files))
          StatsArtifact.write(db, c, "/", "")
        }
      }
      p("reports") {
        val c = StatsArtifact.read(spark, db)
        val name = StatsArtifact.latestName(db).get
        p("reports.render") { Main.writeReportTree(c, reportsOut.resolve(name), 10, gen.idMaps) }
        Files.writeString(reportsOut.resolve("latest"), name)
      }
      p("prune") {
        Snapshot.prune(db, Keep)
        StatsArtifact.prune(db, Keep)
        graft.ingest.Retention.prune(reportsOut.toString, Keep, StatsArtifact.latestName(db))
      }
    }
    full + incremental
  }

  private def checkArtifact(what: String, c: Stats.Computed, t: TreeGen.Truth): Seq[String] =
    Seq(("totals", rowsOf(c.totals, None), Map(0L -> t.totals)),
      ("per_user", rowsOf(c.perUser, Some("uid")), t.perUid),
      ("per_group", rowsOf(c.perGroup, Some("gid")), t.perGid))
      .collect { case (n, got, want) if got != want => s"$what $n: got $got, want $want" }

  private def checkSummary(what: String, t: TreeGen.Truth): Seq[String] =
    if (summaries == Seq(t.fileRows -> t.dirs)) Nil
    else Seq(s"$what (files, dirs) $summaries, want ${(t.fileRows, t.dirs)}")

  def check(it: Int): Seq[String] = {
    val t = gen.truth()
    val c = StatsArtifact.read(spark, db)
    val bad = Seq.newBuilder[String]
    bad ++= mid
    bad ++= checkArtifact("incremental", c, t)
    bad ++= checkSummary("analyze --incremental", t)
    val rdir = reportsOut.resolve(StatsArtifact.latestName(db).get)
    if (!Files.exists(rdir.resolve("index.md"))) bad += s"report tree missing in $rdir"
    else if (reportTotals(rdir) != t.totals)
      bad += s"report totals ${reportTotals(rdir)}, want ${t.totals}"
    val kept = Seq(s"$db/snapshots", s"$db/stats", reportsOut.toString)
      .map(graft.ingest.Retention.candidates(_).size)
    if (kept.exists(_ > Keep))
      bad += s"pruning left (snapshots, artifacts, report dirs) $kept, want <= $Keep"
    if (!equalityChecked) {
      // once per run: the incremental artifact equals a full recompute
      equalityChecked = true
      val full = Stats.compute(Snapshot.readFiles(spark, db))
      val frames = Seq("totals", "per_user", "per_group", "per_prefix",
        "per_user_prefix", "per_group_prefix")
      val fp = Workload.fingerprints(frameSeq(full) ++ frameSeq(c))
      frames.zip(fp.take(6).zip(fp.drop(6))).foreach { case (n, (a, b)) =>
        if (a != b) bad += s"incremental $n differs from a full compute"
      }
    }
    bad.result()
  }

  /** Layer metrics of traced flow `it` and of the traced set-up before
    * it (iteration 0: the first scan). */
  def layers(it: Int, jobs: Seq[JobRec]): Map[String, Double] = {
    def sec(n: String) = p.spans.seconds(n, it)
    def setupSec(n: String) = p.spans.seconds(n, 0)
    def group(g: String) = jobs.filter(_.group == g)
    // firstScan walks and then writes the snapshot in one call: its
    // Snapshot.write jobs are split out by call site
    val (write, walk) = group("ingest.walk")
      .partition(_.stageNames.exists(_.contains("Snapshot.scala")))
    val writeS = write.map(j => j.endMs - j.startMs).sum / 1e3
    val snapDir = Paths.get(db, "snapshots", Snapshot.latestName(db).get)
    val artDir = Paths.get(db, "stats", StatsArtifact.latestName(db).get)
    val snapBytes = Workload.du(snapDir).toDouble
    val rdir = reportsOut.resolve(StatsArtifact.latestName(db).get)
    val walkedDirs = change.prefixes_unchanged + change.prefixes_changed + change.prefixes_added
    val (nChanged, nDelta) = deltaSize()
    Map(
      "analyze_s" -> setupSec("analyze"), "analyze_incremental_s" -> sec("analyze_incremental"),
      "stats_s" -> sec("stats"), "stats_incremental_s" -> sec("stats_incremental"),
      "analyze_rescan_ratio" -> sec("analyze_incremental") / setupSec("analyze"),
      "stats_rescan_ratio" -> sec("stats_incremental") / sec("stats"),
      "find_s" -> sec("find"), "reports_s" -> sec("reports"),
      "db_bytes_per_file" -> (snapBytes + Workload.du(artDir)) / summaries.last._1,
      "ingest.walk_s" -> (setupSec("ingest.walk") - writeS),
      "ingest.walk.files" -> summaries.last._1.toDouble,
      "ingest.walk.dirs" -> summaries.last._2.toDouble,
      "ingest.snapshot_write_s" -> writeS,
      "ingest.snapshot_write_incremental_s" -> sec("ingest.snapshot_write_incremental"),
      "ingest.snapshot.bytes" -> snapBytes,
      "ingest.rescan_s" -> sec("ingest.rescan"),
      "ingest.rescan.reused_dir_share" -> change.prefixes_unchanged.toDouble / walkedDirs,
      "ingest.rescan.files_rescanned" -> change.files_rescanned.toDouble,
      "cli.summarize_s" -> (setupSec("cli.summarize") + sec("cli.summarize")),
      "stats.write_s" -> sec("stats.write"),
      "stats.delta_s" -> sec("stats.delta"),
      "stats.changed_prefixes" -> nChanged, "stats.delta_rows" -> nDelta,
      "expr.compile_ms" -> sec("expr.compile") * 1e3,
      "find.enumerate_s" -> sec("find.enumerate"),
      "find.rows" -> findRows.sum.toDouble,
      "reports.render_s" -> sec("reports.render"),
      "reports.files" -> Files.walk(rdir).iterator().asScala.count(Files.isRegularFile(_)).toDouble) ++
      Workload.counters("ingest.walk", walk) ++
      Workload.counters("ingest.snapshot_write", write) ++
      Seq("ingest.snapshot_write_incremental", "ingest.rescan", "cli.summarize",
        "stats.write", "stats.delta", "find.enumerate", "reports.render")
        .flatMap(g => Workload.counters(g, group(g)))
  }

  /** (changed prefixes, rows of the changed prefixes — dir rows and
    * entry rows — in the previous and the incremental snapshot). */
  private def deltaSize(): (Double, Double) = {
    val prevFiles = Snapshot.readFiles(spark, db, Some(prevSnapshot))
    val files = Snapshot.readFiles(spark, db)
    val changed = Stats.changedPrefixesOf(prevFiles, files).collect().map(_.getString(0)).toSeq
    def rows(f: DataFrame) = f.where((col("is_dir") && col("path").isin(changed: _*)) ||
      col("parent").isin(changed: _*)).count()
    (changed.size.toDouble, (rows(prevFiles) + rows(files)).toDouble)
  }
}

object TreeWorkload {
  /** Snapshots, artifacts and report dirs kept, as `--keep 2`. */
  val Keep = 2

  /** key → metric values in [[TreeGen.Metrics]] order. */
  def rowsOf(df: DataFrame, key: Option[String]): Map[Long, Seq[Long]] =
    df.collect().map { r =>
      key.map(k => r.getAs[Long](k)).getOrElse(0L) ->
        TreeGen.Metrics.map(m => r.getAs[Long](m))
    }.toMap

  def frameSeq(c: Stats.Computed): Seq[DataFrame] = Seq(c.totals, c.perUser,
    c.perGroup, c.perPrefix, c.perUserPrefix, c.perGroupPrefix)

  /** The metric values of a report tree's `totals.tsv`. */
  def reportTotals(dir: Path): Seq[Long] = {
    val lines = Files.readAllLines(dir.resolve("totals.tsv")).asScala.filter(_.nonEmpty)
    val header = lines.head.split("\t").toSeq
    val values = lines(1).split("\t").toSeq
    TreeGen.Metrics.map(m => values(header.indexOf(m)).toLong)
  }
}

/** `pipeline` (quality → span dedup → mixture → jsonl-sink export +
  * verify) over a generated corpus. */
final class CorpusWorkload(spark: SparkSession, work: Path, seed: Long,
    nDocs: Int, budget: Long, p: Probe) extends Workload {
  private val gen = CorpusGen(seed, nDocs)
  private val corpus = work.resolve("corpus")
  private val out = work.resolve("pipeline_out")
  private val stages = Seq("quality", "span_dedup", "mixture", "export")
  private var result: Main.PipelineResult = _
  private var first: Option[Seq[Long]] = None

  def opsPerFlow: Int = 4

  def setup(): Unit = {
    TreeGen.remove(corpus)
    gen.write(spark, corpus.toString)
  }

  override def prepare(it: Int): Unit = TreeGen.remove(out)

  def flow(it: Int): Double = Workload.time {
    p("pipeline") {
      result = Main.pipelineRun(spark, corpus.toString, out.toString, 4,
        "jsonl-sink", minQualityBp = 5000, spanK = 8, maxDupBp = 5000,
        budget = budget)
    }
  }

  private def counts(r: Main.PipelineResult): Seq[Long] =
    Seq(r.nInput, r.nQuality, r.nDedup, r.nSelected, r.shards.map(_.rows).sum)

  def check(it: Int): Seq[String] = {
    val r = result
    val bad = Seq.newBuilder[String]
    if (r.badShards.nonEmpty) bad += s"export verify failed: shards ${r.badShards.mkString(",")}"
    val want = Seq(nDocs.toLong, (nDocs - gen.nJunk).toLong,
      (nDocs - gen.nJunk - gen.nPlanted).toLong)
    if (counts(r).take(3) != want) bad += s"stage counts ${counts(r).take(3)}, want $want"
    if (r.shards.map(_.rows).sum != r.nSelected || r.nSelected > budget)
      bad += s"exported ${r.shards.map(_.rows).sum} of ${r.nSelected} selected (budget $budget)"
    first match {
      case None => first = Some(counts(r))
      case Some(c) => if (c != counts(r)) bad += s"stage counts moved: $c then ${counts(r)}"
    }
    bad.result()
  }

  def layers(it: Int, jobs: Seq[JobRec]): Map[String, Double] = {
    // the stages run back to back inside one call: jobs are assigned
    // to the stage whose time window (from stageSecs) they start in
    val start = p.spans.of("pipeline", it).head.startMs
    val secs = result.stageSecs.toMap
    val ends = stages.scanLeft(start.toDouble)((t, s) => t + secs(s) * 1e3).tail
    val inCall = jobs.filter(_.group == "pipeline")
    val byStage = stages.zip(ends).zip(start.toDouble +: ends).map { case ((s, end), begin) =>
      s -> inCall.filter(j => j.startMs >= begin && j.startMs < end)
    }
    Map("pipeline_s" -> p.spans.seconds("pipeline", it),
      "pipeline.kept_share" -> result.shards.map(_.rows).sum.toDouble / result.nInput) ++
      stages.map(s => s"pipeline.${s}_s" -> secs(s)) ++
      byStage.flatMap { case (s, js) => Workload.counters(s"pipeline.$s", js) }
  }
}

/** Seven graph loops of `graft.ops` over a generated co-purchase graph,
  * each to a noop sink: the `graft.tools.LoopScaleProbe` calls, with
  * fewer rounds for the fixed-round loops (k-core and k-truss run to
  * their fixpoint). Every output is checked against [[GraphTruth]]. */
final class GraphWorkload(spark: SparkSession, gen: GraphGen, p: Probe)
    extends Workload {
  import graft.ops._
  private var g: DataFrame = _
  /** (hash, rows) of each output frame, and rounds, per loop. */
  private var out = Map.empty[String, Seq[(Long, Long)]]
  private var rounds = Map.empty[String, Int]
  private var want = Map.empty[String, Seq[(Long, Long)]]
  private var wantRounds = Map.empty[String, Int]
  val loops = Seq("sssp", "betweenness", "label_prop", "hits", "pagerank", "kcore", "ktruss")
  // rounds of the fixed-round loops, the k of k-core and k-truss, and
  // the Sssp edge cost
  private val Iters = 2
  private val SsspRounds = 3
  private val K = 3
  private val Cost = 1000L

  def opsPerFlow: Int = loops.size

  def setup(): Unit = {
    g = gen.edges(spark)
    g.count()
  }

  /** The reference outputs, from the edges the last set-up built. */
  override def reference(): Unit = {
    import spark.implicits._
    val t = new GraphTruth(g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val (hubs, auths) = t.hits(Iters)
    val (core, coreRounds) = t.kcore(K)
    val (truss, trussRounds) = t.truss(K)
    val frames = Seq(
      "sssp" -> Seq(t.sssp(gen.Hub, SsspRounds, Cost).toDF("node", "d")),
      "betweenness" -> Seq(t.betweenness(2, 2, 20).toDF("rk", "node", "bc_micro", "n_src")),
      "label_prop" -> Seq(t.labelProp(Iters).toDF("node", "label")),
      "hits" -> Seq(hubs.toDF("id", "s"), auths.toDF("id", "s")),
      "pagerank" -> Seq(t.pageRank(Iters).toDF("id", "rank")),
      "kcore" -> Seq(core.toDF("src", "dst")),
      "ktruss" -> Seq(truss.toDF("src", "dst")))
    val fp = Workload.fingerprints(frames.flatMap(_._2)).iterator
    want = frames.map { case (l, fs) => l -> fs.map(_ => fp.next()) }.toMap
    wantRounds = Map("kcore" -> coreRounds, "ktruss" -> trussRounds)
    System.err.println(s"[perfbench] graph: ${t.nEdges} edges; reference rounds $wantRounds")
  }

  def flow(it: Int): Double = Workload.time(p("loops") {
    def run(name: String)(body: => Seq[(Long, Long)]): Unit =
      out += name -> p(s"ops.$name")(body)
    run("sssp") {
      Seq(Workload.sinkHash(Sssp.boundedBellmanFord(g.withColumn("cost", lit(Cost)),
        seed = gen.Hub, maxRounds = SsspRounds)))
    }
    run("betweenness") {
      Seq(Workload.sinkHash(Betweenness.sampledBrandes(g, nSources = 2, maxDepth = 2, k = 20)))
    }
    run("label_prop") { Seq(Workload.sinkHash(LabelProp.run(g, rounds = Iters))) }
    run("hits") {
      val (h, a) = Hits.scores(g, iters = Iters)
      Seq(Workload.sinkHash(h), Workload.sinkHash(a))
    }
    run("pagerank") {
      val nodes = g.select(col("src").as("id")).union(g.select(col("dst").as("id")))
        .distinct().localCheckpoint(true)
      Seq(Workload.sinkHash(PageRank.ranks(nodes, g, nodes.count(), iters = Iters)))
    }
    run("kcore") {
      val (c, n) = KCore.core(g, k = K)
      rounds += "kcore" -> n
      Seq(Workload.sinkHash(c))
    }
    run("ktruss") {
      val (t, n) = Truss.truss(g, k = K)
      rounds += "ktruss" -> n
      Seq(Workload.sinkHash(t))
    }
  })

  def check(it: Int): Seq[String] = loops.flatMap { l =>
    (if (out(l) != want(l)) Seq(s"$l (hash, rows): got ${out(l)}, want ${want(l)}") else Nil) ++
      wantRounds.get(l).filter(_ != rounds(l)).map(w => s"$l rounds: got ${rounds(l)}, want $w")
  }

  def layers(it: Int, jobs: Seq[JobRec]): Map[String, Double] =
    Map("loops_s" -> p.spans.seconds("loops", it),
      "ops.kcore.rounds" -> rounds("kcore").toDouble,
      "ops.ktruss.rounds" -> rounds("ktruss").toDouble) ++
      loops.flatMap { l =>
        Map(s"ops.${l}_s" -> p.spans.seconds(s"ops.$l", it)) ++
          Workload.counters(s"ops.$l", jobs.filter(_.group == s"ops.$l"))
      }
}
