package graft.cli

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.FileOperands
import graft.ids.IdMaps
import graft.ingest.Walker
import graft.stats.Stats

/** CLI building blocks: find's subtree restriction (+ its parquet
  * pushdown), --since/--from/--to range compilation, and the per-id
  * report file tree (reference find.go:75-96, internal/util.go:20-43,
  * reports.go:128-229).
  */
class CliSpec extends SparkSpec {

  private def snapshotOf(treeFiles: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val root = Files.createTempDirectory("graft-cli")
    treeFiles.foreach { case (rel, content) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes)
    }
    val df = Walker.walk(spark, root.toString, seedDepth = 1).entries.toDF()
    df.withColumn("path", regexp_replace(col("path"), root.toString, ""))
      .withColumn("parent", regexp_replace(col("parent"), root.toString, ""))
  }

  test("config-syntax documents every field and layout (reference TestDocumentation)") {
    val doc = Main.configSyntax
    // the reference's TestDocumentation asserts on these markers
    Seq("raid0", "prefix:", "when building",
      "database:", "exclusions:", "calculator:", "count_hardlinks:",
      "identity", "block:", "raw-blocks").foreach { m =>
      assert(doc.contains(m), s"config-syntax missing '$m'")
    }
    // every calculator named in the doc must actually parse
    Seq("identity", "raw-blocks", "block:4096", "raid0:65536:4")
      .foreach(graft.stats.Calculator.parse)
  }

  test("parseOpts keeps positionals in command-line order") {
    // Regression: positionals accumulate foldRight-style; a stray
    // .reverse turned `find /a name=x || name=y` into a reversed
    // token stream that the expression parser rejected.
    val o = Main.parseOpts(List("--db", "/db", "/a", "name=x", "||", "name=y"))
    assert(o.db == "/db")
    assert(o.positional == List("/a", "name=x", "||", "name=y"))
  }

  test("find root restriction: only the subtree, and not sibling prefixes") {
    val files = snapshotOf(Map(
      "a/x.txt" -> "1", "a/y.log" -> "22",
      "ab/z.txt" -> "333", // sibling whose name shares the prefix string
      "b/w.txt" -> "4444"))
    val m = FileOperands().compile("name=*.txt")
    val got = Main.findFrame(files, Some("/a"), m)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("/a/x.txt")) // /ab/z.txt must NOT match /a
  }

  test("find renders entries with the config separator; dirs keep their key") {
    val files = snapshotOf(Map("a/x.txt" -> "1", "a/y.txt" -> "22"))
    val m = FileOperands().compile("name=*.txt || type=d")
    val got = Main.findFrame(files, Some("/a"), m, sep = ":")
      .collect().map(_.getString(0)).toSeq
    // entries join parent:name; the prefix row itself prints as-is
    assert(got.contains("/a:x.txt") && got.contains("/a:y.txt"), got.toString)
    assert(got.contains("/a"), got.toString)
    // default '/' is byte-identical to the stored path
    val slash = Main.findFrame(files, Some("/a"), m)
      .collect().map(_.getString(0)).toSeq
    assert(slash.forall(p => !p.contains(":")), slash.toString)
  }

  test("find -l long listing matches the reference format markers") {
    val files = snapshotOf(Map("a/x.txt" -> "12345"))
    val m = FileOperands().compile("name=*.txt || type=d")
    val got = Main.findFrame(files, Some("/a"), m, long = true)
      .collect().map(_.getString(0)).toSeq
    // entry: 4-space indent, Go FormatFileInfo shape (mode size
    // datetime name), then the xattr uid/gid suffix (find.go:47-48)
    val entry = got.find(_.contains("x.txt")).get
    assert(entry.matches(
      """    -r[w-][x-]r?[w-][x-]r?[w-][x-] 5 \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} x\.txt uid: \d+ gid: \d+"""),
      entry)
    // prefix: no indent, 'd' type char, FULL key as the name
    val dirLine = got.find(_.startsWith("d")).get
    assert(dirLine.matches(
      """dr[w-][x-]r?[w-][x-]r?[w-][x-] \d+ \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} /a uid: \d+ gid: \d+"""),
      dirLine)
    // -l parses as a flag, not an expression token
    val o = Main.parseOpts(List("-l", "--db", "/db", "/a", "name=*.txt"))
    assert(o.long && o.positional == List("/a", "name=*.txt"))
    // the short form is unchanged
    val short = Main.findFrame(files, Some("/a"), m)
      .collect().map(_.getString(0)).toSeq
    assert(short.contains("/a/x.txt"))
  }

  test("find root predicate pushes down to the parquet scan") {
    val dir = Files.createTempDirectory("graft-clip").toString
    snapshotOf(Map("a/x.txt" -> "1", "b/y.txt" -> "2"))
      .write.parquet(s"$dir/files")
    val files = spark.read.parquet(s"$dir/files")
    val plan = Main.findFrame(files, Some("/a"), lit(true))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StartsWith"),
      s"expected StartsWith in PushedFilters:\n$plan")
  }

  test("find enumerates in stored-key order across several part files") {
    val dir = Files.createTempDirectory("graft-clio").toString
    val tree = (0 until 24).map(i => f"d${i % 3}/s${i % 4}/f$i%02d.txt" -> "x").toMap
    // hash-partitioned part files: no file holds a contiguous key range
    snapshotOf(tree).repartition(4, col("name")).write.parquet(s"$dir/files")
    val files = spark.read.parquet(s"$dir/files")
    assert(files.inputFiles.length > 1)
    val want = files.select("path").collect().map(_.getString(0)).toSeq.sorted
    def enumerate(root: Option[String], sep: String) = {
      val it = Main.findFrame(files, root, lit(true), sep).toLocalIterator()
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().getString(0)
      out.result()
    }
    assert(enumerate(None, "/") == want)
    assert(enumerate(Some("/d1"), "/") == want.filter(p => p == "/d1" || p.startsWith("/d1/")))
    // a display separator renders entries but keeps the stored order
    assert(enumerate(None, ":") == want.map(p =>
      if (p.endsWith(".txt")) p.substring(0, p.lastIndexOf('/')) + ":" + p.substring(p.lastIndexOf('/') + 1)
      else p))
    assert(Main.findFrame(files, None, lit(true)).rdd.getNumPartitions == 1)
    // a scan larger than one advisory partition splits into range
    // partitions, each sorted, in key order
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try {
      assert(Main.findFrame(files, None, lit(true)).rdd.getNumPartitions > 1)
      assert(enumerate(None, "/") == want)
      assert(enumerate(Some("/d1"), "/") == want.filter(p => p == "/d1" || p.startsWith("/d1/")))
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("TimeFlags: durations, instants, and range predicate") {
    import java.time.Instant
    assert(TimeFlags.parseDuration("90s").toSeconds == 90)
    assert(TimeFlags.parseDuration("24h").toHours == 24)
    assert(TimeFlags.parseDuration("7d").toDays == 7)
    intercept[IllegalArgumentException](TimeFlags.parseDuration("nope"))
    intercept[IllegalArgumentException](TimeFlags.parseTime("not-a-time"))

    import spark.implicits._
    val rows = Seq(
      ("old", java.sql.Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))),
      ("mid", java.sql.Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))),
      ("new", java.sql.Timestamp.from(Instant.parse("2026-03-01T00:00:00Z"))))
      .toDF("tag", "start")
    def names(p: Option[org.apache.spark.sql.Column]): Set[String] =
      p.map(rows.where).getOrElse(rows).select("tag")
        .collect().map(_.getString(0)).toSet

    assert(names(TimeFlags.predicate("start", None, None, None)) ==
      Set("old", "mid", "new"))
    assert(names(TimeFlags.predicate("start", None,
      Some("2026-01-15"), Some("2026-02-15"))) == Set("mid"))
    // --since is relative to an injected "now".
    val now = () => Instant.parse("2026-03-02T00:00:00Z")
    assert(names(TimeFlags.predicate("start", Some("48h"), None, None,
      now)) == Set("new"))
    intercept[IllegalArgumentException](
      TimeFlags.predicate("start", Some("1h"), Some("2026-01-01"), None))
  }

  test("report tree: aggregate tables plus per-user/per-group files") {
    import spark.implicits._
    import java.sql.Timestamp
    def entry(path: String, parent: String, isDir: Boolean, size: Long,
        uid: Long, gid: Long) =
      graft.model.FileEntry(path, parent, path.split("/").last, 1, isDir,
        size, (size + 511) / 512, if (isDir) 0x4000 else 0x8000,
        new Timestamp(1700000000000L), uid, gid, 1L,
        scala.util.hashing.MurmurHash3.stringHash(path).toLong, 1L, 0L)
    val files = Seq(
      entry("/r", "", isDir = true, 0, 0, 0),
      entry("/r/a.dat", "/r", isDir = false, 100, 1000, 50),
      entry("/r/b.dat", "/r", isDir = false, 900, 1001, 50)).toDF()
    val c = Stats.compute(files)
    val ids = IdMaps(Map(1000L -> "alice", 1001L -> "bob"), Map(50L -> "staff"))
    val dir = Files.createTempDirectory("graft-report")
    Main.writeReportTree(c, dir, n = 10, ids = ids)

    assert(Files.exists(dir.resolve("totals.md")))
    assert(Files.exists(dir.resolve("by_user.tsv")))
    // Names resolved in the aggregate table.
    val byUser = Files.readString(dir.resolve("by_user.md"))
    assert(byUser.contains("alice") && byUser.contains("bob"))
    // One file per user/group, named id-name, with the reference's
    // multi-section template: TOC, totals, one ranked section per
    // metric (markdown.go:32-371).
    val bobMd = Files.readString(dir.resolve("by_user/1001-bob.md"))
    assert(bobMd.contains("# Usage report for bob (uid 1001)"))
    assert(bobMd.contains("## Contents"))
    assert(bobMd.contains("## <a id=totals></a> Totals"))
    Stats.rankedMetrics.foreach { m =>
      assert(bobMd.contains(s"## <a id=top-$m></a> Top 10 prefixes by $m"),
        s"missing section for $m:\n$bobMd")
    }
    assert(bobMd.contains("/r")) // his top prefix
    assert(bobMd.contains("900 B (900)")) // his bytes, human-formatted
    assert(Files.exists(dir.resolve("by_group/50-staff.md")))
    // index.md links every aggregate table and per-id report.
    val idx = Files.readString(dir.resolve("index.md"))
    assert(idx.contains("[Totals](totals.md)"))
    assert(idx.contains("(top_bytes.md)"))
    assert(idx.contains("[bob](by_user/1001-bob.md)"))
    assert(idx.contains("[staff](by_group/50-staff.md)"))
  }

  test("reports locate: newest-first JSON with file lists and ext filter") {
    val base = Files.createTempDirectory("graft-locate")
    def mk(name: String, files: Seq[String]): Unit = {
      val d = base.resolve(name)
      Files.createDirectories(d.resolve("sub"))
      files.foreach(f => Files.write(d.resolve(f), "x".getBytes))
    }
    mk("20260101T000000.000", Seq("totals.md", "totals.tsv"))
    mk("20260102T000000.000", Seq("totals.md", "sub/a.json"))
    Files.createDirectories(base.resolve("not-a-report"))

    val js = Main.locateJson(base.toString, 2, None)
    // newest first; non-timestamped dirs ignored; nested files relative
    val i1 = js.indexOf("20260102T000000.000")
    val i2 = js.indexOf("20260101T000000.000")
    assert(i1 >= 0 && i2 > i1)
    assert(js.contains(""""report_time":"2026-01-02T00:00:00Z""""))
    assert(js.contains("sub/a.json"))
    assert(!js.contains("not-a-report"))

    val md = Main.locateJson(base.toString, 2, Some(".md"))
    assert(md.contains("totals.md") && !md.contains("totals.tsv") &&
      !md.contains("a.json"))

    val one = Main.locateJson(base.toString, 1, None)
    assert(one.contains("20260102") && !one.contains("20260101"))
  }

  test("analyze first scan: batch-capped run writes no snapshot; resume equals one-shot") {
    // the CLI surface of ResumableWalk (reference analyze.go:82-87):
    // --max-batches emulates a kill mid-walk; rerunning the same
    // analyze resumes from the frontier and the final snapshot must be
    // identical to an uninterrupted run's.
    import graft.ingest.Snapshot
    val root = Files.createTempDirectory("graft-resume-tree")
    for (d <- 0 until 3; s <- 0 until 2) {
      val p = root.resolve(s"d$d/s$s")
      Files.createDirectories(p)
      Files.write(p.resolve(s"f_${d}_$s.txt"), ("x" * (10 + d + s)).getBytes)
    }
    val db1 = Files.createTempDirectory("graft-resume-db").toString
    val db2 = Files.createTempDirectory("graft-oneshot-db").toString

    // "kill" after 1 of 3 batches (6 seeds at depth 2, batchSize 2)
    val partial = Main.firstScan(spark, db1, root.toString, Nil,
      batchSize = 2, maxBatches = 1)
    assert(partial.isEmpty, "a partial walk must not write a snapshot")
    assert(Snapshot.latestName(db1).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(db1, "_frontier", "seeds.txt")))

    // resume: completes, snapshot written, frontier dropped
    val resumed = Main.firstScan(spark, db1, root.toString, Nil, batchSize = 2)
    assert(resumed.nonEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(db1, "_frontier")))

    // one-shot reference run into a fresh db
    assert(Main.firstScan(spark, db2, root.toString, Nil).nonEmpty)
    def rows(db: String): Seq[String] =
      Snapshot.readFiles(spark, db)
        .select(col("path"), col("size"), col("is_dir"))
        .collect().map(_.toString).toSeq.sorted
    assert(rows(db1) == rows(db2),
      "resumed snapshot diverged from the one-shot snapshot")
  }

  test("analyze summary and export emit in-flight quality metrics") {
    import graft.ingest.Snapshot
    val root = Files.createTempDirectory("graft-quality-tree")
    for (i <- 0 until 4)
      Files.write(root.resolve(s"f$i.txt"), ("y" * (5 + i)).getBytes)
    val db = Files.createTempDirectory("graft-quality-db").toString
    assert(Main.firstScan(spark, db, root.toString, Nil).nonEmpty)
    val nEntries = Snapshot.readFiles(spark, db).count()

    // analyze's summary pass: metrics ride the same aggregation job
    val outA = new java.io.ByteArrayOutputStream()
    val (nFiles, nDirs, bytes, mA) = Console.withOut(outA) {
      Main.summarize(spark, db)
    }
    assert(nFiles === 4L && nDirs >= 1L && bytes > 0L)
    assert(mA("rows") === nEntries)
    assert(mA("null_keys") === 0L && mA("violations") === 0L)
    assert(outA.toString.contains(
      s"quality[analyze]: rows=$nEntries null_keys=0 violations=0"),
      outA.toString)

    // export: metrics attach to the write job; manifest attests disk
    val outDir = Files.createTempDirectory("graft-quality-exp").toString + "/e"
    val outE = new java.io.ByteArrayOutputStream()
    val (stats, mE) = Console.withOut(outE) {
      Main.exportRun(spark, db, outDir, nShards = 3)
    }
    assert(stats.map(_.rows).sum === nEntries)
    assert(mE("rows") === nEntries)
    assert(outE.toString.contains(
      s"quality[export]: rows=$nEntries null_keys=0 violations=0"),
      outE.toString)
    assert(graft.ingest.Export.verify(spark, outDir, "path").isEmpty)

    // JSONL format reaches Export through the CLI path and verifies
    val outJ = Files.createTempDirectory("graft-quality-expj").toString + "/e"
    val (statsJ, _) = Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.exportRun(spark, db, outJ, nShards = 2, format = "json")
    }
    assert(statsJ.map(_.rows).sum === nEntries)
    assert(graft.ingest.Export.verify(spark, outJ, "path",
      format = "json").isEmpty)
    // --format parses
    assert(Main.parseOpts(List("--db", db, "--format", "json", outJ))
      .format === "json")
  }

  test("pipeline E2E: stage counts match the individually-oracled components") {
    val dir = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-pipeline").toString + "/p"
    val buf = new java.io.ByteArrayOutputStream()
    // 0.764 sits inside the fixture's score distribution
    // (0.758–0.769), so the quality screen actually bites
    val r = Console.withOut(buf) {
      Main.pipelineRun(spark, dir, out, nShards = 3,
        minQualityBp = 7640, budget = 120L)
    }
    val docs = graft.Tables.documents(spark, dir)
    // stage 1 == q_quality_filter's pass rule at the same threshold
    val q = graft.text.TextAnalysis.qualityScoreFast(spark, col("text"))
    val kept1 = docs.where(q >= 0.764).localCheckpoint(eager = true)
    assert(r.nInput === docs.count())
    assert(r.nQuality === kept1.count())
    assert(r.nQuality < r.nInput, "quality screen must drop something")
    // stage 2 == q_span_dedup's coverage stat over the stage-1 output
    val surviving = graft.dedup.SpanDedup
      .spanStats(kept1, "text", "doc_id", 8)
      .where(col("dup_bp") < 5000).count()
    assert(r.nDedup === surviving)
    // stage 3 == the WaterFill invariant: Σ alloc = min(budget, supply)
    assert(r.nSelected === math.min(120L, r.nDedup))
    // stage 4: manifest attests exactly the selected rows; verify clean
    assert(r.shards.map(_.rows).sum === r.nSelected)
    assert(r.badShards.isEmpty)
    assert(spark.read.parquet(out).select("doc_id").distinct().count()
      === r.nSelected)
    // one in-flight quality line per stage, export line included
    val o = buf.toString
    Seq("quality[quality]:", "quality[span_dedup]:", "quality[mixture]:",
      "quality[export]:").foreach(tag => assert(o.contains(tag), o))
    // the run is deterministic: a second pass selects the same ids
    val out2 = Files.createTempDirectory("graft-pipeline2").toString + "/p"
    val r2 = Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.pipelineRun(spark, dir, out2, nShards = 3,
        minQualityBp = 7640, budget = 120L)
    }
    assert(spark.read.parquet(out2).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("pipeline --format jsonl-sink exports through the transactional connector") {
    val dir = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-pipesink").toString + "/p"
    val r = Console.withOut(new java.io.ByteArrayOutputStream()) {
      Main.pipelineRun(spark, dir, out, nShards = 3,
        format = "jsonl-sink", minQualityBp = 7640, budget = 80L)
    }
    assert(r.badShards.isEmpty, r.badShards.toString)
    assert(r.nSelected === math.min(80L, r.nDedup))
    assert(r.shards.map(_.rows).sum === r.nSelected)
    // the pinned JSONL reader consumes the sink's artifact directly
    val back = graft.TestTables.documentsJsonl(spark, out)
    assert(back.count() === r.nSelected)
    assert(!new java.io.File(s"$out/_staging").exists())
  }

  test("pipeline --work resumes completed stages and reuses them across budgets") {
    val dir = "/root/testdata/sf0.001"
    val work = Files.createTempDirectory("graft-pipework").toString
    def ids(out: String): Seq[Long] =
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
    def run(tag: String, budget: Long) = {
      val out = Files.createTempDirectory(s"graft-pipeo$tag").toString + "/p"
      val buf = new java.io.ByteArrayOutputStream()
      val r = Console.withOut(buf) {
        Main.pipelineRun(spark, dir, out, nShards = 2,
          minQualityBp = 7640, budget = budget, work = Some(work))
      }
      (r, buf.toString, out)
    }
    val (r1, o1, out1) = run("a", 100L)
    assert(!o1.contains("resumed"), o1)
    // identical params: every stage resumes; the selection is identical
    val (r2, o2, out2) = run("b", 100L)
    Seq("quality[quality]: resumed", "quality[span_dedup]: resumed",
      "quality[mixture]: resumed").foreach(t => assert(o2.contains(t), o2))
    assert(r2.nSelected === r1.nSelected)
    assert(ids(out2) === ids(out1))
    // a resumed stage reports the count kept next to its dir
    def counts(r: Main.PipelineResult) = (r.nInput, r.nQuality, r.nDedup)
    assert(counts(r2) === counts(r1))
    // a changed LATE parameter (budget) reuses the early stages and
    // recomputes only the mixture
    val (r3, o3, _) = run("c", 60L)
    assert(o3.contains("quality[quality]: resumed"), o3)
    assert(o3.contains("quality[span_dedup]: resumed"), o3)
    assert(o3.contains("quality[mixture]: rows="), o3)
    assert(r3.nSelected === math.min(60L, r3.nDedup))
    assert(counts(r3) === counts(r1))
  }
}
