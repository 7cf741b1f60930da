package graft.cli

import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.FileOperands
import graft.ids.IdMaps
import graft.ingest.{ResumableWalk, Snapshot, Walker}
import graft.reports.Reports
import graft.stats.{Calculator, Stats, StatsArtifact}

/** CLI mirroring the reference's command surface (main.go:46-114):
  *
  * {{{
  * analyze  --db DIR ROOT [--exclude RE]... [--keep N]   scan a tree → snapshot
  * find     --db DIR [ROOT] EXPR...                      filtered enumeration
  * stats    --db DIR [--n N] [--calc C] EXPR...          totals + top-N
  * stats view --db DIR [--user U] [--group G]            render latest artifact
  * reports  --db DIR OUTDIR [--keep N]                   report file tree
  * errors   --db DIR [--since D|--from T] [--to T]       scan error rows
  * logs     --db DIR [--since D|--from T] [--to T]       scan run log
  * database prune --db DIR --keep N                      retention
  * expression-syntax                                     operand help
  * }}}
  *
  * Run via: sbt "runMain graft.cli.Main <cmd> ...".
  */
object Main {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** OS user/group database, loaded once per invocation (reference
    * usernames/usergroups.go:26-60). */
  lazy val idMaps: IdMaps = IdMaps.fromOS()

  /** Expression operands wired to the OS id maps and a real
    * `hardlink=path` target resolver (reference hardlinks_op.go:38-48
    * stats the target on the driver). */
  private def operands(): FileOperands = FileOperands(
    userByName = idMaps.userByName,
    groupByName = idMaps.groupByName,
    hardlinkStat = p =>
      try {
        val a = Files.readAttributes(Paths.get(p), "unix:*",
          LinkOption.NOFOLLOW_LINKS)
        Some((a.get("dev").asInstanceOf[Number].longValue(),
          a.get("ino").asInstanceOf[Number].longValue()))
      } catch { case _: Exception => None })

  def main(args: Array[String]): Unit = args.toList match {
    case "analyze" :: rest => analyze(rest)
    case "find" :: rest => find(rest)
    case "reports" :: "locate" :: rest => reportsLocate(rest)
    case "reports" :: "generate" :: rest => reports(rest)
    case "reports" :: rest => reports(rest)
    case "stats" :: "view" :: rest => statsView(rest)
    case "stats" :: "compute" :: rest => stats(rest)
    case "stats" :: rest => stats(rest)
    case "errors" :: rest => listTimestamped(rest, Snapshot.readErrors(_, _), "when")
    case "logs" :: rest =>
      listTimestamped(rest, Snapshot.readLog(_, _).orderBy("start"), "start")
    case "config" :: file :: Nil =>
      graft.config.Config.load(file).foreach(println)
    case "database" :: "locate" :: file :: path :: Nil =>
      // relative paths resolve against cwd first (reference
      // LookupPrefix, internal/util.go:45-56)
      graft.config.Config.lookupPrefix(
        graft.config.Config.load(file), path) match {
        case (_, Some(c)) => println(c.database)
        case (r, None) =>
          System.err.println(s"no config matches $r"); sys.exit(1)
      }
    case "database" :: "prune" :: rest => prune(rest)
    case "database" :: "list" :: rest => listArtifacts(rest)
    case "export" :: rest => exportCmd(rest)
    case "pipeline" :: rest => pipelineCmd(rest)
    case "diff" :: rest => diffSnapshots(rest)
    case "expression-syntax" :: Nil => println(expressionSyntax)
    case "config-syntax" :: Nil => println(Main.configSyntax)
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println(
        "usage: analyze|find|stats|reports [generate|locate]|errors|logs|config|diff|export|pipeline|database locate|database prune|expression-syntax")
      sys.exit(2)
  }

  private[cli] final case class Opts(
      db: String = "", n: Int = 10, calc: Option[String] = None,
      incremental: Boolean = false, config: String = "",
      user: Option[String] = None, group: Option[String] = None,
      since: Option[String] = None, from: Option[String] = None,
      to: Option[String] = None, keep: Option[Int] = None,
      hardlinksAsFiles: Boolean = false, extension: Option[String] = None,
      excludes: List[String] = Nil, positional: List[String] = Nil,
      batchSize: Int = 256, maxBatches: Option[Int] = None,
      format: String = "parquet", minQualityBp: Int = 5000,
      spanK: Int = 8, maxDupBp: Int = 5000, budget: Long = 300L,
      work: Option[String] = None, stream: Boolean = false,
      long: Boolean = false)

  // positional accumulates in COMMAND-LINE order: the recursion
  // parses the tail first and prepends the head (foldRight shape).
  private[cli] def parseOpts(args: List[String]): Opts = args match {
    case "--db" :: v :: rest => parseOpts(rest).copy(db = v)
    case "--config" :: v :: rest => parseOpts(rest).copy(config = v)
    case "--n" :: v :: rest => parseOpts(rest).copy(n = v.toInt)
    case "--calc" :: v :: rest => parseOpts(rest).copy(calc = Some(v))
    case "--incremental" :: rest => parseOpts(rest).copy(incremental = true)
    case "--user" :: v :: rest => parseOpts(rest).copy(user = Some(v))
    case "--group" :: v :: rest => parseOpts(rest).copy(group = Some(v))
    case "--since" :: v :: rest => parseOpts(rest).copy(since = Some(v))
    case "--from" :: v :: rest => parseOpts(rest).copy(from = Some(v))
    case "--to" :: v :: rest => parseOpts(rest).copy(to = Some(v))
    case "--keep" :: v :: rest => parseOpts(rest).copy(keep = Some(v.toInt))
    case "--format" :: v :: rest => parseOpts(rest).copy(format = v)
    case "--hardlinks-as-files" :: rest =>
      parseOpts(rest).copy(hardlinksAsFiles = true)
    case "--extension" :: v :: rest => parseOpts(rest).copy(extension = Some(v))
    case "--exclude" :: v :: rest =>
      val o = parseOpts(rest); o.copy(excludes = v :: o.excludes)
    // resumable-first-scan knobs: checkpoint granularity, and a cap on
    // batches run this invocation (operational "stop after N, resume
    // later"; also the kill-emulation test hook)
    case "--min-quality-bp" :: v :: rest =>
      parseOpts(rest).copy(minQualityBp = v.toInt)
    case "--span-k" :: v :: rest => parseOpts(rest).copy(spanK = v.toInt)
    case "--max-dup-bp" :: v :: rest => parseOpts(rest).copy(maxDupBp = v.toInt)
    case "--budget" :: v :: rest => parseOpts(rest).copy(budget = v.toLong)
    case "--work" :: v :: rest => parseOpts(rest).copy(work = Some(v))
    case "--stream" :: rest => parseOpts(rest).copy(stream = true)
    case "-l" :: rest => parseOpts(rest).copy(long = true)
    case "--batch-size" :: v :: rest => parseOpts(rest).copy(batchSize = v.toInt)
    case "--max-batches" :: v :: rest =>
      parseOpts(rest).copy(maxBatches = Some(v.toInt))
    case p :: rest => val o = parseOpts(rest); o.copy(positional = p :: o.positional)
    case Nil => Opts()
  }

  private def require_(cond: Boolean, msg: String): Unit =
    if (!cond) { System.err.println(msg); sys.exit(2) }

  /** Prepend a resolved `<idCol>_name` column (reference
    * stats.go:213-218 renders names, falling back to the numeric id).
    * The map is a constant expression — resolution never shuffles. */
  private def withName(df: DataFrame, idCol: String,
      byId: Map[Long, String]): DataFrame =
    df.select((nameOf(idCol, byId).as(s"${idCol}_name") +: df.columns.toSeq.map(col)): _*)

  /** The display name of `idCol`'s id: its `byId` name, else the id. */
  private def nameOf(idCol: String, byId: Map[Long, String]): Column =
    // try_element_at, not element_at: ANSI mode (Spark 4 default)
    // makes element_at THROW on a missing map key, so a uid absent
    // from /etc/passwd would crash the report instead of rendering
    // numerically.
    if (byId.isEmpty) col(idCol).cast("string")
    else coalesce(try_element_at(typedLit(byId), col(idCol)), col(idCol).cast("string"))

  private def resolveIdOrDie(v: String, resolve: String => Option[Long],
      kind: String): Long =
    resolve(v).getOrElse {
      System.err.println(s"unknown $kind '$v'"); sys.exit(1); 0L
    }

  private def analyze(args: List[String]): Unit = {
    val o0 = parseOpts(args)
    require_(o0.positional.nonEmpty,
      "analyze [--db DIR | --config FILE] [--incremental] [--keep N] ROOT\n" +
        "  --incremental lists only dirs whose mtime or mode changed; a file that\n" +
        "  grows in place under an unchanged dir keeps its previous size until\n" +
        "  its dir changes or a full analyze runs")
    // relative roots (".", "", "./x", bare names) resolve against cwd
    // BEFORE lookup and walking, so the snapshot keys are absolute
    // (reference LookupPrefix, internal/util.go:45-56)
    val root = graft.config.Config.resolvePrefix(o0.positional.head)
    // --config resolves db/exclusions for the root by longest prefix;
    // explicit flags win.
    val o = if (o0.config.isEmpty) o0 else {
      graft.config.Config.forPath(graft.config.Config.load(o0.config),
        root) match {
        case Some(c) => o0.copy(
          db = if (o0.db.nonEmpty) o0.db else c.database,
          excludes = if (o0.excludes.nonEmpty) o0.excludes else c.exclusions.toList)
        case None =>
          System.err.println(s"no config entry matches $root"); sys.exit(1)
      }
    }
    require_(o.db.nonEmpty, "analyze: no --db and no config match")
    val spark = session()
    val t0 = System.currentTimeMillis()
    val prevSnapshot =
      if (o.incremental) Snapshot.latestName(o.db).map(_ =>
        Snapshot.readFiles(spark, o.db))
      else None
    val nameOpt = prevSnapshot match {
      case Some(prev) => Some(incrementalScan(spark, o.db, root, prev, o.excludes))
      case None =>
        firstScan(spark, o.db, root, o.excludes, o.batchSize,
          o.maxBatches.getOrElse(Int.MaxValue))
    }
    val name = nameOpt.getOrElse { spark.stop(); return }
    // The summary line and the scan log come from the counts observed
    // on the snapshot write: no pass over the fresh snapshot.
    val (nFiles, nDirs, bytes, _) = summarize(spark, o.db)
    val nErr = Snapshot.summary(o.db).errors
    import spark.implicits._
    Snapshot.appendLog(spark, o.db, Seq(graft.model.ScanLog(
      new java.sql.Timestamp(t0), new java.sql.Timestamp(System.currentTimeMillis()),
      root, nDirs, nFiles, nErr, bytes)).toDF())
    o.keep.foreach { k =>
      val gone = Snapshot.prune(o.db, k)
      if (gone.nonEmpty) println(s"pruned ${gone.size} snapshots: ${gone.mkString(", ")}")
    }
    println(s"snapshot $name: $nDirs prefixes, $nFiles files, " +
      s"${Reports.formatSize(bytes)}, $nErr errors")
    spark.stop()
  }

  /** The analyze summary of the latest snapshot — files, dirs, bytes
    * and the in-flight quality metrics (rows / null_keys / violations;
    * violation contract: negative size or negative link count) — read
    * from the counts [[Snapshot.write]] observed on its own write job
    * (the reference's scan-time counters, analyze.go:144-161). Runs no
    * Spark job; prints the `quality[analyze]:` line. */
  private[cli] def summarize(spark: SparkSession, db: String)
      : (Long, Long, Long, Map[String, Any]) = {
    val s = Snapshot.summary(db)
    println(qualityLine("analyze", s.quality))
    (s.files, s.dirs, s.bytes, s.quality)
  }

  private[cli] def qualityLine(stage: String, m: Map[String, Any]): String =
    s"quality[$stage]: rows=${m.getOrElse("rows", "?")} " +
      s"null_keys=${m.getOrElse("null_keys", "?")} " +
      s"violations=${m.getOrElse("violations", "?")}"

  /** `export --db DIR [--n SHARDS] OUT`: deterministic sharded export
    * of the current snapshot's files table (ingest/Export — stable
    * shard = hash(path) mod n, read-back manifest) with the same
    * in-flight quality metrics attached to the write job. */
  private def exportCmd(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty && o.positional.nonEmpty,
      "export --db DIR [--n SHARDS] [--format parquet|json] OUT_DIR")
    val spark = session()
    val (stats, _) = exportRun(spark, o.db, o.positional.head, o.n, o.format)
    stats.foreach(s =>
      println(s"shard ${s.shard}: ${s.rows} rows checksum=${s.checksum}"))
    spark.stop()
  }

  /** Building block of `exportCmd` (session-free, testable): observe +
    * shard + manifest; prints the `quality[export]:` line. */
  private[cli] def exportRun(spark: SparkSession, db: String, out: String,
      nShards: Int, format: String = "parquet")
      : (Seq[graft.ingest.Export.ShardStat], Map[String, Any]) = {
    val files = Snapshot.readFiles(spark, db)
    val (inst, obs) = graft.ops.Observe.quality(files, "export_quality",
      Seq("path"), col("size") < 0 || col("nlink") < 0)
    val stats = graft.ingest.Export.shards(inst, "path", out, nShards, format)
    val m = obs.get
    println(qualityLine("export", m))
    (stats, m)
  }

  private[graft] final case class PipelineResult(nInput: Long, nQuality: Long,
      nDedup: Long, nSelected: Long,
      shards: Seq[graft.ingest.Export.ShardStat], badShards: Seq[Long],
      stageSecs: Seq[(String, Double)] = Nil)

  /** `pipeline DOCS_DIR OUT_DIR [--n SHARDS]
    * [--format parquet|json|jsonl-sink] [--min-quality-bp BP]
    * [--span-k K] [--max-dup-bp BP] [--budget N] [--work DIR]` — the training-data surface end-to-end, the
    * reference's analyze→stats→reports chain applied to a document
    * corpus: quality screen → exact duplicated-span screen → weighted
    * mixture selection → sharded export with a read-back manifest +
    * verify. Each stage prints ONE quality[...] line whose metrics
    * ride the stage's own materializing job (ops/Observe — zero extra
    * scans). With `--work DIR`, stage outputs materialize to paths
    * keyed by (input size+mtime, the parameters feeding that stage) —
    * a killed or re-invoked run RESUMES at the first missing stage
    * (the reference's interrupt-and-resume analyze, applied here),
    * and changing a late parameter (the mixture budget) reuses the
    * earlier stages untouched.
    *
    * `--stream` runs the STREAMING TWIN instead
    * ([[graft.streaming.DocumentStream.pipelineOnIngest]]): quality
    * gate → first-arrival exact dedup → sharded export with the
    * cumulative read-back manifest; drains the source directory and
    * exits, resuming from the sink checkpoint on re-invocation (only
    * NEW files process). Span-dedup and mixture are corpus-wide
    * decisions and stay batch — their online stand-ins are the
    * boilerplate-gram sketch and per-batch gating.
    */
  private def pipelineCmd(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.positional.length == 2,
      "pipeline DOCS_DIR OUT_DIR [--stream] [--n SHARDS] " +
        "[--format parquet|json|jsonl-sink] [--min-quality-bp BP] " +
        "[--span-k K] [--max-dup-bp BP] [--budget N] [--work DIR]")
    val spark = session()
    if (o.stream) {
      // Streaming twin: drain whatever the source directory holds
      // (AvailableNow-style), then report from the artifact — the
      // manifest IS the observable in streaming mode. The checkpoint
      // lives NEXT TO the artifact (inside it would pollute the
      // read-back attest scan); rerunning the same command resumes
      // from it and processes only NEW files.
      val out = o.positional(1)
      val q = graft.streaming.DocumentStream.pipelineOnIngest(spark,
        o.positional(0), out, out + "_ckpt", o.n,
        o.minQualityBp / 10000.0)
      q.processAllAvailable()
      q.stop()
      val shards = graft.ingest.Export.readManifest(out)
      val bad = graft.ingest.Export.verify(spark, out, "doc_id")
      shards.foreach(s =>
        println(s"shard ${s.shard}: ${s.rows} rows checksum=${s.checksum}"))
      println(s"pipeline --stream: ${shards.map(_.rows).sum} exported; " +
        (if (bad.isEmpty) "verify OK" else s"verify FAILED shards ${bad.mkString(",")}"))
      spark.stop()
      if (bad.nonEmpty) sys.exit(1)
      return
    }
    val r = pipelineRun(spark, o.positional(0), o.positional(1), o.n,
      o.format, o.minQualityBp, o.spanK, o.maxDupBp, o.budget, o.work)
    r.shards.foreach(s =>
      println(s"shard ${s.shard}: ${s.rows} rows checksum=${s.checksum}"))
    println(s"pipeline: ${r.nInput} in -> ${r.nQuality} quality -> " +
      s"${r.nDedup} deduped -> ${r.nSelected} selected -> " +
      s"${r.shards.map(_.rows).sum} exported; verify " +
      (if (r.badShards.isEmpty) "OK"
       else s"FAILED shards ${r.badShards.mkString(",")}"))
    spark.stop()
    if (r.badShards.nonEmpty) sys.exit(1)
  }

  /** Building block of [[pipelineCmd]] (session-free, testable). Every
    * stage reuses an individually-oracled component: the quality rule
    * is q_quality_filter's score, the span screen is q_span_dedup's
    * stats, the mixture is q_temperature_mix's √n weights water-filled
    * by q_mixture_caps' allocator with quotas drawn by q_group_sample's
    * deterministic md5 rank, and the export is the manifest-attested
    * Export.shards. Stages checkpoint eagerly so each quality line
    * corresponds to exactly one materializing job. The result's stage
    * counts are read off what the stages already observed (each
    * observation's `rows`, the mixture's per-source counts); under
    * `--work` each stage keeps its count next to its dir, and a resumed
    * stage reads it back instead of counting. */
  private[graft] def pipelineRun(spark: SparkSession, docsDir: String,
      out: String, nShards: Int, format: String = "parquet",
      minQualityBp: Int = 5000, spanK: Int = 8, maxDupBp: Int = 5000,
      budget: Long = 300L, work: Option[String] = None): PipelineResult = {
    require(budget > 0 && budget <= Int.MaxValue, s"bad budget $budget")
    val docs = graft.Tables.documents(spark, docsDir)
    // Per-stage wall times (each stage materializes exactly once —
    // localCheckpoint or parquet write — so the wrapper measures the
    // stage's real cost, not lazy-plan assembly). Surfaced by Bench
    // as the flagship E2E's stage breakdown.
    val stageSecs = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      stageSecs += stage -> (System.nanoTime() - t0) / 1e9
      r
    }
    // Resume keying (the q_agg_rewrite materialize-once pattern): a
    // stage's path encodes the INPUT's size+mtime fingerprint plus
    // every parameter feeding that stage or an earlier one — so a
    // regenerated corpus or a changed upstream knob recomputes, while
    // a changed LATE knob (budget) reuses the earlier stages. A stage
    // dir without _SUCCESS (killed mid-write) recomputes.
    val fpBase: String =
      graft.dedup.DedupIndex.fileFp(new java.io.File(s"$docsDir/documents.parquet"))
    // A stage returns its output and its input rows, which `inputRows`
    // reads off the metrics its observation saw. Under --work the count
    // is kept in the stage dir's `_ROWS_IN` (Spark skips `_` files), so
    // a resumed stage, through which nothing flowed, counts nothing; a
    // dir without it recomputes.
    def staged(stage: String, fp: String)(
        compute: => (DataFrame, org.apache.spark.sql.Observation),
        inputRows: Map[String, Any] => Long = _("rows").asInstanceOf[Long])
        : (DataFrame, Long) =
      work match {
        case Some(w) =>
          val p = s"$w/${stage}_$fp"
          val rowsFile = Paths.get(p, "_ROWS_IN")
          // pinned-schema reads: a schema-less read infers it in a job
          if (Files.exists(Paths.get(p, "_SUCCESS")) && Files.exists(rowsFile)) {
            println(s"quality[$stage]: resumed from $p")
            // every stage filters rows of the corpus: its schema
            (Snapshot.readPinned(spark, p, docs.schema), Files.readString(rowsFile).trim.toLong)
          } else {
            val (df, obs) = compute
            df.write.mode("overwrite").parquet(p)
            val m = obs.get
            println(qualityLine(stage, m))
            val n = inputRows(m)
            Files.writeString(rowsFile, s"$n\n")
            (spark.read.schema(df.schema).parquet(p), n)
          }
        case None =>
          val (df, obs) = compute
          val kept = df.localCheckpoint(eager = true)
          val m = obs.get
          println(qualityLine(stage, m))
          (kept, inputRows(m))
      }
    // Stage 1 — quality screen.
    val minQ = minQualityBp / 10000.0
    val (kept1, nInput) = timed("quality") { staged("quality", s"$fpBase-q$minQualityBp") {
      val q = graft.text.TextAnalysis.qualityScoreFast(spark, col("text"))
      val (inst, obs) = graft.ops.Observe.quality(docs.withColumn("__q", q),
        "pipeline_quality", Seq("doc_id"), col("__q") < minQ)
      (inst.where(col("__q") >= minQ).drop("__q"), obs)
    } }
    // Stage 2 — exact duplicated-span screen: drop documents whose
    // duplicated-token coverage exceeds the threshold. The coverage
    // joins onto kept1 once and the screen filters those rows in
    // kept1's column order (a resumed stage reads the corpus schema).
    val (kept2, nQuality) = timed("span_dedup") { staged("span_dedup", s"$fpBase-q$minQualityBp-k$spanK-d$maxDupBp") {
      val withStats = graft.dedup.SpanDedup.withSpanStats(kept1, "text",
        "doc_id", spanK)
      val (inst, obs) = graft.ops.Observe.quality(withStats,
        "pipeline_span", Seq("doc_id"), col("dup_bp") >= maxDupBp)
      (inst.where(col("dup_bp") < maxDupBp).select(kept1.columns.map(col): _*),
        obs)
    } }
    // Stage 3 — mixture selection: temperature weights over the
    // surviving per-source counts, water-filled to the budget; each
    // source's quota filled by its md5-rank-smallest docs (bounded
    // heap — no window sort, deterministic across runs and cluster
    // sizes). One collect of the per-source counts feeds both the
    // weights and the allocator, and the quotas filter the ranks as a
    // driver-side literal map (the per-source table is bounded).
    var counted = 0L
    val (kept3, nDedup) = timed("mixture") { staged("mixture",
        s"$fpBase-q$minQualityBp-k$spanK-d$maxDupBp-b$budget")({
      val counts = kept2.groupBy(col("source"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq
      counted = counts.map(_._2).sum
      val quota = graft.ops.WaterFill.allocate(counts.map { case (src, n) =>
        (src, n, math.floor(math.sqrt(n.toDouble) * 100).toLong)
      }, budget)
      val selIds = graft.ops.Sampling.groupedExactK(kept2, "source",
          "doc_id", budget.toInt)
        .where(col("rk") <= try_element_at(typedLit(quota), col("source")))
        .select(col("doc_id"))
      graft.ops.Observe.quality(
        kept2.join(graft.ops.Bfs.bcastIfSmall(selIds, quota.values.sum),
          Seq("doc_id"), "left_semi"),
        "pipeline_mixture", Seq("doc_id"), lit(false))
    }, _ => counted) }
    // Stage 4 — sharded export. Two attestation tiers:
    //   - procedural (parquet/json): Export.shards — manifest cut
    //     from a READ-BACK of the artifact (a write-side fault shows
    //     at cut time);
    //   - transactional ("jsonl-sink"): the graft-jsonl DSv2
    //     connector — task-staged files, one committed attempt per
    //     task, job-atomic visibility, manifest from writer stats.
    // Both end with the same explicit verify pass.
    val (inst4, obs4) = graft.ops.Observe.quality(kept3,
      "pipeline_export", Seq("doc_id"), lit(false))
    val (shards, bad) = timed("export") {
      if (format == "jsonl-sink") {
        inst4.write.format("graft-jsonl")
          .option("id", "doc_id")
          .option("shards", nShards.toString)
          .mode("append").save(out)
        (graft.ingest.Export.readManifest(out),
          graft.ingest.Export.verify(spark, out, "doc_id", "json"))
      } else {
        val st = graft.ingest.Export.shards(inst4, "doc_id", out,
          nShards, format)
        (st, graft.ingest.Export.verify(spark, out, "doc_id", format))
      }
    }
    val seen4 = obs4.get
    println(qualityLine("export", seen4))
    PipelineResult(nInput, nQuality, nDedup, seen4("rows").asInstanceOf[Long],
      shards, bad, stageSecs.toList)
  }

  /** Incremental path of `analyze`: rescan `root` against the previous
    * snapshot `prev`, write the new snapshot, then release the
    * rescan's caches. Returns the snapshot name. */
  private[graft] def incrementalScan(spark: SparkSession, db: String, root: String,
      prev: DataFrame, excludes: Seq[String]): String = {
    val r = graft.ingest.Incremental.rescan(spark, root, prev, excludes)
    println(s"incremental: ${r.summary}")
    try Snapshot.write(db, r.entries, r.errors) finally r.release()
  }

  /** First-scan path of `analyze`: resumable walk (per-seed-batch
    * checkpoints under `<db>/_frontier` — a killed analyze picks up at
    * the first uncommitted batch, reference analyze.go:82-87) with
    * live progress (files/s ticker + slow-scan warnings, reference
    * progress.go:54-316). Returns the snapshot name iff the walk
    * COMPLETED; a batch-capped (or killed) run writes NO snapshot and
    * leaves the frontier in place, so rerunning the same command
    * resumes — a partial tree must never masquerade as a snapshot.
    * The frontier is dropped only after the snapshot is durably
    * written. */
  private[graft] def firstScan(spark: SparkSession, db: String, root: String,
      excludes: Seq[String], batchSize: Int = 256,
      maxBatches: Int = Int.MaxValue): Option[String] = {
    val progress = new Walker.WalkProgress(spark)
    val tick = progress.ticker()
    val frontier = java.nio.file.Paths.get(db, "_frontier").toString
    val out = try ResumableWalk.walk(spark, root, frontier,
        exclusions = excludes, batchSize = batchSize,
        maxBatches = maxBatches, progress = Some(progress.hooks))
      finally tick.close()
    if (!out.complete) {
      System.err.println(s"analyze: stopped after ${out.completedBatches}/" +
        s"${out.totalBatches} batches — rerun the same command to resume")
      None
    } else {
      val res = Walker.Result(out.records)
      res.records.cache()
      val written = try Snapshot.write(db, res.entries.toDF(), res.errors.toDF())
        finally res.records.unpersist(blocking = false)
      ResumableWalk.clear(frontier)
      Some(written)
    }
  }

  private def find(args: List[String]): Unit = {
    val o0 = parseOpts(args)
    // First positional starting with '/' is the ROOT restriction
    // (reference find.go:75-96 seeks to the root key and stops at the
    // range end); the rest is the boolean expression.
    val (root, exprToks) = o0.positional match {
      case r :: rest if r.startsWith("/") => (Some(r.stripSuffix("/")), rest)
      case toks => (None, toks)
    }
    // --config resolves db + display separator for the root by longest
    // prefix (reference find.go:72 reads cfg.Separator); --db wins.
    val (o, sep) =
      if (o0.config.isEmpty) (o0, "/")
      else graft.config.Config.forPath(
          graft.config.Config.load(o0.config),
          root.map(graft.config.Config.resolvePrefix(_)).getOrElse("/")) match {
        case Some(c) =>
          (if (o0.db.nonEmpty) o0 else o0.copy(db = c.database), c.separator)
        case None => (o0, "/")
      }
    require_(o.db.nonEmpty, "find [-l] [--db DIR | --config FILE] [ROOT] EXPR...")
    val expr = exprToks.mkString(" ")
    val spark = session()
    val files = Snapshot.readFiles(spark, o.db)
    val m = operands().compile(expr)
    // Ordered enumeration, streamed to stdout (reference find.go:75-96).
    findFrame(files, root, m, sep, long = o.long)
      .toLocalIterator().forEachRemaining(r => println(r.getString(0)))
    spark.stop()
  }

  /** The `find` plan: optional subtree restriction + expression. The
    * root predicate is a literal prefix comparison → parquet
    * StringStartsWith pushdown; with path-sorted row groups
    * (Snapshot.write) min/max stats prune whole row groups — the
    * Spark analogue of the reference's key-range seek
    * (find.go:75-96).
    *
    * The scan and filter run in parallel; the matches are then range
    * partitioned by path and sorted within each partition, which the
    * driver streams one partition at a time (`toLocalIterator` fetches
    * a partition as one task result). The partition count is the
    * planner's size estimate of the filtered scan over
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
    * gives the partitions of a global sort. The estimate ignores the
    * filter's selectivity and counts parquet bytes, so a partition
    * holds at most about that many bytes of compressed input. A find
    * within one such partition (every find on a snapshot of up to
    * 64 MB of parquet by default) runs two jobs: the shuffle into the
    * partition and its read, with no range-sampling job; a larger one
    * adds the sampling job and one result job per further partition. */
  private[cli] def findFrame(files: DataFrame, root: Option[String],
      m: org.apache.spark.sql.Column, sep: String = "/",
      long: Boolean = false): DataFrame = {
    val scoped = root match {
      case Some(r) =>
        files.where(col("path") === r || col("path").startsWith(r + "/"))
      case None => files
    }
    // Display join: entries render as parent <sep> name (reference
    // printEntry, find.go:72 + config separator); prefixes print their
    // key as-is. For '/' this IS the stored path — no expression cost.
    // Enumeration order is the STORED key order (the reference's
    // key-range seek streams in stored-key order regardless of the
    // display separator); rendering happens only in the projection —
    // sorting on the rendered string would mix two orders (dirs by
    // raw key, files by rendered parent<sep>name).
    val rendered =
      if (long) longListing
      else if (sep == "/") col("path")
      else when(col("is_dir"), col("path"))
        .otherwise(concat(col("parent"), lit(sep), col("name")))
    val matched = scoped.where(m)
    val advisory = matched.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val est = matched.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = ((est + advisory - 1) / advisory).max(1).min(Int.MaxValue).toInt
    matched.repartitionByRange(parts, col("path")).sortWithinPartitions("path")
      .select(rendered.as("path"))
  }

  /** `find -l` rendering (reference find.go:36-53): per row, Go's
    * `fs.FormatFileInfo` — `<mode> <size> <yyyy-mm-dd hh:mm:ss>
    * <name>` — followed by ` uid: U gid: G` from the xattrs; entries
    * indent 4 spaces and print their bare name, prefixes print their
    * full key. Pure Column concat (codegen'd projection) — the long
    * flag changes rendering, never the plan shape. */
  private[cli] def longListing: org.apache.spark.sql.Column = {
    val tc = when(col("is_dir"), lit("d"))
      .when(col("mode").bitwiseAND(lit(0xF000)) === lit(0xA000), lit("L"))
      .otherwise(lit("-"))
    val perms = (8 to 0 by -1).map { b =>
      val c = Seq("x", "w", "r")(b % 3)
      when(col("mode").bitwiseAND(lit(1 << b)) =!= 0, lit(c))
        .otherwise(lit("-"))
    }
    val mode = concat(tc +: perms: _*)
    val info = concat(mode, lit(" "), col("size").cast("string"), lit(" "),
      date_format(col("mod_time"), "yyyy-MM-dd HH:mm:ss"), lit(" "),
      when(col("is_dir"), col("path")).otherwise(col("name")),
      lit(" uid: "), col("uid").cast("string"),
      lit(" gid: "), col("gid").cast("string"))
    when(col("is_dir"), info).otherwise(concat(lit("    "), info))
  }

  private def stats(args: List[String]): Unit = {
    val o0 = parseOpts(args)
    // --config resolves db/calculator/count_hardlink_as_files for a
    // ROOT positional by longest prefix (reference stats.go:126 +
    // config.go:29); explicit flags win.
    val (o, cfgCalc, cfgHardlinks, root) =
      if (o0.config.isEmpty) (o0, None, None, "/")
      else {
        require_(o0.positional.nonEmpty, "stats --config FILE ROOT [EXPR...]")
        val r = graft.config.Config.resolvePrefix(o0.positional.head)
        graft.config.Config.forPath(graft.config.Config.load(o0.config), r) match {
          case Some(c) => (
            o0.copy(db = if (o0.db.nonEmpty) o0.db else c.database,
              positional = o0.positional.tail),
            Some(c.calculator), Some(c.countHardlinkAsFiles), r)
          case None =>
            System.err.println(s"no config entry matches $r"); sys.exit(1)
        }
      }
    require_(o.db.nonEmpty, "stats compute --db DIR [--n N] [--calc C] EXPR...")
    val expr = o.positional.mkString(" ")
    val calc = o.calc.orElse(cfgCalc).getOrElse("identity")
    val hardlinksAsFiles = o.hardlinksAsFiles || cfgHardlinks.getOrElse(false)
    val spark = session()
    val files = Snapshot.readFiles(spark, o.db)
    val m = operands().compile(expr)
    val c = Stats.compute(files, prefixMatch = m, entryMatch = m,
      calc = Calculator.parse(calc),
      countHardlinkDupsAsFiles = hardlinksAsFiles)
    val name = StatsArtifact.write(o.db, c, root, expr)
    println(s"stats artifact: $name")
    reportData(c, o.n, idMaps, withIds = false).tables.foreach { case (base, title, t) =>
      println(Reports.markdown(t, if (base == "totals") s"Totals for '$expr'" else title))
    }
    spark.stop()
  }

  /** `stats view`: render the latest persisted artifact — no
    * recompute (reference stats.go:178-234). */
  private def statsView(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty,
      "stats view --db DIR [--n N] [--user UID|NAME] [--group GID|NAME]")
    val spark = session()
    val c = StatsArtifact.read(spark, o.db)
    // --user/--group restrict the view to one id's rows; names resolve
    // through the OS maps (reference stats.go:178-234 + usergroups.go).
    (o.user, o.group) match {
      case (Some(uv), _) =>
        val u = resolveIdOrDie(uv, idMaps.resolveUser, "user")
        println(Reports.markdown(
          withName(c.perUser.where(col("uid") === u), "uid", idMaps.userById),
          s"Totals for user ${idMaps.userName(u)} (uid $u)"))
        println(Reports.markdown(
          c.perUserPrefix.where(col("uid") === u)
            .orderBy(desc("bytes"), asc("prefix")).limit(o.n).drop("uid"),
          s"Top ${o.n} prefixes for user ${idMaps.userName(u)}"))
        spark.stop(); return
      case (_, Some(gv)) =>
        val g = resolveIdOrDie(gv, idMaps.resolveGroup, "group")
        println(Reports.markdown(
          withName(c.perGroup.where(col("gid") === g), "gid", idMaps.groupById),
          s"Totals for group ${idMaps.groupName(g)} (gid $g)"))
        println(Reports.markdown(
          c.perGroupPrefix.where(col("gid") === g)
            .orderBy(desc("bytes"), asc("prefix")).limit(o.n).drop("gid"),
          s"Top ${o.n} prefixes for group ${idMaps.groupName(g)}"))
        spark.stop(); return
      case _ =>
    }
    reportData(c, o.n, idMaps, withIds = false).tables.foreach { case (_, title, t) =>
      println(Reports.markdown(t, title))
    }
    spark.stop()
  }

  /** `reports --db DIR OUTDIR [--keep N]`: write the TSV/JSON/Markdown
    * report file tree from the latest stats artifact — aggregate
    * tables plus one file per top user/group (reference
    * writeReportFiles, reports.go:128-229, markdown.go:32-371) — flip
    * the `latest` pointer, and optionally prune old report dirs
    * (reports.go:268-296). */
  private def reports(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty && o.positional.nonEmpty,
      "reports --db DIR OUTDIR [--keep N]")
    val outBase = o.positional.head
    val spark = session()
    val c = StatsArtifact.read(spark, o.db)
    val name = StatsArtifact.latestName(o.db).getOrElse("unknown")
    val dir = java.nio.file.Paths.get(outBase, name)
    writeReportTree(c, dir, o.n, idMaps)
    val store = graft.ingest.Versioned(outBase, s"$outBase/latest")
    store.flip(name)
    o.keep.foreach { k =>
      val gone = store.prune(k)
      if (gone.nonEmpty) println(s"pruned ${gone.size} report dirs")
    }
    println(s"reports written to $dir")
    spark.stop()
  }

  /** A report's aggregate tables as (file base, title, table), in
    * index order, and the per-user and per-group reports. */
  private[cli] final case class ReportData(tables: Seq[(String, String, Reports.Table)],
      users: Seq[IdReport], groups: Seq[IdReport])

  /** One id's report: its metric totals as (metric, value) and, per
    * ranked metric, its top prefixes as (value, prefix). */
  private[cli] final case class IdReport(id: Long, name: String,
      totals: Seq[(String, Any)], top: Seq[(String, Seq[(Any, String)])])

  /** The rows a report renders, from two bounded collects of the
    * stats table:
    *   1. the totals, per-uid and per-gid rows, each with its display
    *      name and its JSON object (`to_json`, in the same job);
    *   2. per partition, the first `n` rows by each ranked metric of
    *      the per-prefix set and, with `withIds`, of the per-(id,
    *      prefix) sets of the ids in the by-user and by-group tables —
    *      at most partitions × (2n + 1) × 5n rows; the driver ranks
    *      their union ([[Reports.topN]]).
    * Prefixes rank by (metric desc, prefix asc); users and groups by
    * (bytes desc, id asc), so ties render the same on every run. A
    * null id (a row without an owner) ranks in its table but gets no
    * per-id report. */
  private[cli] def reportData(c: Stats.Computed, n: Int, ids: IdMaps,
      withIds: Boolean): ReportData = {
    val metrics = Stats.metricNames
    val mcols = metrics.map(col)
    val Seq(gTot, gUid, gGid, gPre, gUidPre, gGidPre) = Stats.frameKeys.map(Stats.gsetOf)
    val gset = col("gset")
    // Both collects' rows: gset, uid, gid, name or prefix, json, metrics.
    val m0 = 5
    def mi(m: String) = m0 + metrics.indexOf(m)
    def cells(r: Row, idxs: Seq[Int]) = Row.fromSeq(idxs.map(r.get))
    val metricIdxs = metrics.map(mi)

    val name = when(gset === gUid, nameOf("uid", ids.userById))
      .otherwise(nameOf("gid", ids.groupById))
    def json(cs: Column*) = to_json(struct(cs ++ mcols: _*))
    val rows1 = c.table.where(gset.isin(gTot, gUid, gGid))
      .select(Seq(gset, col("uid"), col("gid"), name,
        when(gset === gTot, json())
          .when(gset === gUid, json(name.as("uid_name"), col("uid")))
          .otherwise(json(name.as("gid_name"), col("gid")))) ++ mcols: _*)
      .collect().toSeq
    def of(g: Long) = rows1.filter(_.getLong(0) == g)
    val totals = of(gTot).head
    val users = of(gUid).sorted(Reports.rankOrder(mi("bytes"), 1)).take(n)
    val groups = of(gGid).sorted(Reports.rankOrder(mi("bytes"), 2)).take(n)
    def withReport(rows: Seq[Row], i: Int) = if (withIds) rows.filterNot(_.isNullAt(i)) else Nil
    val (userRows, groupRows) = (withReport(users, 1), withReport(groups, 2))

    val orders = Stats.rankedMetrics.map(m => m -> Reports.rankOrder(mi(m), 3))
    val key = (r: Row) => (r.getLong(0), r.get(1), r.get(2))
    val rows2 = c.table
      .where(gset === gPre || (gset === gUidPre && col("uid").isin(userRows.map(_.get(1)): _*)) ||
        (gset === gGidPre && col("gid").isin(groupRows.map(_.get(2)): _*)))
      .select(Seq(gset, col("uid"), col("gid"), col("prefix"),
        when(gset === gPre, json(col("prefix")))) ++ mcols: _*)
      .rdd.mapPartitions(Reports.topN(_, key, orders.map(_._2), n))
      .collect().toSeq.groupBy(key)
    def top(k: (Long, Any, Any), o: Ordering[Row]) = rows2.getOrElse(k, Nil).sorted(o).take(n)

    def table(columns: Seq[String], rows: Seq[Row], idxs: Seq[Int]) =
      Reports.Table(columns, rows.map(cells(_, idxs)), rows.map(_.getString(4)))
    val tables =
      ("totals", "Totals", table(metrics, Seq(totals), metricIdxs)) +:
      orders.map { case (m, o) =>
        (s"top_$m", s"Top $n by $m",
          table("prefix" +: metrics, top((gPre, null, null), o), 3 +: metricIdxs))
      } :+
      ("by_user", "Usage by user", table("uid_name" +: "uid" +: metrics, users, 3 +: 1 +: metricIdxs)) :+
      ("by_group", "Usage by group", table("gid_name" +: "gid" +: metrics, groups, 3 +: 2 +: metricIdxs))
    def reportsOf(rows: Seq[Row], idIdx: Int, keyOf: Long => (Long, Any, Any),
        nameOf: Long => String) = rows.map { r =>
      val id = r.getLong(idIdx)
      IdReport(id, nameOf(id), metrics.map(m => m -> r.get(mi(m))), orders.map { case (m, o) =>
        m -> top(keyOf(id), o).map(p => (p.get(mi(m)), p.getString(3)))
      })
    }
    ReportData(tables, reportsOf(userRows, 1, (gUidPre, _, null), ids.userName),
      reportsOf(groupRows, 2, (gGidPre, null, _), ids.groupName))
  }

  /** Write the full report file tree under `dir`: aggregate tables in
    * TSV/JSON/Markdown plus one markdown file per top-N user/group
    * (reference writeReportFiles, reports.go:128-229 +
    * markdown.go:32-371), all rendered from [[reportData]]'s two
    * bounded collects. */
  private[cli] def writeReportTree(c: Stats.Computed,
      dir: java.nio.file.Path, n: Int, ids: IdMaps): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val d = reportData(c, n, ids, withIds = true)
    d.tables.foreach { case (base, title, t) =>
      java.nio.file.Files.writeString(dir.resolve(s"$base.tsv"), Reports.tsv(t))
      java.nio.file.Files.writeString(dir.resolve(s"$base.json"), Reports.jsonLines(t))
      java.nio.file.Files.writeString(dir.resolve(s"$base.md"), Reports.markdown(t, title))
    }
    // Per-id markdown mirrors the reference's multi-section templates
    // (markdown.go:32-371): a totals table with human-formatted sizes,
    // then one ranked top-prefix section PER metric (the same five
    // metrics the aggregate reports rank by).
    def human(metric: String, v: Any): String = v match {
      case l: java.lang.Long if metric.endsWith("bytes") =>
        s"${Reports.formatSize(l)} ($l)"
      case other => Option(other).map(_.toString).getOrElse("")
    }
    def perIdTree(subdir: String, idCol: String, reports: Seq[IdReport]): Unit =
      reports.foreach { r =>
        val sb = new StringBuilder(s"# Usage report for ${r.name} ($idCol ${r.id})\n\n")
        sb.append("## Contents\n\n* [Totals](#totals)\n")
        r.top.foreach { case (m, _) => sb.append(s"* [Top $n prefixes by $m](#top-$m)\n") }
        sb.append("\n## <a id=totals></a> Totals\n\n| Metric | Value |\n| :--- | ---: |\n")
        r.totals.foreach { case (cn, v) => sb.append(s"| $cn | ${human(cn, v)} |\n") }
        r.top.foreach { case (m, rows) =>
          sb.append(s"\n## <a id=top-$m></a> Top $n prefixes by $m\n\n")
          sb.append(s"| ${m.capitalize} | Prefix |\n| ---: | :--- |\n")
          rows.foreach { case (v, prefix) => sb.append(s"| ${human(m, v)} | $prefix |\n") }
        }
        val at = dir.resolve(subdir)
        java.nio.file.Files.createDirectories(at)
        java.nio.file.Files.writeString(at.resolve(s"${r.id}-${r.name}.md"), sb.toString)
      }
    perIdTree("by_user", "uid", d.users)
    perIdTree("by_group", "gid", d.groups)

    // Report-tree TOC (reference mdTOC + mdListUsersAndGroups): one
    // index.md linking every aggregate section and per-id report.
    val idx = new StringBuilder("# Filesystem usage reports\n\n## Contents\n\n")
    d.tables.foreach { case (base, title, _) => idx.append(s"* [$title]($base.md)\n") }
    if (d.users.nonEmpty) {
      idx.append("\n## Per-user reports\n\n")
      d.users.foreach(u => idx.append(s"* [${u.name}](by_user/${u.id}-${u.name}.md)\n"))
    }
    if (d.groups.nonEmpty) {
      idx.append("\n## Per-group reports\n\n")
      d.groups.foreach(g => idx.append(s"* [${g.name}](by_group/${g.id}-${g.name}.md)\n"))
    }
    java.nio.file.Files.writeString(dir.resolve("index.md"), idx.toString)
  }

  /** `reports locate OUTDIR [--n N] [--extension EXT]`: the n most
    * recent timestamped report dirs with their files, as one JSON
    * array (reference reports.go:257-302) — the machine-readable hook
    * a dashboard polls to find what to render. No Spark session. */
  private def reportsLocate(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.positional.nonEmpty, "reports locate OUTDIR [--n N] [--extension EXT]")
    println(locateJson(o.positional.head, o.n, o.extension))
  }

  private[cli] def locateJson(base: String, n: Int,
      ext: Option[String]): String = {
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
    val entries = graft.ingest.Retention.candidates(base).take(n).map { name =>
      val dir = java.nio.file.Paths.get(base, name)
      val s = java.nio.file.Files.walk(dir)
      val files =
        try s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(dir.relativize(_).toString)
          .filter(f => ext.forall(f.endsWith))
          .toSeq.sorted
        finally s.close()
      // dir names are version names (UTC) → RFC3339 report_time
      val t = java.time.Instant.from(graft.ingest.Versioned.Name.parse(name))
        .atOffset(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      s"""{"report_time":"${esc(t)}","report_dir":"${esc(name)}","files":[""" +
        files.map(f => s""""${esc(f)}"""").mkString(",") + "]}"
    }
    entries.mkString("[", ",", "]")
  }

  /** `database prune --db DIR --keep N`: retention for snapshots and
    * stats artifacts (reference reports.go:268-296 semantics applied
    * to the database). */
  private def prune(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty && o.keep.nonEmpty, "database prune --db DIR --keep N")
    val k = o.keep.get
    val snaps = Snapshot.prune(o.db, k)
    val arts = StatsArtifact.prune(o.db, k)
    println(s"pruned ${snaps.size} snapshots, ${arts.size} stats artifacts")
  }

  /** `database list --db DIR`: timestamped snapshot/artifact
    * candidates, newest first, LATEST marked (reference
    * reports.go:268-282's candidate listing). */
  private def listArtifacts(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty, "database list --db DIR")
    def show(kind: String, names: Seq[String], latest: Option[String]): Unit = {
      println(s"$kind:")
      names.foreach(n => println(
        s"  $n${if (latest.contains(n)) "  (LATEST)" else ""}"))
    }
    show("snapshots", Snapshot.candidates(o.db), Snapshot.latestName(o.db))
    show("stats artifacts", StatsArtifact.candidates(o.db),
      StatsArtifact.latestName(o.db))
  }

  /** `diff --db DIR [OLD [NEW]] [--n N]`: what changed between two
    * snapshots — added/removed/changed entries and net byte movement.
    * Defaults to the two newest snapshots. Beyond the reference (which
    * only rescans in place); see [[graft.ingest.SnapshotDiff]]. */
  private def diffSnapshots(args: List[String]): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty, "diff --db DIR [OLD [NEW]] [--n N]")
    val (oldName, newName) = o.positional match {
      case a :: b :: Nil => (a, b)
      case a :: Nil =>
        val latest = Snapshot.latestName(o.db).getOrElse {
          System.err.println(s"no snapshots under ${o.db}"); sys.exit(1)
        }
        (a, latest)
      case Nil =>
        Snapshot.candidates(o.db) match {
          case Seq(newer, older, _*) => (older, newer)
          case _ =>
            System.err.println(s"need two snapshots under ${o.db}"); sys.exit(1)
        }
      case _ =>
        System.err.println("diff --db DIR [OLD [NEW]] [--n N]"); sys.exit(2)
    }
    val spark = session()
    val d = graft.ingest.SnapshotDiff.diff(
      Snapshot.readFiles(spark, o.db, Some(oldName)),
      Snapshot.readFiles(spark, o.db, Some(newName))).cache()
    println(s"diff $oldName -> $newName")
    println(Reports.markdown(graft.ingest.SnapshotDiff.summary(d), "Churn"))
    println(Reports.markdown(
      d.where(!col("is_dir"))
        .orderBy(desc("size_delta"), asc("path")).limit(o.n),
      s"Top ${o.n} by size delta"))
    println(Reports.markdown(
      d.where(!col("is_dir"))
        .orderBy(asc("size_delta"), asc("path")).limit(o.n),
      s"Bottom ${o.n} by size delta"))
    spark.stop()
  }

  private def listTimestamped(args: List[String],
      read: (SparkSession, String) => DataFrame, tsCol: String): Unit = {
    val o = parseOpts(args)
    require_(o.db.nonEmpty, "--db DIR required")
    val spark = session()
    val df = read(spark, o.db)
    // --since/--from/--to compile to literal timestamp bounds → parquet
    // predicate pushdown on the log/error scan (reference util.go:20-43).
    val ranged = TimeFlags.predicate(tsCol, o.since, o.from, o.to)
      .map(df.where).getOrElse(df)
    println(Reports.tsv(Reports.Table.of(ranged)))
    spark.stop()
  }

  private val expressionSyntax: String =
    """Boolean expression operands (combine with && || ! and parentheses):
      |  name=GLOB        glob match on basename or full path
      |  iname=GLOB       case-insensitive name match
      |  re=REGEXP        regexp match on full path
      |  type=f|d|l|x     file / directory / symlink / executable
      |  newer=DATE       modified after DATE (yyyy-mm-dd or RFC3339)
      |  larger=N         size >= N bytes
      |  smaller=N        size <= N bytes
      |  dir-larger=N     directory with more than N entries
      |  dir-smaller=N    directory with fewer than N entries
      |  user=UID|NAME    owned by user (names resolve via /etc/passwd)
      |  group=GID|NAME   owned by group (names resolve via /etc/group)
      |  hardlink=PATH    same (device, inode) as PATH
      |""".stripMargin

  /** Config-file documentation (reference config.Documentation,
    * internal/config/config.go:212-226 — the `config-syntax` output
    * must name every field and the supported storage layouts). */
  private[cli] val configSyntax: String =
    """YAML configuration file options (a list of per-prefix entries):
      |  - prefix: PATH            filesystem prefix this entry governs;
      |                            longest match wins when building or
      |                            querying a database. Relative paths
      |                            resolve against the working directory.
      |    database: DIR           snapshot database location
      |    exclusions: [GLOB, ..]  subtrees pruned from the walk
      |    calculator: NAME        storage-bytes layout (see below)
      |    count_hardlinks: BOOL   count each hardlink as a file
      |    separator: STR          filename separator used when find
      |                            renders entry paths (default /)
      |
      |Supported layouts (calculator:):
      |  identity                  storage = file size
      |  block:SIZE                size rounded up to whole blocks
      |  raw-blocks                st_blocks * 512 (kernel-reported)
      |  raid0:STRIPE:N            striped: last partial stripe costs a
      |                            full stripe on each of N drives
      |""".stripMargin
}
