package graft.cli.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of graft's product flows (see perfbench/NOTES.md).
  *
  * {{{
  * PerfBench --workload NAME --seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE]
  * }}}
  *
  * One fresh session runs the workload's set-up `Setups` times (the
  * median is `setup_s`; the first set-up also pays the JVM's and
  * Spark's first runs), checks each set-up's outputs, computes the
  * reference outputs, then runs flows for at least `--seconds` (at
  * least one), checking every flow's outputs outside the timed region;
  * `flow_s` is the median flow time. The last stdout line is one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` — the
  * end-to-end metrics, or with `--trace 1` the per-layer metrics of
  * the traced last set-up and a traced second flow (the tracing
  * overhead is its time over the untraced flow after it).
  * A traced run also writes its spans and counters to `--trace-out`. */
object PerfBench {

  val Workloads: Seq[String] = Seq("tree_flow", "pipeline_loops")

  /** Phases that report Spark counters next to their time. */
  private val timedPhases: Seq[String] = Seq("ingest.walk", "ingest.rescan",
    "ingest.snapshot_write", "ingest.snapshot_write_incremental", "cli.summarize",
    "stats.write", "stats.delta", "find.enumerate", "reports.render",
    "pipeline.quality", "pipeline.span_dedup", "pipeline.mixture", "pipeline.export") ++
    Seq("sssp", "betweenness", "label_prop", "hits", "pagerank", "kcore", "ktruss").map("ops." + _)

  /** Every per-layer metric with its unit; a workload that does not run
    * a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("analyze_s" -> "s", "analyze_incremental_s" -> "s", "stats_s" -> "s",
      "stats_incremental_s" -> "s", "analyze_rescan_ratio" -> "ratio",
      "stats_rescan_ratio" -> "ratio", "find_s" -> "s", "reports_s" -> "s",
      "db_bytes_per_file" -> "bytes", "pipeline_s" -> "s", "loops_s" -> "s") ++
    timedPhases.map(_ + "_s" -> "s") ++
    Seq("expr.compile_ms" -> "ms",
      "ingest.walk.files" -> "count", "ingest.walk.dirs" -> "count",
      "ingest.rescan.reused_dir_share" -> "share",
      "ingest.rescan.files_rescanned" -> "count", "ingest.snapshot.bytes" -> "bytes",
      "stats.changed_prefixes" -> "count", "stats.delta_rows" -> "count",
      "find.rows" -> "count", "reports.files" -> "count",
      "pipeline.kept_share" -> "share", "ops.kcore.rounds" -> "count",
      "ops.ktruss.rounds" -> "count", "trace.overhead_pct" -> "%") ++
    timedPhases.flatMap(ph => Meter.Counters.map { case (c, u) => s"$ph.$c" -> u })

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", traceOut: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--trace-out" :: v :: rest => parse(rest, o.copy(traceOut = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Workloads.contains(o.workload), s"unknown workload '${o.workload}'")
    require(o.work.nonEmpty, "--work DIR is required")
    val work = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    log(f"session up after ${uptime()}%.2f s")
    try println(run(spark, work, o))
    finally spark.stop()
    log(f"done after ${uptime()}%.2f s")
  }

  /** The CLI's session settings (`cli.Main.session()`): local[N],
    * N shuffle partitions, UTC, no UI; N = the cores this JVM sees.
    * Spark's scratch space stays under `work`. */
  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Input sizes are set by the run budget (perfbench/NOTES.md). */
  def workload(spark: SparkSession, work: Path, o: Opts, p: Probe): Workload =
    o.workload match {
      case "tree_flow" => new TreeWorkload(spark, work, o.seed, 4000, 500, p)
      case "pipeline_loops" => new Composite(Seq(
        new CorpusWorkload(spark, work, o.seed, 12000, 2400L, p),
        new GraphWorkload(spark, GraphGen(o.seed), p)))
    }

  private def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, work: Path, o: Opts): String = {
    val spans = new Spans(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val probe = new Probe(spark, spans)
    val meter = new Meter
    var failed = 0L
    var attempted = 0L
    val failures = Seq.newBuilder[String]
    def record(what: String, bad: Seq[String], ops: Int): Unit = {
      attempted += ops
      failed += math.min(bad.size, ops)
      bad.foreach(b => failures += s"$what: $b")
    }
    /** Run `body` with the job-group probe and the listener on. */
    def traced[T](body: => T): T = {
      probe.traced = true
      spark.sparkContext.addSparkListener(meter)
      try body finally {
        probe.traced = false
        org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(meter)
      }
    }
    val w = workload(spark, work, o, probe)
    // set-ups are iteration 0 of the spans; a traced run traces the last
    val setups = (1 to Setups).map { i =>
      System.gc()
      val s = if (o.trace && i == Setups) traced(Workload.time(w.setup()))
        else Workload.time(w.setup())
      val bad = w.checkSetup()
      log(f"set-up $i $s%.2f s, ${bad.size} failed")
      record(s"set-up $i", bad, w.opsPerSetup)
      s
    }
    log(f"reference outputs ${Workload.time(w.reference())}%.2f s")
    var it = 0
    def oneFlow(): Double = {
      it += 1
      spans.iter = it
      w.prepare(it)
      System.gc()
      val s = w.flow(it)
      val c0 = System.nanoTime()
      val bad = w.check(it)
      log(f"flow $it $s%.2f s, checks ${(System.nanoTime() - c0) / 1e9}%.2f s, ${bad.size} failed")
      record(s"flow $it", bad, w.opsPerFlow)
      s
    }
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tracedFlow = Option.empty[(Double, Map[String, Double])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run traces its second flow; the overhead compares it
    // with the untraced flow after it (the JVM still warms between
    // the two, so the overhead errs high)
    if (o.trace) {
      plain += oneFlow()
      val s = traced(oneFlow())
      tracedFlow = Some(s -> w.layers(it, meter.take()))
    }
    while (elapsed < o.seconds || plain.size < (if (o.trace) 2 else 1)) plain += oneFlow()
    val fl = failures.result()
    fl.foreach(f => log(s"CHECK FAILED $f"))
    val metrics: Seq[(String, Double, String)] = tracedFlow match {
      case None => Seq(("flow_s", median(plain.toSeq), "s"),
        ("setup_s", median(setups), "s"))
      case Some((s, layers)) =>
        val all = layers + ("trace.overhead_pct" -> (s / plain(1) - 1) * 100)
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
    }
    if (o.trace && o.traceOut.nonEmpty) writeTrace(Paths.get(o.traceOut), o, spans,
      setups, plain.toSeq, tracedFlow.toSeq)
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${fl.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** One JSON file per traced run: spans (with self time), per-flow
    * layer metrics and counters, and the untraced/traced flow times
    * behind the overhead. */
  private def writeTrace(path: Path, o: Opts, spans: Spans, setups: Seq[Double],
      plain: Seq[Double], traced: Seq[(Double, Map[String, Double])]): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    // self time: a span's duration minus its children's
    val childNs = spans.done.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    val sp = spans.done.sortBy(_.id).map { s =>
      val self = s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "iter": ${s.iter}, """ +
        s""""run": ${str(spans.runId)}, "start_ms": ${s.startMs}, "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "self_ns": $self}"""
    }
    val fl = traced.map { case (s, m) =>
      val kv = m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      s"""{"flow_s": ${num(s)}, "layers": {${kv.mkString(", ")}}}"""
    }
    Files.writeString(path,
      s"""{"run": ${str(spans.runId)}, "workload": ${str(o.workload)}, "seed": ${o.seed},\n""" +
        s""" "setup_s": [${setups.map(num).mkString(", ")}],\n""" +
        s""" "untraced_flow_s": [${plain.map(num).mkString(", ")}],\n""" +
        s""" "traced_flows": [\n  ${fl.mkString(",\n  ")}],\n""" +
        s""" "spans": [\n  ${sp.mkString(",\n  ")}]}\n""")
  }
}
