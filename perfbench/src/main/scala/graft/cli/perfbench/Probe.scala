package graft.cli.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job seen by the [[Meter]]: its job group (the phase the
  * benchmark set around the call), its stage names (call sites such as
  * `parquet at Snapshot.scala:37`), wall clock and task counters. */
final class JobRec(val group: String, val stageNames: Seq[String], val startMs: Long) {
  var endMs = 0L; var tasks = 0L; var shuffleBytes = 0L; var cpuNs = 0L
}

/** Benchmark-owned SparkListener: records every job that runs inside a
  * job group, with its tasks, shuffle bytes (read + written) and
  * executor CPU time. Phases are assigned afterwards from the records
  * (by group, call site or time window). */
final class Meter extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.nonEmpty) {
      val j = new JobRec(group, e.stageInfos.map(_.name), e.time)
      jobs += j; byId(e.jobId) = j
      e.stageIds.foreach(byStage(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** The jobs recorded since the last call. */
  def take(): Seq[JobRec] = synchronized {
    val out = jobs.toList
    jobs.clear(); byStage.clear(); byId.clear()
    out
  }
}

object Meter {
  /** Counter suffixes reported for every timed phase. */
  val Counters: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "shuffle_bytes" -> "bytes", "cpu_ms" -> "ms")

  def counters(js: Seq[JobRec]): Seq[Double] = Seq(js.size.toDouble,
    js.map(_.tasks).sum.toDouble, js.map(_.shuffleBytes).sum.toDouble,
    js.map(_.cpuNs).sum / 1e6)
}

/** Spans around the benchmark's calls into each layer: name, start,
  * end, parent, iteration and run id, kept in memory and written out
  * when the benchmark ends. */
final class Spans(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      startMs: Long, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var iter = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      stack = stack.tail
      done += Span(id, name, parent, iter, ms, t0, System.nanoTime())
    }
  }

  /** Spans named `name` in iteration `it`. */
  def of(name: String, it: Int): Seq[Span] =
    done.iterator.filter(s => s.name == name && s.iter == it).toSeq

  /** Seconds spent in spans named `name` during iteration `it`. */
  def seconds(name: String, it: Int): Double = of(name, it).map(_.seconds).sum
}

/** Phase wrapper used by every workload: with tracing off it only runs
  * the body; with tracing on it sets the Spark job group (the meter's
  * key) and records a span. */
final class Probe(spark: SparkSession, val spans: Spans) {
  var traced = false

  def apply[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(name, name)
      try spans(name)(body) finally outer match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }
}
