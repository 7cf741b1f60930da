package graft.ingest

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.model.{FileEntry, ScanError}

/** Distributed POSIX-tree ingest (reference analyze.go:111-123 +
  * vendored cloudeng.io/file/filewalk), re-expressed for Spark's
  * execution model:
  *
  *   - the driver walks only the first `seedDepth` levels (cheap —
  *     thousands of dirs, not millions of files);
  *   - directories at seedDepth become a Dataset of subtree seeds,
  *     repartitioned to `parallelism`, and each task walks its seeds
  *     iteratively via `mapPartitions` — the executor-side analogue of
  *     the reference's `ConcurrentScans` goroutine pool, except tasks
  *     scale across machines, not just cores;
  *   - lstat metadata comes from `Files.readAttributes(…, "unix:*",
  *     NOFOLLOW_LINKS)` — uid/gid/dev/ino/nlink/mode/size/mtime in one
  *     syscall, replacing the reference's XAttr fetch
  *     (analyze.go:214-222, xattr.go:23-45);
  *   - exclusion regexes prune whole subtrees during the walk
  *     (reference config.go:68-75, `stop=true` semantics);
  *   - stat/list failures become ScanError rows, not exceptions
  *     (reference error bucket, badgerdb.go:401-417).
  *
  * At 100 TB / 1e9 files: seedDepth 2-3 yields 10k+ seeds for 1000
  * executors; skew from one giant subtree is bounded because every
  * seedDepth directory is its own unit of work and the walk streams
  * entries through `flatMap` — no per-task materialization. Symlinks
  * are recorded, never followed (reference analyze.go:201-210).
  */
object Walker {

  /** Unified walk record: exactly one of entry/error is set; `reused`
    * marks a directory row whose children were NOT statted because its
    * (mtime, mode) matched the previous snapshot (incremental mode).
    * One pass over the tree yields both the fact table and the error
    * table. */
  final case class Record(entry: Option[FileEntry], error: Option[ScanError],
      reused: Boolean = false)

  /** Previous-snapshot metadata for incremental re-scan: for each dir,
    * (mtime ms, mode, n_entries) plus its child directories — enough
    * to skip per-file lstat under unchanged dirs AND keep descending
    * without re-listing. */
  final case class PrevDirs(meta: Map[String, (Long, Int, Long)],
      childDirs: Map[String, Seq[String]]) extends Serializable
  object PrevDirs {
    val empty: PrevDirs = PrevDirs(Map.empty, Map.empty)
    def fromRows(rows: Iterable[DirMeta]): PrevDirs = PrevDirs(
      meta = rows.map(d => d.path -> ((d.mt_ms, d.mode, d.n_entries))).toMap,
      childDirs = rows.groupBy(_.parent)
        .map { case (p, ds) => p -> ds.map(_.path).toSeq })
  }

  /** One previous-snapshot directory row, as shipped to executors in
    * per-seed slices. */
  final case class DirMeta(path: String, parent: String, mt_ms: Long,
      mode: Int, n_entries: Long)

  /** S8-style progress plumbing (reference progress.go:54-316): Spark
    * accumulators updated from inside every `walkOneDir`, readable on
    * the driver WHILE the job runs (accumulator updates flow back with
    * heartbeats), plus per-dir slow-scan warnings (reference flags dirs
    * taking ≥ 10 s). Ship the hooks — not the WalkProgress wrapper —
    * into task closures. */
  final case class ProgressHooks(files: LongAccumulator, dirs: LongAccumulator,
      slow: CollectionAccumulator[String], slowMs: Long) extends Serializable

  final class WalkProgress(spark: SparkSession, slowMs: Long = 10000) {
    val hooks: ProgressHooks = ProgressHooks(
      spark.sparkContext.longAccumulator("graft.walk.files"),
      spark.sparkContext.longAccumulator("graft.walk.dirs"),
      spark.sparkContext.collectionAccumulator[String]("graft.walk.slow"),
      slowMs)

    /** Start a driver-side ticker printing files/s and any new
      * slow-scan warnings every `intervalMs`. Returns a stop handle;
      * always `close()` it (it prints a final summary line). */
    def ticker(out: String => Unit = println,
        intervalMs: Long = 1000): AutoCloseable = {
      val t0 = System.nanoTime()
      val reported = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var running = true
      def line(): Unit = {
        val secs = math.max(1e-9, (System.nanoTime() - t0) / 1e9)
        val f = hooks.files.value; val d = hooks.dirs.value
        out(f"analyze progress: $d%d dirs, $f%d files, ${f / secs}%.0f files/s")
        val slow = hooks.slow.value
        var i = reported.get()
        while (i < slow.size()) { out(s"analyze slow-scan: ${slow.get(i)}"); i += 1 }
        reported.set(i)
      }
      val th = new Thread(() => {
        try while (running) { Thread.sleep(intervalMs); if (running) line() }
        catch { case _: InterruptedException => () }
      }, "graft-walk-progress")
      th.setDaemon(true)
      th.start()
      () => { running = false; th.interrupt(); line() }
    }
  }

  final case class Result(records: Dataset[Record]) {
    def entries: Dataset[FileEntry] = {
      val spark = records.sparkSession
      import spark.implicits._
      records.flatMap(_.entry)
    }
    def errors: Dataset[ScanError] = {
      val spark = records.sparkSession
      import spark.implicits._
      records.flatMap(_.error)
    }
  }

  /** Walk a tree: the driver walks the first `seedDepth` levels, and
    * the subtrees at that depth are walked in parallel tasks. */
  def walk(
      spark: SparkSession,
      root: String,
      exclusions: Seq[String] = Nil,
      seedDepth: Int = 2,
      parallelism: Int = 0,
      progress: Option[ProgressHooks] = None): Result = {
    import spark.implicits._
    val par = if (parallelism > 0) parallelism else spark.sparkContext.defaultParallelism
    val (driverRecords, seeds) = driverSeed(Paths.get(root).toAbsolutePath.normalize,
      exclusions, seedDepth, PrevDirs.empty, progress)
    val nParts = math.max(1, math.min(par, seeds.size))
    Result(walkSeeds(spark, seeds, exclusions, nParts, progress)
      .union(spark.createDataset(driverRecords)))
  }

  /** What an incremental walk learned about the change, collected in
    * the walk's own job.
    *
    * @param reusedDirs dirs whose (mtime, mode) matched: not listed
    * @param walkedDirs dirs listed afresh (changed or added)
    * @param changedDirs walked dirs the previous snapshot held (each
    *   task counts its own: a dir below seed depth and its previous
    *   row meet in the task of their seed, and the driver's levels
    *   meet on the driver)
    * @param staleDirs the previous snapshot's dirs that were not
    *   reused: the changed ones, and those not reached or not statted
    *   (deleted, excluded, or under a deleted dir)
    * @param walkedFiles the non-dir paths listed in walked dirs
    * @param sets the change itself, when it is small enough to
    *   collect (see [[DeltaSetLimit]]): else None
    */
  final case class Delta(reusedDirs: Long, walkedDirs: Long, changedDirs: Long,
      staleDirs: Long, walkedFiles: Long, sets: Option[DeltaSets]) {
    def ++(o: Delta): Delta = Delta(reusedDirs + o.reusedDirs, walkedDirs + o.walkedDirs,
      changedDirs + o.changedDirs, staleDirs + o.staleDirs, walkedFiles + o.walkedFiles,
      for (a <- sets; b <- o.sets) yield a ++ b)
  }

  /** The change as driver-side sets, which [[Incremental.rescan]] uses
    * as literals to tag the previous snapshot's rows without a join.
    *
    * @param staleDirs as [[Delta.staleDirs]]
    * @param walkedFiles as [[Delta.walkedFiles]]
    * @param freshNlink (device, inode) → largest link count of the
    *   walked files that are hard links (nlink > 1)
    */
  final case class DeltaSets(staleDirs: Set[String], walkedFiles: Set[String],
      freshNlink: Map[(Long, Long), Long]) {
    def size: Int = staleDirs.size + walkedFiles.size + freshNlink.size
    def ++(o: DeltaSets): DeltaSets = DeltaSets(staleDirs ++ o.staleDirs,
      walkedFiles ++ o.walkedFiles,
      o.freshNlink.foldLeft(freshNlink) { case (m, (k, n)) =>
        m.updated(k, math.max(n, m.getOrElse(k, 0L))) })
  }

  /** The most entries [[DeltaSets]] carries to the driver. Every entry
    * is a literal in the plan of the scan that tags the previous
    * snapshot, and planning an `isin` list costs time linear in it.
    * Tagging 400,000 previous rows on a 4-core VM (local[4]) by
    * literal sets against two left joins: 1,000 entries 0.25–0.34 s
    * vs 0.71–0.74 s, 10,000 entries 0.53–0.75 s vs 0.60–0.79 s,
    * 30,000 entries 1.37–1.63 s vs 0.49–0.64 s. The joins shuffle the
    * previous rows, so on a larger snapshot they cost more and the
    * crossover moves up. A larger change (an `rm -rf` or `chmod -R`
    * of a big subtree) tags the previous rows with joins against the
    * walk's cached output instead. */
  val DeltaSetLimit: Int = 10000

  object Delta {
    /** The facts of one stretch of walk output: records, and slices of
      * the previous snapshot's dirs that the walk did not reuse. Its
      * sets are kept when they hold at most `limit` entries. */
    def of(out: Iterator[Either[Seq[String], Record]], limit: Int): Delta = {
      var reused = 0L
      val dirs, stale, files = mutable.HashSet.empty[String]
      val links = mutable.HashMap.empty[(Long, Long), Long]
      out.foreach {
        case Left(paths) => stale ++= paths
        case Right(r) => r.entry.foreach { e =>
          if (r.reused) reused += 1
          else if (e.is_dir) dirs += e.path
          else {
            files += e.path
            if (e.nlink > 1) links.update((e.device, e.inode),
              math.max(e.nlink, links.getOrElse((e.device, e.inode), 0L)))
          }
        }
      }
      val sets = DeltaSets(stale.toSet, files.toSet, links.toMap)
      Delta(reused, dirs.size, dirs.count(stale).toLong, stale.size, files.size,
        Some(sets).filter(_.size <= limit))
    }
  }

  /** An incremental walk's records and what it learned about the
    * change. `walk` is the persisted output the records and
    * `staleDirs` read: the walk ran once. Unpersist it once the
    * records are materialized.
    *
    * @param staleDirs [[Delta.staleDirs]] as a frame, for a change
    *   too large for [[DeltaSets]]
    */
  final case class Rescan(records: Dataset[Record], delta: Delta,
      staleDirs: Dataset[String], walk: RDD[Either[Seq[String], Record]])

  /** Walk `root` against the previous snapshot's DIRECTORY rows
    * `prevDirs` (columns path, parent, mt_ms, mode, n_entries): a dir
    * whose (mtime, mode) is unchanged is not listed, and its child
    * dirs come from the previous snapshot.
    *
    * The index is never collected whole: the driver reads only the
    * rows at or above seed depth (bounded by the seed count), and each
    * task receives exactly the slices of the seeds it walks, shuffled
    * there keyed by seed-ancestor path. Each seed's walk ends by
    * naming the dirs of its slice it did not reuse, and a task names
    * every dir of a slice whose seed was not reached; the driver does
    * the same for the levels it walks. One job walks the tree, keeps
    * the records and collects the [[Delta]]: its counts always, its
    * sets while they hold at most `setLimit` entries (each task sends
    * no more). With the prev-index read before it, an incremental walk
    * runs two jobs. */
  def rescan(
      spark: SparkSession,
      root: String,
      prevDirs: DataFrame,
      exclusions: Seq[String],
      seedDepth: Int,
      setLimit: Int): Rescan = {
    import org.apache.spark.sql.functions.{col, regexp_replace, size => asize, split}
    import spark.implicits._
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    // Number of path components in a seed path ("/a/b" has 2).
    val seedComponents = rootPath.getNameCount + seedDepth

    // The driver's shallow prev index: only dirs at component depth
    // ≤ seedComponents (the levels the driver itself walks plus the
    // seed level) — a bounded collect, NOT the whole tree.
    val comps = split(regexp_replace(col("path"), "^/", ""), "/")
    val driverPrev = PrevDirs.fromRows(prevDirs.where(asize(comps) <= seedComponents)
      .as[DirMeta].collect().toSeq)
    val (driverRecords, seeds) =
      driverSeed(rootPath, exclusions, seedDepth, driverPrev, None)
    val driverReused = driverRecords.filter(_.reused).flatMap(_.entry).map(_.path).toSet
    val driverStale = driverPrev.meta.keys.filter(p =>
      Paths.get(p).getNameCount < seedComponents && !driverReused(p)).toSeq
    val driverDelta = Delta.of(driverRecords.iterator.map(Right(_)) ++
      Iterator.single(Left(driverStale)), setLimit)

    // Seed i is walked by task i mod nParts; every prev dir at or below
    // seed depth travels to the task of its seed ancestor (or, when
    // that seed was not reached, to a task that names it stale).
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism, seeds.size))
    val seedsOf = seeds.zipWithIndex.groupBy(_._2 % nParts).map { case (i, ss) => i -> ss.map(_._1) }
    val partOf = seedsOf.flatMap { case (i, ss) => ss.map(_ -> i) }
    val out = prevDirs.as[DirMeta].rdd
      .flatMap { d =>
        val p = Paths.get(d.path)
        if (p.getNameCount < seedComponents) None
        else {
          val seed = p.getRoot.resolve(p.subpath(0, seedComponents)).toString
          Some(partOf.getOrElse(seed, math.floorMod(seed.hashCode, nParts)) -> (seed -> d))
        }
      }
      .partitionBy(new org.apache.spark.HashPartitioner(nParts))
      .mapPartitionsWithIndex { (i, it) =>
        val slices = it.map(_._2).toSeq.groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2) }
        val exRes = exclusions.map(_.r)
        val mine = seedsOf.getOrElse(i, Nil)
        val walked = mine.iterator.flatMap { s =>
          val local = PrevDirs.fromRows(slices.getOrElse(s, Nil))
          val reused = mutable.HashSet.empty[String]
          walkSubtree(Paths.get(s), exRes, local, None).map { r =>
            if (r.reused) reused += r.entry.get.path
            Right(r): Either[Seq[String], Record]
          } ++ Iterator.single(Left(local.meta.keys.filterNot(reused).toSeq))
        }
        walked ++ (slices.keySet -- mine).iterator.map(s => Left(slices(s).map(_.path)))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delta = out.mapPartitions(it => Iterator.single(Delta.of(it, setLimit)))
      .collect().foldLeft(driverDelta)(_ ++ _)
    val capped = delta.copy(sets = delta.sets.filter(_.size <= setLimit))
    val records = out.flatMap(_.toOption)
      .union(spark.sparkContext.parallelize(driverRecords, 1))
    val stale = out.flatMap { case Left(ps) => ps; case _ => Nil }
      .union(spark.sparkContext.parallelize(driverStale, 1))
    Rescan(spark.createDataset(records), capped, spark.createDataset(stale), out)
  }

  /** Walk the driver levels [0, seedDepth): returns the records those
    * levels produce plus the seed-directory paths at seedDepth. Cheap
    * (thousands of dirs), deterministic, and re-runnable — which is
    * what lets [[ResumableWalk]] recompute it on resume instead of
    * persisting driver records. */
  private[graft] def driverSeed(rootPath: Path, exclusions: Seq[String],
      seedDepth: Int, prev: PrevDirs,
      progress: Option[ProgressHooks] = None): (Seq[Record], Seq[String]) = {
    val driverRecords = mutable.ArrayBuffer.empty[Record]
    val seeds = mutable.ArrayBuffer.empty[String]
    val exRes = exclusions.map(_.r)
    def seed(dir: Path, depth: Int): Unit = {
      val (records, subdirs) = walkOneDir(dir, depth, exRes, prev, progress)
      driverRecords ++= records
      if (depth + 1 >= seedDepth) seeds ++= subdirs.map(_.toString)
      else subdirs.foreach(d => seed(d, depth + 1))
    }
    seed(rootPath, 0)
    (driverRecords.toSeq, seeds.toSeq)
  }

  /** Distributed walk of an explicit seed list (no prev-snapshot
    * slices). The unit [[ResumableWalk]] batches over. */
  private[ingest] def walkSeeds(spark: SparkSession, seeds: Seq[String],
      exclusions: Seq[String], nParts: Int,
      progress: Option[ProgressHooks] = None): Dataset[Record] = {
    import spark.implicits._
    spark.createDataset(seeds)
      .repartition(math.max(1, nParts))
      .mapPartitions { it =>
        val ex = exclusions.map(_.r)
        it.flatMap(dir => walkSubtree(Paths.get(dir), ex, PrevDirs.empty, progress))
      }
  }

  /** Iteratively walk a subtree (explicit stack — no recursion-depth
    * limit), streaming records as they are produced. */
  private[graft] def walkSubtree(start: Path, exclusions: Seq[Regex],
      prev: PrevDirs, progress: Option[ProgressHooks] = None): Iterator[Record] = {
    val startDepth = start.getNameCount
    val stack = mutable.Stack[(Path, Int)]((start, startDepth))
    new Iterator[Record] {
      private var pending: List[Record] = Nil
      private def refill(): Unit =
        while (pending.isEmpty && stack.nonEmpty) {
          val (dir, depth) = stack.pop()
          val (records, subdirs) = walkOneDir(dir, depth, exclusions, prev, progress)
          subdirs.foreach(d => stack.push((d, depth + 1)))
          pending = records.toList
        }
      def hasNext: Boolean = { refill(); pending.nonEmpty }
      def next(): Record = {
        refill(); val h = pending.head; pending = pending.tail; h
      }
    }
  }

  /** List one directory: emit the dir's own row (with n_entries = child
    * count) plus rows for child files and errors for unstat-able
    * children; child dirs are returned for traversal. `depth` is the
    * absolute path depth (used only relatively downstream).
    *
    * Incremental fast path: when the dir's freshly-statted
    * (mtime, mode) equals the previous snapshot's, children are NOT
    * listed or statted (the expensive syscall fan-out) — the dir row
    * is emitted `reused = true` and child dirs come from the previous
    * snapshot's structure (an unchanged POSIX dir mtime implies an
    * unchanged child list, reference prefixinfo.go:110-116).
    */
  private def walkOneDir(dir: Path, depth: Int, exclusions: Seq[Regex],
      prev: PrevDirs, progress: Option[ProgressHooks] = None): (Seq[Record], Seq[Path]) = {
    val t0 = System.nanoTime()
    val records = Vector.newBuilder[Record]
    val subdirs = Vector.newBuilder[Path]
    try {
      val dirStat = statEntry(dir, depth)
      val unchanged = dirStat match {
        case Right(r) => prev.meta.get(dir.toString).exists {
          case (mt, md, _) => mt == r.mod_time.getTime && md == r.mode
        }
        case Left(_) => false
      }
      if (unchanged) {
        val Right(r) = dirStat: @unchecked
        val nEntries = prev.meta(dir.toString)._3
        records += Record(Some(r.copy(n_entries = nEntries)), None, reused = true)
        prev.childDirs.getOrElse(dir.toString, Nil)
          .filterNot(c => excluded(c, exclusions))
          .foreach(c => subdirs += Paths.get(c))
      } else {
        val children = {
          val s = Files.list(dir)
          try s.iterator().asScala.toVector.sortBy(_.toString) finally s.close()
        }
        dirStat match {
          case Right(r) => records += Record(Some(r.copy(n_entries = children.size.toLong)), None)
          case Left(e) => records += Record(None, Some(e))
        }
        val kept = children.filterNot(c => excluded(c.toString, exclusions))
        kept.zip(statChildren(kept, depth + 1)).foreach {
          case (c, Right(r)) if r.is_dir => subdirs += c
          case (_, Right(r)) => records += Record(Some(r), None)
          case (_, Left(e)) => records += Record(None, Some(e))
        }
      }
    } catch {
      case e: Exception =>
        records += Record(None, Some(ScanError(dir.toString, now(), e.toString)))
    }
    val out = records.result()
    progress.foreach { p =>
      p.dirs.add(1)
      p.files.add(out.count(r => r.entry.exists(!_.is_dir)))
      val ms = (System.nanoTime() - t0) / 1000000
      if (ms >= p.slowMs) p.slow.add(s"$dir took ${ms} ms")
    }
    (out, subdirs.result())
  }

  /** S2: bounded async stat pool (reference asyncstat,
    * analyze.go:214-222 + vendored cloudeng.io/file/filewalk/asyncstat:
    * a fixed goroutine pool absorbs lstat latency). One static pool
    * per executor JVM, shared by every walking task, so total stat
    * concurrency stays bounded no matter how many tasks run — sized
    * for blocking IO, not CPU. On local disk this is near-neutral; on
    * a network filesystem (the reference's Lustre target) per-call
    * latencies of ~1 ms make it the difference between ~1k and ~10k
    * stats/s per executor. */
  private val statPoolSize: Int =
    math.min(64, Runtime.getRuntime.availableProcessors * 2)
  private lazy val statPool =
    java.util.concurrent.Executors.newFixedThreadPool(statPoolSize,
      r => { val t = new Thread(r, "graft-stat"); t.setDaemon(true); t })
  /** Below this many children the submit overhead beats the latency
    * win; stat sequentially. */
  private val parallelStatThreshold = 16

  /** Stat `paths` preserving order; parallel through the shared pool
    * when the batch is large enough. */
  private def statChildren(paths: Vector[Path],
      depth: Int): Vector[Either[ScanError, FileEntry]] =
    if (paths.size < parallelStatThreshold) paths.map(statEntry(_, depth))
    else paths
      .map(p => statPool.submit(
        new java.util.concurrent.Callable[Either[ScanError, FileEntry]] {
          def call(): Either[ScanError, FileEntry] = statEntry(p, depth)
        }))
      .map(_.get())

  private def excluded(path: String, exclusions: Seq[Regex]): Boolean =
    exclusions.exists(_.findFirstIn(path).isDefined)

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** lstat one path into a FileEntry (n_entries filled by caller for dirs). */
  private def statEntry(p: Path, depth: Int): Either[ScanError, FileEntry] = {
    try {
      val attrs = Files.readAttributes(p, "unix:*", LinkOption.NOFOLLOW_LINKS).asScala
      def long(k: String): Long = attrs(k) match {
        case n: java.lang.Number => n.longValue()
        case other => other.toString.toLong
      }
      val size = long("size")
      Right(FileEntry(
        path = p.toString,
        parent = Option(p.getParent).map(_.toString).getOrElse(""),
        name = Option(p.getFileName).map(_.toString).getOrElse(p.toString),
        depth = depth,
        is_dir = attrs("isDirectory").asInstanceOf[Boolean],
        size = size,
        // unix:* exposes no st_blocks; derive the conventional 512B count.
        blocks = (size + 511) / 512,
        mode = long("mode").toInt,
        mod_time = new Timestamp(attrs("lastModifiedTime")
          .asInstanceOf[java.nio.file.attribute.FileTime].toMillis),
        uid = long("uid"),
        gid = long("gid"),
        device = long("dev"),
        inode = long("ino"),
        nlink = long("nlink"),
        n_entries = 0L))
    } catch {
      case e: Exception => Left(ScanError(p.toString, now(), e.toString))
    }
  }
}
