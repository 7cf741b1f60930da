package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental re-scan (reference analyze.go:226-243,313-331,383-424,
  * SURVEY.md §2.8): a prefix whose (mod_time, mode) is unchanged since
  * the previous snapshot reuses its stored FILE rows — only
  * directories are re-statted, skipping the per-file lstat fan-out
  * that dominates scan cost (reference README.md:13-15).
  *
  * Staleness contract (the reference's, prefixinfo.go:110-116): a POSIX
  * dir's mtime changes when a child is created, renamed or deleted,
  * not when a child file's content or size changes. A file that grows
  * in place under a dir whose mtime did not change keeps its previous
  * row — size, mtime and all — until its dir changes or a full
  * `analyze` runs.
  *
  * Plan shape: the previous snapshot's side is a scan filtered by
  * driver-side sets whose size follows the change — no join, up to
  * [[Walker.DeltaSetLimit]] entries.
  *   1. [[Walker.rescan]] walks the tree statting DIRS always; under
  *      unchanged dirs it neither lists nor stats children. In the
  *      same job it collects the [[Walker.Delta]]: the counts of
  *      reused, walked, changed and stale dirs and of walked files,
  *      and, while they fit the limit, the sets — the previous dirs it
  *      did not reuse, the walked file paths, and the fresh link
  *      counts of walked hard links (two jobs with the read of the
  *      shallow prev index).
  *   2. The previous snapshot's file rows are tagged by one scan: a
  *      row whose parent is not among the stale dirs is reused (with
  *      the fresh link count of any walked link to the same (device,
  *      inode)), one whose path was walked again is rescanned, any
  *      other is deleted. The walked rows, the tagged rows and the
  *      walk's error rows are cached once by the job that counts the
  *      tags (one job), so [[Snapshot.write]] of [[Result.entries]]
  *      and [[Result.errors]] reads them instead of walking or
  *      scanning again. A change above the limit (an
  *      `rm -rf` or `chmod -R` of a big subtree) tags by the same rule
  *      with three joins against the walk's cached output instead,
  *      which shuffle the previous snapshot's file rows.
  *   3. Deletions need no explicit purge: the snapshot is rebuilt from
  *      the live walk, so vanished subtrees simply don't appear (the
  *      reference's DeletePrefix exists because it mutates a KV store;
  *      an immutable snapshot gets J1 for free — the counts only
  *      REPORT deletions).
  *
  * The previous snapshot's dir metadata never moves through the
  * driver whole: the walker ships per-seed slices to the walking
  * tasks (see [[Walker.rescan]]). The driver holds at most
  * [[Walker.DeltaSetLimit]] entries of the change per walking task.
  */
object Incremental {

  final case class ChangeSummary(
      prefixes_unchanged: Long,
      prefixes_changed: Long,
      prefixes_added: Long,
      prefixes_deleted: Long,
      files_rescanned: Long,
      files_reused: Long,
      files_deleted: Long)

  /** @param errors the walk's [[graft.model.ScanError]] rows (a dir
    *   that vanished or could not be listed), cached by the same job
    *   as `entries`
    * @param cached the cached frames `entries` and `errors` read;
    *   [[release]] drops them once the snapshot is written */
  final case class Result(entries: DataFrame, summary: ChangeSummary, errors: DataFrame)(
      cached: Seq[DataFrame] = Nil) {
    /** Drop the rescan's caches (snapshot-sized); `entries` and
      * `errors` recompute the walk if read after this. */
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** The previous snapshot's dir rows in the walker's DirMeta shape —
    * stays a DataFrame; the walker ships per-seed slices of it to
    * executors (no driver collect of the full index). */
  def prevDirFrame(prev: DataFrame): DataFrame =
    prev.where(col("is_dir"))
      .select(col("path"), col("parent"),
        unix_millis(col("mod_time")).as("mt_ms"),
        col("mode"), col("n_entries"))

  // the `src` tag of a cached snapshot row
  private val Walked = 0
  private val Reused = 1
  private val Rescanned = 2
  private val Deleted = 3
  private val Errors = 4 // not a row tag: counts the walk's error rows

  /** Re-scan `root` against the previous snapshot's entries. */
  def rescan(spark: SparkSession, root: String, prev: DataFrame,
      exclusions: Seq[String] = Nil, seedDepth: Int = 2): Result =
    rescan(spark, root, prev, exclusions, seedDepth, Walker.DeltaSetLimit)

  /** [[rescan]] with the most entries the change's sets may hold
    * ([[Walker.DeltaSetLimit]]) given. */
  private[ingest] def rescan(spark: SparkSession, root: String, prev: DataFrame,
      exclusions: Seq[String], seedDepth: Int, setLimit: Int): Result = {
    import spark.implicits._
    val w = Walker.rescan(spark, root, prevDirFrame(prev), exclusions, seedDepth, setLimit)
    val d = w.delta
    val walked = w.records.flatMap(_.entry).toDF()
    val prevFiles = prev.where(!col("is_dir"))

    // Per previous file row: its parent is stale, its path was walked
    // again, and the fresh link count of a walked link to the same
    // (device, inode) — from literal sets when the change is small,
    // else from joins against the walk's cached output.
    val (tagged, stale, rewalked, fresh) = d.sets match {
      case Some(s) =>
        val fresh =
          if (s.freshNlink.isEmpty) lit(null)
          else when(col("inode").isin(s.freshNlink.keys.map(_._2).toSeq.distinct: _*),
            try_element_at(typedLit(s.freshNlink),
              struct(col("device").as("_1"), col("inode").as("_2"))))
        (prevFiles, col("parent").isin(s.staleDirs.toSeq: _*),
          col("path").isin(s.walkedFiles.toSeq: _*), fresh)
      case None =>
        val files = walked.where(!col("is_dir"))
        val joined = prevFiles
          .join(w.staleDirs.toDF("parent").withColumn("_stale", lit(true)),
            Seq("parent"), "left")
          .join(files.select(col("path"), lit(true).as("_rewalked")), Seq("path"), "left")
          .join(files.where(col("nlink") > 1).groupBy(col("device"), col("inode"))
            .agg(max(col("nlink")).as("_fresh")), Seq("device", "inode"), "left")
        (joined, col("_stale").isNotNull, col("_rewalked").isNotNull, col("_fresh"))
    }
    // A new link in a changed dir to a file of a reused dir raises the
    // file's link count, which only the walked link saw: reused rows
    // take the fresh nlink, so Stats' hardlink canonicalization sees
    // the whole group. Every file row's parent is a dir row of its
    // snapshot, so a row whose parent is not stale lies in a reused dir.
    val src = when(!stale, Reused).when(rewalked, Rescanned).otherwise(Deleted)
    val rows = walked.withColumn("src", lit(Walked))
      .unionByName(tagged.select(walked.columns.toSeq.map(c =>
        if (c == "nlink") coalesce(fresh, col("nlink")).as(c) else col(c)) :+
        src.as("src"): _*))
      .persist()
    val errors = w.records.flatMap(_.error).toDF().persist()
    // the one job: fills both caches and counts the previous rows by tag
    val bySrc = rows.select(col("src")).as[Int].rdd
      .union(errors.select(lit(Errors)).as[Int].rdd)
      .aggregate(new Array[Long](5))((a, s) => { a(s) += 1; a },
        (a, b) => { a.indices.foreach(i => a(i) += b(i)); a })
    w.walk.unpersist(blocking = false)

    val summary = ChangeSummary(
      prefixes_unchanged = d.reusedDirs,
      prefixes_changed = d.changedDirs,
      prefixes_added = d.walkedDirs - d.changedDirs,
      prefixes_deleted = d.staleDirs - d.changedDirs,
      files_rescanned = d.walkedFiles,
      files_reused = bySrc(Reused),
      files_deleted = bySrc(Deleted))
    Result(rows.where(col("src") <= Reused).drop("src"), summary, errors)(Seq(rows, errors))
  }
}
