package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental re-scan (reference analyze.go:226-243,313-331,383-424,
  * SURVEY.md §2.8): a prefix whose (mod_time, mode) is unchanged since
  * the previous snapshot reuses its stored FILE rows — only
  * directories are re-statted, skipping the per-file lstat fan-out
  * that dominates scan cost (reference README.md:13-15).
  *
  * Plan shape:
  *   1. walk the tree statting DIRS always; under unchanged dirs the
  *      walker neither lists nor stats children (POSIX dir mtime
  *      changes whenever a child is created/renamed/deleted, so an
  *      unchanged dir implies an unchanged child list — the contract
  *      the reference relies on, prefixinfo.go:110-116);
  *   2. file rows of unchanged dirs come from the previous snapshot
  *      via a semi-join — no filesystem I/O;
  *   3. deletions need no explicit purge: the snapshot is rebuilt from
  *      the live walk, so vanished subtrees simply don't appear (the
  *      reference's DeletePrefix exists because it mutates a KV store;
  *      an immutable snapshot gets J1 for free — the anti-join below
  *      only REPORTS deletions).
  *
  * The previous snapshot's dir metadata never moves through the
  * driver: the walker keys each dir row by its seed-ancestor path and
  * shuffles per-seed slices directly to the walking tasks — at 10⁹
  * files / ~10⁷ dirs each task holds only its own subtree's index
  * (see Walker.walk's prevDirs path).
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

  final case class Result(entries: DataFrame, summary: ChangeSummary)

  /** The previous snapshot's dir rows in the walker's DirMeta shape —
    * stays a DataFrame; the walker ships per-seed slices of it to
    * executors (no driver collect of the full index). */
  def prevDirFrame(prev: DataFrame): DataFrame =
    prev.where(col("is_dir"))
      .select(col("path"), col("parent"),
        unix_millis(col("mod_time")).as("mt_ms"),
        col("mode"), col("n_entries"))

  /** Re-scan `root` against the previous snapshot's entries. */
  def rescan(spark: SparkSession, root: String, prev: DataFrame,
      exclusions: Seq[String] = Nil, seedDepth: Int = 2): Result = {
    val walked = Walker.walk(spark, root, exclusions, seedDepth,
      prevDirs = Some(prevDirFrame(prev)))
    walked.records.cache()
    val entries = walked.entriesWithReuse.cache()

    // Reused dirs take their file rows from the previous snapshot. A
    // new link in a changed dir to a file of a reused dir raises the
    // file's link count, which only the walked link saw: reused rows
    // take the fresh nlink of any walked link to the same (device,
    // inode), so Stats' hardlink canonicalization sees the whole group.
    val reusedDirs = entries.where(col("is_dir") && col("reused"))
      .select(col("path").as("parent"))
    val freshNlink = entries.where(!col("is_dir") && col("nlink") > 1)
      .groupBy(col("device"), col("inode")).agg(max(col("nlink")).as("fresh_nlink"))
    val reusedFiles = prev.where(!col("is_dir"))
      .join(reusedDirs, Seq("parent"), "left_semi")
      .join(freshNlink, Seq("device", "inode"), "left")
      .withColumn("nlink", coalesce(col("fresh_nlink"), col("nlink")))
    val walkCols = entries.drop("reused").columns.toIndexedSeq
    val full = entries.drop("reused")
      .unionByName(reusedFiles.select(walkCols.map(col): _*))

    // the seven counts in one aggregation over a full-outer join of
    // the current rows (walked or reused) and the previous ones
    def n(c: Column): Column = count(when(c, 1))
    val isNow = col("src").isNotNull
    val counts = entries.select(col("path"), col("is_dir"), col("reused"), lit("walk").as("src"))
      .unionByName(reusedFiles.select(col("path"), col("is_dir"),
        lit(null).cast("boolean").as("reused"), lit("reuse").as("src")))
      .join(prev.select(col("path"), col("is_dir"), lit(true).as("before")),
        Seq("path", "is_dir"), "full_outer")
      .agg(
        n(col("is_dir") && col("reused")),
        n(col("is_dir") && isNow),
        n(col("is_dir") && isNow && col("before").isNull),
        n(col("is_dir") && !isNow),
        n(!col("is_dir") && col("src") === "walk"),
        n(!col("is_dir") && col("src") === "reuse"),
        n(!col("is_dir") && !isNow))
      .head()
    val summary = ChangeSummary(
      prefixes_unchanged = counts.getLong(0),
      prefixes_changed = counts.getLong(1) - counts.getLong(0) - counts.getLong(2),
      prefixes_added = counts.getLong(2),
      prefixes_deleted = counts.getLong(3),
      files_rescanned = counts.getLong(4),
      files_reused = counts.getLong(5),
      files_deleted = counts.getLong(6))
    Result(full, summary)
  }
}
