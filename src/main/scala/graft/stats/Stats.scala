package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The reference's main query pipeline (`idu stats compute`,
  * stats.go:115-168 → stats/totals.go:150-209 → report_stats.go):
  * filtered totals, per-user/per-group totals, and bounded top-N
  * rankings — as declarative DataFrame aggregations.
  *
  * Matching semantics replicated exactly (totals.go:150-209):
  *   - a PREFIX (directory) that matches the expression contributes
  *     `prefixes`, its own `size` to `bytes` AND `prefix_bytes`, and
  *     calc(size, blocks) to `storage_bytes`;
  *   - ENTRIES are counted only when their parent prefix matched AND
  *     the entry itself matches: child dirs → `sub_prefixes`; duplicate
  *     hardlinks → `hardlinks` (bytes NOT added); files → `files`,
  *     `bytes`, `storage_bytes`.
  *
  * Hardlink canonicalization: the reference counts the first
  * (device, inode) seen during an UNORDERED concurrent scan — which
  * link survives is nondeterministic (SURVEY.md §2.3 J4). We define
  * the canonical link as the lexicographically-least path, computed
  * with one window — a documented, deterministic improvement.
  *
  * Scale: one pass per artifact. The contribution rows are built once
  * (one semi-join of entries against matched prefixes, broadcast when
  * the matched-prefix set is small and shuffled otherwise — left to
  * AQE) and summed by ONE grouping-sets aggregation over (uid, gid,
  * prefix) whose six sets, tagged by `grouping_id()`, are the six
  * frames. That aggregate, local-checkpointed, IS the result: one
  * table the artifact persists as is, and every frame is a filter of
  * it. Nothing is collected; one zero contribution row guarantees the
  * one-row totals of an empty input. Top-N compiles to
  * TakeOrderedAndProject.
  */
object Stats {

  /** The six stats frames as ONE table: the grouping-sets aggregate,
    * one row per (set, key) with the set's `grouping_id()` in `gset`
    * and its rolled-up keys null ([[TableSchema]]). Each frame is a
    * slice of it; the artifact persists it as is. */
  final case class Computed(table: DataFrame) {
    /** single row: global totals (reference Totals struct, totals.go:17-27) */
    def totals: DataFrame = slice(table, Nil)
    /** one row per uid */
    def perUser: DataFrame = slice(table, Seq("uid"))
    /** one row per gid */
    def perGroup: DataFrame = slice(table, Seq("gid"))
    /** one row per prefix (input to rankings; reference computes these
      * per-prefix folds as heap inputs, report_stats.go:231-245) */
    def perPrefix: DataFrame = slice(table, Seq("prefix"))
    /** one row per (uid, prefix) — feeds the per-user report file
      * trees (reference PerIDStats, report_stats.go:34-39, consumed
      * by writeReportFiles, reports.go:128-229) */
    def perUserPrefix: DataFrame = slice(table, Seq("uid", "prefix"))
    /** one row per (gid, prefix) */
    def perGroupPrefix: DataFrame = slice(table, Seq("gid", "prefix"))
  }

  // sum() over zero rows is NULL in SQL; the reference's zero-value
  // Totals struct means empty must aggregate to 0 (totals.go:17-27).
  private def zsum(c: Column): Column = coalesce(sum(c), lit(0L))

  /** (metric name, per-contrib-row value) — every stats metric is a
    * conditional SUM, i.e. an abelian-group aggregate: a delta merge
    * `prev − old + new` of them is exact. */
  private val aggSpecs: Seq[(String, Column)] = Seq(
    "prefixes" -> when(col("is_prefix_row"), 1L).otherwise(0L),
    "sub_prefixes" -> when(!col("is_prefix_row") && col("is_dir"), 1L).otherwise(0L),
    "files" -> when(!col("is_prefix_row") && !col("is_dir") && col("is_canonical"), 1L).otherwise(0L),
    "hardlinks" -> when(!col("is_prefix_row") && !col("is_dir") && !col("is_canonical"), 1L).otherwise(0L),
    "bytes" -> when(col("is_prefix_row") || (!col("is_dir") && col("is_canonical")), col("size")).otherwise(0L),
    "prefix_bytes" -> when(col("is_prefix_row"), col("size")).otherwise(0L),
    "storage_bytes" -> when(col("is_prefix_row") || (!col("is_dir") && col("is_canonical")), col("storage")).otherwise(0L))

  private[graft] val metricNames: Seq[String] = aggSpecs.map(_._1)

  private val aggCols: Seq[Column] =
    aggSpecs.map { case (n, e) => zsum(e).as(n) }

  /** Compute all stats frames for one expression over the fact table.
    *
    * @param files the FileEntry fact table (see graft.model.FileEntry)
    * @param prefixMatch predicate applied to directory rows (the
    *   reference's `Matcher.Prefix`)
    * @param entryMatch predicate applied to entry rows (the reference's
    *   `Matcher.Entry`); pass `lit(true)` for match-all
    * @param countHardlinkDupsAsFiles reference config
    *   `CountHardlinkAsFiles` (stats.go:126): when true, every link
    *   counts bytes; when false only the canonical link does
    */
  def compute(
      files: DataFrame,
      prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true),
      calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Computed = {
    val contrib = contribOf(files, prefixMatch, entryMatch, calc,
      countHardlinkDupsAsFiles)
    Computed(aggregateSets(contrib.unionByName(zeroRow(contrib)), aggCols)
      .where(kept).localCheckpoint(eager = false))
  }

  /** One contribution row that adds zero to every metric (null flags,
    * zero sizes) and lands in each set's null-key group. [[kept]]
    * drops those groups except the () set's, so the table holds the
    * reference's zero-value totals row (totals.go:17-27) even when
    * nothing matches. */
  private def zeroRow(contrib: DataFrame): DataFrame =
    contrib.sparkSession.range(0, 1, 1, 1).select(contrib.schema.map { f =>
      (if (f.name == "size" || f.name == "storage") lit(0L) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  /** Every contribution row counts once in exactly one of prefixes,
    * sub_prefixes, files and hardlinks, so a real group has a positive
    * count; a group without (a zero row's) is dropped — except the ()
    * set's, which always stays. */
  private def kept: Column = col("gset") === gsetOf(Nil) ||
    col("prefixes") + col("sub_prefixes") + col("files") + col("hardlinks") > 0

  /** The grouping keys of [[Computed]]'s six frames, in field order. */
  private val keyCols: Seq[String] = Seq("uid", "gid", "prefix")
  private[graft] val frameKeys: Seq[Seq[String]] = Seq(Nil, Seq("uid"), Seq("gid"),
    Seq("prefix"), Seq("uid", "prefix"), Seq("gid", "prefix"))

  /** The schema of [[Computed.table]] and of the persisted artifact. */
  val TableSchema: StructType = StructType(
    Seq(StructField("gset", LongType), StructField("uid", LongType),
      StructField("gid", LongType), StructField("prefix", StringType)) ++
      metricNames.map(StructField(_, LongType)))

  /** `grouping_id()` of the set grouped by `keys`: bit i is set when
    * key i of [[keyCols]] is rolled up. */
  private[graft] def gsetOf(keys: Seq[String]): Long =
    keyCols.foldLeft(0L)((id, k) => id * 2 + (if (keys.contains(k)) 0 else 1))

  /** One aggregation for all six frames: grouping sets over (uid, gid,
    * prefix), each output row tagged with its set in `gset`. */
  private def aggregateSets(contrib: DataFrame, metrics: Seq[Column]): DataFrame =
    contrib.groupingSets(frameKeys.map(_.map(col)), keyCols.map(col): _*)
      .agg(grouping_id().cast(LongType).as("gset"), metrics: _*)
      .select(TableSchema.fieldNames.toSeq.map(col): _*)

  /** The frame grouped by `keys`, in [[Computed]]'s column order. */
  private def slice(table: DataFrame, keys: Seq[String]): DataFrame =
    table.where(col("gset") === gsetOf(keys)).select((keys ++ metricNames).map(col): _*)

  /** Frame `f`, grouped by `keys`, in [[TableSchema]]'s shape: tagged
    * with its set, rolled-up keys null. */
  private[stats] def tagged(f: DataFrame, keys: Seq[String]): DataFrame =
    f.select(TableSchema.fields.toSeq.map { c =>
      if (c.name == "gset") lit(gsetOf(keys)).as("gset")
      else if (keyCols.contains(c.name) && !keys.contains(c.name))
        lit(null).cast(c.dataType).as(c.name)
      else col(c.name)
    }: _*)

  /** The per-contribution-row frame every stats aggregate sums over:
    * each matched prefix's own row, and each row whose parent is a
    * matched prefix and which itself passes `entryMatch` (dirs count
    * as sub_prefixes). */
  private def contribOf(
      files: DataFrame,
      prefixMatch: Column,
      entryMatch: Column,
      calc: Calculator,
      countHardlinkDupsAsFiles: Boolean): DataFrame = {

    // Canonical-hardlink flag: first (device, inode) by path order.
    // Only linked files (nlink > 1, typically ≪1% of rows) pay the
    // (device, inode) shuffle for the window; dirs, which cannot be
    // hard-linked, and single links are canonical by definition and
    // go around it.
    val withCanon =
      if (countHardlinkDupsAsFiles) files.withColumn("is_canonical", lit(true))
      else {
        val linked = coalesce(!col("is_dir") && col("nlink") > 1, lit(false))
        val linkRank = row_number().over(
          Window.partitionBy(col("device"), col("inode")).orderBy(col("path")))
        files.where(!linked).withColumn("is_canonical", lit(true))
          .unionByName(files.where(linked).withColumn("is_canonical", linkRank === 1))
      }

    val matchedDirs = files.where(col("is_dir") && prefixMatch)
    val prefixRows = matchedDirs
      .withColumn("is_canonical", lit(true))
      .withColumn("is_prefix_row", lit(true))
      .withColumn("prefix", col("path"))
    val entryRows = withCanon
      .where(entryMatch)
      .join(matchedDirs.select(col("path").as("prefix_path")),
        col("parent") === col("prefix_path"), "left_semi")
      .withColumn("is_prefix_row", lit(false))
      .withColumn("prefix", col("parent"))
    prefixRows.unionByName(entryRows)
      .withColumn("storage", calc(col("size"), col("blocks")))
      .select(col("prefix"), col("uid"), col("gid"), col("is_prefix_row"),
        col("is_dir"), col("is_canonical"), col("size"), col("storage"))
  }

  /** The §2.8 changed-prefix set between two snapshots: dir rows
    * added, deleted, or with differing (mod_time, mode, n_entries) —
    * the same POSIX contract the incremental WALKER relies on (an
    * unchanged dir implies an unchanged child list,
    * ingest/Incremental.scala), so any entry-row difference implies
    * its parent appears here. One aggregation over the union of the
    * two dir slices: a path is unchanged when both sides hold it with
    * one signature. @return a one-column `prefix` frame. */
  def changedPrefixesOf(prevFiles: DataFrame, files: DataFrame): DataFrame = {
    def dirs(f: DataFrame, side: Int) = f.where(col("is_dir"))
      .select(col("path").as("prefix"), lit(side).as("side"),
        struct(col("mod_time"), col("mode"), col("n_entries")).as("sig"))
    dirs(prevFiles, 0).unionByName(dirs(files, 1))
      .groupBy(col("prefix"))
      .agg(min(col("side")).as("lo"), max(col("side")).as("hi"),
        min(col("sig")).as("sig_lo"), max(col("sig")).as("sig_hi"))
      .where(col("lo") === col("hi") || col("sig_lo") =!= col("sig_hi"))
      .select(col("prefix"))
  }

  /** Incremental `stats compute` (reference contract analyze.go:
    * 226-243 applied to the STATS layer, SURVEY.md §2.8): the stats of
    * `files` given the previous snapshot `prevFiles`, its stats `prev`
    * and the changed-prefix set between them (e.g.
    * [[changedPrefixesOf]]). The result equals [[compute]] of `files`,
    * hardlink canonicalization and filters included.
    *
    * Scale shape: it IS [[compute]] of `files` — one contribution pass
    * and one grouping-sets aggregation; `prev`, `prevFiles` and
    * `changedPrefixes` are not read. A delta merge (`prev − old + new`
    * over the changed prefixes, exact since every metric is a
    * conditional SUM, [[aggSpecs]]) still scans both snapshots to find
    * the changed rows and shuffles the whole previous table to merge
    * them; on the one measured workload (perfbench's `tree_flow`) it
    * ran more jobs and took longer than this one pass. It can pay only
    * once the layout prunes by prefix (ROADMAP item 1), and only on a
    * workload that shows where it wins. */
  def computeIncremental(
      prev: Computed,
      prevFiles: DataFrame,
      files: DataFrame,
      changedPrefixes: DataFrame,
      prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true),
      calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Computed =
    compute(files, prefixMatch, entryMatch, calc, countHardlinkDupsAsFiles)

  /** K2: the reference's five ranked metrics, in the order the report
    * tree ranks prefixes by them (`cli.Main` reports). */
  val rankedMetrics: Seq[String] =
    Seq("bytes", "storage_bytes", "prefix_bytes", "files", "prefixes")
}
