package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Bfs

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
    * conditional SUM, i.e. an abelian-group aggregate: the property
    * [[computeIncremental]]'s add/subtract merge relies on. */
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

  /** [[aggCols]] with every term multiplied by the row's `sign`
    * column — the ±1 delta aggregation of [[computeIncremental]]. */
  private val signedAggCols: Seq[Column] =
    aggSpecs.map { case (n, e) => zsum(e * col("sign")).as(n) }

  /** Sums of already-aggregated metric columns — the merge of
    * [[computeIncremental]]. */
  private val aggMergeCols: Seq[Column] = metricNames.map(m => zsum(col(m)).as(m))

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
      countHardlinkDupsAsFiles, onlyPrefixes = None)
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
    * count; a group without (a zero row's, or one whose contributions
    * all cancelled in an incremental merge) is dropped — except the ()
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

  /** The per-contribution-row frame every stats aggregate sums over.
    * `onlyPrefixes` (a one-column `prefix` frame and its row count)
    * restricts matched prefixes to the given set AFTER hardlink
    * canonicality is decided over the FULL input — the restriction the
    * incremental path needs (canonical choice must not depend on which
    * prefixes changed). */
  private def contribOf(
      files: DataFrame,
      prefixMatch: Column,
      entryMatch: Column,
      calc: Calculator,
      countHardlinkDupsAsFiles: Boolean,
      onlyPrefixes: Option[(DataFrame, Long)]): DataFrame = {

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

    // Matched prefixes: dir rows passing prefixMatch, restricted to
    // the changed set on the incremental path; their own rows are the
    // prefix contributions. Restricted, the matched set is no larger
    // than the changed set, so both broadcast when that is small.
    def bounded(df: DataFrame) = onlyPrefixes.fold(df) { case (_, n) => Bfs.bcastIfSmall(df, n) }
    val matchedDirs = files.where(col("is_dir") && prefixMatch)
    val prefixDirs = onlyPrefixes.fold(matchedDirs) { case (p, _) =>
      matchedDirs.join(bounded(p.select(col("prefix").as("path"))), Seq("path"), "left_semi")
    }
    val prefixRows = prefixDirs
      .withColumn("is_canonical", lit(true))
      .withColumn("is_prefix_row", lit(true))
      .withColumn("prefix", col("path"))

    // Entry rows: any row whose parent is a matched prefix and which
    // itself passes entryMatch (dirs count as sub_prefixes).
    val entryRows = withCanon
      .where(entryMatch)
      .join(bounded(prefixDirs.select(col("path").as("prefix_path"))),
        col("parent") === col("prefix_path"), "left_semi")
      .withColumn("is_prefix_row", lit(false))
      .withColumn("prefix", col("parent"))

    prefixRows.unionByName(entryRows)
      .withColumn("storage", calc(col("size"), col("blocks")))
      .select(col("prefix"), col("uid"), col("gid"), col("is_prefix_row"),
        col("is_dir"), col("is_canonical"), col("size"), col("storage"))
  }

  /** Materialize a frame that is small by the incremental contract.
    * The count that fills the checkpoint also decides whether joins
    * may broadcast it ([[Bfs.bcastIfSmall]]): the planner has no size
    * estimate for a checkpoint, and without the hint it shuffles both
    * join sides before AQE can switch to a broadcast.
    * @return the frame and its row count */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.count())
  }

  /** The §2.8 changed-prefix set between two snapshots: dir rows
    * added, deleted, or with differing (mod_time, mode, n_entries) —
    * the same POSIX contract the incremental WALKER relies on (an
    * unchanged dir implies an unchanged child list,
    * ingest/Incremental.scala), so any entry-row difference implies
    * its parent appears here. One full-outer join of the two dir
    * slices. @return a one-column `prefix` frame. */
  def changedPrefixesOf(prevFiles: DataFrame, files: DataFrame): DataFrame = {
    def dirs(f: DataFrame, tag: String) = f.where(col("is_dir"))
      .select(col("path").as("prefix"),
        struct(col("mod_time"), col("mode"), col("n_entries"))
          .as(s"__sig_$tag"))
    dirs(prevFiles, "a").join(dirs(files, "b"), Seq("prefix"), "full_outer")
      .where(col("__sig_a").isNull || col("__sig_b").isNull ||
        col("__sig_a") =!= col("__sig_b"))
      .select(col("prefix"))
  }

  /** Incremental `stats compute` (reference contract analyze.go:
    * 226-243 applied to the STATS layer, SURVEY.md §2.8): merge the
    * previous artifact's six frames with recomputed contributions for
    * the CHANGED prefixes only — the base table's unchanged prefixes
    * are never re-aggregated. Every metric is a conditional SUM
    * ([[aggSpecs]]), so the merge is exact:
    * `new_state = prev_state − contrib_old(changed) + contrib_new(changed)`.
    *
    * Hardlink exactness: with `countHardlinkDupsAsFiles = false` the
    * canonical link of a (device, inode) group can FLIP to a link in
    * an UNCHANGED prefix when a changed prefix's link disappears, so
    * the changed set auto-expands with every prefix holding a link of
    * a group that any changed prefix touches (two semi-joins over the
    * linked-file sliver). Canonicality itself is always decided over
    * the FULL snapshot, exactly as [[compute]] does.
    *
    * Scale shape: one dir-slice full-outer join (changed-set
    * discovery is the caller's if it has walker `reused` flags —
    * [[changedPrefixesOf]] otherwise), materialized with the expanded
    * set and broadcast into two restricted contrib scans bounded by
    * the changed prefixes' entry rows; ONE ±1-signed grouping-sets
    * aggregate of those rows (as in [[compute]]); then ONE union of
    * the previous table with the delta, summed per (set, key) — one
    * merge for all six frames, keyed like the state. An
    * unchanged-corpus rescan aggregates zero contrib rows. */
  def computeIncremental(
      prev: Computed,
      prevFiles: DataFrame,
      files: DataFrame,
      changedPrefixes: DataFrame,
      prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true),
      calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Computed = {
    // hardlink-group expansion (see scaladoc). The changed set and the
    // linked-file rows are tiny by the incremental contract; each is
    // materialized once and broadcast into the semi-joins below, and
    // the expanded set feeds both restricted contribution scans.
    // Duplicates in it are harmless: it only feeds semi-joins.
    val (changedCp, nChanged) = materialize(changedPrefixes)
    val changed =
      if (countHardlinkDupsAsFiles) (changedCp, nChanged)
      else {
        val linked = !col("is_dir") && col("nlink") > 1
        val (multi, nMulti) = materialize(
          prevFiles.where(linked).unionByName(files.where(linked))
            .select(col("parent"), col("device"), col("inode")))
        val touched = multi.join(
          Bfs.bcastIfSmall(changedCp.select(col("prefix").as("parent")), nChanged),
          Seq("parent"), "left_semi")
        val extra = multi.join(Bfs.bcastIfSmall(touched, nMulti),
          Seq("device", "inode"), "left_semi")
          .select(col("parent").as("prefix"))
        materialize(changedCp.unionByName(extra))
      }
    // the two restricted contribution frames, ±1-signed, in one
    // grouping-sets aggregate
    val oldC = contribOf(prevFiles, prefixMatch, entryMatch, calc,
      countHardlinkDupsAsFiles, Some(changed)).withColumn("sign", lit(-1L))
    val newC = contribOf(files, prefixMatch, entryMatch, calc,
      countHardlinkDupsAsFiles, Some(changed)).withColumn("sign", lit(1L))
    val delta = aggregateSets(newC.unionByName(oldC), signedAggCols)

    // one merge of prev's table and the delta, keyed like the state
    Computed(prev.table.unionByName(delta)
      .groupBy(("gset" +: keyCols).map(col): _*)
      .agg(aggMergeCols.head, aggMergeCols.tail: _*)
      .where(kept)
      .localCheckpoint(eager = false))
  }

  /** K1/K2: top-N prefixes by one metric (reference heap.MinMax
    * PushMaxN) — TakeOrderedAndProject, not a global sort. */
  def topPrefixes(perPrefix: DataFrame, metric: String, n: Int): DataFrame =
    perPrefix.orderBy(desc(metric), asc("prefix")).limit(n)

  /** K2: the reference's five ranked metrics in one pass over the
    * already-aggregated per-prefix frame. */
  val rankedMetrics: Seq[String] =
    Seq("bytes", "storage_bytes", "prefix_bytes", "files", "prefixes")

  /** K3: top-N prefixes for EACH uid (reference PerIDStats,
    * report_stats.go:34-39,169-182) — window per id, no global sort. */
  def topPrefixesPerId(files: DataFrame, idCol: String, metric: String,
      n: Int, calc: Calculator = Calculator.Identity): DataFrame = {
    val perIdPrefix = files
      .where(!col("is_dir"))
      .withColumn("storage", calc(col("size"), col("blocks")))
      .groupBy(col(idCol), col("parent").as("prefix"))
      .agg(count(lit(1)).as("files"), sum(col("size")).as("bytes"),
        sum(col("storage")).as("storage_bytes"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc(metric), asc("prefix"))
    perIdPrefix.withColumn("rk", row_number().over(w)).where(col("rk") <= n)
  }

  /** K4: top-N users/groups overall by a metric. */
  def topIds(perId: DataFrame, idCol: String, metric: String, n: Int): DataFrame =
    perId.orderBy(desc(metric), asc(idCol)).limit(n)
}
