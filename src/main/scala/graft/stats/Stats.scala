package graft.stats

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.LocalGraph

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
  * the canonical link as the lexicographically-least path (one window,
  * or one pass over the linked rows on the driver) — a documented,
  * deterministic improvement.
  *
  * Scale: a snapshot of at most [[Stats.RowLimit]] rows is folded on
  * the DRIVER (the graph loops' rule, `ops.LocalGraph`): one bounded
  * collect of its stats columns, packed into column arrays in the
  * task, then a plain-Scala fold with the rules above, and the
  * six-set table back as a one-partition local relation, so the
  * artifact is still one part file. Below the bound a full or an
  * incremental compute is that one job; nothing is checkpointed.
  * Above it (the collect stops after `RowLimit + 1` rows) the
  * distributed plan runs: the contribution rows are built once (one
  * semi-join of entries against matched prefixes, broadcast when the
  * matched-prefix set is small and shuffled otherwise — left to AQE)
  * and summed by ONE grouping-sets aggregation over (uid, gid,
  * prefix) whose six sets, tagged by `grouping_id()`, are the six
  * frames. That aggregate, local-checkpointed, IS the result: one
  * table the artifact persists as is, and every frame is a filter of
  * it. One zero contribution row guarantees the one-row totals of an
  * empty input. Top-N compiles to TakeOrderedAndProject.
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

  /** Most snapshot rows [[compute]] folds on the driver; above it the
    * distributed plan runs. Set from a same-session A/B of both paths,
    * artifact write included (SCALE.md, `Stats.RowLimit`): the driver
    * path's cost grows with the output table as well as the input. At
    * 10⁵ rows it was 1.9× faster on a tree whose dirs each have one
    * owner and about even on one whose files' owners are mixed (1.4
    * output rows per input row); at 3·10⁵ rows it was even on the
    * first, and slower above that. */
  val RowLimit: Long = 100000L

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
      countHardlinkDupsAsFiles: Boolean = false): Computed =
    compute(files, prefixMatch, entryMatch, calc, countHardlinkDupsAsFiles, RowLimit)

  /** [[compute]], on the driver when `files` has at most `rowLimit`
    * rows (0 forces the distributed path). */
  private[graft] def compute(files: DataFrame, prefixMatch: Column, entryMatch: Column,
      calc: Calculator, countHardlinkDupsAsFiles: Boolean, rowLimit: Long): Computed =
    LocalGraph.bounded(statsColumns(files, prefixMatch, entryMatch, calc,
        countHardlinkDupsAsFiles), rowLimit)(pack)
      .map(c => Computed(files.sparkSession.createDataFrame(fold(c).asJava, TableSchema)
        .coalesce(1)))
      .getOrElse {
        val contrib = contribOf(files, prefixMatch, entryMatch, calc,
          countHardlinkDupsAsFiles)
        Computed(aggregateSets(contrib.unionByName(zeroRow(contrib)), aggCols)
          .where(kept).localCheckpoint(eager = false))
      }

  /** The columns the driver fold reads, in [[pack]]'s order: path,
    * parent, is_dir, uid, gid, size, storage, device, inode, then the
    * linked, matched-dir and entry-match flags with null as false. */
  private def statsColumns(files: DataFrame, prefixMatch: Column, entryMatch: Column,
      calc: Calculator, countHardlinkDupsAsFiles: Boolean): DataFrame = {
    val linked =
      if (countHardlinkDupsAsFiles) lit(false)
      else coalesce(!col("is_dir") && col("nlink") > 1, lit(false))
    files.select(col("path"), col("parent"), col("is_dir"),
      col("uid").cast(LongType), col("gid").cast(LongType), col("size").cast(LongType),
      calc(col("size"), col("blocks")).cast(LongType),
      col("device").cast(LongType), col("inode").cast(LongType), linked,
      coalesce(col("is_dir") && prefixMatch, lit(false)), coalesce(entryMatch, lit(false)))
  }

  // the per-row flags of [[Columns]]
  private final val Dir = 1
  private final val Linked = 2
  private final val MatchedDir = 4
  private final val EntryMatch = 8
  private final val NullUid = 16
  private final val NullGid = 32
  private final val NullDevice = 64
  private final val NullInode = 128

  /** A snapshot's stats columns, one array per column. Strings travel
    * as codes into one table of distinct UTF-8 strings (`bytes`, cut at
    * `offsets`; -1 is null), and only where the fold reads them: the
    * path of a matched dir or a linked row, the parent of a row that
    * passes `entryMatch`. A dir's path is its files' parent, so the
    * table holds about one string per dir. */
  private final class Columns(val bytes: Array[Byte], val offsets: Array[Int],
      val path: Array[Int], val parent: Array[Int], val flags: Array[Int],
      val uid: Array[Long], val gid: Array[Long], val size: Array[Long],
      val storage: Array[Long], val device: Array[Long], val inode: Array[Long])
      extends Serializable {
    def utf8(code: Int): UTF8String =
      if (code < 0) null
      else UTF8String.fromBytes(bytes, offsets(code), offsets(code + 1) - offsets(code))
  }

  /** [[statsColumns]]' rows as [[Columns]], in the collect's task. A
    * null size or storage adds nothing to a SUM, so it packs as 0; a
    * row whose `is_dir` is null is left out, since it matches no
    * prefix, is linked to nothing and adds 0 to every metric. */
  private def pack(rows: Iterator[InternalRow]): Columns = {
    val codes = new java.util.HashMap[UTF8String, Integer]
    val bytes = new java.io.ByteArrayOutputStream
    val offsets = new mutable.ArrayBuilder.ofInt
    offsets += 0
    def code(r: InternalRow, i: Int): Int =
      if (r.isNullAt(i)) -1
      else {
        val s = r.getUTF8String(i)
        val c = codes.get(s)
        if (c != null) c
        else {
          val b = s.getBytes // a copy: the row's buffer is reused
          val next = codes.size
          codes.put(UTF8String.fromBytes(b), next)
          bytes.write(b)
          offsets += bytes.size
          next
        }
      }
    val path, parent, flags = new mutable.ArrayBuilder.ofInt
    val longs = Array.fill(6)(new mutable.ArrayBuilder.ofLong)
    val nullFlags = Array(NullUid, NullGid, 0, 0, NullDevice, NullInode)
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        var f = (if (r.getBoolean(2)) Dir else 0) | (if (r.getBoolean(9)) Linked else 0) |
          (if (r.getBoolean(10)) MatchedDir else 0) | (if (r.getBoolean(11)) EntryMatch else 0)
        path += (if ((f & (MatchedDir | Linked)) != 0) code(r, 0) else -1)
        parent += (if ((f & EntryMatch) != 0) code(r, 1) else -1)
        var i = 0
        while (i < 6) {
          if (r.isNullAt(i + 3)) { f |= nullFlags(i); longs(i) += 0L }
          else longs(i) += r.getLong(i + 3)
          i += 1
        }
        flags += f
      }
    }
    val Array(uid, gid, size, storage, device, inode) = longs.map(_.result())
    new Columns(bytes.toByteArray, offsets.result(), path.result(), parent.result(),
      flags.result(), uid, gid, size, storage, device, inode)
  }

  /** A group key of the six sets: ids, and the prefix's string code;
    * a rolled-up or null key is null (-1 for the prefix). */
  private final case class Key(uid: java.lang.Long, gid: java.lang.Long, prefix: Int)

  /** The distributed plan's table, row for row, folded on the driver:
    *   - matched dirs are the rows with `is_dir && prefixMatch`;
    *   - a linked row is canonical when it has the least path (Spark's
    *     UTF-8 byte order, null first) among the linked rows of its
    *     (device, inode), taken before `entryMatch`, null keys grouped
    *     together ([[contribOf]]'s window);
    *   - each matched dir adds its prefix row, and each row whose
    *     `parent` is a matched dir and which passes `entryMatch` adds an
    *     entry row, both with [[aggSpecs]]' values;
    *   - the contributions are summed per (uid, gid, prefix), then
    *     into the six [[frameKeys]] sets with `Math.addExact`, so an
    *     overflow throws as an ANSI SUM does; the () row is always
    *     there, and every other group has a positive count. */
  private def fold(c: Columns): Seq[Row] = {
    val n = c.flags.length
    def has(i: Int, flag: Int) = (c.flags(i) & flag) != 0
    val canonical = new java.util.BitSet(n)
    val least = mutable.HashMap.empty[(Long, Long, Int), Int]
    var i = 0
    while (i < n) {
      if (has(i, Linked)) {
        val key = (if (has(i, NullDevice)) 0L else c.device(i),
          if (has(i, NullInode)) 0L else c.inode(i), c.flags(i) & (NullDevice | NullInode))
        least.get(key) match {
          case Some(j) if pathOrder(c.utf8(c.path(j)), c.utf8(c.path(i))) <= 0 =>
          case _ => least(key) = i
        }
      } else canonical.set(i)
      i += 1
    }
    least.valuesIterator.foreach(canonical.set)

    val matched = new java.util.BitSet
    (0 until n).foreach(i => if (has(i, MatchedDir) && c.path(i) >= 0) matched.set(c.path(i)))
    // (uid, gid, prefix) → the seven metrics, in aggSpecs' order
    val groups = mutable.HashMap.empty[Key, Array[Long]]
    def add(i: Int, prefix: Int, count: Int, bytes: Long, prefixBytes: Long,
        storage: Long): Unit = {
      val m = groups.getOrElseUpdate(Key(if (has(i, NullUid)) null else c.uid(i),
        if (has(i, NullGid)) null else c.gid(i), prefix), new Array[Long](7))
      m(count) += 1
      m(4) = Math.addExact(m(4), bytes)
      m(5) = Math.addExact(m(5), prefixBytes)
      m(6) = Math.addExact(m(6), storage)
    }
    i = 0
    while (i < n) {
      if (has(i, MatchedDir)) add(i, c.path(i), 0, c.size(i), c.size(i), c.storage(i))
      val p = c.parent(i)
      if (p >= 0 && matched.get(p)) { // EntryMatch: only those rows carry a parent
        if (has(i, Dir)) add(i, p, 1, 0L, 0L, 0L)
        else if (canonical.get(i)) add(i, p, 2, c.size(i), 0L, c.storage(i))
        else add(i, p, 3, 0L, 0L, 0L)
      }
      i += 1
    }

    val sets = frameKeys.map { keys =>
      val set = mutable.HashMap.empty[Key, Array[Long]]
      groups.foreach { case (k, m) =>
        val acc = set.getOrElseUpdate(Key(if (keys.contains("uid")) k.uid else null,
          if (keys.contains("gid")) k.gid else null,
          if (keys.contains("prefix")) k.prefix else -1), new Array[Long](7))
        var j = 0
        while (j < 7) { acc(j) = Math.addExact(acc(j), m(j)); j += 1 }
      }
      keys -> set
    }
    sets.head._2.getOrElseUpdate(Key(null, null, -1), new Array[Long](7))
    sets.flatMap { case (keys, set) =>
      val gset: java.lang.Long = gsetOf(keys)
      set.map { case (k, m) =>
        val prefix = c.utf8(k.prefix)
        Row.fromSeq(Seq(gset, k.uid, k.gid, if (prefix == null) null else prefix.toString) ++ m)
      }
    }
  }

  /** Spark's string order: UTF-8 bytes, null first. */
  private def pathOrder(a: UTF8String, b: UTF8String): Int =
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else a.compareTo(b)

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
      .select(col("prefix"), col("uid").cast(LongType).as("uid"),
        col("gid").cast(LongType).as("gid"), col("is_prefix_row"),
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
    * Scale shape: it IS [[compute]] of `files` — below
    * [[RowLimit]] one bounded collect, above it one contribution pass
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

  /** [[computeIncremental]], on the driver when `files` has at most
    * `rowLimit` rows (0 forces the distributed path). */
  private[graft] def computeIncremental(prev: Computed, prevFiles: DataFrame,
      files: DataFrame, changedPrefixes: DataFrame, prefixMatch: Column,
      entryMatch: Column, calc: Calculator, countHardlinkDupsAsFiles: Boolean,
      rowLimit: Long): Computed =
    compute(files, prefixMatch, entryMatch, calc, countHardlinkDupsAsFiles, rowLimit)

  /** K2: the reference's five ranked metrics, in the order the report
    * tree ranks prefixes by them (`cli.Main` reports). */
  val rankedMetrics: Seq[String] =
    Seq("bytes", "storage_bytes", "prefix_bytes", "files", "prefixes")
}
