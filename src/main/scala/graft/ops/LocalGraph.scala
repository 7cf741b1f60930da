package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-resident graph loops below a measured edge bound (the IVF
  * k-means rule in CLAUDE.md, applied to the iterative graph loops).
  * A loop round on a small graph is scheduler and compiler latency,
  * not work: every distributed round is one or more Spark jobs plus
  * the Janino compile of each new plan shape, while the graph itself
  * fits in a few arrays. So each of Sssp, Betweenness, LabelProp,
  * Hits, PageRank, KCore and Truss first makes ONE bounded collect of
  * its edge list ([[collect]]); when the graph comes back within
  * [[EdgeLimit]] rows it sorts the edges into CSR arrays ([[Csr]]) and
  * runs plain-Scala round bodies with the distributed path's exact
  * rules (integer grids, tie rules, md5-rank choices, round counts,
  * stop rules and envelope messages), and returns a local relation
  * with the distributed path's column names and types. Above the
  * bound the distributed round bodies run unchanged: a graph that
  * does not fit the driver is a supported input, and only that path
  * can run it.
  *
  * The one exception to "bit for bit" is PageRank, whose double sums
  * the local path adds in one fixed (dst, src) order; the distributed
  * sums follow partition boundaries (ROADMAP item 9).
  *
  * Cost of the choice: below the bound, one job (the collect) instead
  * of one or more jobs per round. Above it, the collect stops after
  * `EdgeLimit + 1` rows, so the probe costs at most one pass over
  * that many rows before the distributed path starts. */
object LocalGraph {

  /** Most rows a loop's collected graph may hold to run on the driver
    * (edges; PageRank counts its `nodes` rows too). The row ceiling of
    * [[Bfs.bcastIfSmall]]: below it the distributed loops already ship
    * O(V) frames from the driver every round, so the driver holds
    * graphs of this size either way. LoopScaleProbe at ×10 and ×100
    * (SCALE.md, "Driver-bounded samples and loops") measured every
    * loop faster on the local path than on the distributed one. */
  val EdgeLimit: Long = Bfs.BroadcastRowLimit

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The columns of `frame`, as long arrays, from ONE bounded collect.
    * Some when the frame has at most `limit` rows, every column is an
    * integral type and no value is null; None otherwise, and the
    * caller runs its distributed path (whose join semantics define
    * what a null id does). A `limit` of 0 or less returns None without
    * running a job: specs and probes force the distributed path that
    * way. */
  private[graft] def collect(frame: DataFrame, limit: Long): Option[Array[Array[Long]]] =
    collectAll(Seq(frame), limit).map(_.head)

  /** [[collect]] of several frames in the same job, their rows
    * counted together against `limit`: the columns of each frame. */
  private[graft] def collectAll(frames: Seq[DataFrame],
      limit: Long): Option[Seq[Array[Array[Long]]]] = {
    if (!frames.forall(_.schema.fields.forall(f => integral(f.dataType)))) return None
    val widths = frames.map(_.columns.length)
    val n = widths.max + 1 // a frame tag, then the widest frame's columns
    val tagged = frames.zipWithIndex.map { case (f, t) =>
      val w = f.columns.length
      f.toDF((1 to w).map(i => s"c$i"): _*)
        .select((lit(t.toLong) +: (1 to w).map(i => col(s"c$i").cast(LongType))) ++
          Seq.fill(n - 1 - w)(lit(0L)): _*)
    }.reduce(_ unionAll _)
    val packed = bounded(tagged, limit) { rows =>
      val cols = Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofLong)
      var sawNull = false
      rows.foreach { r =>
        var i = 0
        while (i < n) {
          if (r.isNullAt(i)) sawNull = true else cols(i) += r.getLong(i)
          i += 1
        }
      }
      if (sawNull) null else cols.map(_.result())
    }.flatMap(Option(_))
    packed.map { cols =>
      if (frames.size == 1) Seq(cols.tail)
      else frames.indices.map { t =>
        val rows = cols(0).indices.filter(cols(0)(_) == t.toLong).toArray
        Array.tabulate(widths(t))(c => rows.map(cols(c + 1)(_)))
      }
    }
  }

  /** ONE bounded collect of `frame`, packed in the task: Some(what
    * `pack` made of the rows) when the frame has at most `limit` rows,
    * None when it has more. A `limit` of 0 or less returns None without
    * running a job: specs and probes force the distributed path that
    * way. Every driver path ([[collectAll]], `stats.Stats.compute`)
    * makes its collect through it.
    *
    * One job, one task: `coalesce(1)` makes the limit's input a
    * single partition, so the planner needs no exchange for it, and
    * the task stops reading after `limit + 1` rows. `pack` runs in
    * that task over the rows it reads (and on the driver over no rows
    * when the frame has no partition), so the driver receives what it
    * packs, e.g. one array per column, not one object per row. The
    * rows are Spark's internal ones, unconverted; a row object may be
    * reused for the next row, so `pack` copies what it keeps. */
  private[graft] def bounded[P](frame: DataFrame, limit: Long)(
      pack: Iterator[InternalRow] => P): Option[P] = {
    if (limit <= 0) return None
    val parts = frame
      .coalesce(1)
      .limit(math.min(limit, Int.MaxValue - 1L).toInt + 1)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        var n = 0L
        val p = pack(rows.map { r => n += 1; r })
        Iterator.single((n, p))
      }
      .collect()
    val (n, p) = parts.headOption.getOrElse((0L, pack(Iterator.empty)))
    if (n > limit) None else Some(p)
  }

  /** A local relation of named, equal-length long or double columns:
    * no job to build it, and its consumers read it without a shuffle.
    * The loops' relations match the distributed path's column names
    * and types; nullability flags are no contract (the distributed
    * path's follow the input's, and for Sssp's outer merge the data). */
  private[graft] def relation(spark: SparkSession, columns: (String, Array[_])*): DataFrame = {
    val schema = StructType(columns.map { case (name, values) =>
      StructField(name, values match { case _: Array[Double] => DoubleType; case _ => LongType })
    })
    val rows = columns.head._2.indices.map(i =>
      Row.fromSeq(columns.map(c => scala.runtime.ScalaRunTime.array_apply(c._2, i))))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The sorted distinct values of the given arrays (the node ids of
    * endpoint arrays). */
  private[graft] def sortedDistinct(values: Array[Long]*): Array[Long] = {
    val all = Array.concat(values: _*)
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, m)
  }

  /** Index of `id` in the sorted `ids`, or a negative number. */
  private[graft] def indexOf(ids: Array[Long], id: Long): Int =
    java.util.Arrays.binarySearch(ids, id)

  /** The node ids of an edge list, sorted, and each edge's ends as
    * indices into them: (ids, src indices, dst indices). */
  private[graft] def indexed(src: Array[Long],
      dst: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val ids = sortedDistinct(src, dst)
    (ids, src.map(indexOf(ids, _)), dst.map(indexOf(ids, _)))
  }

  /** A graph in CSR form over node indices `0 until ids.length`
    * (`ids` sorted ascending, so index order is id order): the
    * out-arcs of node `i` sit at positions `off(i) until off(i + 1)`
    * of `to` (and of `w`, the per-arc weight, when the graph has one).
    * Duplicate edges stay duplicate arcs, as they stay duplicate rows
    * in the distributed joins. */
  private[graft] final class Csr(val ids: Array[Long], val off: Array[Int],
      val to: Array[Int], val w: Array[Long]) {
    def n: Int = ids.length
  }

  private[graft] object Csr {

    /** Arcs `src(j) -> dst(j)`, and `dst(j) -> src(j)` too when
      * `undirected` (a self loop then gives two arcs, as the union of
      * both directions does). */
    def apply(src: Array[Long], dst: Array[Long], undirected: Boolean,
        weight: Array[Long] = null): Csr = {
      val (ids, s, d) = indexed(src, dst)
      val n = ids.length
      val off = new Array[Int](n + 1)
      s.foreach(i => off(i + 1) += 1)
      if (undirected) d.foreach(i => off(i + 1) += 1)
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val fill = java.util.Arrays.copyOf(off, n)
      val to = new Array[Int](off(n))
      val w = if (weight == null) null else new Array[Long](off(n))
      def arc(a: Int, b: Int, j: Int): Unit = {
        to(fill(a)) = b
        if (w != null) w(fill(a)) = weight(j)
        fill(a) += 1
      }
      var j = 0
      while (j < s.length) {
        arc(s(j), d(j), j)
        if (undirected) arc(d(j), s(j), j)
        j += 1
      }
      new Csr(ids, off, to, w)
    }
  }

  /** The `k` ids smallest by (md5 key, id), ascending — the md5-rank
    * choice of Betweenness' sources and of `Sssp.nearestFromMd5Seed`'s
    * seed, whose key is `substring(md5(cast(node as string)), 1, 13)`.
    * Those 13 lowercase hex digits order as the digest's first 52 bits
    * do, so the key here is that number; one bounded heap keeps the
    * `k` smallest. */
  private[graft] def md5Smallest(ids: Array[Long], k: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val byKey = Ordering.Tuple2[Long, Long]
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](byKey)
    ids.foreach { id =>
      val d = md.digest(id.toString.getBytes("UTF-8"))
      var key = 0L
      var i = 0
      while (i < 7) { key = (key << 8) | (d(i) & 0xff); i += 1 }
      val e = (key >>> 4, id)
      if (heap.size < k) heap += e
      else if (byKey.lt(e, heap.head)) { heap.dequeue(); heap += e }
    }
    heap.toArray.sorted(byKey).map(_._2)
  }
}
