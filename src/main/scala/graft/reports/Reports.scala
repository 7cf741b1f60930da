package graft.reports

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.unsafe.types.UTF8String

/** Report renderers (reference reports.go + tsv.go:18-57,
  * json.go:16-39, markdown.go:32-371): format bounded tables (top-N
  * rows, single-row totals) for humans/tools — inputs are bounded by
  * construction (K8: compute-N ≤ 2000 rows), so driver-side rendering
  * is safe. A table's rows are collected once — from one
  * ALREADY-LIMITED frame ([[Table.of]], [[Table.withJson]]), or for
  * the report tree from two bounded collects ranked with [[topN]] and
  * [[rankOrder]] — and every format renders from those rows.
  */
object Reports {

  /** A frame's column names and rows, collected once; `json` holds
    * each row's JSON object when the table came from [[Table.withJson]]. */
  final case class Table(columns: Seq[String], rows: Seq[Row], json: Seq[String] = Nil)

  object Table {
    def of(df: DataFrame): Table = Table(df.columns.toSeq, df.collect().toSeq)

    /** The rows plus each row's JSON object, computed by a `to_json`
      * column in the same job (the lines `df.toJSON` would give). */
    def withJson(df: DataFrame): Table = {
      val n = df.columns.length
      val rows = df.select(col("*"), to_json(struct(col("*")))).collect().toSeq
      Table(df.columns.toSeq, rows.map(r => Row.fromSeq(r.toSeq.take(n))),
        rows.map(_.getString(n)))
    }
  }

  /** The order of `orderBy(desc(metric), asc(tie))` on rows, by column
    * index: the long `metric` descending, then `tie` ascending with
    * nulls first. String ties compare by UTF-8 bytes, as Spark does
    * (UTF-16 order differs above U+FFFF). */
  def rankOrder(metric: Int, tie: Int): Ordering[Row] = new Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      val c = java.lang.Long.compare(b.getLong(metric), a.getLong(metric))
      if (c != 0) c
      else (a.get(tie), b.get(tie)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
        case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
        case (x, y) => throw new IllegalArgumentException(s"cannot rank ties of $x and $y")
      }
    }
  }

  /** The rows of `rows` that are among the first `n` of their group
    * (`key`) under at least one of `orders`, each once: one pass with a
    * heap of `n` per group and order. Run per partition, the union of
    * the results holds every group's first `n` under every order, so a
    * driver-side sort of it gives the global top `n` from at most
    * partitions × groups × orders × n rows. */
  def topN(rows: Iterator[Row], key: Row => Any, orders: Seq[Ordering[Row]],
      n: Int): Iterator[Row] = {
    val heaps = scala.collection.mutable.HashMap.empty[Any, Seq[java.util.PriorityQueue[Row]]]
    if (n > 0) rows.foreach { r =>
      // each heap's head is its worst row: the one a better row evicts
      heaps.getOrElseUpdate(key(r),
        orders.map(o => new java.util.PriorityQueue[Row](n + 1, o.reverse)))
        .zip(orders).foreach { case (h, o) =>
          if (h.size < n) h.add(r)
          else if (o.lt(r, h.peek())) { h.poll(); h.add(r) }
        }
    }
    val out = new java.util.IdentityHashMap[Row, Unit]()
    heaps.valuesIterator.flatten.foreach(_.forEach(r => out.put(r, ())))
    out.keySet().iterator().asScala
  }

  def tsv(t: Table): String =
    (t.columns.mkString("\t") +: t.rows.map(r => cells(r).mkString("\t"))).mkString("\n")

  /** JSON-lines, one object per row (reference json.go:16-39). */
  def jsonLines(t: Table): String = t.json.mkString("\n")

  def markdown(t: Table, title: String): String = {
    val sb = new StringBuilder(s"## $title\n\n")
    sb.append(t.columns.mkString("| ", " | ", " |\n"))
    sb.append(t.columns.map(_ => "---").mkString("| ", " | ", " |\n"))
    t.rows.foreach(r => sb.append(cells(r).mkString("| ", " | ", " |\n")))
    sb.toString
  }

  def markdown(df: DataFrame, title: String): String = markdown(Table.of(df), title)

  /** Human size units, decimal or binary (reference main.go:175-188). */
  def formatSize(bytes: Long, binary: Boolean = false): String = {
    val unit = if (binary) 1024L else 1000L
    val prefixes = if (binary) Seq("", "Ki", "Mi", "Gi", "Ti", "Pi")
    else Seq("", "K", "M", "G", "T", "P")
    if (bytes < unit) s"$bytes B"
    else {
      var v = bytes.toDouble
      var i = 0
      while (v >= unit && i < prefixes.length - 1) { v /= unit; i += 1 }
      f"$v%.1f ${prefixes(i)}B"
    }
  }

  private def cells(r: Row): Seq[String] =
    (0 until r.length).map(i => Option(r.get(i)).map(_.toString).getOrElse(""))
}
