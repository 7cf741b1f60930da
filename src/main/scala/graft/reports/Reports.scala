package graft.reports

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Report renderers (reference reports.go + tsv.go:18-57,
  * json.go:16-39, markdown.go:32-371): format ALREADY-LIMITED frames
  * (top-N rows, single-row totals) for humans/tools. Collect happens
  * here and only here — inputs are bounded by construction (K8:
  * compute-N ≤ 2000 rows), so driver-side rendering is safe. A frame
  * is collected once into a [[Table]] and every format renders from
  * those rows.
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
