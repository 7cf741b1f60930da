package graft.reports

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

/** The collect-once renderer: its JSON lines are `df.toJSON`'s, and its
  * TSV and Markdown equal a per-format collect of the same frame. (The
  * report tree's `to_json` columns are checked against `df.toJSON` in
  * ReportTreeSpec.) */
class ReportsSpec extends SparkSpec {
  import ReportsSpec._

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    Seq[(String, java.lang.Long, Double, Timestamp, Boolean)](
      ("/a b", 1L, 0.5, new Timestamp(1700000000123L), true),
      ("/q\"u\\ote", null, -2.0, null, false),
      ("", 3L, 1e21, new Timestamp(0L), true)
    ).toDF("prefix", "bytes", "share", "at", "flag")
  }

  test("JSON lines equal df.toJSON row for row; TSV and Markdown equal a plain collect") {
    Seq(frame, frame.limit(0), frame.select("bytes")).foreach { df =>
      val t = Reports.Table(df.columns.toSeq, df.collect().toSeq, df.toJSON.collect().toSeq)
      assert(Reports.jsonLines(t) == df.toJSON.collect().mkString("\n"))
      assert(Reports.tsv(t) == tsvRef(df))
      assert(Reports.markdown(t, "T") == markdownRef(df, "T"))
      assert(Reports.tsv(Reports.Table.of(df)) == tsvRef(df))
      assert(Reports.markdown(df, "T") == markdownRef(df, "T"))
    }
  }
}

/** The per-frame reference renderers: each format collects the frame
  * itself. */
object ReportsSpec {
  private def cell(r: Row, i: Int) = Option(r.get(i)).map(_.toString).getOrElse("")

  def tsvRef(df: DataFrame): String = (df.columns.mkString("\t") +:
    df.collect().map(r => (0 until r.length).map(cell(r, _)).mkString("\t"))).mkString("\n")

  def jsonRef(df: DataFrame): String = df.toJSON.collect().mkString("\n")

  def markdownRef(df: DataFrame, title: String): String = {
    val sb = new StringBuilder(s"## $title\n\n")
    sb.append(df.columns.mkString("| ", " | ", " |\n"))
    sb.append(df.columns.map(_ => "---").mkString("| ", " | ", " |\n"))
    df.collect().foreach(r =>
      sb.append((0 until r.length).map(cell(r, _)).mkString("| ", " | ", " |\n")))
    sb.toString
  }
}
