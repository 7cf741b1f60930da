package graft.cli

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ids.IdMaps
import graft.model.FileEntry
import graft.reports.Reports
import graft.reports.ReportsSpec.{jsonRef, markdownRef, tsvRef}
import graft.stats.{Stats, StatsArtifact}

/** The report tree rendered from two bounded collects is byte-identical
  * to one rendered frame by frame — each table its own ordered, limited
  * query, rendered by the per-frame reference renderers — on a fixture
  * with more ids and prefixes than `n` and ties everywhere. */
class ReportTreeSpec extends SparkSpec {

  private val n = 2
  private val ids = IdMaps(Map(1000L -> "alice", 1001L -> "bob"), Map(50L -> "staff"))

  /** Six zero-size dirs owned by uid/gid 0, holding one 100-byte file per uid 1000–1003 (gid 50 or
    * 51), and one more file in each of /r/a, /r/� (U+FFFD) and /r/𐀀
    * (U+10000) owned by uids 1000–1002 and gid 52. So three users tie
    * at the top, gids 50 and 51 tie ahead of 52, and three prefixes tie
    * for the first two places — which two differs between UTF-8 byte
    * order (Spark's) and UTF-16 order. */
  private lazy val files: DataFrame = {
    val s = spark
    import s.implicits._
    def entry(path: String, isDir: Boolean, size: Long, uid: Long, gid: Long) =
      FileEntry(path, path.substring(0, path.lastIndexOf('/')), path.split("/").last,
        path.count(_ == '/'), isDir, size, (size + 511) / 512,
        if (isDir) 0x4000 else 0x8000, new Timestamp(1700000000000L), uid, gid, 1L,
        scala.util.hashing.MurmurHash3.stringHash(path).toLong, 1L, 0L)
    val dirs = Seq("/r/a", "/r/b", "/r/c", "/r/�", "/r/𐀀", "/r/d")
    (Seq(entry("/r", isDir = true, 0, 0, 0)) ++
      dirs.map(entry(_, isDir = true, 0, 0, 0)) ++
      (for (d <- dirs; u <- 1000L to 1003L) yield
        entry(s"$d/f$u", isDir = false, 100, u, 50 + (u - 1000) % 2)) ++
      Seq("/r/a", "/r/�", "/r/𐀀").zipWithIndex.map { case (d, i) =>
        entry(s"$d/extra", isDir = false, 100, 1000 + i, 52)
      }).toDF()
  }

  /** The tree as frame-by-frame queries render it. */
  private def reference(c: Stats.Computed, dir: Path): Unit = {
    Files.createDirectories(dir)
    def named(df: DataFrame, idCol: String, byId: Map[Long, String]) =
      df.select(coalesce(try_element_at(typedLit(byId), col(idCol)),
        col(idCol).cast("string")).as(s"${idCol}_name"), col("*"))
    def emit(base: String, df: DataFrame, title: String): Unit = {
      Files.writeString(dir.resolve(s"$base.tsv"), tsvRef(df))
      Files.writeString(dir.resolve(s"$base.json"), jsonRef(df))
      Files.writeString(dir.resolve(s"$base.md"), markdownRef(df, title))
    }
    emit("totals", c.totals, "Totals")
    Stats.rankedMetrics.foreach { m =>
      emit(s"top_$m", c.perPrefix.orderBy(desc(m), asc("prefix")).limit(n), s"Top $n by $m")
    }
    def top(perId: DataFrame, idCol: String) = perId.orderBy(desc("bytes"), asc(idCol)).limit(n)
    emit("by_user", named(top(c.perUser, "uid"), "uid", ids.userById), "Usage by user")
    emit("by_group", named(top(c.perGroup, "gid"), "gid", ids.groupById), "Usage by group")
    def human(metric: String, v: Any): String = v match {
      case l: java.lang.Long if metric.endsWith("bytes") => s"${Reports.formatSize(l)} ($l)"
      case other => other.toString
    }
    def perId(subdir: String, perId: DataFrame, perIdPrefix: DataFrame, idCol: String,
        nameOf: Long => String): Seq[(Long, String)] =
      top(perId, idCol).collect().toSeq.map { totals =>
        val id = totals.getAs[Long](idCol)
        val sb = new StringBuilder(s"# Usage report for ${nameOf(id)} ($idCol $id)\n\n")
        sb.append("## Contents\n\n* [Totals](#totals)\n")
        Stats.rankedMetrics.foreach(m => sb.append(s"* [Top $n prefixes by $m](#top-$m)\n"))
        sb.append("\n## <a id=totals></a> Totals\n\n| Metric | Value |\n| :--- | ---: |\n")
        perId.columns.filterNot(_ == idCol).foreach { m =>
          sb.append(s"| $m | ${human(m, totals.getAs[Any](m))} |\n")
        }
        Stats.rankedMetrics.foreach { m =>
          sb.append(s"\n## <a id=top-$m></a> Top $n prefixes by $m\n\n")
          sb.append(s"| ${m.capitalize} | Prefix |\n| ---: | :--- |\n")
          perIdPrefix.where(col(idCol) === id).orderBy(desc(m), asc("prefix")).limit(n)
            .collect().foreach { r =>
              sb.append(s"| ${human(m, r.getAs[Any](m))} | ${r.getAs[String]("prefix")} |\n")
            }
        }
        Files.createDirectories(dir.resolve(subdir))
        Files.writeString(dir.resolve(subdir).resolve(s"$id-${nameOf(id)}.md"), sb.toString)
        id -> nameOf(id)
      }
    val users = perId("by_user", c.perUser, c.perUserPrefix, "uid", ids.userName)
    val groups = perId("by_group", c.perGroup, c.perGroupPrefix, "gid", ids.groupName)
    val idx = new StringBuilder("# Filesystem usage reports\n\n## Contents\n\n")
    idx.append("* [Totals](totals.md)\n")
    Stats.rankedMetrics.foreach(m => idx.append(s"* [Top $n by $m](top_$m.md)\n"))
    idx.append("* [Usage by user](by_user.md)\n* [Usage by group](by_group.md)\n")
    idx.append("\n## Per-user reports\n\n")
    users.foreach { case (id, nm) => idx.append(s"* [$nm](by_user/$id-$nm.md)\n") }
    idx.append("\n## Per-group reports\n\n")
    groups.foreach { case (id, nm) => idx.append(s"* [$nm](by_group/$id-$nm.md)\n") }
    Files.writeString(dir.resolve("index.md"), idx.toString)
  }

  private def tree(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }

  test("report tree from two bounded collects == the per-frame reference, ties and all") {
    val db = Files.createTempDirectory("graft-tree-db").toString
    StatsArtifact.write(db, Stats.compute(files), "/", "")
    Seq("computed" -> Stats.compute(files), "artifact" -> StatsArtifact.read(spark, db))
      .foreach { case (what, c) =>
        val got = Files.createTempDirectory("graft-tree")
        val want = Files.createTempDirectory("graft-tree-ref")
        Main.writeReportTree(c, got, n, ids)
        reference(c, want)
        val (g, w) = (tree(got), tree(want))
        assert(g.keySet == w.keySet, what)
        w.foreach { case (f, text) => assert(g(f) == text, s"$what: $f differs") }
        // the fixture does exercise ties at the n cut
        assert(g("by_user.tsv").split("\n").length == n + 1)
        assert(g.keySet.contains("by_user/1001-bob.md") && !g.keySet.contains("by_user/1002-1002.md"))
        assert(g.keySet.contains("by_group/51-51.md") && !g.keySet.contains("by_group/52-52.md"))
        assert(g("top_bytes.tsv").contains("/r/�") && !g("top_bytes.tsv").contains("/r/𐀀"))
      }
  }

  test("a null owner ranks in the by-user table but gets no per-user report") {
    val withNull = files.withColumn("uid",
      when(col("path") === "/r/a/extra", lit(null)).otherwise(col("uid")))
    val dir = Files.createTempDirectory("graft-tree")
    Main.writeReportTree(Stats.compute(withNull), dir, 10, ids)
    val byUser = Files.readAllLines(dir.resolve("by_user.tsv")).asScala
    assert(byUser.exists(_.startsWith("\t\t")), byUser.mkString("\n"))
    val s = Files.list(dir.resolve("by_user"))
    try assert(s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted ==
      Seq("0-0.md", "1000-alice.md", "1001-bob.md", "1002-1002.md", "1003-1003.md"))
    finally s.close()
  }
}
