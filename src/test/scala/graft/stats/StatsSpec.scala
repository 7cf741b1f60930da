package graft.stats

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.FileOperands
import graft.model.FileEntry

/** Port of the reference's aggregation-exactness tests
  * (stats/totals_test.go:30-236, FIXTURES.md §2): exact Totals vectors
  * per uid/gid combination fixture, the per-ID-sums-to-total invariant,
  * expression-filtered stats, and hardlink handling.
  *
  * Test calculator: storage = size + blocks (totals_test.go:22-28).
  */
class StatsSpec extends SparkSpec with StatsPaths {

  private object PlusBlocks extends Calculator {
    def apply(size: org.apache.spark.sql.Column, blocks: org.apache.spark.sql.Column) =
      size + blocks
    val name = "size+blocks"
  }

  private val T0 = new Timestamp(1700000000000L)

  private def fe(path: String, isDir: Boolean, size: Long, blocks: Long,
      uid: Long, gid: Long, device: Long = 1, inode: Long = 0,
      nlink: Long = 1, nEntries: Long = 0): FileEntry = {
    val name = path.split("/").last
    val parent = path.split("/").dropRight(1).mkString("/")
    FileEntry(path, parent, name, path.count(_ == '/'), isDir, size, blocks,
      Integer.parseInt("700", 8), T0, uid, gid, device,
      if (inode == 0) path.hashCode.toLong & 0xffffffffL else inode,
      nlink, nEntries)
  }

  /** One prefix `/p` (size=3, blocks=4, uid=100, gid=2) holding the
    * ug-combination entries: files sized 1,2 (blocks 1,2) and subdirs
    * — mirrors totals_test.go:32,69 fixtures. */
  private def fixture(uidGids: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    val prefix = fe("/p", isDir = true, 3, 4, 100, 2, nEntries = uidGids.size.toLong)
    val files = uidGids.zipWithIndex.map { case ((u, g), i) =>
      fe(s"/p/f$i", isDir = false, i + 1L, i + 1L, u, g)
    }
    (prefix +: files).toDF()
  }

  private def totalsMap(df: DataFrame): Map[String, Long] = {
    val row = df.collect().head
    df.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  statsCase("ug00: both entries same uid/gid — exact totals") { st =>
    val t = totalsMap(st.compute(fixture(Seq((100L, 2L), (100L, 2L))),
      calc = PlusBlocks).totals)
    assert(t("prefixes") == 1)
    assert(t("files") == 2)
    assert(t("sub_prefixes") == 0)
    assert(t("bytes") == 3 + 1 + 2) // prefix own size + files
    assert(t("prefix_bytes") == 3)
    assert(t("storage_bytes") == (3 + 4) + (1 + 1) + (2 + 2))
    assert(t("hardlinks") == 0)
  }

  statsCase("ug11: mixed ids split per-user/per-group but sum to totals") { st =>
    val c = st.compute(fixture(Seq((100L, 2L), (101L, 3L))), calc = PlusBlocks)
    val t = totalsMap(c.totals)
    val perUser = c.perUser.collect().map(r =>
      r.getLong(0) -> r.getLong(c.perUser.columns.indexOf("bytes"))).toMap
    // uid 100 owns the prefix (3 bytes) + file f0 (1 byte); uid 101 owns f1 (2)
    assert(perUser == Map(100L -> 4L, 101L -> 2L))
    Seq("files", "bytes", "storage_bytes", "prefixes").foreach { m =>
      val col_ = c.perUser.columns.indexOf(m)
      assert(c.perUser.collect().map(_.getLong(col_)).sum == t(m), s"per-user $m")
      val colG = c.perGroup.columns.indexOf(m)
      assert(c.perGroup.collect().map(_.getLong(colG)).sum == t(m), s"per-group $m")
    }
  }

  statsCase("subdirectories count as sub_prefixes, their size not added") { st =>
    val s = spark
    import s.implicits._
    val rows = Seq(
      fe("/p", isDir = true, 3, 4, 100, 2, nEntries = 2),
      fe("/p/d1", isDir = true, 50, 1, 100, 2, nEntries = 0),
      fe("/p/f1", isDir = false, 1, 1, 100, 2))
    // Only /p matches the prefix gate here; /p/d1 appears both as an
    // entry of /p (sub_prefix) and as its own matched prefix.
    val c = st.compute(rows.toDF(), prefixMatch = col("path") === "/p",
      calc = PlusBlocks)
    val t = totalsMap(c.totals)
    assert(t("sub_prefixes") == 1)
    assert(t("prefixes") == 1)
    assert(t("bytes") == 3 + 1) // d1's 50 bytes NOT counted (totals.go:144-162)
  }

  statsCase("expression-filtered stats: entry filter gates files only") { st =>
    val ops = FileOperands()
    val c = st.compute(fixture(Seq((100L, 2L), (101L, 2L))),
      entryMatch = ops.compile("user=100"), calc = PlusBlocks)
    val t = totalsMap(c.totals)
    assert(t("files") == 1)
    assert(t("bytes") == 3 + 1)
  }

  statsCase("no-match expression yields zero rows counted") { st =>
    val ops = FileOperands()
    val c = st.compute(fixture(Seq((100L, 2L), (101L, 2L))),
      prefixMatch = ops.compile("user=1000000"),
      entryMatch = ops.compile("user=1000000"))
    val t = totalsMap(c.totals)
    assert(t("prefixes") == 0)
    assert(t("files") == 0)
    assert(t("bytes") == 0)
  }

  statsCase("hardlink dedup: second link counts as hardlink, not bytes") { st =>
    val s = spark
    import s.implicits._
    val rows = Seq(
      fe("/p", isDir = true, 3, 4, 100, 2, nEntries = 3),
      fe("/p/a", isDir = false, 10, 10, 100, 2, device = 7, inode = 99, nlink = 2),
      fe("/p/b", isDir = false, 10, 10, 100, 2, device = 7, inode = 99, nlink = 2),
      fe("/p/c", isDir = false, 5, 5, 100, 2))
    val c = st.compute(rows.toDF(), calc = PlusBlocks)
    val t = totalsMap(c.totals)
    assert(t("files") == 2) // a (canonical: least path) + c
    assert(t("hardlinks") == 1) // b
    assert(t("bytes") == 3 + 10 + 5)
    // CountHardlinkAsFiles=true counts everything (stats.go:126)
    val c2 = st.compute(rows.toDF(), calc = PlusBlocks,
      countHardlinkDupsAsFiles = true)
    val t2 = totalsMap(c2.totals)
    assert(t2("files") == 3)
    assert(t2("bytes") == 3 + 10 + 10 + 5)
  }
}
