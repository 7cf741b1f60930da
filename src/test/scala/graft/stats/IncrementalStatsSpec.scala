package graft.stats

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.FileEntry

/** Incremental `stats compute` (§2.8 applied to the stats layer):
  * prev-state + changed-prefix delta must be INDISTINGUISHABLE from a
  * full recompute — including the hardlink-canonical flip into an
  * unchanged prefix — while aggregating only the changed prefixes'
  * contribution rows. */
class IncrementalStatsSpec extends SparkSpec with StatsPaths {

  private val T0 = new Timestamp(1700000000000L)
  private val T1 = new Timestamp(1700000111000L)

  private def fe(path: String, isDir: Boolean, size: Long, uid: Long,
      gid: Long, inode: Long = 0, nlink: Long = 1, nEntries: Long = 0,
      mt: Timestamp = T0): FileEntry = {
    val name = path.split("/").last
    val parent = path.split("/").dropRight(1).mkString("/")
    FileEntry(path, parent, name, path.count(_ == '/'), isDir, size,
      size / 512 + 1, Integer.parseInt("700", 8), mt, uid, gid, 1L,
      if (inode == 0) path.hashCode.toLong & 0xffffffffL else inode,
      nlink, nEntries)
  }

  /** prev tree: /keep (2 files, uid 1), /chg (2 files incl. a
    * hardlink, uid 2), /del (1 file, uid 3 — only owner of uid 3),
    * /same (1 file); hardlink group inode 777 spans /chg/a (canonical
    * by path order) and /keep/z. */
  private lazy val prevDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      fe("/keep", isDir = true, 10, 1, 1, nEntries = 2),
      fe("/keep/f1", isDir = false, 100, 1, 1),
      fe("/keep/z", isDir = false, 50, 1, 1, inode = 777, nlink = 2),
      fe("/chg", isDir = true, 10, 2, 2, nEntries = 2),
      fe("/chg/a", isDir = false, 50, 2, 2, inode = 777, nlink = 2),
      fe("/chg/b", isDir = false, 200, 2, 2),
      fe("/del", isDir = true, 10, 3, 3, nEntries = 1),
      fe("/del/only", isDir = false, 300, 3, 3),
      fe("/same", isDir = true, 10, 1, 2, nEntries = 1),
      fe("/same/s", isDir = false, 400, 1, 2)
    ).toDF()
  }

  /** new tree: /chg loses the hardlink /chg/a (canonical flips to the
    * UNCHANGED /keep/z) and gains /chg/c under a new uid 9; /del is
    * gone entirely (uid 3 vanishes); /new appears; /keep and /same
    * untouched (reused rows keep the stale nlink, as the walker
    * does). */
  private lazy val newDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      fe("/keep", isDir = true, 10, 1, 1, nEntries = 2),
      fe("/keep/f1", isDir = false, 100, 1, 1),
      fe("/keep/z", isDir = false, 50, 1, 1, inode = 777, nlink = 2),
      fe("/chg", isDir = true, 10, 2, 2, nEntries = 2, mt = T1),
      fe("/chg/b", isDir = false, 200, 2, 2),
      fe("/chg/c", isDir = false, 700, 9, 9, mt = T1),
      fe("/same", isDir = true, 10, 1, 2, nEntries = 1),
      fe("/same/s", isDir = false, 400, 1, 2),
      fe("/new", isDir = true, 10, 9, 9, nEntries = 1, mt = T1),
      fe("/new/n1", isDir = false, 600, 9, 9, mt = T1)
    ).toDF()
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertSameComputed(a: Stats.Computed, b: Stats.Computed): Unit = {
    assert(rows(a.totals) == rows(b.totals), "totals")
    assert(rows(a.perUser) == rows(b.perUser), "perUser")
    assert(rows(a.perGroup) == rows(b.perGroup), "perGroup")
    assert(rows(a.perPrefix) == rows(b.perPrefix), "perPrefix")
    assert(rows(a.perUserPrefix) == rows(b.perUserPrefix), "perUserPrefix")
    assert(rows(a.perGroupPrefix) == rows(b.perGroupPrefix), "perGroupPrefix")
  }

  test("changedPrefixesOf finds exactly the mutated/added/deleted dirs") {
    val got = Stats.changedPrefixesOf(prevDf, newDf)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("/chg", "/del", "/new"))
  }

  statsCase("incremental == full recompute (hardlink flip into an unchanged prefix)") { st =>
    val changed = Stats.changedPrefixesOf(prevDf, newDf)
    val prev = st.compute(prevDf)
    // sanity: the canonical flip really is planted — /keep/z was the
    // hardlink (non-canonical) before, becomes the file after
    val prevKeep = st.compute(prevDf).perPrefix
      .where(col("prefix") === "/keep").collect()(0)
    val fullKeep = st.compute(newDf).perPrefix
      .where(col("prefix") === "/keep").collect()(0)
    assert(prevKeep.getAs[Long]("hardlinks") == 1L)
    assert(fullKeep.getAs[Long]("hardlinks") == 0L)
    val inc = st.computeIncremental(prev, prevDf, newDf, changed)
    assertSameComputed(inc, st.compute(newDf))
  }

  statsCase("incremental == full recompute under filters and a calculator") { st =>
    val pm = col("path") =!= "/same" // prefix filter
    val em = col("size") =!= 400L    // entry filter
    val calc = Calculator.RawBlocks
    val prev = st.compute(prevDf, pm, em, calc)
    val inc = st.computeIncremental(prev, prevDf, newDf,
      Stats.changedPrefixesOf(prevDf, newDf), pm, em, calc)
    assertSameComputed(inc, st.compute(newDf, pm, em, calc))
  }

  statsCase("incremental == full with countHardlinkDupsAsFiles = true") { st =>
    val prev = st.compute(prevDf, countHardlinkDupsAsFiles = true)
    val inc = st.computeIncremental(prev, prevDf, newDf,
      Stats.changedPrefixesOf(prevDf, newDf),
      countHardlinkDupsAsFiles = true)
    assertSameComputed(inc,
      st.compute(newDf, countHardlinkDupsAsFiles = true))
  }

  statsCase("a vanished key drops; an unchanged-corpus rescan is a no-op delta") { st =>
    val changed = Stats.changedPrefixesOf(prevDf, newDf)
    val prev = st.compute(prevDf)
    val inc = st.computeIncremental(prev, prevDf, newDf, changed)
    // uid 3 owned only /del — gone from the merged per-user frame
    assert(inc.perUser.where(col("uid") === 3).count() == 0L)
    // uid 9 is new — present
    assert(inc.perUser.where(col("uid") === 9).count() == 1L)
    // no changes: the changed set is empty and state replays exactly
    val none = Stats.changedPrefixesOf(prevDf, prevDf)
    assert(none.count() == 0L)
    assertSameComputed(
      st.computeIncremental(prev, prevDf, prevDf, none), prev)
  }

  statsCase("recompute touches only the changed prefixes' rows") { st =>
    // the restriction is observable through the delta's group keys:
    // only changed prefixes (plus hardlink-expanded ones) may appear
    val changed = Stats.changedPrefixesOf(prevDf, newDf)
    val prev = st.compute(prevDf)
    val inc = st.computeIncremental(prev, prevDf, newDf, changed)
    val unchangedUntouched = Seq("/same") // no hardlink ties, no change
    val full = st.compute(newDf)
    unchangedUntouched.foreach { p =>
      val a = inc.perPrefix.where(col("prefix") === p).collect().toSeq
      val b = prev.perPrefix.where(col("prefix") === p).collect().toSeq
      assert(a.map(_.toSeq) == b.map(_.toSeq),
        s"$p must pass through from prev state unmodified")
      assert(b.map(_.toSeq) ==
        full.perPrefix.where(col("prefix") === p).collect().toSeq.map(_.toSeq))
    }
  }

  statsCase("hardlink expansion: an added prefix's match, an untouched group beside a flip") { st =>
    // group 5 spans /c (changed) and /x (unchanged): /c/l2 is canonical
    // before and gone after, so the canonical link flips to /x/l1; group 6
    // spans /x and /y, both unchanged, so a delta merge must cancel it
    val s = spark
    import s.implicits._
    val common = Seq(
      fe("/x", isDir = true, 10, 1, 1, nEntries = 2),
      fe("/x/l1", isDir = false, 70, 1, 1, inode = 5, nlink = 2),
      fe("/x/u1", isDir = false, 30, 1, 1, inode = 6, nlink = 2),
      fe("/y", isDir = true, 10, 2, 2, nEntries = 1),
      fe("/y/u2", isDir = false, 30, 2, 2, inode = 6, nlink = 2))
    val before = (common ++ Seq(
      fe("/c", isDir = true, 10, 3, 3, nEntries = 2),
      fe("/c/l2", isDir = false, 70, 3, 3, inode = 5, nlink = 2),
      fe("/c/f", isDir = false, 5, 3, 3))).toDF()
    val after = (common ++ Seq(
      fe("/c", isDir = true, 10, 3, 3, nEntries = 1, mt = T1),
      fe("/c/f", isDir = false, 5, 3, 3))).toDF()
    val filters = Seq(lit(true) -> lit(true), (col("path") =!= "/x") -> lit(true),
      (col("path") =!= "/c") -> (col("size") =!= 30L))
    filters.foreach { case (pm, em) =>
      val inc = st.computeIncremental(st.compute(before, pm, em), before, after,
        Stats.changedPrefixesOf(before, after), pm, em)
      assertSameComputed(inc, st.compute(after, pm, em))
    }
  }

  /** `df` with a null uid on /keep/f1 and a null gid on /chg/b. */
  private def withNullIds(df: DataFrame): DataFrame = df
    .withColumn("uid", when(col("path") === "/keep/f1", lit(null)).otherwise(col("uid")))
    .withColumn("gid", when(col("path") === "/chg/b", lit(null)).otherwise(col("gid")))

  statsCase("grouping sets: null uid/gid rows land only in their own set") { st =>
    val prevN = withNullIds(prevDf)
    val newN = withNullIds(newDf)
    val c = st.compute(newN)
    // the rolled-up () set is not confused with a null-key group
    assert(rows(c.totals) == rows(st.compute(newDf).totals))
    val nullUser = c.perUser.where(col("uid").isNull).collect()
    assert(nullUser.length == 1)
    assert(nullUser.head.getAs[Long]("files") == 1L &&
      nullUser.head.getAs[Long]("bytes") == 100L)
    assert(c.perGroup.where(col("gid").isNull).collect()
      .map(_.getAs[Long]("bytes")).toSeq == Seq(200L))
    assert(c.perUserPrefix.where(col("uid").isNull).collect()
      .map(_.getAs[String]("prefix")).toSeq == Seq("/keep"))
    assert(c.perPrefix.where(col("prefix").isNull).count() == 0L)
    val inc = st.computeIncremental(st.compute(prevN), prevN, newN,
      Stats.changedPrefixesOf(prevN, newN))
    assertSameComputed(inc, c)
  }

  statsCase("grouping sets: no match gives one zero totals row and empty keyed frames") { st =>
    val none = lit(false)
    def assertEmpty(c: Stats.Computed): Unit = {
      assert(c.totals.collect().map(_.toSeq).toSeq == Seq(Seq.fill(7)(0L)))
      Seq(c.perUser, c.perGroup, c.perPrefix, c.perUserPrefix, c.perGroupPrefix)
        .foreach(f => assert(f.count() == 0L))
    }
    val prev = st.compute(prevDf, none, none)
    assertEmpty(prev)
    assertEmpty(st.computeIncremental(prev, prevDf, newDf,
      Stats.changedPrefixesOf(prevDf, newDf), none, none))
  }

  /** The frames of `c` in [[Stats.frameKeys]] order. */
  private def frames(c: Stats.Computed): Seq[DataFrame] = Seq(c.totals, c.perUser,
    c.perGroup, c.perPrefix, c.perUserPrefix, c.perGroupPrefix)

  /** `c` written as the six-table layout artifacts had before the
    * one-table layout: one parquet table per frame. */
  private def writeLegacy(db: String, c: Stats.Computed): Unit = {
    val dir = java.nio.file.Paths.get(db, "stats", "20200101T000000.000")
    Seq("totals", "per_user", "per_group", "per_prefix", "per_user_prefix",
      "per_group_prefix").zip(frames(c)).foreach { case (t, f) =>
      f.write.parquet(dir.resolve(t).toString)
    }
    java.nio.file.Files.writeString(dir.getParent.resolve("LATEST"), dir.getFileName.toString)
  }

  statsCase("artifact round trip: read(write(c)) equals c frame for frame, full and incremental") { st =>
    val none = lit(false)
    val prevN = withNullIds(prevDf)
    val newN = withNullIds(newDf)
    val cases = Seq(
      "full" -> st.compute(newDf),
      "canonical-link flip" -> st.computeIncremental(st.compute(prevDf), prevDf, newDf,
        Stats.changedPrefixesOf(prevDf, newDf)),
      "null uid/gid" -> st.compute(newN),
      "null uid/gid incremental" -> st.computeIncremental(st.compute(prevN), prevN, newN,
        Stats.changedPrefixesOf(prevN, newN)),
      "no match" -> st.compute(newDf, none, none),
      "no match incremental" -> st.computeIncremental(st.compute(prevDf, none, none),
        prevDf, newDf, Stats.changedPrefixesOf(prevDf, newDf), none, none))
    cases.foreach { case (what, c) =>
      val db = java.nio.file.Files.createTempDirectory("graft-artifact").toString
      StatsArtifact.write(db, c, "/", "")
      val back = StatsArtifact.read(spark, db)
      frames(c).zip(frames(back)).foreach { case (a, b) =>
        assert(a.schema.map(_.name) == b.schema.map(_.name), what)
        assert(rows(a) == rows(b), what)
      }
      assert(back.totals.count() == 1L, what)
      // an incremental merge over the read-back artifact equals a full recompute
      if (what == "full") {
        val prevDb = java.nio.file.Files.createTempDirectory("graft-artifact").toString
        StatsArtifact.write(prevDb, st.compute(prevDf), "/", "")
        assertSameComputed(st.computeIncremental(StatsArtifact.read(spark, prevDb),
          prevDf, newDf, Stats.changedPrefixesOf(prevDf, newDf)), c)
      }
    }
  }

  statsCase("artifact schema: the written table is TableSchema; a missing column fails the read") { st =>
    val db = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val name = StatsArtifact.write(db, st.compute(newDf), "/", "")
    val table = s"$db/stats/$name/table"
    assert(spark.read.parquet(table).schema == Stats.TableSchema)
    // a table without `hardlinks` must not read it as nulls
    val bad = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val badName = StatsArtifact.write(bad, st.compute(newDf), "/", "")
    val badTable = s"$bad/stats/$badName/table"
    spark.read.parquet(table).drop("hardlinks").write.mode("overwrite").parquet(badTable)
    val e = intercept[IllegalStateException](StatsArtifact.read(spark, bad))
    assert(e.getMessage.contains("hardlinks"), e.getMessage)
  }

  statsCase("six-table artifacts from before the one-table layout read through the same adapter") { st =>
    val c = st.compute(withNullIds(newDf))
    val db = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    writeLegacy(db, c)
    val back = StatsArtifact.read(spark, db)
    assertSameComputed(back, c)
    // and an incremental merge reads it as its previous state
    val prev = st.compute(prevDf)
    val prevDb = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    writeLegacy(prevDb, prev)
    assertSameComputed(st.computeIncremental(StatsArtifact.read(spark, prevDb),
      prevDf, newDf, Stats.changedPrefixesOf(prevDf, newDf)), st.compute(newDf))
  }
}
