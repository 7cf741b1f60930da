package graft.ingest

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.SparkSpec

/** Port of the reference's 4-phase incremental contract
  * (analyze_test.go:259-337, FIXTURES.md §1): fresh scan → no-op
  * rescan (everything unchanged) → additions → deletions, with exact
  * counter expectations, plus the invariant that an incremental
  * snapshot always equals a fresh full walk of the same tree.
  */
class IncrementalSpec extends SparkSpec {

  /** depth 2, breadth 2, 3 files per dir; old mtimes so touches are
    * detectable (FS mtime granularity). */
  private def buildTree(): Path = {
    val root = Files.createTempDirectory("graft-incr")
    val t0 = FileTime.fromMillis(1700000000000L)
    def mk(dir: Path, level: Int): Unit = {
      for (i <- 0 until 3)
        Files.write(dir.resolve(s"f$level-$i"), ("y" * (i + 1)).getBytes)
      if (level < 2) {
        for (i <- 0 until 2) {
          val d = dir.resolve(s"d$level-$i")
          Files.createDirectory(d)
          mk(d, level + 1)
        }
      }
      // set dir mtime AFTER children exist, to a stable old value
      Files.list(dir).forEach(p => if (!Files.isDirectory(p)) Files.setLastModifiedTime(p, t0))
      Files.setLastModifiedTime(dir, t0)
    }
    mk(root, 0)
    root
  }

  private def fullWalk(root: Path) =
    Walker.walk(spark, root.toString, seedDepth = 1).entries.toDF()

  /** Walk NOW and pin the result (cache alone is lazy — an unforced
    * plan would silently re-walk the mutated tree). */
  private def snapshotNow(root: Path) = {
    val df = fullWalk(root).cache()
    df.count()
    df
  }

  private def paths(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path").collect().map(_.getString(0)).toSet

  test("no-op rescan: everything unchanged, zero files restatted") {
    val root = buildTree()
    val prev = snapshotNow(root)
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_unchanged == 7) // 1 + 2 + 4
    assert(s.prefixes_changed == 0)
    assert(s.prefixes_added == 0)
    assert(s.prefixes_deleted == 0)
    assert(s.files_rescanned == 0)
    assert(s.files_reused == 21) // 7 dirs × 3 files
    assert(s.files_deleted == 0)
    assert(paths(res.entries) == paths(prev))
  }

  test("additions: only touched dirs rescan; snapshot equals full walk") {
    val root = buildTree()
    val prev = snapshotNow(root)
    // add a file in one leaf dir and a whole new dir at depth 1
    val leaf = root.resolve("d0-0/d1-0")
    Files.write(leaf.resolve("f-new"), "hello".getBytes)
    val newDir = root.resolve("d0-1/d-new")
    Files.createDirectory(newDir)
    Files.write(newDir.resolve("f-in-new"), "x".getBytes)

    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_added == 1) // d-new
    assert(s.prefixes_changed == 2) // d1-0 (new file), d0-1 (new subdir)
    assert(s.prefixes_unchanged == 5)
    assert(s.prefixes_deleted == 0)
    // rescanned files = files under the 2 changed dirs + 1 in new dir
    assert(s.files_rescanned == 3 + 1 + 3 + 1)
    assert(s.files_reused == 5 * 3)
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("deletions: removed subtree reported and absent from snapshot") {
    val root = buildTree()
    val prev = snapshotNow(root)
    // delete subtree d0-1 entirely
    import scala.jdk.CollectionConverters._
    Files.walk(root.resolve("d0-1")).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)

    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_deleted == 3) // d0-1, d0-1/d1-0, d0-1/d1-1
    assert(s.files_deleted == 9)
    assert(s.prefixes_changed == 1) // root lost a child
    assert(s.prefixes_unchanged == 3) // d0-0 subtree untouched
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("seedDepth=2 rescan: per-seed slices key correctly one level down") {
    // Exercises the slice-keying path where the seed-ancestor is NOT
    // the walk root's direct child list: prev dirs must land in the
    // slice of their depth-2 ancestor, and the driver's shallow index
    // covers depths 0-2.
    val root = buildTree()
    val prev = snapshotNow(root)
    Files.write(root.resolve("d0-0/d1-1").resolve("f-extra"), "zz".getBytes)
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 2)
    val s = res.summary
    assert(s.prefixes_changed == 1) // only the touched leaf
    assert(s.prefixes_unchanged == 6)
    assert(s.files_reused == 18) // 6 untouched dirs x 3 files
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("mode change invalidates reuse") {
    val root = buildTree()
    val prev = snapshotNow(root)
    val d = root.resolve("d0-0")
    Files.setPosixFilePermissions(d,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    assert(res.summary.prefixes_changed == 1)
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("a new link to a file of a reused dir: stats equal a fresh full walk") {
    // d0-0/d1-0 changes (it gains the link); d0-1/d1-1 is reused, and
    // its file's row must not keep the old nlink of 1
    val root = buildTree()
    val prev = snapshotNow(root)
    Files.createLink(root.resolve("d0-0/d1-0/link"), root.resolve("d0-1/d1-1/f2-0"))
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    assert(res.summary.prefixes_changed == 1)
    def frames(c: graft.stats.Stats.Computed) = Seq(c.totals, c.perUser,
      c.perGroup, c.perPrefix, c.perUserPrefix, c.perGroupPrefix)
      .map(_.collect().map(_.toSeq).toSet)
    val got = frames(graft.stats.Stats.compute(res.entries))
    val want = frames(graft.stats.Stats.compute(fullWalk(root)))
    assert(got == want)
    assert(got.head.head(2) == 21L) // 7 dirs × 3 files, the link a hardlink
  }

  test("deletion above the seed level: counts and rows equal a seed-level walk's") {
    val root = buildTree()
    val prev = snapshotNow(root)
    import scala.jdk.CollectionConverters._
    Files.walk(root.resolve("d0-1")).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    // seedDepth 2: d0-1 is walked (and missed) by the driver, its subdirs are seeds
    val a = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val b = Incremental.rescan(spark, root.toString, prev, seedDepth = 2)
    assert(b.summary == a.summary)
    assert(b.summary.prefixes_deleted == 3 && b.summary.files_deleted == 9)
    assert(paths(b.entries) == paths(fullWalk(root)))
  }

  test("staleness contract: a file grown in place under an unchanged dir keeps its old row") {
    val root = buildTree()
    val prev = snapshotNow(root)
    val dir = root.resolve("d0-0")
    val f = dir.resolve("f1-0")
    val dirMtime = Files.getLastModifiedTime(dir)
    Files.write(f, "grown".getBytes, java.nio.file.StandardOpenOption.APPEND)
    Files.setLastModifiedTime(dir, dirMtime)
    def sizeIn(df: org.apache.spark.sql.DataFrame) =
      df.where(org.apache.spark.sql.functions.col("path") === f.toString)
        .select("size").collect().map(_.getLong(0)).toSeq
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    assert(res.summary.prefixes_changed == 0 && res.summary.files_rescanned == 0)
    assert(sizeIn(res.entries) == Seq(1L)) // the previous row
    assert(sizeIn(fullWalk(root)) == Seq(6L)) // a full walk reads the file
  }

  test("a change above the set limit tags by joins: counts and rows equal the literal sets'") {
    val root = buildTree()
    val prev = snapshotNow(root)
    import scala.jdk.CollectionConverters._
    // a deleted subtree (3 dirs, 9 files), an added file, and a new link
    // to a file of a reused dir
    Files.walk(root.resolve("d0-1")).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.write(root.resolve("d0-0/d1-1/f-new"), "new".getBytes)
    Files.createLink(root.resolve("d0-0/d1-1/link"), root.resolve("d0-0/d1-0/f2-0"))
    val limit = 2
    val w = Walker.rescan(spark, root.toString, Incremental.prevDirFrame(prev), Nil, 1, limit)
    w.walk.unpersist(blocking = false)
    assert(w.delta.sets.isEmpty && w.delta.staleDirs > limit)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val joined = Incremental.rescan(spark, root.toString, prev, Nil, 1, limit)
    val literal = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    assert(joined.summary == literal.summary)
    assert(joined.summary.prefixes_deleted == 3 && joined.summary.files_deleted == 9)
    assert(rows(joined.entries) == rows(literal.entries))
    assert(paths(joined.entries) == paths(fullWalk(root)))
    val fresh = joined.entries.where(
      org.apache.spark.sql.functions.col("path") === root.resolve("d0-0/d1-0/f2-0").toString)
    assert(fresh.select("nlink").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
