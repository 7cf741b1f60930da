package graft.cli

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ingest.{Incremental, Snapshot, Versioned}
import graft.model.ScanError

/** The snapshot's contracts beyond its rows: pinned schemas that the
  * writers keep and the readers enforce, the summary observed on the
  * write, and an atomic LATEST pointer. */
class SnapshotSpec extends SparkSpec {

  /** Two levels, two subdirs and three files per dir, a hardlink, old mtimes. */
  private def buildTree(): Path = {
    val root = Files.createTempDirectory("graft-snap")
    val t0 = FileTime.fromMillis(1700000000000L)
    def mk(dir: Path, level: Int): Unit = {
      for (i <- 0 until 3) {
        val f = dir.resolve(s"f$level-$i")
        Files.write(f, ("z" * (10 * i + 3)).getBytes)
        Files.setLastModifiedTime(f, t0)
      }
      if (level < 1) (0 until 2).foreach { i =>
        val d = dir.resolve(s"d$level-$i")
        Files.createDirectory(d)
        mk(d, level + 1)
      }
      Files.setLastModifiedTime(dir, t0)
    }
    mk(root, 0)
    Files.createLink(root.resolve("d0-1/link"), root.resolve("d0-0/f1-2"))
    Files.setLastModifiedTime(root.resolve("d0-1"), t0)
    root
  }

  private def errorsOf(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => ScanError(s"/e$i", new java.sql.Timestamp(0L), "denied")).toDF()
  }

  /** The summary recounted from the snapshot's tables. */
  private def recount(db: String): Snapshot.Summary = {
    val f = Snapshot.readFiles(spark, db)
    val files = f.where(!col("is_dir"))
    Snapshot.Summary(files.count(), f.where(col("is_dir")).count(),
      files.agg(org.apache.spark.sql.functions.sum("size")).collect()(0).getLong(0),
      f.count(), f.where(col("path").isNull).count(),
      f.where(col("size") < 0 || col("nlink") < 0).count(),
      Snapshot.readErrors(spark, db).count())
  }

  test("schema drift: first-scan and incremental writes keep the pinned schemas") {
    val root = buildTree()
    val db = Files.createTempDirectory("graft-snap-db").toString
    val first = Main.firstScan(spark, db, root.toString, Nil).get
    Files.write(root.resolve("d0-0/f-new"), "new".getBytes)
    val r = Incremental.rescan(spark, root.toString, Snapshot.readFiles(spark, db), seedDepth = 1)
    assert(r.summary.prefixes_changed == 1)
    val second = Snapshot.write(db, r.entries, errorsOf(0))
    Seq(first, second).foreach { name =>
      // a schema-less read shows what the writer put in the footers
      val dir = s"$db/snapshots/$name"
      assert(spark.read.parquet(s"$dir/files").schema == Snapshot.FilesSchema, name)
      assert(spark.read.parquet(s"$dir/errors").schema == Snapshot.ErrorsSchema, name)
      assert(Snapshot.readFiles(spark, db, Some(name)).schema == Snapshot.FilesSchema)
    }
    Main.summarize(spark, db) // the scan log takes its counts from the summary
    Snapshot.appendLog(spark, db, {
      val s = spark
      import s.implicits._
      Seq(graft.model.ScanLog(new java.sql.Timestamp(0L), new java.sql.Timestamp(1L),
        root.toString, 1L, 2L, 0L, 3L)).toDF()
    })
    assert(spark.read.parquet(s"$db/scan_log").schema == Snapshot.LogSchema)
    assert(Snapshot.readLog(spark, db).count() == 1L)
  }

  test("a files dir missing a pinned column fails to read instead of reading nulls") {
    val root = buildTree()
    val db = Files.createTempDirectory("graft-snap-db").toString
    val name = Main.firstScan(spark, db, root.toString, Nil).get
    val files = s"$db/snapshots/$name/files"
    val moved = Files.createTempDirectory("graft-snap-old").resolve("files").toString
    spark.read.parquet(files).drop("nlink").write.parquet(moved)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(files))
    Files.move(Paths.get(moved), Paths.get(files))
    val e = intercept[IllegalStateException](Snapshot.readFiles(spark, db))
    assert(e.getMessage.contains("nlink"), e.getMessage)
  }

  test("the summary observed on the write equals a recount of the snapshot") {
    val root = buildTree()
    val db = Files.createTempDirectory("graft-snap-db").toString
    Main.firstScan(spark, db, root.toString, Nil).get
    assert(Snapshot.summary(db) == recount(db))
    // an incremental write, with errors, over a multi-partition plan
    Files.write(root.resolve("d0-1/f-more"), ("m" * 77).getBytes)
    val r = Incremental.rescan(spark, root.toString, Snapshot.readFiles(spark, db), seedDepth = 1)
    Snapshot.write(db, r.entries, errorsOf(2))
    val s = Snapshot.summary(db)
    assert(s == recount(db))
    assert(s.errors == 2L && s.violations == 0L && s.null_keys == 0L && s.files > 0L)
    val out = new java.io.ByteArrayOutputStream()
    val (nFiles, nDirs, bytes, q) = Console.withOut(out)(Main.summarize(spark, db))
    assert((nFiles, nDirs, bytes) == ((s.files, s.dirs, s.bytes)))
    assert(q == s.quality)
    assert(out.toString.contains(s"quality[analyze]: rows=${s.rows} null_keys=0 violations=0"))
  }

  test("LATEST flips are atomic: a reader never sees an empty or partial name") {
    val base = Files.createTempDirectory("graft-latest")
    // the store at the snapshot layout; reads go through Snapshot itself
    val store = Versioned(base.resolve("snapshots").toString, base.resolve("LATEST").toString)
    val names = (0 until 1000).map(i => f"20260101T000000.$i%03d")
    store.flip(names.head)
    val done = new AtomicBoolean(false)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val reader = new Thread(() => {
      while (!done.get()) seen += Snapshot.latestName(base.toString)
    })
    reader.start()
    try names.foreach(store.flip)
    finally { done.set(true); reader.join() }
    assert(seen.nonEmpty)
    val bad = seen.filterNot(_.exists(names.toSet))
    assert(bad.isEmpty, s"reader saw ${bad.take(3)}")
    assert(Snapshot.latestName(base.toString).contains(names.last))
    // no temp file is left beside the pointer
    assert(Files.list(base).count() == 1L)
  }
}
