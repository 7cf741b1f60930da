package graft.stats

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.FileEntry

/** The driver fold below `Stats.RowLimit` against the distributed
  * plan: the same table row for row (gset, null keys, every metric),
  * both in [[Stats.TableSchema]]'s names and types. */
class StatsParitySpec extends SparkSpec {

  private val T0 = new Timestamp(1700000000000L)

  private def fe(path: String, isDir: Boolean, size: Long, uid: Long, gid: Long,
      inode: Long = 0, nlink: Long = 1, device: Long = 1): FileEntry = {
    val parent = path.split("/").dropRight(1).mkString("/")
    FileEntry(path, parent, path.split("/").last, path.count(_ == '/'), isDir, size,
      size / 512 + 1, 448, T0, uid, gid, device,
      if (inode == 0) path.hashCode.toLong & 0xffffffffL else inode, nlink, 0)
  }

  /** A random tree: nested dirs, files with a few owners, and
    * hardlink groups whose legs land in random dirs. */
  private def randomTree(seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val dirs = scala.collection.mutable.ArrayBuffer("/r")
    val rows = scala.collection.mutable.ArrayBuffer(fe("/r", isDir = true, 4096, 1, 1))
    (1 to 3 + rnd.nextInt(8)).foreach { i =>
      val d = s"${dirs(rnd.nextInt(dirs.size))}/d$i"
      dirs += d
      rows += fe(d, isDir = true, 4096, rnd.nextInt(3), rnd.nextInt(3))
    }
    (1 to 10 + rnd.nextInt(30)).foreach { i =>
      val link = rnd.nextInt(4) == 0
      rows += fe(s"${dirs(rnd.nextInt(dirs.size))}/f$i", isDir = false, rnd.nextInt(5000),
        rnd.nextInt(3), rnd.nextInt(3), inode = if (link) 1 + rnd.nextInt(3) else 0,
        nlink = if (link) 2 else 1, device = if (link) 1 + rnd.nextInt(2) else 1)
    }
    rnd.shuffle(rows.toSeq).toDF()
  }

  private def isLocal(c: Stats.Computed): Boolean =
    c.table.queryExecution.analyzed.collectFirst { case _: LocalRelation => () }.isDefined

  private def sorted(c: Stats.Computed): Seq[Seq[Any]] =
    c.table.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  /** The two paths agree on `files` under the given arguments. */
  private def assertParity(what: String, files: DataFrame, pm: Column = lit(true),
      em: Column = lit(true), calc: Calculator = Calculator.Identity,
      hardlinksAsFiles: Boolean = false): Unit = {
    val local = Stats.compute(files, pm, em, calc, hardlinksAsFiles, Stats.RowLimit)
    val dist = Stats.compute(files, pm, em, calc, hardlinksAsFiles, 0L)
    assert(isLocal(local) && !isLocal(dist), what)
    Seq(local, dist).foreach { c =>
      assert(c.table.schema.map(f => f.name -> f.dataType) ==
        Stats.TableSchema.map(f => f.name -> f.dataType), what)
    }
    assert(local.table.rdd.getNumPartitions == 1, what)
    assert(sorted(local) == sorted(dist), what)
  }

  private val predicates: Seq[(String, Column, Column)] = Seq(
    ("all", lit(true), lit(true)),
    ("prefix filter", col("uid") =!= 2L, lit(true)),
    ("entry filter", lit(true), col("size") > 1000L),
    ("both filters", !col("path").contains("d2"), col("gid") =!= 1L),
    ("none", lit(false), lit(false)))

  test("random trees: local == distributed under filters") {
    for (seed <- 1L to 6L; (name, pm, em) <- predicates)
      assertParity(s"seed $seed, $name", randomTree(seed), pm, em)
  }

  test("every calculator, with and without countHardlinkDupsAsFiles") {
    val calcs = Seq(Calculator.Identity, Calculator.Block(512), Calculator.RawBlocks,
      Calculator.Raid0(4096, 3))
    for (calc <- calcs; hl <- Seq(false, true))
      assertParity(s"${calc.name} hardlinksAsFiles=$hl", randomTree(11), calc = calc,
        hardlinksAsFiles = hl)
  }

  test("the canonical link is chosen before the prefix and entry filters") {
    val s = spark
    import s.implicits._
    // /a/x and /a/n are the least paths of link groups 5 and 6
    val files = Seq(
      fe("/a", isDir = true, 10, 1, 1), fe("/b", isDir = true, 10, 2, 2),
      fe("/a/x", isDir = false, 70, 1, 1, inode = 5, nlink = 2),
      fe("/b/y", isDir = false, 70, 2, 2, inode = 5, nlink = 2),
      fe("/b/m", isDir = false, 30, 2, 2, inode = 6, nlink = 2),
      fe("/a/n", isDir = false, 30, 1, 1, inode = 6, nlink = 2)).toDF()
    assertParity("canonical leg outside the prefix", files, pm = col("path") =!= "/a")
    assertParity("canonical leg fails entryMatch", files, em = col("path") =!= "/a/x")
    val c = Stats.compute(files, col("path") =!= "/a", lit(true), Calculator.Identity,
      false, Stats.RowLimit)
    assert(c.totals.collect().head.getAs[Long]("hardlinks") == 2L) // /b/y and /b/m
  }

  test("null ids, null link keys, null paths and predicates that evaluate to null") {
    val s = spark
    import s.implicits._
    val files = Seq(
      fe("/p", isDir = true, 10, 1, 1), fe("/q", isDir = true, 10, 2, 2),
      fe("/p/a", isDir = false, 100, 1, 1), fe("/p/b", isDir = false, 200, 2, 1),
      fe("/q/c", isDir = false, 300, 2, 2, inode = 8, nlink = 2),
      fe("/p/d", isDir = false, 400, 1, 2, inode = 8, nlink = 2),
      fe("/p/e", isDir = false, 500, 1, 2, inode = 9, nlink = 3),
      fe("/q/f", isDir = false, 600, 2, 1, inode = 9, nlink = 3),
      fe("/p/i", isDir = false, 900, 1, 1, inode = 9, nlink = 3),
      fe("/q/g", isDir = false, 700, 2, 1, inode = 10, nlink = 2),
      fe("/p/h", isDir = false, 800, 2, 1, inode = 11, nlink = 2)).toDF()
      .withColumn("uid", when(col("path").isin("/p/a", "/q"), lit(null)).otherwise(col("uid")))
      .withColumn("gid", when(col("path") === "/p/b", lit(null)).otherwise(col("gid")))
      // null device/inode keys group together: /q/g and /p/h share (null, null)
      .withColumn("device", when(col("path").isin("/q/g", "/p/h"), lit(null))
        .otherwise(col("device")))
      .withColumn("inode", when(col("path").isin("/q/g", "/p/h"), lit(null))
        .otherwise(col("inode")))
      // a null path sorts first in its link group; a null parent matches no prefix
      .withColumn("path", when(col("path") === "/q/f", lit(null)).otherwise(col("path")))
      .withColumn("parent", when(col("path") === "/p/b", lit(null)).otherwise(col("parent")))
      // a null is_dir row counts nowhere
      .withColumn("is_dir", when(col("path") === "/p/e", lit(null)).otherwise(col("is_dir")))
    assertParity("nulls", files)
    assertParity("nulls, hardlinks as files", files, hardlinksAsFiles = true)
    assertParity("null predicates", files, pm = col("uid") > 0L,
      em = when(col("size") > 250L, lit(true)))
    val c = Stats.compute(files, lit(true), lit(true), Calculator.Identity, false,
      Stats.RowLimit)
    assert(c.perUser.where(col("uid").isNull).count() == 1L)
    assert(c.perPrefix.where(col("prefix").isNull).count() == 0L)
  }

  test("int-typed id columns give the same long-typed table") {
    val files = randomTree(21).withColumn("uid", col("uid").cast("int"))
      .withColumn("gid", col("gid").cast("int")).withColumn("size", col("size").cast("int"))
    assertParity("int ids", files)
    assertParity("int ids, block calculator", files, calc = Calculator.Block(512))
  }

  test("empty input gives one zero totals row on both paths") {
    val empty = randomTree(1).limit(0)
    assertParity("empty", empty)
    val c = Stats.compute(empty, lit(true), lit(true), Calculator.Identity, false,
      Stats.RowLimit)
    assert(c.table.collect().map(_.toSeq).toSeq ==
      Seq(Seq(Stats.gsetOf(Nil), null, null, null) ++ Seq.fill(7)(0L)))
  }

  test("an overflowing sum throws on both paths") {
    val s = spark
    import s.implicits._
    val files = Seq(fe("/p", isDir = true, 10, 1, 1),
      fe("/p/a", isDir = false, Long.MaxValue / 2 + 1, 1, 1),
      fe("/p/b", isDir = false, Long.MaxValue / 2 + 1, 1, 1)).toDF()
    def arithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))
    Seq(Stats.RowLimit, 0L).foreach { limit =>
      val e = intercept[Exception](Stats.compute(files, lit(true), lit(true),
        Calculator.Identity, false, limit).table.collect())
      assert(arithmetic(e), s"rowLimit $limit: $e")
    }
  }

  test("routing: rowLimit rows fold on the driver, rowLimit + 1 run distributed") {
    val files = randomTree(3)
    val n = files.count()
    def at(limit: Long) = Stats.compute(files, lit(true), lit(true), Calculator.Identity,
      false, limit)
    assert(isLocal(at(n)))
    assert(!isLocal(at(n - 1)))
    assert(!isLocal(at(0L)))
    assert(sorted(at(n)) == sorted(at(n - 1)))
  }
}
