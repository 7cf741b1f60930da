package graft.cli.perfbench

import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests (no Spark session):
  *   - the tree generator's truth equals a brute-force `Files.walk`
  *     tally of a small generated tree, before and after mutation;
  *   - one seed gives an identical tree listing, another seed does not;
  *   - mutation rounds keep the file and dir counts steady;
  *   - the corpus generator is deterministic and plants its shares;
  *   - the graph reference results match hand-worked values on a
  *     five-node graph.
  *
  * Run: `python3 perfbench/run.py --self-test` (exits non-zero on a
  * failure). The argument is a scratch directory. */
object PerfBenchTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => e.printStackTrace(); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Sorted listing of everything under `root`: path, type, size, ids
    * and link count, one line each. */
  def listing(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.map { p =>
      val a = Files.readAttributes(p, "unix:*", LinkOption.NOFOLLOW_LINKS)
      val kind = if (Files.isSymbolicLink(p)) "l"
        else if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) "d" else "f"
      val size = if (kind == "d") 0L else a.get("size").asInstanceOf[Number].longValue
      s"${root.relativize(p)}\t$kind\t$size\t${a.get("uid")}\t${a.get("gid")}\t${a.get("nlink")}"
    }.toVector.sorted finally s.close()
  }

  /** Brute-force truth: a `Files.walk` + `lstat` tally of the tree
    * outside the excluded subtree; the canonical link of a hardlink
    * group is its least path. */
  def walkTally(root: Path, excludeName: String): TreeGen.Truth = {
    val s = Files.walk(root)
    val attrs = try s.iterator().asScala
      .filterNot(p => root.relativize(p).iterator().asScala.exists(_.toString == excludeName))
      .map(p => p -> Files.readAttributes(p, "unix:*", LinkOption.NOFOLLOW_LINKS).asScala)
      .toVector finally s.close()
    def num(a: collection.Map[String, AnyRef], k: String) = a(k).asInstanceOf[Number].longValue
    def isDir(a: collection.Map[String, AnyRef]) = a("isDirectory").asInstanceOf[Boolean]
    val canonical = attrs.filter { case (_, a) => !isDir(a) && num(a, "nlink") > 1 }
      .groupBy { case (_, a) => num(a, "ino") }
      .valuesIterator.map(_.map(_._1.toString).min).toSet
    val t = new TreeGen.Tally
    attrs.foreach { case (p, a) =>
      if (isDir(a)) t.dir(num(a, "uid"), num(a, "gid"), num(a, "size"), isRoot = p == root)
      else t.file(num(a, "uid"), num(a, "gid"), num(a, "size"),
        num(a, "nlink") <= 1 || canonical(p.toString))
    }
    t.result
  }

  private def tree(dir: Path, seed: Long): TreeGen =
    new TreeGen(dir.resolve("root"), seed, nFiles = 800, nDirs = 90).generate()

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse("perfbench-test")).toAbsolutePath
    TreeGen.remove(work)
    Files.createDirectories(work)
    try {
      val g = tree(work.resolve("a"), 42L)
      check("truth equals a Files.walk tally") {
        g.truth() == walkTally(g.root, g.excludeName)
      }
      check("tree has hardlinks in two dirs, symlinks and an excluded subtree") {
        g.linkGroups.values.exists(l => l.map(p => Paths.get(p).getParent).distinct.size == 2) &&
          g.files.values.exists(_.kind == TreeGen.Kind.Symlink) &&
          Files.isDirectory(g.root.resolve(g.excludeName))
      }
      check("same seed gives an identical listing") {
        listing(g.root) == listing(tree(work.resolve("b"), 42L).root)
      }
      check("another seed gives another listing") {
        listing(g.root) != listing(tree(work.resolve("c"), 43L).root)
      }
      val (files0, dirs0) = (g.files.size, g.dirs.size)
      val before = g.truth()
      (1 to 6).foreach(g.mutate)
      check("mutation rounds keep file and dir counts steady") {
        g.files.size == files0 && g.dirs.size == dirs0 &&
          g.truth().fileRows == before.fileRows
      }
      check("truth equals a Files.walk tally after mutation") {
        g.truth() == walkTally(g.root, g.excludeName)
      }
      check("corpus generator is deterministic and plants its shares") {
        val c = CorpusGen(5L, 3000)
        val rows = c.rows()
        val spans = rows.map(_._2.split(" ").take(40).mkString(" "))
        rows == CorpusGen(5L, 3000).rows() && rows.size == 3000 &&
          rows.count(_._2.head.isDigit) == c.nJunk &&
          spans.groupBy(identity).valuesIterator.filter(_.size >= 2).map(_.size).sum == c.nPlanted
      }
      check("graph reference results match a hand-worked small graph") {
        // a triangle 1-2-3 with a tail 3-4-5
        val t = new GraphTruth(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L))
        val tri = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L)
        val (hubs, auths) = t.hits(1)
        val pr = t.pageRank(1).toMap
        val prWant = Map(1L -> 0.03, 2L -> 0.115, 3L -> 0.285, 4L -> 0.2, 5L -> 0.2)
        t.kcore(2) == (tri, 2) && t.truss(3) == (tri, 1) &&
          t.sssp(1L, 2, 10L).toMap == Map(1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 20L) &&
          t.labelProp(1).toMap == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L) &&
          auths.toMap == Map(2L -> 500000L, 3L -> 1000000L, 4L -> 500000L, 5L -> 500000L) &&
          hubs.toMap == Map(1L -> 1000000L, 2L -> 666666L, 3L -> 333333L, 4L -> 333333L) &&
          pr.keySet == prWant.keySet && pr.forall { case (v, r) => math.abs(r - prWant(v)) < 1e-12 }
      }
    } finally TreeGen.remove(work)
    if (failures > 0) { System.err.println(s"$failures test(s) failed"); sys.exit(1) }
  }
}
