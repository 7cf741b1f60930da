package graft.cli.perfbench

import java.io.RandomAccessFile
import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded, single-threaded generator of a file tree with known ground
  * truth, plus a mutator that changes about 1 % of its dirs per round
  * while keeping the file and dir counts steady.
  *
  * Shape: fan-out about 8, skewed files per dir (most dirs hold a few
  * files, `nBig` dirs hold thousands at full size), 5 uids and 3 gids
  * set with `lchown`, about 1 % extra hardlinks (some in a second
  * dir), a few symlinks, and one subtree named `__exclude__` that the
  * walk is told to skip. Files are sparse (`setLength`), so sizes are
  * real `lstat` sizes without disk cost.
  *
  * The truth is the generator's own record of what it created; dir
  * sizes come from `lstat` of the dirs it created. All randomness is
  * `scala.util.Random(seed)`, so one seed gives one tree. */
final class TreeGen(val root: Path, seed: Long, nFiles: Int, nDirs: Int) {
  import TreeGen._

  val uids: Seq[Int] = Seq(61001, 61002, 61003, 61004, 61005)
  val gids: Seq[Int] = Seq(62001, 62002, 62003)
  val excludeName = "__exclude__"
  /** Regex for the walker's `--exclude`: only the generated subtree. */
  val excludePattern: String = "/" + excludeName + "$"

  private val rng = new scala.util.Random(seed)
  /** Whether `lchown` works here; without it every id is the
    * process's own and the truth records that. */
  private var canChown = true

  /** Current dirs (excluded subtree not included), in creation order. */
  val dirs = mutable.LinkedHashMap.empty[String, DirRec]
  /** Current non-dir entries (files, hardlink legs, symlinks). */
  val files = mutable.LinkedHashMap.empty[String, FileRec]
  /** Inode group id → link paths, for every group with > 1 link. */
  val linkGroups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[String]]
  private val childFiles = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
  private val childDirs = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
  private var nextInode = 1L
  private var nextName = 0L
  private var bigDirs = Set.empty[String]

  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  /** Skewed owner draw: the first id owns the most. */
  private def pickId(ids: Seq[Int], weights: Seq[Double]): Int = {
    var u = rng.nextDouble() * weights.sum
    ids.zip(weights).find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse(ids.last)
  }
  private def drawUid(): Int = pickId(uids, Seq(0.40, 0.25, 0.15, 0.12, 0.08))
  private def drawGid(): Int = pickId(gids, Seq(0.50, 0.30, 0.20))

  /** Log-normal size, median about 1.1 KB, capped at 8 MiB. */
  private def drawSize(): Long =
    math.min(8L << 20, math.exp(7.0 + 2.0 * rng.nextGaussian()).toLong)

  private def chown(p: Path, uid: Int, gid: Int): (Int, Int) = {
    if (canChown) {
      try {
        Files.setAttribute(p, "unix:uid", Integer.valueOf(uid), LinkOption.NOFOLLOW_LINKS)
        Files.setAttribute(p, "unix:gid", Integer.valueOf(gid), LinkOption.NOFOLLOW_LINKS)
      } catch { case _: java.io.IOException | _: SecurityException => canChown = false }
    }
    if (canChown) (uid, gid) else {
      val a = Files.readAttributes(p, "unix:uid,gid", LinkOption.NOFOLLOW_LINKS)
      (a.get("uid").asInstanceOf[Number].intValue, a.get("gid").asInstanceOf[Number].intValue)
    }
  }

  private def mkdir(path: String, parent: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectory(p)
    val (u, g) = chown(p, drawUid(), drawGid())
    dirs(path) = DirRec(path, parent, u, g)
    childFiles(path) = mutable.ArrayBuffer.empty
    childDirs(path) = mutable.ArrayBuffer.empty
    if (parent.nonEmpty && dirs.contains(parent)) childDirs(parent) += path
  }

  private def freshName(prefix: String, ext: String): String = {
    nextName += 1; f"$prefix$nextName%06d.$ext"
  }

  private def mkfile(dir: String, size: Long): String = {
    val path = s"$dir/${freshName("f", "dat")}"
    val raf = new RandomAccessFile(path, "rw")
    try raf.setLength(size) finally raf.close()
    val (u, g) = chown(Paths.get(path), drawUid(), drawGid())
    files(path) = FileRec(path, dir, Kind.File, size, u, g, nextInode)
    nextInode += 1
    childFiles(dir) += path
    path
  }

  /** A second link to `target` in `dir`; returns the new path. */
  private def mklink(target: String, dir: String): String = {
    val path = s"$dir/${freshName("h", "lnk")}"
    Files.createLink(Paths.get(path), Paths.get(target))
    val t = files(target)
    files(path) = t.copy(path = path, parent = dir, kind = Kind.Link)
    linkGroups.getOrElseUpdate(t.inode, mutable.ArrayBuffer(target)) += path
    childFiles(dir) += path
    path
  }

  private def mksymlink(dir: String, targetName: String): Unit = {
    val path = s"$dir/${freshName("s", "sym")}"
    Files.createSymbolicLink(Paths.get(path), Paths.get(targetName))
    val (u, g) = chown(Paths.get(path), drawUid(), drawGid())
    files(path) = FileRec(path, dir, Kind.Symlink,
      targetName.getBytes("UTF-8").length.toLong, u, g, nextInode)
    nextInode += 1
    childFiles(dir) += path
  }

  private def delete(path: String): Unit = {
    Files.delete(Paths.get(path))
    val f = files.remove(path).get
    childFiles(f.parent) -= path
    linkGroups.get(f.inode).foreach { g =>
      g -= path
      if (g.size <= 1) linkGroups.remove(f.inode)
    }
  }

  /** Nlink-1 regular files in `dir` (safe to delete, resize, chown). */
  private def plainFiles(dir: String): collection.IndexedSeq[String] =
    childFiles(dir).filter(p => files(p).kind == Kind.File && !linkGroups.contains(files(p).inode))

  /** Build the tree under `root` (which must not exist). */
  def generate(): this.type = {
    Files.createDirectories(root.getParent)
    mkdir(root.toString, "")
    // dirs: breadth-first, 6..10 children each, until nDirs exist
    val queue = mutable.Queue(root.toString)
    while (dirs.size < nDirs) {
      val d = queue.dequeue()
      val k = math.min(6 + rng.nextInt(5), nDirs - dirs.size)
      (0 until k).foreach { i =>
        val c = f"$d/d$i%02d"
        mkdir(c, d); queue.enqueue(c)
      }
    }
    val dirList = dirs.keys.toIndexedSeq
    // skewed files per dir: nBig dirs share 15 % of the files, the rest
    // are spread by log-normal weights (largest-remainder rounding so
    // the total is exact for every seed)
    val nBig = math.max(1, nDirs / 1500)
    bigDirs = rng.shuffle(dirList.tail).take(nBig).toSet
    val bigFiles = nFiles * 15 / 100
    val weights = dirList.map(d =>
      if (bigDirs(d)) 0.0 else math.exp(1.3 * rng.nextGaussian()))
    val rest = nFiles - bigFiles
    val wsum = weights.sum
    val raw = weights.map(_ / wsum * rest)
    val counts = raw.map(_.toInt).toArray
    raw.zipWithIndex.sortBy { case (r, i) => (-(r - r.toInt), i) }
      .take(rest - counts.sum).foreach { case (_, i) => counts(i) += 1 }
    val bigList = dirList.filter(bigDirs)
    bigList.zipWithIndex.foreach { case (d, i) =>
      val i0 = dirList.indexOf(d)
      counts(i0) = bigFiles / nBig + (if (i < bigFiles % nBig) 1 else 0)
    }
    // hardlinks take ~1 % of the file budget; the rest are plain files
    val nLinks = nFiles / 100
    val nSym = 16
    val plainBudget = counts.clone()
    var toTake = nLinks + nSym
    var j = 0
    while (toTake > 0) { // spread the link/symlink slots over the dirs
      val i = (j * 7919) % counts.length
      if (plainBudget(i) > 1) { plainBudget(i) -= 1; toTake -= 1 }
      j += 1
    }
    dirList.zip(plainBudget).foreach { case (d, n) =>
      (0 until n).foreach(_ => mkfile(d, drawSize()))
    }
    val plain = files.keys.toIndexedSeq
    (0 until nLinks).foreach { i =>
      var t = pick(plain)
      while (files(t).kind != Kind.File || linkGroups.contains(files(t).inode)) t = pick(plain)
      // 60 % in the same dir, 40 % in another dir
      val dir = if (i % 5 < 3) files(t).parent else pick(dirList)
      mklink(t, dir)
    }
    (0 until nSym).foreach { _ =>
      val t = files(pick(plain))
      mksymlink(pick(dirList), Paths.get(t.path).getFileName.toString)
    }
    // the excluded subtree: present on disk, absent from the truth
    val ex = root.resolve(excludeName)
    Files.createDirectory(ex)
    (0 until 4).foreach { i =>
      val d = ex.resolve(f"d$i%02d"); Files.createDirectory(d)
      (0 until 25).foreach { k =>
        val raf = new RandomAccessFile(d.resolve(f"x$k%03d.dat").toFile, "rw")
        try raf.setLength(drawSize()) finally raf.close()
      }
    }
    this
  }

  /** One mutation round over about 1 % of the dirs. Counts stay steady: every deleted file is replaced,
    * the removed leaf dir is replaced by a new one with as many files,
    * and the unlinked hardlink leg is replaced by a new cross-dir link.
    * Every changed dir gains or loses an entry, so its mtime moves (the
    * incremental walk's change signal); files are resized and chowned
    * only in such dirs, and both legs of a new link sit in such dirs,
    * as the incremental walk's contract requires. */
  def mutate(round: Int): Unit = {
    val r = new scala.util.Random(seed * 1000003L + round)
    val changed = mutable.LinkedHashSet.empty[String]
    val all = dirs.keys.toIndexedSeq
    val nChange = math.max(3, nDirs / 100)
    // (1) one cross-dir hardlink pair: unlink the canonical (least
    // path) leg so the canonical link flips to the other dir
    val crossPairs = linkGroups.valuesIterator
      .filter(g => g.size == 2 && files(g(0)).parent != files(g(1)).parent).toIndexedSeq
    val flipped = crossPairs.nonEmpty
    if (flipped) {
      val canon = crossPairs(r.nextInt(crossPairs.size)).min
      changed += files(canon).parent
      delete(canon)
    }
    // (2) remove one small leaf dir and add a new one with as many files
    val withPlain = all.filter(d => plainFiles(d).size >= 3)
    val leaves = all.filter(d => d != root.toString && childDirs(d).isEmpty &&
      !bigDirs(d) && childFiles(d).size <= 24 && childFiles(d).size == plainFiles(d).size)
    val gone = leaves(r.nextInt(leaves.size))
    val nGone = childFiles(gone).size
    childFiles(gone).toList.foreach(delete)
    Files.delete(Paths.get(gone))
    val goneParent = dirs.remove(gone).get.parent
    childFiles.remove(gone); childDirs.remove(gone)
    childDirs(goneParent) -= gone
    changed += goneParent
    val hosts = withPlain.filter(dirs.contains)
    val host = hosts(r.nextInt(hosts.size))
    val fresh = s"$host/${freshName("n", "d")}"
    mkdir(fresh, host)
    (0 until nGone).foreach(_ => mkfile(fresh, drawSize()))
    changed += host += fresh
    // (3) add, delete, resize and chown files in the remaining share
    // (at least two dirs, which step 4 links across)
    val touched = mutable.ArrayBuffer.empty[String]
    while (changed.size < nChange || touched.size < 2) {
      val d = withPlain(r.nextInt(withPlain.size))
      if (!changed(d) && dirs.contains(d) && plainFiles(d).size >= 3) {
        changed += d
        touched += d
        val n = 1 + r.nextInt(2)
        r.shuffle(plainFiles(d).toList).take(n).foreach(delete)
        (0 until n).foreach(_ => mkfile(d, drawSize()))
        val ps = plainFiles(d)
        val resized = ps(r.nextInt(ps.size))
        val sz = drawSize()
        val raf = new RandomAccessFile(resized, "rw")
        try raf.setLength(sz) finally raf.close()
        files(resized) = files(resized).copy(size = sz)
        val owned = ps(r.nextInt(ps.size))
        val f = files(owned)
        val (u, g) = chown(Paths.get(owned), uids((uids.indexOf(f.uid) + 1) % uids.size), f.gid)
        files(owned) = f.copy(uid = u, gid = g)
      }
    }
    // (4) a new cross-dir pair replaces the flipped one; both of its
    // dirs changed in step 3, so the walk re-stats both legs
    if (flipped) mklink(plainFiles(touched(0)).head, touched(1))
  }

  /** Ground truth for a match-all `stats compute` (identity
    * calculator, hardlink duplicates not counted as files): totals,
    * per uid and per gid, in [[Metrics]] order. */
  def truth(): Truth = {
    val canonical = linkGroups.valuesIterator.map(_.min).toSet
    val t = new Tally
    dirs.valuesIterator.foreach(d =>
      t.dir(d.uid, d.gid, Files.size(Paths.get(d.path)), isRoot = d.parent.isEmpty))
    files.valuesIterator.foreach(f =>
      t.file(f.uid, f.gid, f.size, !linkGroups.contains(f.inode) || canonical(f.path)))
    t.result
  }

  /** The `find` expressions the benchmark runs, each with its
    * subtree root (if any) and its true row count. */
  def findCases(): Seq[FindCase] = {
    val u = uids(1); val g = gids(2)
    val sub = dirs.keys.find(_.count(_ == '/') == root.toString.count(_ == '/') + 1).get
    def dirCount(p: DirRec => Boolean) = dirs.valuesIterator.count(p).toLong
    def fileCount(p: FileRec => Boolean) = files.valuesIterator.count(p).toLong
    val dirSize = (d: DirRec) => Files.size(Paths.get(d.path))
    val big = 65536L
    Seq(
      FindCase(s"user=${userName(u)} && larger=$big", None,
        dirCount(d => d.uid == u && dirSize(d) >= big) +
          fileCount(f => f.uid == u && f.size >= big)),
      FindCase("type=f", Some(sub),
        fileCount(f => f.kind != Kind.Symlink && (f.path.startsWith(sub + "/")))),
      FindCase(s"name=*.lnk || group=${groupName(g)}", None,
        dirCount(d => d.gid == g) +
          fileCount(f => f.path.endsWith(".lnk") || f.gid == g)))
  }

  def userName(uid: Int): String = s"bench_u${uids.indexOf(uid) + 1}"
  def groupName(gid: Int): String = s"bench_g${gids.indexOf(gid) + 1}"
  /** Names for the generated ids, so reports and `find` resolve names
    * without the host's user database. */
  def idMaps: graft.ids.IdMaps = graft.ids.IdMaps(
    uids.map(u => u.toLong -> userName(u)).toMap,
    gids.map(g => g.toLong -> groupName(g)).toMap)

}

object TreeGen {
  object Kind extends Enumeration { val File, Link, Symlink = Value }
  final case class DirRec(path: String, parent: String, uid: Int, gid: Int)
  final case class FileRec(path: String, parent: String, kind: Kind.Value,
      size: Long, uid: Int, gid: Int, inode: Long)
  final case class FindCase(expr: String, root: Option[String], rows: Long)

  /** The stats metric columns, in `Stats` order. */
  val Metrics: Seq[String] = Seq("prefixes", "sub_prefixes", "files",
    "hardlinks", "bytes", "prefix_bytes", "storage_bytes")
  private val Prefixes = 0
  private val SubPrefixes = 1
  private val Files_ = 2
  private val Hardlinks = 3
  private val Bytes = 4
  private val PrefixBytes = 5
  private val StorageBytes = 6

  /** Totals, per uid and per gid, in [[Metrics]] order. */
  final case class Truth(totals: Seq[Long], perUid: Map[Long, Seq[Long]],
      perGid: Map[Long, Seq[Long]]) {
    def dirs: Long = totals(Prefixes)
    /** Non-dir rows: canonical files plus extra hardlinks. */
    def fileRows: Long = totals(Files_) + totals(Hardlinks)
  }

  /** Adds up [[Truth]] row by row with the `Stats` rules for a
    * match-all expression: a dir is a prefix (and a sub-prefix of its
    * parent unless it is the root); a file counts once per hardlink
    * group, at its canonical link. */
  final class Tally {
    private val total = new Array[Long](Metrics.size)
    private val perUid = mutable.TreeMap.empty[Long, Array[Long]]
    private val perGid = mutable.TreeMap.empty[Long, Array[Long]]

    private def add(uid: Long, gid: Long, m: Int, v: Long): Unit = {
      total(m) += v
      perUid.getOrElseUpdate(uid, new Array[Long](Metrics.size))(m) += v
      perGid.getOrElseUpdate(gid, new Array[Long](Metrics.size))(m) += v
    }

    def dir(uid: Long, gid: Long, size: Long, isRoot: Boolean): Unit = {
      Seq(Prefixes -> 1L, Bytes -> size, PrefixBytes -> size, StorageBytes -> size)
        .foreach { case (m, v) => add(uid, gid, m, v) }
      if (!isRoot) add(uid, gid, SubPrefixes, 1)
    }

    def file(uid: Long, gid: Long, size: Long, canonical: Boolean): Unit =
      if (canonical) Seq(Files_ -> 1L, Bytes -> size, StorageBytes -> size)
        .foreach { case (m, v) => add(uid, gid, m, v) }
      else add(uid, gid, Hardlinks, 1)

    def result: Truth = Truth(total.toSeq,
      perUid.map { case (k, v) => k -> v.toSeq }.toMap,
      perGid.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  /** Remove a tree (dirs after their contents; symlinks not followed). */
  def remove(root: Path): Unit = if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }
}
