package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.jdk.CollectionConverters._

/** Timestamped-artifact candidate listing and retention over a bare
  * directory (reference reports.go:268-296: list report dirs, sort
  * descending, delete all but the newest n). Names follow
  * [[Versioned.Name]], so candidate ordering is a pure name sort — no
  * per-dir stat. A store with a pointer prunes through
  * [[Versioned.prune]], which protects the pointer's chain.
  */
object Retention {

  /** Timestamped children of `dir`, newest first. */
  def candidates(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(Versioned.NamePattern.matches(_))
        .toSeq.sorted.reverse
      finally s.close()
    }
  }

  /** Delete all but the newest `keep` candidates under `dir`; returns
    * the deleted names. `protect` (e.g. the LATEST target) is never
    * deleted regardless of age. */
  def prune(dir: String, keep: Int, protect: Option[String] = None): Seq[String] =
    pruneExcept(dir, keep, protect.toSet)

  private[ingest] def pruneExcept(dir: String, keep: Int, protect: Set[String]): Seq[String] = {
    require(keep >= 1, "retention must keep at least 1")
    val doomed = candidates(dir).drop(keep).filterNot(protect.contains)
    doomed.foreach(n => deleteRecursively(Paths.get(dir, n)))
    doomed
  }

  private def deleteRecursively(p: Path): Unit = {
    // NOFOLLOW: a symlink to a directory must be unlinked, never
    // descended — following it would delete data OUTSIDE the pruned
    // tree.
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

/** The versioned-artifact store every persisted artifact shares
  * (reference: `.idustats` gobs + a `latest` symlink, stats.go:31-82;
  * report dirs, reports.go:268-296): each version is a directory
  * `<dir>/<name>` named by [[Versioned.Name]] in UTC, which sorts
  * lexicographically == chronologically, and the text file `pointer`
  * names the current one.
  *
  *   - [[create]] makes a fresh version directory under a name no
  *     other version holds, optionally chained to a `parent` by a
  *     `PARENT` file inside it (the Lucene-segment design: a version
  *     holds a delta on top of its parent).
  *   - [[flip]] points `pointer` at a version atomically (a temp file
  *     renamed over it): a reader sees the old name or the new one,
  *     never an empty or partial pointer. Writers flip only once a
  *     version is complete, so readers never see a partial one. This
  *     works on any filesystem with an atomic rename; object stores
  *     have no symlinks, which is why the pointer is a file.
  *   - [[prune]] keeps the newest versions and never deletes the
  *     pointer's [[chain]]; without `PARENT` files that chain is the
  *     pointed-at version alone.
  */
final case class Versioned(dir: String, pointer: String) {

  /** The version `pointer` names, if any. */
  def latest: Option[String] = Versioned.readName(Paths.get(pointer))

  /** `name`, or the latest version when none is given. */
  def resolve(name: Option[String]): String =
    name.orElse(latest).getOrElse(
      throw new IllegalStateException(s"no version under $dir: $pointer does not exist"))

  /** Create a fresh version directory and return its name. Names have
    * millisecond resolution, so a taken name (a rapid second create,
    * or another writer) waits for the clock to tick past it; the
    * directory's creation is what claims the name. */
  def create(parent: Option[String] = None): String = {
    Files.createDirectories(Paths.get(dir))
    var name = ""
    while (name.isEmpty) {
      val n = Versioned.Name.format(Instant.now())
      try { Files.createDirectory(Paths.get(dir, n)); name = n }
      catch { case _: FileAlreadyExistsException => Thread.sleep(1) }
    }
    parent.foreach(p => Files.write(Paths.get(dir, name, "PARENT"), p.getBytes(UTF_8),
      StandardOpenOption.CREATE_NEW))
    name
  }

  /** Point `pointer` at `name` atomically: write a temp file beside
    * it, then rename it over the pointer. */
  def flip(name: String): Unit = {
    val p = Paths.get(pointer)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.write(tmp, name.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `name` and its ancestors through `PARENT` files, newest first. */
  def chain(name: String): Seq[String] =
    Iterator.iterate(Option(name))(_.flatMap(n => Versioned.readName(Paths.get(dir, n, "PARENT"))))
      .takeWhile(_.isDefined).flatten.toSeq

  /** All versions, newest first. */
  def candidates: Seq[String] = Retention.candidates(dir)

  /** Delete all but the newest `keep` versions, keeping the latest
    * version's whole chain whatever its age; returns the deleted
    * names. */
  def prune(keep: Int): Seq[String] =
    Retention.pruneExcept(dir, keep, latest.toSeq.flatMap(chain).toSet)
}

object Versioned {

  /** The version-name format: `yyyyMMdd'T'HHmmss.SSS` in UTC. */
  val Name: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS").withZone(ZoneOffset.UTC)

  /** Matches exactly the names [[Name]] formats. */
  private[ingest] val NamePattern = "^\\d{8}T\\d{6}\\.\\d{3}$".r

  /** The version name a pointer or `PARENT` file holds, if it exists. */
  private def readName(p: Path): Option[String] =
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8).trim) else None
}
