package graft.ids

/** uid/gid ↔ name resolution (reference
  * internal/usernames/usergroups.go:26-60, consumed by stats.go:213-218
  * and reports.go:164-172): parsed once on the driver from
  * `/etc/passwd` / `/etc/group` (the reference shells out to
  * `user.LookupId`; reading the files directly avoids per-id lookups
  * and works in containers without NSS).
  *
  * At query time the maps are constants: `user=alice` folds to
  * `uid = 1000` — a literal predicate that pushes down to the parquet
  * scan — and report rendering resolves names via a constant
  * `try_element_at(map, id)` expression, never a shuffle.
  *
  * Duplicate handling mirrors libc lookup order: the FIRST entry in
  * the file wins for both id→name and name→id, which is why both maps
  * are built positionally from the ordered entry list rather than by
  * inverting each other (inverting an unordered Map would pick a
  * hash-order-dependent winner).
  */
final case class IdMaps(
    userById: Map[Long, String],
    groupById: Map[Long, String],
    userByName: Map[String, Long],
    groupByName: Map[String, Long]) {

  def userName(id: Long): String = userById.getOrElse(id, id.toString)
  def groupName(id: Long): String = groupById.getOrElse(id, id.toString)

  /** Resolve a CLI `--user`/`--group` value: numeric id or name. */
  def resolveUser(v: String): Option[Long] =
    v.toLongOption.orElse(userByName.get(v))
  def resolveGroup(v: String): Option[Long] =
    v.toLongOption.orElse(groupByName.get(v))
}

object IdMaps {

  /** Build from id→name maps only (tests, synthetic dims); name→id is
    * the inversion — fine when ids and names are unique. */
  def apply(userById: Map[Long, String],
      groupById: Map[Long, String]): IdMaps =
    IdMaps(userById, groupById,
      userById.map(_.swap), groupById.map(_.swap))

  val empty: IdMaps = IdMaps(Map.empty[Long, String], Map.empty[Long, String])

  /** Parse `name:x:id:...` lines (passwd(5) / group(5) share the
    * layout for the first three fields) into ordered (id, name)
    * entries; malformed lines and comments are skipped. */
  def parseEntries(lines: Iterator[String]): Seq[(Long, String)] =
    lines.flatMap { l =>
      val f = l.split(":", -1)
      if (l.startsWith("#") || f.length < 3) None
      else f(2).toLongOption.map(_ -> f(0))
    }.toSeq

  /** First entry per key wins, matching libc lookup order. */
  private def firstWins[A, B](entries: Seq[(A, B)]): Map[A, B] =
    entries.foldLeft(Map.empty[A, B]) { (m, kv) =>
      if (m.contains(kv._1)) m else m + kv
    }

  /** Load from the OS databases; unreadable files degrade to empty
    * maps (ids then render numerically, reference usergroups.go:52). */
  def fromOS(passwd: String = "/etc/passwd",
      group: String = "/etc/group"): IdMaps = {
    def load(p: String): Seq[(Long, String)] =
      try {
        val src = scala.io.Source.fromFile(p)
        try parseEntries(src.getLines()) finally src.close()
      } catch { case _: Exception => Seq.empty }
    val users = load(passwd)
    val groups = load(group)
    IdMaps(
      firstWins(users), firstWins(groups),
      firstWins(users.map(_.swap)), firstWins(groups.map(_.swap)))
  }
}
