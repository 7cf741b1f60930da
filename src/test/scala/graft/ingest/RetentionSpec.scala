package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.stats.StatsArtifact

class RetentionSpec extends AnyFunSuite {

  private def mk(names: String*): String = {
    val base = Files.createTempDirectory("retention").toString
    names.foreach { n =>
      val d = Paths.get(base, n)
      Files.createDirectories(d)
      Files.writeString(d.resolve("payload.txt"), n)
    }
    base
  }

  test("candidates: timestamped dirs only, newest first") {
    val base = mk("20260101T000000.000", "20260301T120000.500",
      "20260201T060000.250")
    Files.createDirectories(Paths.get(base, "not-a-timestamp"))
    Files.writeString(Paths.get(base, "LATEST"), "x")
    assert(Retention.candidates(base) == Seq(
      "20260301T120000.500", "20260201T060000.250", "20260101T000000.000"))
  }

  test("prune keeps newest N and never deletes the protected name") {
    val base = mk("20260101T000000.000", "20260201T000000.000",
      "20260301T000000.000", "20260401T000000.000")
    val gone = Retention.prune(base, keep = 2,
      protect = Some("20260101T000000.000"))
    assert(gone == Seq("20260201T000000.000"))
    assert(Retention.candidates(base) == Seq("20260401T000000.000",
      "20260301T000000.000", "20260101T000000.000"))
    // Recursive delete actually removed the payload.
    assert(!Files.exists(Paths.get(base, "20260201T000000.000")))
  }

  test("snapshot prune protects the LATEST target") {
    val base = Files.createTempDirectory("snapprune").toString
    // Three fake snapshots; LATEST points at the OLDEST (e.g. a
    // pinned-by-hand pointer) — prune must not break the pointer.
    Seq("20260101T000000.000", "20260201T000000.000", "20260301T000000.000")
      .foreach(n => Files.createDirectories(Paths.get(base, "snapshots", n)))
    Files.writeString(Paths.get(base, "LATEST"), "20260101T000000.000")
    val gone = Snapshot.prune(base, keep = 1)
    assert(gone == Seq("20260201T000000.000"))
    assert(Snapshot.candidates(base).contains("20260101T000000.000"))
  }

  test("store: pointer flips are atomic, a reader never sees an empty or partial name") {
    val base = Files.createTempDirectory("graft-latest").toString
    val store = Versioned(base, s"$base/LATEST")
    val names = (0 until 1000).map(i => f"20260101T000000.$i%03d")
    store.flip(names.head)
    val done = new AtomicBoolean(false)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val reader = new Thread(() => {
      while (!done.get()) seen += store.latest
    })
    reader.start()
    try names.foreach(store.flip)
    finally { done.set(true); reader.join() }
    assert(seen.nonEmpty)
    val bad = seen.filterNot(_.exists(names.toSet))
    assert(bad.isEmpty, s"reader saw ${bad.take(3)}")
    assert(store.latest.contains(names.last))
  }

  test("store: a flip writes exactly the name and leaves no temp file beside the pointer") {
    val base = Files.createTempDirectory("graft-flip").toString
    val store = Versioned(s"$base/out", s"$base/out/latest") // dir not there yet
    store.flip("20260101T000000.000")
    store.flip("20260101T000000.001")
    assert(Files.readAllBytes(Paths.get(base, "out", "latest")).toSeq ==
      "20260101T000000.001".getBytes(UTF_8).toSeq)
    assert(Files.list(Paths.get(base, "out")).count() == 1L)
  }

  test("store: rapid back-to-back creates get distinct names, newest first") {
    val base = Files.createTempDirectory("graft-create").toString
    val store = Versioned(s"$base/v", s"$base/v/LATEST")
    val names = (0 until 20).map(_ => store.create())
    assert(names.distinct.size == names.size)
    assert(names.forall(Versioned.NamePattern.matches(_)))
    assert(store.candidates == names.reverse)
    // a created version holds a PARENT only when it is given one
    val child = store.create(parent = Some(names.head))
    assert(store.chain(child) == Seq(child, names.head))
    assert(store.chain(names.last) == Seq(names.last))
  }

  test("store: prune keeps the chain of a pointer that names an old version") {
    val base = mk("20260101T000000.000", "20260201T000000.000",
      "20260301T000000.000", "20260401T000000.000", "20260501T000000.000")
    val store = Versioned(base, s"$base/LATEST")
    Files.writeString(Paths.get(base, "20260201T000000.000", "PARENT"), "20260101T000000.000")
    store.flip("20260201T000000.000")
    assert(store.chain("20260201T000000.000") ==
      Seq("20260201T000000.000", "20260101T000000.000"))
    assert(store.prune(keep = 1) == Seq("20260401T000000.000", "20260301T000000.000"))
    assert(store.candidates == Seq("20260501T000000.000", "20260201T000000.000",
      "20260101T000000.000"))
    assert(store.latest.contains("20260201T000000.000"))
    assert(store.resolve(None) == "20260201T000000.000")
    assert(store.resolve(Some("20260501T000000.000")) == "20260501T000000.000")
    intercept[IllegalStateException](Versioned(base, s"$base/none").resolve(None))
  }

  test("store: a database in the earlier hand-written layout reads and prunes the same") {
    // <db>/LATEST and <db>/stats/LATEST as plain text files, one written
    // with a trailing newline; snapshot and artifact dirs by hand
    val db = Files.createTempDirectory("graft-layout").toString
    val snaps = Seq("20260101T000000.000", "20260102T000000.000", "20260103T000000.000")
    val arts = Seq("20260101T000000.500", "20260102T000000.500")
    snaps.foreach(n => Files.createDirectories(Paths.get(db, "snapshots", n, "files")))
    arts.foreach(n => Files.createDirectories(Paths.get(db, "stats", n, "table")))
    Files.writeString(Paths.get(db, "LATEST"), snaps(1))
    Files.writeString(Paths.get(db, "stats", "LATEST"), arts(0) + "\n") // an old one
    val snapStore = Versioned(s"$db/snapshots", s"$db/LATEST")
    val artStore = Versioned(s"$db/stats", s"$db/stats/LATEST")
    assert(Snapshot.latestName(db).contains(snaps(1)))
    assert(snapStore.latest == Snapshot.latestName(db))
    assert(StatsArtifact.latestName(db).contains(arts(0)))
    assert(artStore.latest == StatsArtifact.latestName(db))
    assert(Snapshot.candidates(db) == snaps.reverse)
    assert(snapStore.candidates == Retention.candidates(s"$db/snapshots"))
    assert(StatsArtifact.candidates(db) == arts.reverse)
    assert(artStore.candidates == Retention.candidates(s"$db/stats"))
    // the pointer targets survive; nothing else is touched
    assert(Snapshot.prune(db, keep = 1) == Seq(snaps(0)))
    assert(StatsArtifact.prune(db, keep = 1).isEmpty)
    assert(Snapshot.candidates(db) == Seq(snaps(2), snaps(1)))
    assert(Files.readString(Paths.get(db, "LATEST")) == snaps(1))
    assert(StatsArtifact.candidates(db) == arts.reverse)
    assert(Files.readString(Paths.get(db, "stats", "LATEST")) == arts(0) + "\n")
  }
}
