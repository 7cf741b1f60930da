package graft.ids

import org.scalatest.funsuite.AnyFunSuite

class IdMapsSpec extends AnyFunSuite {

  val passwd =
    """root:x:0:0:root:/root:/bin/bash
      |# a comment
      |daemon:x:1:1:daemon:/usr/sbin:/usr/sbin/nologin
      |alice:x:1000:1000:Alice:/home/alice:/bin/zsh
      |shadow-root:x:0:0:dup id, first wins:/:/bin/false
      |malformed line without colons
      |""".stripMargin

  val group =
    """root:x:0:
      |staff:x:50:alice,bob
      |""".stripMargin

  private def file(text: String): String = {
    val f = java.nio.file.Files.createTempFile("ids", "")
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  private lazy val ids = IdMaps.fromOS(file(passwd), file(group))

  test("passwd parsing: names by id, first entry wins, junk skipped") {
    assert(ids.userById == Map(0L -> "root", 1L -> "daemon", 1000L -> "alice"))
  }

  test("resolution: id or name in both directions, numeric fallback") {
    assert(ids.resolveUser("alice").contains(1000L))
    assert(ids.resolveUser("1000").contains(1000L))
    assert(ids.resolveUser("nosuch").isEmpty)
    assert(ids.resolveGroup("staff").contains(50L))
    assert(ids.userName(0L) == "root")
    assert(ids.userName(424242L) == "424242") // unknown → numeric render
    assert(ids.groupName(50L) == "staff")
  }

  test("duplicate NAME with different ids: first file entry wins") {
    val dupName =
      """svc:x:200:1::/:/bin/false
        |svc:x:300:1:later dup, must lose:/:/bin/false
        |other:x:400:1::/:/bin/false
        |""".stripMargin
    val dup = IdMaps.fromOS(file(dupName), "/nonexistent/group")
    assert(dup.resolveUser("svc").contains(200L))
    assert(dup.userName(200L) == "svc" && dup.userName(300L) == "svc")
  }

  test("fromOS degrades to empty maps on unreadable files") {
    val ids = IdMaps.fromOS("/nonexistent/passwd", "/nonexistent/group")
    assert(ids.userById.isEmpty && ids.groupById.isEmpty)
    assert(ids.userName(5L) == "5")
  }

  test("fromOS on this machine resolves root") {
    val ids = IdMaps.fromOS()
    assert(ids.resolveUser("root").contains(0L))
    assert(ids.userName(0L) == "root")
  }
}
