package graft

import java.io.File

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The reachability gate (`tools/reach.py`): every definition in
  * src/main is reached from a query, a CLI command, a tool main, a
  * service file or perfbench, or is listed in `tools/reach_keep.txt`
  * with a reason. A new definition that only specs call fails here. */
class ReachSpec extends AnyFunSuite {

  private val repo = new File(sys.props("user.dir"))

  private def reach(args: String*): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Process("python3" +: "tools/reach.py" +: args, repo).!(log)
    (code, out.toString)
  }

  test("the scan's self-test passes on its fixture tree") {
    val (code, out) = reach("--self-test")
    assert(code == 0, out)
  }

  test("every unreached definition in src/main is a listed keep") {
    val (code, out) = reach()
    assert(code == 0, out)
    assert(out.linesIterator.forall(_.startsWith("keep ")), out)
  }
}
