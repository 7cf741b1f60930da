package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Registers a case twice: under its own name with the driver path's
  * real bound ([[pathBound]]; the spec inputs are far below it, so the
  * driver path runs), and as "<name> (distributed path)" with the
  * bound forced to 0. The body gets the bound to pass to the
  * `private[graft]` overload it tests: a graph loop's `edgeLimit`
  * ([[LocalGraph.EdgeLimit]], the default), or `Stats.compute`'s
  * `rowLimit`. */
trait BothPaths { self: AnyFunSuite =>
  protected def pathBound: Long = LocalGraph.EdgeLimit

  protected def bothPaths(name: String)(body: Long => Any): Unit = {
    test(name)(body(pathBound))
    test(s"$name (distributed path)")(body(0L))
  }
}
