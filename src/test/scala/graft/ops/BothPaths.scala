package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Registers a graph-loop case twice: under its own name with the
  * loop's real bound (the spec graphs are far below
  * [[LocalGraph.EdgeLimit]], so the driver path runs), and as
  * "<name> (distributed path)" with the bound forced to 0. The body
  * gets the bound to pass to the loop's `edgeLimit` parameter. */
trait BothPaths { self: AnyFunSuite =>
  protected def bothPaths(name: String)(body: Long => Any): Unit = {
    test(name)(body(LocalGraph.EdgeLimit))
    test(s"$name (distributed path)")(body(0L))
  }
}
