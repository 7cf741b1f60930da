package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.BothPaths

/** `Stats`' entry points with the row bound fixed, and the public
  * defaults kept. */
final case class StatsAt(rowLimit: Long) {
  def compute(files: DataFrame, prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true), calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Stats.Computed =
    Stats.compute(files, prefixMatch, entryMatch, calc, countHardlinkDupsAsFiles, rowLimit)

  def computeIncremental(prev: Stats.Computed, prevFiles: DataFrame, files: DataFrame,
      changedPrefixes: DataFrame, prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true), calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Stats.Computed =
    Stats.computeIncremental(prev, prevFiles, files, changedPrefixes, prefixMatch,
      entryMatch, calc, countHardlinkDupsAsFiles, rowLimit)
}

/** [[BothPaths]] for stats specs: each case runs with
  * [[Stats.RowLimit]] (the driver fold) and as "<name> (distributed
  * path)" with `rowLimit = 0`; the body gets [[StatsAt]] that bound. */
trait StatsPaths extends BothPaths { self: AnyFunSuite =>
  override protected def pathBound: Long = Stats.RowLimit

  protected def statsCase(name: String)(body: StatsAt => Any): Unit =
    bothPaths(name)(limit => body(StatsAt(limit)))
}
