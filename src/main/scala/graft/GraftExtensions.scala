package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.NativeFunctions

/** Session-extension wiring for cluster deployments: installs graft
  * into every session built with
  *
  * {{{
  * --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`). Every entry of
  * [[NativeFunctions.table]] becomes a first-class SQL function — the
  * same builders the Column wrappers install on sessions the code
  * owns, so SQL text and the Scala API build identical expressions —
  * plus the AggRewrite optimizer rule and the as-of / interval-join
  * planner strategies.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.table.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(NativeFunctions.getClass.getName, name), builder))
    }
    // Materialized-aggregate query rewrite (graft.plans.AggRewrite):
    // a no-op until summaries are registered, then matching aggregates
    // read the summary instead of the base table.
    ext.injectOptimizerRule(session =>
      new graft.plans.AggRewrite.RewriteRule(session))
    // Physical as-of join (graft.plans.AsOfMergeJoin): plans the
    // AsOfJoinNode logical operator to the co-partitioned merge exec.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Physical keyed interval-overlap join
    // (graft.plans.IntervalSweepJoin): co-partitioned start-order
    // sweep, no bins, each input row shuffles once.
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}
