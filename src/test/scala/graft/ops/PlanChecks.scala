package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase

/** Plan checks the specs pin physical shapes with. An adaptive plan
  * keeps its current plan and each query stage's plan in FIELDS, not
  * children (`AdaptiveSparkPlanExec.executedPlan`,
  * `QueryStageExec.plan`), so every count recurses through both.
  * Execute the frame first, or the adaptive plan is still the initial
  * one. */
object PlanChecks {

  /** Nodes of `p` that `node` matches, subqueries and adaptive stages
    * included. */
  def count(p: SparkPlan)(node: PartialFunction[SparkPlan, Unit]): Long =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)(node)
      case q: QueryStageExec => count(q.plan)(node)
      case x if node.isDefinedAt(x) => 1L
    }.sum

  /** Shuffle exchanges in the executed plan of `df`. A broadcast
    * exchange is not one: a substring match on "Exchange" would count
    * it. */
  def shuffleCount(df: DataFrame): Long =
    count(df.queryExecution.executedPlan) { case _: ShuffleExchangeLike => }

  /** True if the executed plan holds no Window operator: a running-sum
    * window over a low-cardinality (or absent) partition key funnels
    * each key's whole extent through one task at scale, and the plans
    * rebuilt on [[PrefixSum]] positions must not regress to it. */
  def isWindowFree(df: DataFrame): Boolean =
    count(df.queryExecution.executedPlan) { case _: WindowExecBase => } == 0L
}
