package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan layout pins: the queries rebuilt on [[PrefixSum]] positions
  * plan without a Window operator. */
class LayoutSpec extends SparkSpec {

  test("queries rebuilt on PrefixSum plan without any Window operator") {
    // q_context_pack (per-lang running token sum) and q_abc_classes
    // (global cumulative revenue share) were single-reducer window
    // shapes; they must stay on the range-partitioned prefix-sum plan.
    val dir = "/root/testdata/sf0.001"
    val pack = graft.queries.Pipeline.queries("q_context_pack")(spark, dir)
    assert(PlanChecks.isWindowFree(pack),
      s"q_context_pack regressed to a Window plan:\n${pack.queryExecution.executedPlan}")
    val abc = graft.queries.Analytics.queries("q_abc_classes")(spark, dir)
    assert(PlanChecks.isWindowFree(abc),
      s"q_abc_classes regressed to a Window plan:\n${abc.queryExecution.executedPlan}")
    // sanity: the detector actually fires on a window plan
    val s = spark
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
    val windowed = (0L until 10L).toDF("id")
      .withColumn("r", sum(col("id")).over(w))
    assert(!PlanChecks.isWindowFree(windowed))
  }
}
