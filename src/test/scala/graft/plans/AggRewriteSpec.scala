package graft.plans

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AggRewriteSpec extends SparkSpec {

  /** File paths of every scan in the optimized plan. */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def withRule[T](f: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ new AggRewrite.RewriteRule(spark)
    try f
    finally {
      spark.experimental.extraOptimizations = prev
      AggRewrite.registry.clear()
    }
  }

  private def setup(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft-mv-base")
      .toString + "/t"
    val sumPath = java.nio.file.Files.createTempDirectory("graft-mv-sum")
      .toString + "/s"
    val s = spark
    import s.implicits._
    (1 to 1000).map(i => (s"g${i % 7}", i.toLong, i * 1.5))
      .toDF("g", "v", "w").write.parquet(base)
    spark.read.parquet(base).groupBy("g")
      .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"),
        max(col("w")).as("max_w"))
      .write.parquet(sumPath)
    AggRewrite.register(base, AggRewrite.Summary(sumPath, Seq("g"),
      Map("sum(v)" -> "sum_v", "count(1)" -> "n", "max(w)" -> "max_w")))
    (base, sumPath)
  }

  test("matching aggregate is answered from the summary, base never scanned") {
    val (base, sumPath) = setup()
    withRule {
      val df = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"),
          round(max(col("w")), 2).as("mw"))
      val paths = scanPaths(df)
      assert(paths.exists(_.contains(sumPath)), paths.mkString(";"))
      assert(!paths.exists(_.contains(base)), paths.mkString(";"))
      // and it returns exactly what the base computes
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val exp = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"),
          round(max(col("w")), 2).as("mw"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // (the second frame is also rewritten — recompute with the rule off)
      AggRewrite.registry.clear()
      val expOff = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"),
          round(max(col("w")), 2).as("mw"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got === expOff && exp === expOff)
    }
  }

  test("filters, other groupings, distinct, and unknown measures disable the rewrite") {
    val (base, sumPath) = setup()
    withRule {
      def usesSummary(df: org.apache.spark.sql.DataFrame) =
        scanPaths(df).exists(_.contains(sumPath))
      // a filter on a MEASURED column between scan and aggregate
      val f = spark.read.parquet(base).where(col("v") > 10)
        .groupBy("g").agg(sum(col("v")).as("sv"))
      assert(!usesSummary(f))
      // different grouping keys
      val g2 = spark.read.parquet(base).groupBy("g", "v")
        .agg(count(lit(1)).as("n"))
      assert(!usesSummary(g2))
      // a distinct aggregate
      val d = spark.read.parquet(base).groupBy("g")
        .agg(countDistinct(col("v")).as("nd"))
      assert(!usesSummary(d))
      // an unregistered measure — all-or-nothing, sum(v) alone would match
      val u = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv"), avg(col("w")).as("aw"))
      assert(!usesSummary(u))
      // a GROUP-column-only filter is hoistable and keeps the rewrite
      val h = spark.read.parquet(base).where(col("g") =!= "g3")
        .groupBy("g").agg(sum(col("v")).as("sv"))
      assert(usesSummary(h))
      AggRewrite.registry.clear()
      val hExp = spark.read.parquet(base).where(col("g") =!= "g3")
        .groupBy("g").agg(sum(col("v")).as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(h.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        === hExp)
      // every disabled form still computes correct results from base
      assert(f.collect().length === 7)
      assert(d.collect().length === 7)
    }
  }

  test("rewrite composes with downstream operators (join on the rewritten agg)") {
    val (base, sumPath) = setup()
    withRule {
      val s = spark
      import s.implicits._
      val dim = Seq(("g0", "zero"), ("g1", "one")).toDF("g", "label")
      val df = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv"))
        .join(dim, "g")
      assert(scanPaths(df).exists(_.contains(sumPath)))
      val got = df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2))).toSet
      AggRewrite.registry.clear()
      val exp = spark.read.parquet(base).groupBy("g")
        .agg(sum(col("v")).as("sv")).join(dim, "g")
        .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2))).toSet
      assert(got === exp && got.nonEmpty)
    }
  }

  test("group column referenced OUTSIDE an aggregate call still rewrites") {
    // sum(v) + length(g): the Alias child mixes an AggregateExpression
    // with a bare group-column reference. The group attribute's
    // base-relation exprId must be remapped onto the summary plan's
    // output — an unmapped reference would fail analysis/execution on
    // every registered query (the rule is injected cluster-wide).
    val (base, sumPath) = setup()
    withRule {
      val df = spark.read.parquet(base).groupBy("g")
        .agg((sum(col("v")) + length(col("g"))).as("svl"))
      assert(scanPaths(df).exists(_.contains(sumPath)),
        scanPaths(df).mkString(";"))
      val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      AggRewrite.registry.clear()
      val exp = spark.read.parquet(base).groupBy("g")
        .agg((sum(col("v")) + length(col("g"))).as("svl"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === exp && got.nonEmpty)
    }
  }

  test("a mixed expression with an unregistered aggregate falls back to base") {
    // min(v) isn't a registered measure: ok flips false inside the
    // composite Alias child, and the query must run (correctly)
    // against the base scan instead of a half-rewritten expression.
    val (base, sumPath) = setup()
    withRule {
      val df = spark.read.parquet(base).groupBy("g")
        .agg((sum(col("v")) * lit(0) + min(col("v"))).as("m"))
      assert(!scanPaths(df).exists(_.contains(sumPath)))
      assert(df.collect().length === 7)
    }
  }
}
