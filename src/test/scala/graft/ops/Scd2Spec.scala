package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  // (key, seq, tie, attr)
  private def build(rows: Seq[(String, Long, Long, String)]) =
    Scd2.fromChangeLog(rows.toDF("k", "seq", "tie", "attr"),
      "k", "seq", "tie", Seq("attr"))

  test("run collapse: re-asserted states never open a new version") {
    val out = build(Seq(
      ("u1", 10L, 1L, "a"), ("u1", 20L, 2L, "a"), ("u1", 30L, 3L, "b"),
      ("u1", 40L, 4L, "b"), ("u1", 50L, 5L, "a")))
      .orderBy("version").collect()
    assert(out.map(_.getAs[String]("attr")).toSeq === Seq("a", "b", "a"))
    assert(out.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L, 3L))
    // intervals chain: valid_to of v equals valid_from of v+1
    assert(out.map(_.getAs[Long]("valid_from")).toSeq === Seq(10L, 30L, 50L))
    assert(out.init.map(_.getAs[Long]("valid_to")).toSeq === Seq(30L, 50L))
    assert(out.last.isNullAt(out.last.fieldIndex("valid_to")))
    assert(out.map(_.getAs[Long]("is_current")).toSeq === Seq(0L, 0L, 1L))
  }

  test("intervals partition the timeline per key: no gaps, no overlaps") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      k <- (0 until 50).map(i => s"u$i")
      s <- 0 until 20
    } yield (k, s.toLong * 10, rnd.nextLong().abs % 1000000,
      s"v${rnd.nextInt(3)}")
    val out = build(rows)
    val byKey = out.collect().groupBy(_.getAs[String]("k"))
    byKey.foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("version"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") === b.getAs[Long]("valid_from"))
        case _ =>
      }
      assert(sorted.count(_.getAs[Long]("is_current") == 1L) === 1)
      // consecutive versions always differ in the tracked attribute
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("attr") !== b.getAs[String]("attr"))
        case _ =>
      }
    }
  }

  test("null attributes are tracked null-safely") {
    val out = Scd2.fromChangeLog(
      Seq(("u1", 1L, 1L, Option("a")), ("u1", 2L, 2L, None),
        ("u1", 3L, 3L, None), ("u1", 4L, 4L, Option("a")))
        .toDF("k", "seq", "tie", "attr"),
      "k", "seq", "tie", Seq("attr")).orderBy("version").collect()
    // a -> null -> (null collapses) -> a : three versions
    assert(out.length === 3)
    assert(out.map(r => Option(r.getAs[String]("attr"))).toSeq ===
      Seq(Some("a"), None, Some("a")))
  }

  test("ties on seq break deterministically by tie column") {
    val out = build(Seq(
      ("u1", 10L, 2L, "b"), ("u1", 10L, 1L, "a"), ("u1", 20L, 3L, "c")))
      .orderBy("version").collect()
    assert(out.map(_.getAs[String]("attr")).toSeq === Seq("a", "b", "c"))
  }

  test("multi-attribute tracking: change in ANY attribute opens a version") {
    val df = Seq(
      ("u1", 1L, 1L, "a", 10), ("u1", 2L, 2L, "a", 20),
      ("u1", 3L, 3L, "b", 20), ("u1", 4L, 4L, "b", 20))
      .toDF("k", "seq", "tie", "a1", "a2")
    val out = Scd2.fromChangeLog(df, "k", "seq", "tie", Seq("a1", "a2"))
      .orderBy("version").collect()
    assert(out.length === 3)
    assert(out.map(r => (r.getAs[String]("a1"), r.getAs[Int]("a2"))).toSeq ===
      Seq(("a", 10), ("a", 20), ("b", 20)))
  }

  test("asOf returns exactly one version per key for any probe time") {
    val scd2 = build(Seq(
      ("u1", 10L, 1L, "a"), ("u1", 30L, 2L, "b"),
      ("u2", 5L, 3L, "x")))
    // the version whose half-open interval [valid_from, valid_to) holds t
    def at(t: Long) = scd2.where(col("valid_from") <= t &&
        (col("valid_to").isNull || col("valid_to") > t)).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("attr")).toMap
    assert(at(10L) === Map("u1" -> "a", "u2" -> "x"))
    assert(at(29L) === Map("u1" -> "a", "u2" -> "x"))
    assert(at(30L) === Map("u1" -> "b", "u2" -> "x"))
    assert(at(7L) === Map("u2" -> "x")) // u1's history starts at 10
    assert(at(4L) === Map.empty[String, String])
  }

  test("one exchange: both windows reuse the key partitioning") {
    val df = (0 until 1000).map(i => (s"u${i % 37}", i.toLong, i.toLong,
      s"v${i % 3}")).toDF("k", "seq", "tie", "attr")
    val plan = Scd2.fromChangeLog(df, "k", "seq", "tie", Seq("attr"))
      .queryExecution.executedPlan
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case _ => 0
      }
      self + p.children.map(exchanges).sum + (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          exchanges(a.executedPlan)
        case _ => 0
      })
    }
    assert(exchanges(plan) === 1,
      s"expected exactly one shuffle, plan:\n$plan")
  }
}
