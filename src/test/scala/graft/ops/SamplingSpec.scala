package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {

  /** One stratum sampled at `rate`: the per-row md5 coin against
    * `rate`'s threshold. */
  private def sampledAt(rate: Double) =
    Sampling.stratifiedAt(col("id"), lit("all"), Map("all" -> rate))

  test("threshold encoding") {
    assert(Sampling.threshold(0.0) == "0000")
    assert(Sampling.threshold(0.25) == "4000")
    assert(Sampling.threshold(0.5) == "8000")
    assert(Sampling.threshold(0.75) == "c000")
    assert(Sampling.threshold(1.0) == "g")
    intercept[IllegalArgumentException](Sampling.threshold(1.5))
  }

  test("sample rate lands near the target and is deterministic") {
    val s = spark
    import s.implicits._
    val df = (1 to 20000).map(_.toLong).toDF("id")
    val n = df.where(sampledAt(0.25)).count()
    // md5 is uniform; 20k draws at p=.25 → sd ≈ 61, assert ±5 sd
    assert(math.abs(n - 5000L) < 310, s"rate off: $n/20000")
    val n2 = df.where(sampledAt(0.25)).count()
    assert(n == n2)
    // monotone: the 25% sample is a subset of the 50% sample
    val ids25 = df.where(sampledAt(0.25))
      .collect().map(_.getLong(0)).toSet
    val ids50 = df.where(sampledAt(0.5))
      .collect().map(_.getLong(0)).toSet
    assert(ids25.subsetOf(ids50))
  }

  test("stratified: per-stratum rates; unmapped strata keep everything") {
    val s = spark
    import s.implicits._
    val df = (1 to 9000).map(i =>
      (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("id", "grp")
    val out = df.where(Sampling.stratifiedAt(col("id"), col("grp"),
      Map("a" -> 0.1, "b" -> 0.9)))
      .groupBy("grp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("a") - 300L) < 90, out.toString) // 3000 × .1
    assert(math.abs(out("b") - 2700L) < 90, out.toString) // 3000 × .9
    assert(out("c") == 3000L) // unmapped → rate 1.0
  }

  test("rate 0 keeps nothing; rate 1 keeps everything") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(_.toLong).toDF("id")
    assert(df.where(sampledAt(0.0)).count() == 0L)
    assert(df.where(sampledAt(1.0)).count() == 100L)
  }

  test("weighted sampling: kept set matches the local md5 draw; rates scale with weight") {
    val s = spark
    import s.implicits._
    // weights 10 / 100 / 1000 against wNorm 1000 → p = .01 / .1 / 1.0
    val df = (1 to 6000).map { i =>
      (i.toLong, Seq(10L, 100L, 1000L)(i % 3))
    }.toDF("id", "w")
    val kept = df.where(Sampling.weightedAt(col("id"), col("w"), 1000.0))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact per-row parity with a driver-side recomputation
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      md.reset()
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16).toDouble
    }
    val expected = (1 to 6000).map { i =>
      (i.toLong, Seq(10L, 100L, 1000L)(i % 3))
    }.filter { case (id, w) => u(id) < w.toDouble / 1000.0 * 4503599627370496.0 }
    assert(kept.toSet == expected.toSet)
    // weight-1000 rows are all kept (p = 1); lighter strata thin out
    val byW = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byW(1000L) == 2000)
    assert(math.abs(byW(100L) - 200) < 60, byW.toString)
    assert(math.abs(byW(10L) - 20) < 20, byW.toString)
  }

  test("weightedExactK: exact k, matches the driver-side E-S replay, weight-biased") {
    val s = spark
    import s.implicits._
    val df = (1 to 2000).map { i =>
      (i.toLong, if (i % 2 == 0) 10.0 else 1.0)
    }.toDF("id", "w")
    val got = Sampling.weightedExactK(df, "id", col("w"), k = 300, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    assert(got.size === 300)
    // driver-side replay of the exponential clocks, bit-for-bit
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Double): Double = {
      md.reset()
      val hex = md.digest(s"7|$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      val u = math.max(java.lang.Long.parseLong(hex, 16).toDouble, 1.0) /
        4503599627370496.0
      -math.log(u) / w
    }
    val expected = (1 to 2000).map { i =>
      val w = if (i % 2 == 0) 10.0 else 1.0
      (key(i.toLong, w), i.toLong)
    }.sorted.take(300).map(_._2).toSet
    assert(got === expected)
    // 10x-weighted rows dominate the sample
    val heavy = got.count(_ % 2 == 0)
    assert(heavy > 2 * (300 - heavy), s"heavy=$heavy of 300")
    // deterministic and partition-independent
    val again = Sampling.weightedExactK(df.repartition(11), "id", col("w"),
      300, 7L).collect().map(_.getLong(0)).toSet
    assert(again === got)
    // zero/negative weights can never be selected
    val withBad = df.union(Seq((9999L, 0.0), (9998L, -1.0)).toDF("id", "w"))
    val sel = Sampling.weightedExactK(withBad, "id", col("w"), 2000, 7L)
      .collect().map(_.getLong(0)).toSet
    assert(!sel.contains(9999L) && !sel.contains(9998L))
  }
}
