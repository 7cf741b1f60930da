package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  /** True rank (fraction ≤ v) of each estimate in the source data. */
  private def maxRankErr(data: Seq[Double], est: Seq[Double]): Double = {
    val sorted = data.sorted
    probs.zip(est).map { case (q, v) =>
      val r = sorted.count(_ <= v).toDouble / sorted.size
      math.abs(r - q)
    }.max
  }

  test("no-compaction regime is exact") {
    val data = (1 to 150).map(_.toDouble)
    val df = data.toDF("v")
    val sk = df.agg(QuantileSketch.sketch(col("v"), k = 200).as("sketch"))
    val out = QuantileSketch.rollup(sk, Nil, probs).collect().head
    probs.zipWithIndex.foreach { case (q, i) =>
      val expect = math.max(1, math.ceil(q * 150).toInt).toDouble
      assert(out.getDouble(i) === expect, s"p$q")
    }
  }

  test("rank error ≤ 2% at k=200 on 50k adversarially ordered values") {
    val rnd = new scala.util.Random(3)
    // half sorted ascending, half random, with heavy duplicates — the
    // orders that break naive sampling
    val data = (1 to 25000).map(_.toDouble) ++
      Seq.fill(25000)(math.floor(rnd.nextDouble() * 1000))
    val df = data.toDF("v").repartition(8)
    val sk = df.agg(QuantileSketch.sketch(col("v"), k = 200).as("sketch"))
    val est = QuantileSketch.rollup(sk, Nil, probs).collect().head
    val estVals = probs.indices.map(est.getDouble)
    val err = maxRankErr(data, estVals)
    assert(err <= 0.02, s"rank error $err > 2%: $estVals")
  }

  test("merged per-group sketches match a single global sketch's accuracy") {
    val rnd = new scala.util.Random(9)
    val data = Seq.fill(40000)(rnd.nextGaussian() * 10 + 50)
    val df = data.zipWithIndex
      .map { case (v, i) => (i % 13, v) }.toDF("g", "v").repartition(8)
    // grain sketches (one per group), then rollup-merge across groups
    val grains = df.groupBy(col("g"))
      .agg(QuantileSketch.sketch(col("v"), k = 200).as("sketch"))
    assert(grains.count() == 13)
    val est = QuantileSketch.rollup(grains, Nil, probs).collect().head
    val estVals = probs.indices.map(est.getDouble)
    assert(maxRankErr(data, estVals) <= 0.02,
      s"post-merge rank error too high: $estVals")
  }

  test("weight is conserved: merged n equals source row count") {
    val df = (1 to 9999).map(_.toDouble).toDF("v").repartition(7)
    val sk = df.agg(QuantileSketch.sketch(col("v"), k = 64).as("sketch"))
      .select(col("sketch.n")).as[Long].collect().head
    assert(sk == 9999L)
  }

  test("drift: identical cohorts score near zero, a shifted cohort scores high") {
    val rnd = new scala.util.Random(21)
    val a = Seq.fill(20000)(("x", rnd.nextGaussian())).toDF("g", "v")
    val same = Seq.fill(20000)(("x", rnd.nextGaussian())).toDF("g", "v")
    val shifted = Seq.fill(20000)(("x", rnd.nextGaussian() + 1.0)).toDF("g", "v")
    val low = QuantileSketch.drift(a, same, "v", Seq("g"))
      .collect().head.getLong(1)
    // true KS of N(0,1) vs N(1,1) is Φ(0.5) − Φ(−0.5) ≈ 0.383
    val high = QuantileSketch.drift(a, shifted, "v", Seq("g"))
      .collect().head.getLong(1)
    assert(low < 500, s"same-distribution drift too high: $low bp")
    assert(high > 3000, s"shifted-distribution drift too low: $high bp")
  }

  test("drift: a group missing from either cohort surfaces as maximal drift") {
    // the strongest drift signal is a vanished (or brand-new) group —
    // an inner join would silently drop exactly those rows
    val a = Seq(("x", 1.0), ("gone", 2.0), ("gone", 3.0)).toDF("g", "v")
    val b = Seq(("x", 1.0), ("new", 5.0)).toDF("g", "v")
    val out = QuantileSketch.drift(a, b, "v", Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("x", "gone", "new"))
    assert(out("gone") == 10000L, "group only in cohort A must flag maximal")
    assert(out("new") == 10000L, "group only in cohort B must flag maximal")
    assert(out("x") == 0L)
  }

  test("drift: sketch grid-KS tracks the exact two-sample KS within ε = 500 bp") {
    // exactness pin for the rows-only q_drift: if the sketch or the
    // grid statistic ever skews, this bound breaks. ε budget: each
    // side's sketch carries ≤2% rank error at k=200 (asserted above),
    // and the grid evaluates both CDFs at every retained point, so
    // |sketch-KS − exact-KS| ≤ ~4% worst case; 5% gives slack for the
    // floor-to-bp truncation.
    val rnd = new scala.util.Random(7)
    val va = Seq.fill(20000)(rnd.nextGaussian())
    val vb = Seq.fill(20000)(rnd.nextGaussian() + 0.35)
    def cdf(sorted: Array[Double], x: Double): Double = {
      var lo = 0
      var hi = sorted.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (sorted(m) <= x) lo = m + 1 else hi = m
      }
      lo.toDouble / sorted.length
    }
    val sa = va.sorted.toArray
    val sb = vb.sorted.toArray
    val exactKs = (va.iterator ++ vb.iterator)
      .map(x => math.abs(cdf(sa, x) - cdf(sb, x))).max
    val sketchKs = QuantileSketch.drift(
        va.map(("x", _)).toDF("g", "v"), vb.map(("x", _)).toDF("g", "v"),
        "v", Seq("g"))
      .collect().head.getLong(1) / 10000.0
    assert(math.abs(sketchKs - exactKs) <= 0.05,
      s"sketch KS $sketchKs vs exact $exactKs diverged beyond ε")
  }

  test("driftGrid: exact binned KS replays driver-side; missing side maximal") {
    val rnd = new scala.util.Random(11)
    val va = Seq.fill(5000)(rnd.nextGaussian())
    val vb = Seq.fill(4000)(rnd.nextGaussian() + 0.35)
    val a = (va.map(("x", _)) ++ Seq(("gone", 2.0))).toDF("g", "v")
    val b = (vb.map(("x", _)) ++ Seq(("new", 5.0))).toDF("g", "v")
    val out = QuantileSketch.driftGrid(a, b, "v", Seq("g"), nBins = 4096)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("gone") == ((1L, 0L, 10000L)))
    assert(out("new") == ((0L, 1L, 10000L)))
    // driver replay of the declared binning chain (cents → 4096 bins →
    // integer CDF cross-multiply), over ALL groups' values for the
    // global span — must match the distributed result exactly
    val allV = (va ++ Seq(2.0) ++ vb ++ Seq(5.0))
      .map(x => math.floor(x * 100).toLong)
    val lo = allV.min
    val hi = allV.max
    def bin(x: Double): Long = {
      val v = math.floor(x * 100).toLong
      (v - lo) * 4095L / math.max(hi - lo, 1L)
    }
    val ba = va.map(bin).groupBy(identity).view.mapValues(_.size.toLong)
    val bb = vb.map(bin).groupBy(identity).view.mapValues(_.size.toLong)
    val na = va.size.toLong
    val nb = vb.size.toLong
    val binsSorted = (ba.keys ++ bb.keys).toSeq.distinct.sorted
    var ca = 0L
    var cb = 0L
    var g = 0L
    binsSorted.foreach { bi =>
      ca += ba.getOrElse(bi, 0L)
      cb += bb.getOrElse(bi, 0L)
      g = math.max(g, math.abs(ca * nb - cb * na))
    }
    val expectKs = g * 10000L / (na * nb)
    assert(out("x") == ((na, nb, expectKs)),
      s"distributed ${out("x")} vs driver replay ($na,$nb,$expectKs)")
    // the binned-exact statistic tracks the sketch tier on the same data
    val sketchKs = QuantileSketch.drift(a.where(col("g") === "x"),
        b.where(col("g") === "x"), "v", Seq("g"))
      .collect().head.getLong(1)
    assert(math.abs(sketchKs - expectKs) <= 500L,
      s"sketch $sketchKs vs grid-exact $expectKs")
  }

  test("gridQuantileRollup: rank-exact on the grid, grain merge = direct") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 20000).map { i =>
      ("g" + (i % 3), "d" + (i % 7), rnd.nextGaussian() * 10 + 50) }
    val df = rows.toDF("g", "d", "v")
    val hist = QuantileSketch.gridHistogram(df, Seq("g", "d"), "v")
    val got = QuantileSketch.gridQuantileRollup(hist, Seq("g"),
        Seq(5000, 9000))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // exact quantile replay on the same cent grid: ceil-rank value
    val binW = {
      val vs = rows.map(r => math.floor(r._3 * 100).toLong)
      (vs.max - vs.min).toDouble / 4095.0
    }
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(r => math.floor(r._3 * 100).toLong).sorted
      Seq(5000, 9000).foreach { p =>
        val rank = (p.toLong * sorted.size + 9999) / 10000
        val exact = sorted((rank - 1).toInt)
        val gotV = got((g, p.toLong))
        // released lower edge sits within one bin width of the exact
        // ceil-rank value (rank error is zero at bin granularity)
        assert(math.abs(gotV - exact) <= binW + 1,
          s"$g p$p: got $gotV exact $exact binW $binW")
      }
    }
    // merging (g, d) grains must equal binning directly by g
    val direct = QuantileSketch.gridHistogram(df, Seq("g"), "v")
    val got2 = QuantileSketch.gridQuantileRollup(direct, Seq("g"),
        Seq(5000, 9000))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got2 == got, "grain-merged quantiles must equal direct binning")
  }

  test("sketch aggregate runs as a streaming aggregate, quantiles within error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kll-stream")
    val rnd = new scala.util.Random(17)
    val data = Seq.fill(20000)(rnd.nextDouble() * 1000)
    data.toDF("v").coalesce(2).write.parquet(s"$dir/in")
    val q = spark.readStream.schema("v DOUBLE").parquet(s"$dir/in")
      .groupBy()
      .agg(QuantileSketch.sketch(col("v")).as("sketch"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kll_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val est = QuantileSketch.rollup(
      spark.sql("SELECT sketch FROM kll_stream"), Nil, probs)
      .collect().head
    val estVals = probs.indices.map(est.getDouble)
    assert(maxRankErr(data, estVals) <= 0.02,
      s"streaming sketch rank error too high: $estVals")
  }

  test("fixed merge order reproduces bit-identical sketches") {
    val data = (1 to 5000).map(i => ((i * 2654435761L) % 977).toDouble)
    val a = QuantileSketch.toData(
      data.foldLeft(new QuantileSketch.Sketch(100))(_.add(_)))
    val b = QuantileSketch.toData(
      data.foldLeft(new QuantileSketch.Sketch(100))(_.add(_)))
    assert(a == b)
  }
}
