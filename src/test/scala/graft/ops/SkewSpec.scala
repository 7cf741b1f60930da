package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  /** 90% of rows share one hot key. */
  private lazy val skewed = {
    val s = spark
    import s.implicits._
    ((1 to 900).map(i => ("hot", i.toLong)) ++
      (1 to 100).map(i => (s"k${i % 10}", i.toLong)))
      .toDF("k", "v")
  }

  test("salted aggregation equals plain aggregation") {
    val plain = skewed.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val salted = Skew.saltedAgg(skewed, Seq("k"), salts = 8, Seq(
      ("n", count(lit(1)), sum(col("n"))),
      ("s", sum(col("v")), sum(col("s"))),
      ("mx", max(col("v")), max(col("mx")))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(salted == plain)
    // and the partial stage really fans the hot key out
    val saltCards = skewed.withColumn("__salt",
      pmod(hash(rand(seed = 7) * Int.MaxValue), lit(8)))
      .where(col("k") === "hot").select("__salt").distinct().count()
    assert(saltCards > 1)
  }
}
