package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {

  test("zvalue interleaves bits: known Morton codes") {
    val s = spark
    import s.implicits._
    // Morton(x, y) with x in even bits: (1,0)->1, (0,1)->2, (1,1)->3,
    // (2,0)->4, (65535,65535)->2^32-1.
    val got = Seq((1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 5L),
        (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.zvalue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // Morton(3,5) = spread(3) | spread(5)<<1 = 0b0101 | 0b1000100<<1?
    // spread(3)=0b101=5, spread(5)=spread(0b101)=0b10001=17, <<1=34 → 39.
    assert(got == Seq(1L, 2L, 3L, 4L, 39L, 4294967295L))
  }

  test("every z-shard is a bounding RECTANGLE: per-dim extent < 2^13") {
    // shardBits=6 → 3 high bits per dim → each shard spans < 1/8 of
    // each dimension's 16-bit grid (8192), BY CONSTRUCTION — the
    // both-dims-bounded property 1-D sorting cannot give.
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_partkey"), col("l_suppkey"))
    val shards = ZOrder.shardSummary(li, "l_partkey", "l_suppkey", 6).collect()
    assert(shards.nonEmpty)
    shards.foreach { r =>
      val (sxSpan, sySpan) =
        (r.getAs[Long]("sx_max") - r.getAs[Long]("sx_min"),
          r.getAs[Long]("sy_max") - r.getAs[Long]("sy_min"))
      assert(sxSpan < 8192, s"shard ${r.get(0)} sx span $sxSpan")
      assert(sySpan < 8192, s"shard ${r.get(0)} sy span $sySpan")
    }
    // ... and the shards genuinely partition the corpus.
    assert(shards.map(_.getAs[Long]("n_rows")).sum == li.count())
  }

  test("a 1-D sort leaves the other dim unbounded where z bounds both") {
    val s = spark
    import s.implicits._
    // Uniform 64x64 grid. Sorting by x alone and cutting into 64
    // equal shards gives y-extent = FULL range in every shard; the
    // z-shards bound both extents at 1/8 of the grid.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = ZOrder.shardSummary(grid, "x", "y", 6).collect()
    val zWorstY = z.map(r => r.getAs[Long]("sy_max") - r.getAs[Long]("sy_min")).max
    assert(zWorstY < 8192) // < 1/8 of the 2^16 scaled grid
    // x-sorted slabs: shard = x div 1 (64 slabs of one x column each);
    // y spans the whole scaled range in every slab.
    val slabY = grid.groupBy(col("x"))
      .agg((max(col("y")) - min(col("y"))).as("span"))
      .agg(max(col("span"))).head().getLong(0)
    assert(slabY == 63) // full y range — no pruning on y predicates
  }
}
