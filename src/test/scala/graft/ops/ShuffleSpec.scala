package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ShuffleSpec extends SparkSpec {

  private def ids(n: Int) = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).toDF("id")
  }

  test("positions are a strict 0..n-1 permutation") {
    val out = Shuffle.shuffled(ids(500), "id", seed = 7L)
    val pos = out.select("shuffle_pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (0L until 500L))
  }

  test("order matches a local sort of the same md5 keys") {
    val out = Shuffle.shuffled(ids(300), "id", seed = 42L)
      .orderBy("shuffle_pos")
      .select("id").collect().map(_.getLong(0)).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String = {
      md.reset()
      md.digest(s"42|$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val expected = (0L until 300L).sortBy(id => (key(id), id))
    assert(out == expected)
  }

  test("deterministic across runs; seed changes the order") {
    val a = Shuffle.shuffled(ids(200), "id", seed = 1L)
      .orderBy("shuffle_pos").select("id").collect().map(_.getLong(0)).toSeq
    val b = Shuffle.shuffled(ids(200), "id", seed = 1L)
      .orderBy("shuffle_pos").select("id").collect().map(_.getLong(0)).toSeq
    val c = Shuffle.shuffled(ids(200), "id", seed = 2L)
      .orderBy("shuffle_pos").select("id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(a != c)
  }

  test("round-robin shards are near-equal in size") {
    val out = Shuffle.shuffled(ids(1000), "id", seed = 3L)
      .select(pmod(col("shuffle_pos"), lit(8L)).as("shard"))
      .groupBy("shard").count()
      .collect().map(_.getLong(1))
    assert(out.length == 8)
    assert(out.max - out.min <= 1)
  }
}
