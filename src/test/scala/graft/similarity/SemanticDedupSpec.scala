package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SemDeDup composition: within-cluster pairs are a subset of the
  * exact all-pairs answer, planted twins resolve into groups, and the
  * dedup keeps exactly one representative per group. */
class SemanticDedupSpec extends SparkSpec {

  private val dim = 32

  /** 5 well-separated clusters × 20 vectors, plus a near-identical
    * twin for every 10th vector (ids 1000+i). */
  private lazy val data: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val base = (0 until 100).map { i =>
      val c = centers(i % 5)
      i.toLong -> c.map(_ + 0.3 * rnd.nextGaussian())
    }
    val twins = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (1000L + id) -> v.map(_ * 1.0001)
    }
    base ++ twins
  }

  private lazy val vecs = {
    val s = spark
    import s.implicits._
    data.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private lazy val centroids =
    Similarity.ivfCentroids(vecs, "embedding", "vec_id", 5)

  test("within-cluster pairs are a subset of the exact all-pairs answer") {
    val exact = Similarity.cosineNearDups(vecs, "embedding", "vec_id", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = SemanticDedup.clusterPairs(vecs, "embedding", "vec_id",
      centroids, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustered.subsetOf(exact))
    // scalar-multiple twins have cosine exactly 1.0 with their base —
    // well-separated clusters must not split any of them
    val twinPairs = data.map(_._1).filter(id => id >= 1000L)
      .map(id => (id - 1000L, id)).toSet
    assert(twinPairs.subsetOf(clustered),
      s"missed twins: ${twinPairs -- clustered}")
  }

  test("planted twins resolve to groups and dedup keeps one per group") {
    val pairs = SemanticDedup.clusterPairs(vecs, "embedding", "vec_id",
      centroids, 0.999)
    // every non-representative group member (id ≠ its group's min id)
    // is anti-joined away
    val redundant = SemanticDedup.dupGroups(pairs)
      .where(col("id") =!= col("component")).select(col("id").as("vec_id"))
    val surviving = vecs.join(redundant, Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    // every twin (1000+i) is dominated by its base i → dropped
    val twinIds = data.map(_._1).filter(_ >= 1000L).toSet
    assert((surviving & twinIds).isEmpty,
      s"twins survived: ${surviving & twinIds}")
    // every base vector survives
    assert(data.map(_._1).filter(_ < 1000L).forall(surviving.contains))
    // group count equals planted twin count
    val groups = SemanticDedup.dupGroups(pairs)
      .groupBy(col("component")).agg(count(lit(1)).as("n"))
      .collect()
    assert(groups.length == twinIds.size)
  }
}
