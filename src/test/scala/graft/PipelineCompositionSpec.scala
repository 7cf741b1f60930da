package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.Sampling

/** The operators compose into the actual pipeline a training-data run
  * executes: quality gate → near-dup dedup (pairs → clusters → keep
  * canonical) → stratified sample → context chunks. Asserts the
  * end-to-end invariants (monotone row counts, canonical-keep
  * semantics, per-stratum boundedness) on real corpus data — catching
  * the cross-module breakages no single-operator spec sees.
  */
class PipelineCompositionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("quality → dedup → sample → chunk composes with sane invariants") {
    val docs = Tables.documents(spark, dir).cache()
    val n0 = docs.count()

    // 1. quality gate
    val scored = docs.withColumn("q",
      graft.text.TextAnalysis.qualityScoreFast(spark, col("text")))
    val kept = scored.where(col("q") >= 0.4).drop("q").cache()
    val n1 = kept.count()
    assert(n1 > 0 && n1 <= n0)

    // 2. near-dup dedup: pairs → clusters → one canonical doc each;
    // every non-canonical member (id ≠ its component's min id) is
    // anti-joined away
    val pairs = Dedup.jaccardPairs(kept, "text", "doc_id",
      n = 3, threshold = 0.3, maxShingleDf = 10).cache()
    val nPairs = pairs.count()
    val comps = graft.ops.ConnectedComponents
      .components(pairs, "doc_a", "doc_b").cache()
    val deduped = kept.join(comps.where(col("id") =!= col("component"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti").cache()
    val n2 = deduped.count()
    assert(n2 <= n1)
    // every pair's min id survives, and no kept doc pairs with a
    // smaller kept doc (the canonical-keep property)
    if (nPairs > 0) {
      val canonical = comps.select(col("component")).distinct()
      val keptIds = deduped.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      canonical.collect().map(_.getLong(0))
        .foreach(c => assert(keptIds.contains(c), s"canonical $c dropped"))
      val members = comps.collect().map(r => (r.getLong(0), r.getLong(1)))
      members.filter { case (id, comp) => id != comp }
        .foreach { case (id, _) => assert(!keptIds.contains(id),
          s"non-canonical $id kept") }
      assert(n2 == n1 - members.count { case (id, c) => id != c })
    }

    // 3. stratified sample: per-lang rates bound each stratum
    val rates = Map("en" -> 0.5, "zh" -> 0.5)
    val sampled = deduped
      .where(Sampling.stratifiedAt(col("doc_id"), col("lang"), rates)).cache()
    val byLang = deduped.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampledByLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.keys.foreach { l =>
      assert(sampledByLang.getOrElse(l, 0L) <= byLang(l))
    }
    (byLang.keySet -- rates.keySet).foreach { l =>
      assert(sampledByLang.getOrElse(l, 0L) == byLang(l), s"unmapped $l altered")
    }

    // 4. chunking: every sampled doc yields ≥ 1 chunk; chunk spans
    // never exceed the doc's token count
    val st = graft.functions.TextStatsExpr.textStats(spark, col("text"))
    val chunks = sampled
      .select(col("doc_id"), element_at(st, 1).as("tok"))
      .withColumn("n_chunks", when(col("tok") <= 128, 1L)
        .otherwise(ceil((col("tok") - 128).cast("double") / 112).cast("long") + 1L))
    val bad = chunks.where(col("n_chunks") < 1 ||
      (col("n_chunks") - 1) * 112 >= greatest(col("tok"), lit(1L)) + 128).count()
    assert(bad == 0)
    assert(chunks.count() == sampled.count())
  }
}
