package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted LSH dedup index: probe-against-index must equal the
  * inline near-dup pipeline restricted to cross pairs, appends must
  * equal a rebuild, and the segment pointer must flip atomically. */
class DedupIndexSpec extends SparkSpec {

  private val vocab =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      .split(" ")

  /** Index side: 30 base docs + 1 exact copy. Drop side: 8 near-dup
    * variants of index docs (one word substituted), 1 exact copy of
    * an index doc, and 5 fresh docs. */
  private def mkDocs(ids: Seq[Long], texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    ids.zip(texts).toDF("doc_id", "text")
  }

  private lazy val (indexDocs, dropDocs) = {
    val rnd = new scala.util.Random(11)
    val baseTexts = (0 until 30).map(_ =>
      (0 until 30).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val idx = mkDocs((0L until 30L) :+ 200L, baseTexts :+ baseTexts.head)
    val nears = (0 until 8).map { i =>
      val w = baseTexts(i).split(" "); w(15) = "REPLACED"; w.mkString(" ")
    }
    val fresh = (0 until 5).map(_ =>
      (0 until 30).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val drop = mkDocs(
      (100L until 108L) ++ Seq(210L) ++ (300L until 305L),
      nears ++ Seq(baseTexts(1)) ++ fresh)
    (idx.localCheckpoint(true), drop.localCheckpoint(true))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("admit == inline minhashNearDupsMd5 restricted to cross pairs") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    DedupIndex.build(base, indexDocs, "text", "doc_id")
    val got = pairSet(
      DedupIndex.admit(base, dropDocs, "text", "doc_id", thresholdBp = 3000L)
        .select(least(col("doc_idx"), col("doc_new")),
          greatest(col("doc_idx"), col("doc_new")), col("j_bp")))
    val idxIds = indexDocs.collect().map(_.getLong(0)).toSet
    val dropIds = dropDocs.collect().map(_.getLong(0)).toSet
    val inline = pairSet(
      Dedup.minhashNearDupsMd5(indexDocs.unionByName(dropDocs),
        "text", "doc_id", k = 16, bands = 4, n = 3, thresholdBp = 3000L))
      .filter { case (a, b, _) =>
        (idxIds(a) && dropIds(b)) || (dropIds(a) && idxIds(b)) }
    assert(got == inline)
    // the exact copy ALWAYS collides (identical band keys) — the
    // planted floor that makes parity non-vacuous
    assert(got.exists { case (a, b, j) => a == 1L && b == 210L && j == 10000L })
    assert(got.size >= 2) // plus at least one j≈0.81 near-dup recalled
  }

  test("append == rebuild: probe through the chain is identical") {
    val s = spark
    import s.implicits._
    val baseA = java.nio.file.Files.createTempDirectory("graft-lsh-a").toString
    val baseB = java.nio.file.Files.createTempDirectory("graft-lsh-b").toString
    val delta = Seq((400L, "alpha beta gamma delta epsilon zeta"),
        (401L, "mu lambda kappa iota theta eta"))
      .toDF("doc_id", "text")
    // chain: build(index) + append(delta)
    DedupIndex.build(baseA, indexDocs, "text", "doc_id")
    val n1 = DedupIndex.append(baseA, delta, "text", "doc_id")
    assert(DedupIndex.latestName(baseA).contains(n1))
    // rebuild: one segment over index ∪ delta
    DedupIndex.build(baseB, indexDocs.unionByName(delta), "text", "doc_id")
    val probe = (b: String) => pairSet(
      DedupIndex.admit(b, dropDocs, "text", "doc_id", thresholdBp = 3000L))
    assert(probe(baseA) == probe(baseB))
    // postings view of the chain carries every doc exactly once
    val chainDocs = DedupIndex.postings(spark, baseA)
      .select(col("doc")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    val allDocs = indexDocs.unionByName(delta)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(chainDocs == allDocs)
  }

  test("admitted = drop minus verified near-dups") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh-ad").toString
    DedupIndex.build(base, indexDocs, "text", "doc_id")
    val matched = DedupIndex.admit(base, dropDocs, "text", "doc_id", 3000L)
      .select(col("doc_new")).collect().map(_.getLong(0)).toSet
    // admission keeps the drop rows with no verified near-dup
    val kept = dropDocs.join(DedupIndex.admit(base, dropDocs, "text", "doc_id", 3000L),
        col("doc_id") === col("doc_new"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val dropIds = dropDocs.collect().map(_.getLong(0)).toSet
    assert(kept == dropIds -- matched)
    assert(matched.contains(210L)) // the exact copy is never admitted
    assert((300L until 305L).forall(kept.contains)) // fresh docs survive
  }

  test("postings are band-partitioned directories (layout contract)") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh-ly").toString
    val name = DedupIndex.build(base, indexDocs, "text", "doc_id")
    val pdir = new java.io.File(s"$base/lsh/$name/postings")
    val bands = pdir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(bands.toSeq == (0 until 4).map(b => s"band=$b"))
    // a single-band read prunes at planning time
    val one = DedupIndex.postings(spark, base).where(col("band") === 0)
    assert(one.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(band"))
  }

  test("xx production family: admit candidates match the inline LSH") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh-xx").toString
    DedupIndex.build(base, indexDocs, "text", "doc_id",
      DedupIndex.Params("xx", 64, 16, 3))
    assert(DedupIndex.params(base) == DedupIndex.Params("xx", 64, 16, 3))
    val got = pairSet(
      DedupIndex.admit(base, dropDocs, "text", "doc_id", thresholdBp = 3000L)
        .select(least(col("doc_idx"), col("doc_new")),
          greatest(col("doc_idx"), col("doc_new")), col("j_bp")))
    // same candidate generation as the inline xx tier: every got pair
    // must be an inline candidate cross pair with j >= 0.3
    val idxIds = indexDocs.collect().map(_.getLong(0)).toSet
    val dropIds = dropDocs.collect().map(_.getLong(0)).toSet
    val inline = Dedup.minhashNearDups(indexDocs.unionByName(dropDocs),
        "text", "doc_id", k = 64, bands = 16, n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet[(Long, Long)]
      .filter { case (a, b) =>
        (idxIds(a) && dropIds(b)) || (dropIds(a) && idxIds(b)) }
    assert(got.map { case (a, b, _) => (a, b) } == inline)
    // k=64/b=16 recalls the j≈0.81 planted pairs essentially always
    assert(got.exists { case (a, b, _) => a == 1L && b == 210L })
  }

  test("corpus fingerprint: regenerated corpus rebuilds, never a stale probe") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh-fp").toString
    val fpA = "a" * 16
    DedupIndex.build(base, indexDocs, "text", "doc_id",
      DedupIndex.Params("md5", 16, 4, 3, corpusFp = fpA))
    // round-trips through PARAMS (append inherits it with the rest)
    assert(DedupIndex.params(base).corpusFp == fpA)
    DedupIndex.append(base, dropDocs.where(col("doc_id") >= 300L),
      "text", "doc_id")
    assert(DedupIndex.params(base).corpusFp == fpA)
    // matching fingerprint probes fine
    DedupIndex.admit(base, dropDocs, "text", "doc_id",
      thresholdBp = 3000L, corpusFp = Some(fpA)).collect()
    // a regenerated corpus (different fingerprint) must fail fast,
    // never silently serve the stale postings
    val fpB = "b" * 16
    intercept[IllegalArgumentException] {
      DedupIndex.admit(base, dropDocs, "text", "doc_id",
        thresholdBp = 3000L, corpusFp = Some(fpB))
    }
    // and the caller-side freshness test (the q_dedup_admit guard)
    // sees the mismatch and rebuilds
    assert(DedupIndex.latestName(base).nonEmpty &&
      DedupIndex.params(base).corpusFp != fpB)
    DedupIndex.build(base, indexDocs, "text", "doc_id",
      DedupIndex.Params("md5", 16, 4, 3, corpusFp = fpB))
    assert(DedupIndex.params(base).corpusFp == fpB)
    DedupIndex.admit(base, dropDocs, "text", "doc_id",
      thresholdBp = 3000L, corpusFp = Some(fpB)).collect()
    // fileFp is 64-bit xxhash: distinct on any field of the triple
    val f = new java.io.File(base)
    val h1 = DedupIndex.fileFp(f)
    assert(h1 == DedupIndex.fileFp(new java.io.File(base)))
    assert(h1 != DedupIndex.fileFp(new java.io.File(base + "x")))
  }

  test("LATEST flips are atomic: a reader never sees an empty or partial name") {
    val base = java.nio.file.Files.createTempDirectory("graft-lsh-latest").toString
    // the store at the index layout; reads go through DedupIndex itself
    val store = graft.ingest.Versioned(s"$base/lsh", s"$base/lsh/LATEST")
    val names = (0 until 1000).map(i => f"20260101T000000.$i%03d")
    store.flip(names.head)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val reader = new Thread(() => {
      while (!done.get()) seen += DedupIndex.latestName(base)
    })
    reader.start()
    try names.foreach(store.flip)
    finally { done.set(true); reader.join() }
    assert(seen.nonEmpty)
    val bad = seen.filterNot(_.exists(names.toSet))
    assert(bad.isEmpty, s"reader saw ${bad.take(3)}")
    assert(DedupIndex.latestName(base).contains(names.last))
    // no temp file is left beside the pointer
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(base, "lsh")).count() == 1L)
  }
}
