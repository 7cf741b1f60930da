package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand-computed bigram LM scores on a corpus small enough to verify
  * every count by eye. */
class LangModelSpec extends SparkSpec {

  private lazy val corpus = {
    val s = spark
    import s.implicits._
    Seq(
      0L -> "a b a b", // bigrams: ab, ba, ab
      1L -> "a b c",   // bigrams: ab, bc
      2L -> "c c",     // bigram:  cc
      3L -> "x"        // no bigram — must drop
    ).toDF("doc_id", "text")
  }

  test("bigram occurrences explode with prev token") {
    val occ = LangModel.bigramOccurrences(corpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // corpus-wide: ab×3, ba×1, bc×1, cc×1; doc 3 absent
    assert(occ.length == 6)
    assert(occ.count(_._2 == "a b") == 3)
    assert(!occ.exists(_._1 == 3L))
    assert(occ.filter(_._2 == "a b").forall(_._3 == "a"))
  }

  test("per-doc mean transition probability matches hand computation") {
    // c(bigram): ab=3 ba=1 bc=1 cc=1
    // c(prev·):  a=3  b=2  c=1
    // p: ab=3/3=1.0, ba=1/2=0.5, bc=1/2=0.5, cc=1/1=1.0
    // doc0 avg(1, .5, 1)=0.8333; doc1 avg(1, .5)=0.75; doc2 avg(1)=1.0
    val res = LangModel.bigramDocScore(corpus, "text", "doc_id")
      .orderBy(asc("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.toSeq == Seq((0L, 3L, 0.8333), (1L, 2L, 0.75), (2L, 1L, 1.0)))
  }

  // ---- interpolated Kneser–Ney trigram perplexity ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def foldDriver(id: Long, k: Int): Long =
    java.lang.Long.parseLong(md5hex(id.toString).substring(0, 4), 16) % k

  /** Independent driver-side KN replay (plain Scala maps, no Spark)
    * — pins the distributed plumbing: join keys, left-join null
    * handling, the coalesce-to-zero rules, and the floor-once
    * micro-nat aggregation. */
  private def knReplay(docs: Seq[(Long, String)], folds: Int,
      held: Int): Map[Long, (Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      (id, foldDriver(id, folds),
        t.trim.toLowerCase.split("\\s+").toSeq)
    }.filter(_._3.size >= 3)
    val tris = toks.map { case (id, f, w) =>
      (id, f, w.sliding(3).map(s => (s(0), s(1), s(2))).toSeq)
    }
    val train = tris.filter(_._2 != held).flatMap(_._3)
    val c3 = train.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctx2 = c3.groupBy { case ((u, v, _), _) => (u, v) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val mid = c3.keys.toSeq.groupBy { case (_, v, w) => (v, w) }
      .map { case (k, v) => k -> v.size.toLong }
    val ctxv = mid.groupBy(_._1._1)
      .map { case (v, m) => v -> ((m.values.sum, m.size.toLong)) }
    val uni = mid.keys.toSeq.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val tT = uni.values.sum
    val vS = uni.size.toLong

    tris.map { case (id, f, ts) =>
      val nats = ts.map { case (u, v, w3) =>
        val p1 = (uni.getOrElse(w3, 0L).toDouble + 1.0) /
          (tT.toDouble + vS.toDouble + 1.0)
        val p2 = ctxv.get(v) match {
          case Some((dvd, vc)) =>
            math.max(mid.getOrElse((v, w3), 0L).toDouble - 0.75, 0.0) /
              dvd.toDouble + 0.75 * vc.toDouble / dvd.toDouble * p1
          case None => p1
        }
        val p3 = ctx2.get((u, v)) match {
          case Some((c2tot, n1pUv)) =>
            math.max(c3.getOrElse((u, v, w3), 0L).toDouble - 0.75, 0.0) /
              c2tot.toDouble + 0.75 * n1pUv.toDouble / c2tot.toDouble * p2
          case None => p2
        }
        math.floor(math.log(p3) * 1000000.0).toLong
      }
      val n = nats.size.toLong
      val nll = -nats.sum
      id -> ((f, n, nll, nll / n))
    }.toMap
  }

  private lazy val knCorpus: Seq[(Long, String)] = {
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = (0L until 30L).map { i =>
      val toks = (0 until 20).map { j =>
        vocab(((i * 7 + j * j * 3 + j) % 6).toInt)
      }
      i -> toks.mkString(" ")
    }
    // plant an OOV word into one genuinely HELD doc so the unseen-
    // unigram path (continuation count 0 → add-1 floor) is exercised
    val heldIds = base.map(_._1).filter(foldDriver(_, 5) == 0L)
    assert(heldIds.nonEmpty, "no fold-0 doc in the synthetic ids")
    base.map { case (id, t) =>
      if (id == heldIds.head) id -> (t + " zork zork zork") else id -> t
    }
  }

  test("KN trigram scores equal an independent driver-side replay") {
    val s = spark
    import s.implicits._
    val df = knCorpus.toDF("doc_id", "text")
    val got = LangModel.knTrigramDocScores(df, "text", "doc_id",
        folds = 5, heldFold = 0)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
      .toMap
    val want = knReplay(knCorpus, folds = 5, held = 0)
    assert(got.keySet == want.keySet)
    for ((id, w) <- want) assert(got(id) == w, s"doc $id")
  }

  test("KN smoothing: unseen trigrams stay finite; train docs score better") {
    val want = knReplay(knCorpus, folds = 5, held = 0)
    val heldId = knCorpus.map(_._1).filter(foldDriver(_, 5) == 0L).head
    // the OOV-planted held doc has a finite, strictly positive nll
    val (_, n, nll, ppl) = want(heldId)
    assert(n > 0 && nll > 0 && ppl > 0)
    // and its per-trigram perplexity exceeds every train doc's (its
    // trigrams are unseen; theirs are all in the model)
    val trainPpl = want.collect {
      case (id, (f, _, _, p)) if f != 0L => p
    }
    assert(trainPpl.nonEmpty && trainPpl.max < ppl)
  }

  test("KN distribution sums to at most 1 over the continuation vocab") {
    // pure estimator sanity on the replay arithmetic: for a seen
    // context (u,v), Σ_w p3(w|u,v) over the observed vocab ≤ 1.
    val docs = knCorpus
    val train = docs.filter(d => foldDriver(d._1, 5) != 0L)
      .flatMap(_._2.trim.toLowerCase.split("\\s+").toSeq.sliding(3)
        .map(s => (s(0), s(1), s(2))))
    val c3 = train.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val mid = c3.keys.toSeq.groupBy { case (_, v, w) => (v, w) }
      .map { case (k, v) => k -> v.size.toLong }
    val ctxv = mid.groupBy(_._1._1)
      .map { case (v, m) => v -> ((m.values.sum, m.size.toLong)) }
    val uni = mid.keys.toSeq.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val tT = uni.values.sum; val vS = uni.size.toLong
    val (u0, v0, _) = c3.keys.head
    val ctx2uv = c3.collect { case ((u, v, _), c) if u == u0 && v == v0 => c }
    val c2tot = ctx2uv.sum
    val n1pUv = ctx2uv.size.toLong
    val vocab = uni.keys.toSeq
    val total = vocab.map { w3 =>
      val p1 = (uni.getOrElse(w3, 0L).toDouble + 1.0) /
        (tT.toDouble + vS.toDouble + 1.0)
      val (dvd, vc) = ctxv(v0)
      val p2 = math.max(mid.getOrElse((v0, w3), 0L).toDouble - 0.75, 0.0) /
        dvd.toDouble + 0.75 * vc.toDouble / dvd.toDouble * p1
      math.max(c3.getOrElse((u0, v0, w3), 0L).toDouble - 0.75, 0.0) /
        c2tot.toDouble + 0.75 * n1pUv.toDouble / c2tot.toDouble * p2
    }.sum
    assert(total <= 1.0 + 1e-9, s"sum over vocab = $total")
  }
}
