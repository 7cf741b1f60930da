package graft.dedup

import org.apache.spark.sql.functions.{hex, lower, lpad}

import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {

  /** Brute-force reference: duplicated-token count per doc = size of
    * the union of [p, p+k) over every position p whose k-gram occurs
    * >= minCount times across all docs. */
  private def brute(docs: Seq[(Long, String)], k: Int, minCount: Int)
      : Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val gramCounts = toks.flatMap { case (_, ts) =>
      if (ts.length >= k) ts.sliding(k).map(_.mkString(" ")).toSeq else Seq.empty
    }.groupBy(identity).map { case (g, occ) => g -> occ.size }
    toks.map { case (id, ts) =>
      val covered = (0 to ts.length - k)
        .filter(p => gramCounts(ts.slice(p, p + k).mkString(" ")) >= minCount)
        .flatMap(p => p until p + k).toSet
      id -> (ts.length.toLong, covered.size.toLong)
    }.toMap
  }

  private def run(docs: Seq[(Long, String)], k: Int, minCount: Int = 2)
      : Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    SpanDedup.spanStats(df, "text", "doc_id", k, minCount).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("spanStats matches the brute-force interval union") {
    val docs = Seq[(Long, String)](
      // shares an 8-token run with doc 2 (overlapping hits must union)
      1L -> "a b c d e f g h i j unique one tail x y z",
      2L -> "prefix p q a b c d e f g h i j other words here",
      // internal repetition: the same 8-gram twice within ONE doc
      3L -> "r s t u v w x y r s t u v w x y closing",
      // no duplication at all
      4L -> "totally fresh content nothing shared with anyone at all ok",
      // shorter than k: no grams, zero coverage
      5L -> "tiny doc")
    val k = 8
    val expected = brute(docs, k, 2)
    val got = run(docs, k)
    assert(got.keySet == docs.map(_._1).toSet) // every doc present
    for ((id, (n, cov)) <- expected) {
      val (gn, gcov, gbp) = got(id)
      assert(gn == n, s"doc $id n_tokens")
      assert(gcov == cov, s"doc $id dup_tokens")
      assert(gbp == cov * 10000 / n, s"doc $id dup_bp")
    }
    // sanity: docs 1/2/3 have coverage, 4/5 none
    assert(got(1L)._2 > 0 && got(2L)._2 > 0 && got(3L)._2 > 0)
    assert(got(4L)._2 == 0 && got(5L)._2 == 0)
  }

  test("randomized corpus with planted shared spans matches brute force") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val planted = (1 to 12).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs: Seq[(Long, String)] = (0L until 40L).map { id =>
      val body = (1 to 10 + rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // every 5th doc embeds the planted 12-token span mid-body
      val t = if (id % 5 == 0) {
        val ws = body.split(" ", -1)
        (ws.take(ws.length / 2) ++ planted.split(" ") ++ ws.drop(ws.length / 2))
          .mkString(" ")
      } else body
      id -> t
    }
    for (k <- Seq(5, 8); mc <- Seq(2, 3)) {
      val expected = brute(docs, k, mc)
      val got = run(docs, k, mc)
      for ((id, (n, cov)) <- expected)
        assert(got(id) == ((n, cov, cov * 10000 / n)), s"doc $id k=$k mc=$mc")
    }
  }

  test("noveltyStats matches the brute-force first-occurrence share") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("p", "q", "r", "s", "t")
    val docs: Seq[(Long, String)] = (0L until 30L).map { id =>
      id -> (1 to 6 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val k = 4
    // brute force: distinct k-grams per doc; novel = min doc_id owner
    val perDoc = docs.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.sliding(k).filter(_.length == k)
        .map(_.mkString(" ")).toSet
    }
    val firstDoc = perDoc.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val expected = perDoc.map { case (id, gs) =>
      val novel = gs.count(g => firstDoc(g) == id).toLong
      id -> (gs.size.toLong, novel)
    }.toMap
    val got = SpanDedup.noveltyStats(docs.toDF("doc_id", "text"),
        "text", "doc_id", k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == docs.map(_._1).toSet)
    for ((id, (n, novel)) <- expected) {
      val bp = if (n == 0) 0L else novel * 10000 / n
      assert(got(id) == ((n, novel, bp)), s"doc $id")
    }
    // doc 0 is all-novel by construction (nothing precedes it)
    assert(got(0L)._2 == got(0L)._1 && got(0L)._3 == 10000L)
  }

  test("spanStatsAgainst matches brute force and full/partial/zero plants") {
    import spark.implicits._
    val k = 4
    val corpus = Seq[(Long, String)](
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      2L -> "x1 x2 x3 x4 x5 x6").toDF("doc_id", "text")
    val batch = Seq[(Long, String)](
      // exact re-crawl → every position covered → bp 10000
      10L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      // prefix overlap (w1..w4 present as a corpus gram) + fresh tail
      11L -> "w1 w2 w3 w4 f1 f2 f3 f4 f5",
      // nothing shared
      12L -> "z1 z2 z3 z4 z5 z6 z7 z8").toDF("doc_id", "text")
    val got = SpanDedup.spanStatsAgainst(batch, corpus, "text", "doc_id", k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute force: corpus gram set, batch positions, interval union
    val cg = Seq("w1 w2 w3 w4 w5 w6 w7 w8", "x1 x2 x3 x4 x5 x6")
      .flatMap(_.split(" ").toSeq.sliding(k).map(_.mkString(" "))).toSet
    for ((id, text) <- Seq(10L -> "w1 w2 w3 w4 w5 w6 w7 w8",
        11L -> "w1 w2 w3 w4 f1 f2 f3 f4 f5",
        12L -> "z1 z2 z3 z4 z5 z6 z7 z8")) {
      val ts = text.split(" ").toSeq
      val covered = (0 to ts.length - k)
        .filter(p => cg.contains(ts.slice(p, p + k).mkString(" ")))
        .flatMap(p => p until p + k).toSet.size.toLong
      assert(got(id) == ((ts.length.toLong, covered,
        covered * 10000 / ts.length)), s"doc $id")
    }
    assert(got(10L)._3 == 10000L && got(12L)._3 == 0L)
    assert(got(11L)._2 == 4L) // exactly the shared prefix gram's span
  }

  test("word_gram_md5 kernel equals the declarative gram keys, row for row") {
    import spark.implicits._
    // real corpus + adversarial shapes: consecutive/leading/trailing
    // spaces (split(" ", -1) keeps empty tokens), exactly-k, k-1, empty
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val edge = Seq[(Long, String)](
      9001L -> "a  b c d e f g h i", // double space → empty token
      9002L -> " a b c d e f g h",   // leading space
      9003L -> "a b c d e f g h ",   // trailing space
      9004L -> "a b c d e f g h",    // exactly k tokens
      9005L -> "a b c d e f g",      // k-1 → no grams
      9006L -> "",                   // empty text
      9007L -> "ü ß 漢 字 a b c d e" // non-ASCII bytes through md5
    ).toDF("doc_id", "text")
    for (df <- Seq(corpus, edge); k <- Seq(3, 8)) {
      val kern = SpanDedup.gramKeys(df, "text", "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val decl = SpanDedup.gramKeysDeclarative(df, "text", "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(kern == decl,
        s"k=$k kern-only=${(kern -- decl).take(3)} decl-only=${(decl -- kern).take(3)}")
      assert(kern.forall(t => t._3 >= 0L && t._3 < (1L << 52)))
    }
  }

  test("a gram key prints as the md5's first 13 hex chars, leading zeros kept") {
    import spark.implicits._
    def md5Hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    // the first 2-token gram "w<i> x" whose md5 begins with '0'
    val text = Iterator.from(0).map(i => s"w$i x")
      .find(t => md5Hex(t).startsWith("0")).get
    val printed = SpanDedup.gramKeys(Seq((1L, text)).toDF("doc_id", "text"),
        "text", "doc_id", 2)
      .select(lower(lpad(hex($"g"), 13, "0"))).as[String].collect().toSeq
    assert(printed == Seq(md5Hex(text).take(13)))
  }

  test("a gram in every doc spills the count window and still matches brute force") {
    val docs = (0L until 200L).map { id =>
      id -> s"boiler plate one two three four five six unique$id tail$id"
    }
    // past the in-memory threshold the buffer moves to a sorter, which
    // spills every `spill.threshold` rows
    val confs = Map("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "16")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.diskBytesSpilled))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = run(docs, 8)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      for ((id, (n, cov)) <- brute(docs, 8, 2))
        assert(got(id) == ((n, cov, cov * 10000 / n)), s"doc $id")
      assert(got(0L)._2 == 8L)
      assert(spilled.get > 0, "the 200-row key group never spilled")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("spanStats and noveltyStats are partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("m", "n", "o", "p")
    val docs = (0L until 60L).map { id =>
      id -> (1 to 8 + rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    for (parts <- Seq(1, 3, 7)) {
      val d = docs.repartition(parts)
      assert(SpanDedup.spanStats(d, "text", "doc_id", 5).collect().map(key).toSet ==
        SpanDedup.spanStats(docs, "text", "doc_id", 5).collect().map(key).toSet,
        s"spanStats parts=$parts")
      assert(SpanDedup.noveltyStats(d, "text", "doc_id", 5).collect().map(key).toSet ==
        SpanDedup.noveltyStats(docs, "text", "doc_id", 5).collect().map(key).toSet,
        s"noveltyStats parts=$parts")
    }
  }

  test("dupSpanPositions emits all occurrences of a duplicated gram") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      10L -> "one two three four five six",
      11L -> "zero one two three four five six seven").toDF("doc_id", "text")
    val pos = SpanDedup.dupSpanPositions(docs, "text", "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // "one two three four five" at pos 0 in doc 10 and pos 1 in doc 11;
    // "two three four five six" at pos 1 in doc 10 and pos 2 in doc 11
    assert(pos == Set((10L, 0), (11L, 1), (10L, 1), (11L, 2)))
  }
}
