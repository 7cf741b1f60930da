package graft.ops

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The driver path of the seven graph loops equals their distributed
  * path on seeded random graphs and on the edge cases: the whole
  * output (every row, so hash and row count), the schema, and the
  * KCore/Truss round counts. PageRank's ranks are compared to 1e-12
  * relative: the driver adds each inbound sum in (dst, src) order, the
  * distributed path in partition order. */
class LocalGraphSpec extends SparkSpec {
  import spark.implicits._

  private val Local = LocalGraph.EdgeLimit
  private val Distributed = 0L

  /** Canonical (src < dst) G(n, p) edges over ids `offset + 1 .. n`. */
  private def random(rng: Random, n: Int, p: Double, offset: Long = 0L): Seq[(Long, Long)] =
    for {
      a <- 1 to n; b <- (a + 1) to n
      if rng.nextDouble() < p
    } yield (offset + a, offset + b)

  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rng = new Random(7)
    Seq(
      "empty" -> Nil,
      "single edge" -> Seq((1L, 2L)),
      "hub" -> ((2L to 30L).map(v => (1L, v)) ++ random(rng, 30, 0.1).filter(_._1 != 1L)),
      "two random components" -> (random(rng, 24, 0.25) ++ random(rng, 16, 0.3, offset = 100L)))
  }

  /** Column names and types (nullability flags are no contract: the
    * distributed path's follow the input's and, for Sssp's outer
    * merge, the data), row count and the sorted rows of `df`. */
  private def contents(df: DataFrame): (Seq[String], Long, Seq[String]) = {
    val rows = df.collect().toSeq
    (columns(df), rows.size.toLong, rows.map(_.toSeq.mkString(",")).sorted)
  }

  private def columns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name} ${f.dataType.simpleString}")

  private def sameOutput(what: String, local: DataFrame, distributed: DataFrame): Unit = {
    assert(contents(local) == contents(distributed), what)
  }

  test("every loop: the driver path equals the distributed path on random graphs and edge cases") {
    graphs.foreach { case (name, es) =>
      val g = es.toDF("src", "dst")
      val rng = new Random(es.size)
      val weighted = es.map { case (a, b) => (a, b, (rng.nextInt(5) + 1) * 10L) }
        .toDF("src", "dst", "cost")
      val seed = es.headOption.map(_._1).getOrElse(1L)
      sameOutput(s"$name sssp",
        Sssp.boundedBellmanFord(weighted, seed, 3, Local),
        Sssp.boundedBellmanFord(weighted, seed, 3, Distributed))
      sameOutput(s"$name nearest",
        Sssp.nearestFromMd5Seed(weighted, 4, 5, Local),
        Sssp.nearestFromMd5Seed(weighted, 4, 5, Distributed))
      sameOutput(s"$name betweenness",
        Betweenness.sampledBrandes(g, 3, 3, 10, Local),
        Betweenness.sampledBrandes(g, 3, 3, 10, Distributed))
      sameOutput(s"$name label_prop",
        LabelProp.run(g, 3, Local), LabelProp.run(g, 3, Distributed))
      val (hl, al) = Hits.scores(g, 3, Local)
      val (hd, ad) = Hits.scores(g, 3, Distributed)
      sameOutput(s"$name hubs", hl, hd)
      sameOutput(s"$name authorities", al, ad)
      val (cl, crl) = KCore.core(g, 3, 64, Local)
      val (cd, crd) = KCore.core(g, 3, 64, Distributed)
      sameOutput(s"$name kcore", cl, cd)
      assert(crl == crd, s"$name kcore rounds")
      val (tl, trl) = Truss.truss(g, 4, 64, Local)
      val (td, trd) = Truss.truss(g, 4, 64, Distributed)
      sameOutput(s"$name ktruss", tl, td)
      assert(trl == trd, s"$name ktruss rounds")
    }
  }

  test("PageRank: the driver path equals the distributed path, isolated nodes included") {
    graphs.foreach { case (name, es) =>
      // directed both ways round a random half; 900 and 901 are
      // isolated nodes that hold only the teleport term
      val rng = new Random(es.size)
      val directed = es.map { case (a, b) => if (rng.nextBoolean()) (a, b) else (b, a) }
      val e = directed.toDF("src", "dst")
      val ids = (es.flatMap { case (a, b) => Seq(a, b) }.distinct :+ 900L :+ 901L)
      val nodes = ids.toDF("id")
      val local = PageRank.ranks(nodes, e, ids.size, 3, 0.85, Local)
      val dist = PageRank.ranks(nodes, e, ids.size, 3, 0.85, Distributed)
      assert(columns(local) == columns(dist), name)
      val l = local.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val d = dist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(l.keySet == d.keySet && l.size == ids.size, name)
      l.foreach { case (v, x) =>
        assert(math.abs(x - d(v)) <= 1e-12 * math.abs(d(v)), s"$name node $v: $x vs ${d(v)}")
      }
    }
  }

  test("PageRank keeps an int id column's type and duplicate node rows on the driver path") {
    val nodes = Seq(1, 2, 2, 3).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    sameOutput("int ids", PageRank.ranks(nodes, e, 3, 2, 0.85, Local),
      PageRank.ranks(nodes, e, 3, 2, 0.85, Distributed))
  }

  test("the bound: a graph over the edge limit takes the distributed path") {
    val g = (1L to 5L).map(v => (v, v + 1)).toDF("src", "dst")
    assert(LocalGraph.collect(g, 5L).map(_.map(_.toSeq).toSeq) ==
      Some(Seq((1L to 5L).toSeq, (2L to 6L).toSeq)))
    assert(LocalGraph.collect(g, 4L).isEmpty)
    assert(LocalGraph.collect(g, 0L).isEmpty)
    // a null id or a non-integral column also leaves the driver path
    assert(LocalGraph.collect(Seq((1L, Option.empty[Long])).toDF("src", "dst"), 5L).isEmpty)
    assert(LocalGraph.collect(Seq(("a", 1L)).toDF("src", "dst"), 5L).isEmpty)
    // PageRank's nodes count against the same bound
    val nodes = (1L to 6L).toDF("id")
    assert(LocalGraph.collectAll(Seq(nodes, g), 11L).isDefined)
    assert(LocalGraph.collectAll(Seq(nodes, g), 10L).isEmpty)
  }

  test("envelopes fail with the same message on both paths") {
    def message(body: => Any): String =
      intercept[Exception](body match {
        case df: org.apache.spark.sql.Dataset[_] => df.collect()
        case x => x
      }).getMessage
    // node 0, then 7 layers of 32 nodes, each fully joined to the
    // next: 32^6 = 2^30 shortest paths from 0 to the last layer
    val layer = (l: Int) => if (l == 0) Seq(0L) else (0 until 32).map(i => 100L * l + i)
    val sigmaBomb = (0 until 7).flatMap(l => for (a <- layer(l); b <- layer(l + 1)) yield (a, b))
      .toDF("src", "dst")
    // every node a source: the max path count is a whole-graph figure
    val sigma = message(Betweenness.sampledBrandes(sigmaBomb, 1000, 8, 5, Local))
    assert(sigma == message(Betweenness.sampledBrandes(sigmaBomb, 1000, 8, 5, Distributed)))
    assert(sigma.contains("Brandes sigma envelope exceeded"), sigma)
    val bad = Seq((1L, 2L, -3L)).toDF("src", "dst", "cost")
    assert(message(Sssp.boundedBellmanFord(bad, 1L, 2, Local)) ==
      message(Sssp.boundedBellmanFord(bad, 1L, 2, Distributed)))
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val truss = message(Truss.truss(g, 3, 0, Local))
    assert(truss == message(Truss.truss(g, 3, 0, Distributed)))
    assert(truss.startsWith("k-truss peel still shrinking after maxRounds=0 (edges=4)"), truss)
    // KCore's cap throws on both paths, like Truss's
    val chain = (1L to 6L).map(v => (v, v + 1)).toDF("src", "dst")
    val cap = message(KCore.core(chain, 2, 1, Local))
    assert(cap == message(KCore.core(chain, 2, 1, Distributed)))
    assert(cap.contains("maxRounds=1"), cap)
  }
}
