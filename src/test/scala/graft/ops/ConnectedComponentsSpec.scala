package graft.ops

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  /** Local union-find ground truth. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graph matches union-find") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    assert(run(edges) == unionFind(edges))
  }

  test("long chain converges (diameter > propagation rounds of a star)") {
    val chain = (0L until 30L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.values.toSet == Set(0L))
    assert(got.keySet == (0L to 30L).toSet)
  }

  test("a path longer than the round cap throws instead of returning split components") {
    val s = spark
    import s.implicits._
    // min labels move one hop per round: a 30-edge path needs 30
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      ConnectedComponents.components(path, "a", "b", maxIter = 10))
    assert(e.getMessage.contains("maxIter=10"), e.getMessage)
    // a cap equal to the rounds the labels need returns one component
    val exact = ConnectedComponents.components(path, "a", "b", maxIter = 30)
      .collect().map(r => r.getLong(1)).toSet
    assert(exact == Set(0L))
    intercept[IllegalStateException](
      ConnectedComponents.components(path, "a", "b", maxIter = 29))
  }

  test("separate components keep separate canonical labels") {
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L))
    val got = run(edges)
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    val sizes = ConnectedComponents.summary(
      ConnectedComponents.components(
        { val s = spark; import s.implicits._; edges.toDF("a", "b") }, "a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(10L -> 3L, 20L -> 2L, 30L -> 2L))
  }
}
