package graft.cli.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpus in the `documents.parquet` schema (doc_id, text,
  * lang, source, n_chars) with known stage outcomes:
  *   - `junk` docs are digit strings, which the pipeline's quality
  *     screen (alpha-weighted score < 0.5) always drops;
  *   - `planted` docs are 80 % a 40-token span shared by a group of
  *     three to five planted docs, which the 8-token span screen
  *     (duplicated coverage >= 50 %) always drops;
  *   - the rest are random words over a 64-word vocabulary, whose
  *     8-grams practically never repeat, so both screens keep them.
  * 5 % of the docs are junk and 10 % planted; 20 sources of
  * Zipf-skewed size. */
final case class CorpusGen(seed: Long, nDocs: Int) {
  val nJunk: Int = nDocs * 5 / 100
  val nPlanted: Int = nDocs * 10 / 100

  private val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    (0 until 64).map(_ => (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }

  /** (doc_id, text, lang, source) rows. */
  def rows(): Seq[(Long, String, String, String)] = {
    val r = new scala.util.Random(seed)
    def words(n: Int) = (0 until n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    val spans = (0 until nPlanted / 3 + 1).map(_ => words(40))
    val srcW = (0 until 20).map(i => 1.0 / math.pow(i + 1, 0.8))
    def source(): String = {
      var u = r.nextDouble() * srcW.sum
      s"src${srcW.indexWhere { w => u -= w; u < 0 } max 0}"
    }
    val langs = Seq("en", "en", "en", "de", "fr", "es")
    val kinds = r.shuffle((0 until nDocs).map(i =>
      if (i < nJunk) 'j' else if (i < nJunk + nPlanted) 'p' else 'n'))
    var planted = 0
    kinds.zipWithIndex.map { case (k, i) =>
      val text = k match {
        case 'j' => (0 until 20 + r.nextInt(40)).map(_ => r.nextInt(100000).toString).mkString(" ")
        case 'p' =>
          // groups of three share one span; the last group takes the rest
          val s = spans(math.min(planted / 3, nPlanted / 3 - 1)); planted += 1
          s + " " + words(10)
        case _ => words(20 + r.nextInt(60))
      }
      (i.toLong, text, langs(r.nextInt(langs.size)), source())
    }
  }

  /** Write `<dir>/documents.parquet` as one file, like the sf corpora. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    rows().toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** Seeded lineitem-shaped (order, part) table and the co-purchase
  * graph the loop queries build from it (parts bought together in at
  * least two orders), plus 32 bridges to one hub node as in
  * `graft.tools.LoopScaleProbe` (replication factor 1). Part
  * popularity is Zipf-skewed over 20,000 parts and half of the 30,000
  * orders buy one of 1,500 three- or four-part bundles (plus extras),
  * so bundle pairs repeat and the graph is power-law with triangles
  * and a non-trivial 3-core. Edges are canonical (`src < dst`) and
  * distinct, as every loop's contract asks. */
final case class GraphGen(seed: Long) {
  val Hub = 999999999L
  private val nOrders = 30000
  private val nParts = 20000
  private val nBundles = 1500

  def lineitem(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    val cdf = (1 to nParts).map(i => 1.0 / math.pow(i, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def part(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
      (if (i >= 0) i else -i - 1).toLong
    }
    val bundles = (0 until nBundles).map(_ => Seq.fill(3 + r.nextInt(2))(part()).distinct)
    val rows = (0 until nOrders).flatMap { o =>
      val extra = Seq.fill(1 + r.nextInt(3))(part())
      val parts = if (r.nextBoolean()) bundles(r.nextInt(nBundles)) ++ extra else extra
      parts.distinct.map(p => (o.toLong, p))
    }
    rows.toDF("l_orderkey", "l_partkey")
  }

  /** The co-purchase edge build of the loop queries plus the hub
    * bridges from the 32 smallest part ids; checkpointed. */
  def edges(spark: SparkSession): DataFrame = {
    val base = lineitem(spark)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select(col("src"), col("dst"))
      .localCheckpoint(true)
    val bridges = base.select(col("src")).distinct().orderBy(col("src")).limit(32)
      .select(col("src"), lit(Hub).as("dst"))
    base.union(bridges).localCheckpoint(true)
  }
}
