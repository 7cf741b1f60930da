package graft

import scala.util.{Success, Try}

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col

import graft.functions._

class GraftExtensionsSpec extends SparkSpec {

  /** One row per input shape: mixed-case text (row 1 is English only
    * once lowercased, so lang_id must lower it), float-array vectors
    * (the kernels read getDouble, so the builders must cast), and an
    * all-null row. */
  private def view(): Unit = spark.sql(
    """CREATE OR REPLACE TEMP VIEW nf_v AS SELECT id, t,
      |  CAST(fv AS ARRAY<FLOAT>) AS fv, CAST(gv AS ARRAY<FLOAT>) AS gv,
      |  CAST(array(0.6, 0.4, -0.2, 0.9, 0.1, 0.5, -0.7, 0.3) AS ARRAY<FLOAT>) AS cb,
      |  CAST(array(0.25, 1.5, 0.75, 2.0) AS ARRAY<FLOAT>) AS lut, codes
      |FROM VALUES
      |  (1, 'THE Table Scan AND THE table scan OF THE Index, mit der Hund',
      |    array(0.5, -1.25, 2.1, 0.75), array(1.3, 0.2, -0.4, 2.2), array(1, 0)),
      |  (2, 'DER Hund UND DIE Katze SIND nicht IM Haus, der Hund',
      |    array(-0.3, 0.9, 0.1, -2.5), array(0.7, -1.1, 0.6, 0.05), array(0, 1)),
      |  (3, CAST(NULL AS STRING), CAST(NULL AS ARRAY<DOUBLE>),
      |    CAST(NULL AS ARRAY<DOUBLE>), CAST(NULL AS ARRAY<INT>))
      |AS v(id, t, fv, gv, codes)""".stripMargin)

  private val mean = Seq(0.1, 0.2, 0.3, 0.4)
  private val mat = Seq(1.0, 0.5, -0.5, 0.25, -1.0, 0.0, 2.0, 0.125)
  private val phrases = Seq("table scan", "der hund")
  private val merges = Seq("t h", "th e", "a b", "ab l")

  private def sqlArray(xs: Seq[Any]): String = xs.map {
    case s: String => s"'$s'"
    case d: Double => s"${d}D"
  }.mkString("array(", ", ", ")")

  /** name -> (Column wrapper, the same call as SQL text over nf_v). */
  private def cases: Map[String, (Column, String)] = {
    val t = col("t")
    Map(
      "simhash64" -> (SimHash64Expr.simhash64(spark, t), "simhash64(t)"),
      "cosine_sim" -> (CosineSimExpr.cosineSim(spark, col("fv"), col("gv")),
        "cosine_sim(fv, gv)"),
      "word_shingles" -> (ShingleExprs.wordShingles(spark, t, 3),
        "word_shingles(t, 3)"),
      "minhash_sig" -> (ShingleExprs.minhashSig(spark, t, 4, 3),
        "minhash_sig(t, 4, 3)"),
      "word_windows" -> (ShingleExprs.wordWindows(spark, t, 3),
        "word_windows(t, 3)"),
      "word_window_hashes" -> (ShingleExprs.wordWindowHashes(spark, t, 3),
        "word_window_hashes(t, 3)"),
      "word_gram_md5" -> (ShingleExprs.wordGramMd5(spark, t, 2),
        "word_gram_md5(t, 2)"),
      "md5_minhash_bands" -> (ShingleExprs.md5MinhashBands(spark, t, 8, 4, 3),
        "md5_minhash_bands(t, 8, 4, 3)"),
      "md5_simhash52" -> (ShingleExprs.md5Simhash52(spark, t),
        "md5_simhash52(t)"),
      "text_stats" -> (TextStatsExpr.textStats(spark, t), "text_stats(t)"),
      "repetition_stats" -> (RepetitionExpr.repetitionStats(spark, t),
        "repetition_stats(t)"),
      "min_md5_fingerprint" ->
        (MinMd5FingerprintExpr.minMd5Fingerprint(spark, t, 5),
          "min_md5_fingerprint(t, 5)"),
      "lang_id" -> (LangIdExpr.langId(spark, t), "lang_id(t)"),
      "rp_lsh_sig" -> (RpLshSigExpr.rpLshSig(spark, col("fv")), "rp_lsh_sig(fv)"),
      "deflate_size" -> (DeflateSizeExpr.deflateSize(spark, t), "deflate_size(t)"),
      "nfc_normalize" -> (NfcNormalizeExpr.nfcNormalize(spark, t),
        "nfc_normalize(t)"),
      "byte_entropy_micro" -> (ByteEntropyExpr.byteEntropyMicro(spark, t),
        "byte_entropy_micro(t)"),
      "pca_project" -> (PcaProjectExpr.pcaProject(spark, col("fv"), mean, mat),
        s"pca_project(fv, ${sqlArray(mean)}, ${sqlArray(mat)})"),
      "phrase_count" -> (PhraseCountExpr.phraseCounts(spark, t, phrases),
        s"phrase_count(t, ${sqlArray(phrases)})"),
      "pq_encode" -> (PqExprs.pqEncode(spark, col("fv"), col("cb"), 2, 2),
        "pq_encode(fv, cb, 2, 2)"),
      "pq_adc" -> (PqExprs.pqAdc(spark, col("codes"), col("lut"), 2),
        "pq_adc(codes, lut, 2)"),
      "bpe_count" -> (BpeExprs.bpeCount(spark, t, merges),
        s"bpe_count(t, ${sqlArray(merges)})"),
      "bpe_tokenize" -> (BpeExprs.bpeTokenize(spark, t, merges),
        s"bpe_tokenize(t, ${sqlArray(merges)})"))
  }

  test("every native function: SQL text equals the Column wrapper") {
    view()
    val cs = cases
    assert(cs.keySet == NativeFunctions.table.map(_._1).toSet)
    val v = spark.table("nf_v")
    val results = cs.toSeq.sortBy(_._1).map { case (name, (column, sqlText)) =>
      (name, v.select(col("id"), column.as("r")).orderBy("id").collect().toSeq,
        Try(spark.sql(s"SELECT id, $sqlText AS r FROM nf_v ORDER BY id")
          .collect().toSeq))
    }
    val mismatched = results.collect { case (name, viaColumn, viaSql)
      if viaSql != Success(viaColumn) => s"$name: SQL $viaSql, Column $viaColumn" }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
    results.foreach { case (name, viaColumn, _) =>
      assert(!viaColumn.head.isNullAt(1) && viaColumn.last.isNullAt(1), name)
    }
  }

  test("a repeat wrapper build keeps the registered function") {
    // A replacement (which Spark logs as "replaced a previously
    // registered function") installs a new ExpressionInfo, and for the
    // Bloom probe a new builder closure too.
    val registry = spark.sessionState.functionRegistry
    def infoOf(name: String) = registry.lookupFunction(FunctionIdentifier(name)).get
    def builderOf(name: String) =
      registry.lookupFunctionBuilder(FunctionIdentifier(name)).get
    TextStatsExpr.textStats(spark, col("t"))
    val info = infoOf("text_stats")
    TextStatsExpr.textStats(spark, col("t"))
    assert(infoOf("text_stats") eq info)

    def bloomNames = registry.listFunction().map(_.funcName)
      .filter(_.startsWith("bloom_might_contain_")).toSet
    val before = bloomNames
    val words = Array(0x5L, 0x30L)
    BloomProbeExpr.mightContain(spark, col("t"), words, 128L, 3)
    val name = (bloomNames -- before).ensuring(_.size == 1).head
    val bloom = builderOf(name)
    val bloomInfo = infoOf(name)
    BloomProbeExpr.mightContain(spark, col("t"), words, 128L, 3)
    assert(builderOf(name) eq bloom)
    assert(infoOf(name) eq bloomInfo)
  }

  test("extensions install and the functions work through SQL") {
    // applying to a fresh extensions object must not throw (the shared
    // test session predates extension injection, so end-to-end SQL
    // goes through the equivalent install path below)
    new GraftExtensions().apply(new SparkSessionExtensions)

    NativeFunctions.install(spark)
    val row = spark.sql(
      """SELECT simhash64('a b c') AS h,
        |  round(cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)), 6) AS c
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) == SimHash64Expr.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    assert(row.getDouble(1) == 1.0)
  }

  test("injectPlannerStrategy plans AsOfJoinNode in an extensions session") {
    import org.apache.spark.sql.SparkSession
    val base = spark // forces the shared context to exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // Same SparkContext, NEW session state built WITH the
      // extensions — the cluster `spark.sql.extensions` path. The
      // session's experimental.extraStrategies stays empty, so only
      // the injected planner strategy can plan the node.
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne base)
      assert(s2.experimental.extraStrategies.isEmpty)
      // every table entry resolves in the extensions-built session
      val missing = NativeFunctions.table.map(_._1).filterNot(name =>
        s2.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
      assert(missing.isEmpty)
      assert(s2.sql("SELECT phrase_count('a table scan', array('table scan'))")
        .collect()(0).getSeq[Long](0) == Seq(1L))
      import s2.implicits._
      val l = Seq((1L, 10L, "a"), (2L, 9L, "b")).toDF("k", "t", "tag")
      val r = Seq((1L, 4L, 7.5)).toDF("k", "t", "v")
      val node = graft.plans.AsOfMergeJoin.buildNode(l, r, "k", "t", Seq("v"))
      val df = org.apache.spark.sql.GraftClassicBridge.ofRows(s2, node)
      val got = df.orderBy("k").collect().map(row =>
        (row.getLong(0), row.getString(2),
          if (row.isNullAt(4)) -1.0 else row.getDouble(4))).toSeq
      assert(got == Seq((1L, "a", 7.5), (2L, "b", -1.0)))
      assert(df.queryExecution.executedPlan.toString
        .contains("AsOfMergeJoin"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
