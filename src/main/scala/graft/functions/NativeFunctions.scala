package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Lower}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one table of native SQL functions: each kernel's SQL name and
  * the builder that turns raw call arguments into its `Expression`.
  *
  * A builder does ALL argument preparation — the `array<double>` casts
  * the kernels need (they read `ArrayData.getDouble`), the `Lower` in
  * front of `lang_id`, and the plan-time evaluation of literal ints,
  * string tables and PCA matrices — so `spark.sql` text, the Column
  * wrappers (`functions.*Expr` companions) and a
  * `spark.sql.extensions=graft.GraftExtensions` session all build the
  * same expression. Column wrappers go through [[call]]; SQL-only code
  * on a session it owns calls [[install]]; [[graft.GraftExtensions]]
  * injects [[table]] into every session it builds.
  */
object NativeFunctions {

  private def doubles(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  private def litInt(e: Expression): Int = e.eval().asInstanceOf[Number].intValue

  private def litStrings(e: Expression): Seq[String] =
    e.eval().asInstanceOf[ArrayData].toArray[UTF8String](StringType)
      .map(_.toString).toSeq

  private def litDoubles(e: Expression): Array[Double] =
    e.eval().asInstanceOf[ArrayData].toDoubleArray()

  val table: Seq[(String, FunctionBuilder)] = Seq(
    "simhash64" -> (e => SimHash64Expr(e(0))),
    "cosine_sim" -> (e => CosineSimExpr(doubles(e(0)), doubles(e(1)))),
    "word_shingles" -> (e => WordShinglesExpr(e(0), litInt(e(1)))),
    "minhash_sig" -> (e => MinHashSigExpr(e(0), litInt(e(1)), litInt(e(2)))),
    "word_windows" -> (e => WordWindowsExpr(e(0), litInt(e(1)))),
    "word_window_hashes" -> (e => WordWindowHashesExpr(e(0), litInt(e(1)))),
    "word_gram_md5" -> (e => WordGramMd5Expr(e(0), litInt(e(1)))),
    "md5_minhash_bands" -> (e =>
      Md5MinhashBandsExpr(e(0), litInt(e(1)), litInt(e(2)), litInt(e(3)))),
    "md5_simhash52" -> (e => Md5Simhash52Expr(e(0))),
    "text_stats" -> (e => TextStatsExpr(e(0))),
    "repetition_stats" -> (e => RepetitionExpr(e(0))),
    "min_md5_fingerprint" -> (e => MinMd5FingerprintExpr(e(0), litInt(e(1)))),
    "lang_id" -> (e => LangIdExpr(Lower(e(0)))),
    "rp_lsh_sig" -> (e => RpLshSigExpr(doubles(e(0)))),
    "deflate_size" -> (e => DeflateSizeExpr(e(0))),
    "nfc_normalize" -> (e => NfcNormalizeExpr(e(0))),
    "byte_entropy_micro" -> (e => ByteEntropyExpr(e(0))),
    "pca_project" -> (e =>
      PcaProjectExpr(doubles(e(0)), litDoubles(e(1)), litDoubles(e(2)))),
    "phrase_count" -> (e => PhraseCountExpr(e(0), litStrings(e(1)))),
    "pq_encode" -> (e =>
      PqEncodeExpr(doubles(e(0)), doubles(e(1)), litInt(e(2)), litInt(e(3)))),
    "pq_adc" -> (e => PqAdcExpr(e(0), doubles(e(1)), litInt(e(2)))),
    "bpe_count" -> (e => BpeCountExpr(e(0), litStrings(e(1)))),
    "bpe_tokenize" -> (e => BpeTokenizeExpr(e(0), litStrings(e(1)))))

  /** The one registration path: adds `name` only when the session's
    * registry lacks it, so a repeat never replaces a builder (and never
    * logs Spark's "replaced a previously registered function"). An
    * existing name means the same builder: a table entry, or a
    * digest-named function whose name encodes its whole state. */
  def add(spark: SparkSession, name: String, builder: FunctionBuilder): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Installs every [[table]] entry the session lacks; idempotent. */
  def install(spark: SparkSession): Unit =
    table.foreach { case (name, builder) => add(spark, name, builder) }

  /** Column entry point shared by every wrapper: install, then call
    * `name` on the raw arguments (the builder prepares them). */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    install(spark)
    call_function(name, args: _*)
  }
}
