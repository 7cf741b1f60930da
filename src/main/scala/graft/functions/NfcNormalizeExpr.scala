package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the
  * canonicalization step every text pipeline needs before hashing or
  * deduplicating multilingual content: a decomposed "cafe" + U+0301
  * and the precomposed "café" are DIFFERENT byte strings (different
  * md5, different shingles, different dedup groups) until both
  * normalize to the same canonical form. Spark has no built-in
  * normalizer; the kernel delegates to `java.text.Normalizer` (ICU-
  * conformant NFC per Unicode TR15 — the oracle engine's
  * nfc_normalize produces identical bytes, so queries over the
  * kernel remain hash-exact cross-engine).
  *
  * Fast path: `Normalizer.isNormalized` is a cheap scan that is true
  * for virtually all real text (ASCII is always normalized) — the
  * allocation-heavy normalize call runs only on the rare decomposed
  * row, so the kernel adds ~a branch per row at scan stage. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  protected override def nullSafeEval(input: Any): Any =
    NfcNormalizeExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalizeExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

object NfcNormalizeExpr {

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  def nfcNormalize(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "nfc_normalize", c)
}
