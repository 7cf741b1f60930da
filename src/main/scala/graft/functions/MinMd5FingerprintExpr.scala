package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing-style fingerprint: the minimum MD5 over all
  * 8-character shingles — the codegen'd replacement for
  * [[graft.text.TextAnalysis.fingerprintMd5]], whose declarative form
  * materializes a position sequence, a substring, AND a 32-char hex
  * string per offset through interpreted `transform`. Here one pass
  * hashes each window off a reused digest instance and keeps the
  * 16-byte minimum; only the winner is hex-encoded.
  *
  * Identical output (spec-asserted): windows are CHARACTER-based like
  * `substr`, hashing the window's UTF-8 bytes; comparing raw digests
  * byte-wise unsigned equals comparing their lowercase-hex renderings
  * lexicographically (hex digits are monotone in nibble value), so the
  * minimum is the same. Texts shorter than k hash whole, like the
  * declarative form.
  */
case class MinMd5FingerprintExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "min_md5_fingerprint"

  protected override def nullSafeEval(input: Any): Any =
    MinMd5FingerprintExpr.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinMd5FingerprintExpr.compute($c, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): MinMd5FingerprintExpr = copy(child = newChild)
}

object MinMd5FingerprintExpr {

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Static kernel shared by interpreted eval and generated code.
    * Windows are CODEPOINT-based (like Spark's `length`/`substr`,
    * which count codepoints, not UTF-16 units). */
  def compute(text: UTF8String, k: Int): UTF8String = {
    val s = text.toString
    val md = MessageDigest.getInstance("MD5")
    val n = s.codePointCount(0, s.length)
    if (n < k)
      return hex(md.digest(s.getBytes(StandardCharsets.UTF_8)))
    // Char offset of each codepoint boundary, so window extraction is
    // O(1) per position.
    val off = new Array[Int](n + 1)
    var ci = 0
    var cp = 0
    while (cp < n) {
      off(cp) = ci
      ci += Character.charCount(s.codePointAt(ci))
      cp += 1
    }
    off(n) = s.length
    var min: Array[Byte] = null
    var i = 0
    val last = n - k
    while (i <= last) {
      md.reset()
      val d = md.digest(
        s.substring(off(i), off(i + k)).getBytes(StandardCharsets.UTF_8))
      if (min == null || unsignedLess(d, min)) min = d
      i += 1
    }
    hex(min)
  }

  def minMd5Fingerprint(spark: SparkSession, text: Column, k: Int): Column =
    NativeFunctions.call(spark, "min_md5_fingerprint", text, lit(k))
}
