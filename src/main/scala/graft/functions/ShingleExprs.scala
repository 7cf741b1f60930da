package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd kernels for the dedup signature pipeline — the
  * word-shingle and MinHash computations whose declarative forms pay
  * interpreted per-element lambda evaluation (higher-order functions
  * never codegen).
  *
  * Both are bit-identical to the declarative forms in
  * [[graft.dedup.Dedup]] (equivalence asserted on the real corpus in
  * DedupSpec): tokens are `trim.toLowerCase.split("\\s+")`, a shingle
  * is n consecutive tokens joined by one space, shingles are
  * first-occurrence-distinct, and MinHash hash i of shingle s is
  * `xxhash64(s, i)` = XXH64(bytes, seed=42) chained into
  * XXH64(int i).
  */
object ShingleKernels {

  /** Tokens with SPARK's split/trim semantics, per the build notes:
    * SQL `trim` strips SPACES only (Java `String.trim` strips all
    * ≤ U+0020), and `split(s, re)` uses limit -1, keeping the empty
    * edge segments a leading/trailing NON-SPACE whitespace char
    * produces. Bit-compatible with the declarative
    * `split(lower(trim(text)), "\\s+")` on every input, not just
    * space-trimmed ones. */
  def sparkTokens(text: UTF8String): Array[String] = {
    val s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s.substring(lo, hi).toLowerCase.split("\\s+", -1)
  }

  def shingles(text: UTF8String, n: Int): Array[UTF8String] = {
    val toks = sparkTokens(text)
    val out = new mutable.LinkedHashSet[String]
    if (toks.length < n) out += toks.mkString(" ")
    else {
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out += sb.toString
        i += 1
      }
    }
    out.iterator.map(UTF8String.fromString).toArray
  }

  def shingleArray(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(shingles(text, n).asInstanceOf[Array[Any]])

  /** ALL n-token windows in position order (non-distinct — one entry
    * per position, unlike [[shingles]]): the unit of the cross-doc
    * substring-duplication scan, where every occurrence must count. A
    * doc shorter than n tokens is one window. */
  def windows(text: UTF8String, n: Int): ArrayData = {
    val toks = sparkTokens(text)
    val out: Array[Any] =
      if (toks.length < n) Array(UTF8String.fromString(toks.mkString(" ")))
      else {
        val arr = new Array[Any](toks.length - n + 1)
        var i = 0
        while (i + n <= toks.length) {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          arr(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        arr
      }
    new GenericArrayData(out)
  }

  /** xxhash64 of every n-token window, position order (the hashed
    * twin of [[windows]]): at corpus scale the duplicated-span scan
    * shuffles these 8-byte hashes instead of the ~10-token window
    * STRINGS — the grouping key drops from ~60 bytes to 8 through
    * both the explode and the count shuffle, and the checkpointed
    * frame stores longs, not strings. Hash = XXH64 over the window's
    * UTF-8 bytes with Spark's xxhash64 seed (42), so the values equal
    * `xxhash64(window_string)` and the spec can assert the twin
    * relationship declaratively. Collision odds over W windows are
    * ~W²/2⁶⁵ — at 10¹² windows that is ~3%·ε per corpus, and a
    * collision only mis-marks one span duplicated; acceptable for a
    * trim/score signal (the exact-string form remains available). */
  def windowHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = sparkTokens(text)
    def h(s: String): Long = {
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    }
    val out: Array[Long] =
      if (toks.length < n) Array(h(toks.mkString(" ")))
      else {
        val arr = new Array[Long](toks.length - n + 1)
        var i = 0
        while (i + n <= toks.length) {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          arr(i) = h(sb.toString)
          i += 1
        }
        arr
      }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 13-hex-char md5 prefixes of every k-token window under
    * split-on-SINGLE-SPACE semantics — the 52-bit gram KEY of
    * [[graft.dedup.SpanDedup]], bit-identical to the declarative
    * `transform(sequence(0, n−k), p → substring(md5(concat_ws(" ",
    * slice(t, p+1, k))), 1, 13))` (equivalence asserted in
    * SpanDedupSpec). Docs shorter than k tokens yield an EMPTY array
    * (the declarative form's `size >= k` guard). The md5 prefix is
    * what lets the DuckDB oracle replay the keys; the kernel exists
    * because the lambda form pays interpreted slice+concat+md5
    * Column-tree evaluation per position. */
  def gramMd5Prefix(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val out = new Array[Any](toks.length - k + 1)
    var i = 0
    while (i + k <= toks.length) {
      val sb = new StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      md.reset()
      val dig = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](13)
      var b = 0
      while (b < 7) {
        val v = dig(b) & 0xff
        hex(2 * b) = Character.forDigit(v >>> 4, 16)
        if (2 * b + 1 < 13) hex(2 * b + 1) = Character.forDigit(v & 0xf, 16)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 52-bit md5 value of a string — the top 13 hex chars of the
    * digest as a nonneg long, ≡ `conv(substring(md5(s),1,13),16,10)`
    * ≡ DuckDB `('0x'||substr(md5(s),1,13))::BIGINT`. */
  private def md5Prefix52(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
    v >>> 4 // 56 collected bits → the leading 52 (13 hex chars)
  }

  /** Banded md5-MinHash keys straight from the text — the kernel form
    * of the oracle-exact twin chain in [[graft.dedup.Dedup]]
    * (`minhashMd5BandKeysRef`, equivalence asserted in DedupSpec):
    * hash i of shingle s is the 52-bit md5 prefix of `"mh|i|s"`,
    * signature i is the min over first-occurrence-distinct shingles,
    * and band b's key is the 52-bit md5 prefix of the comma-joined
    * DECIMAL renderings of its k/bands in-order minhashes. One pass
    * per doc replaces a shingles×k explode plus two hash aggregates. */
  def md5MinhashBands(text: UTF8String, k: Int, bands: Int,
      n: Int): ArrayData = {
    val sh = shingles(text, n)
    val sig = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < sh.length) {
      val str = sh(s).toString
      var i = 0
      while (i < k) {
        val h = md5Prefix52("mh|" + i + "|" + str)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val sb = new StringBuilder(java.lang.Long.toString(sig(b * r)))
      var j = 1
      while (j < r) {
        sb.append(',').append(java.lang.Long.toString(sig(b * r + j)))
        j += 1
      }
      out(b) = md5Prefix52(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** 52-bit md5 SimHash straight from the text — the kernel form of
    * the twin chain in [[graft.dedup.Dedup]] (`simhash52Ref`,
    * equivalence asserted in DedupSpec): tokens are the NONEMPTY
    * whitespace splits of lower(trim(text)); bit b of the signature is
    * the sign of Σ_tokens ±1 by bit b of the token's 52-bit md5
    * prefix. One pass per doc replaces a token explode plus a 52-sum
    * hash aggregate. A doc with NO nonempty token returns −1 (outside
    * the nonneg 52-bit signature range) — the caller filters it out,
    * mirroring the reference aggregate where such a doc produces no
    * row at all. */
  def md5Simhash52(text: UTF8String): Long = {
    val toks = sparkTokens(text)
    val sums = new Array[Long](52)
    var nonEmpty = 0
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) {
        nonEmpty += 1
        val hv = md5Prefix52("sh|" + toks(t))
        var b = 0
        while (b < 52) {
          sums(b) += (if (((hv >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      t += 1
    }
    if (nonEmpty == 0) return -1L
    var sig = 0L
    var b = 0
    while (b < 52) {
      if (sums(b) > 0L) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** MinHash signature straight from the text: k minima over the
    * distinct shingles. Matches xxhash64(shingle, seed) semantics:
    * fold bytes with seed 42, then the INT seed index. */
  def minhashSig(text: UTF8String, k: Int, n: Int): ArrayData = {
    val sh = shingles(text, n)
    val sig = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < sh.length) {
      val u = sh(s)
      val base = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.numBytes(), 42L)
      var i = 0
      while (i < k) {
        val h = XXH64.hashInt(i, base)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }
}

case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.shingleArray(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.shingleArray($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

case class WordWindowsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_windows"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.windows(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.windows($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordWindowsExpr =
    copy(child = newChild)
}

case class WordWindowHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_window_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.windowHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.windowHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordWindowHashesExpr =
    copy(child = newChild)
}

case class WordGramMd5Expr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_gram_md5"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.gramMd5Prefix(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.gramMd5Prefix($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordGramMd5Expr =
    copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.minhashSig(input.asInstanceOf[UTF8String], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.minhashSig($c, $k, $n)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

case class Md5MinhashBandsExpr(child: Expression, k: Int, bands: Int,
    n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_minhash_bands"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.md5MinhashBands(input.asInstanceOf[UTF8String], k, bands, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.md5MinhashBands($c, $k, $bands, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): Md5MinhashBandsExpr =
    copy(child = newChild)
}

case class Md5Simhash52Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash52"

  protected override def nullSafeEval(input: Any): Any =
    ShingleKernels.md5Simhash52(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernels.md5Simhash52($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Md5Simhash52Expr =
    copy(child = newChild)
}

object ShingleExprs {
  def wordShingles(spark: SparkSession, text: Column, n: Int): Column =
    NativeFunctions.call(spark, "word_shingles", text, lit(n))

  def minhashSig(spark: SparkSession, text: Column, k: Int, n: Int): Column =
    NativeFunctions.call(spark, "minhash_sig", text, lit(k), lit(n))

  def wordWindows(spark: SparkSession, text: Column, n: Int): Column =
    NativeFunctions.call(spark, "word_windows", text, lit(n))

  def wordWindowHashes(spark: SparkSession, text: Column, n: Int): Column =
    NativeFunctions.call(spark, "word_window_hashes", text, lit(n))

  def wordGramMd5(spark: SparkSession, text: Column, k: Int): Column =
    NativeFunctions.call(spark, "word_gram_md5", text, lit(k))

  def md5MinhashBands(spark: SparkSession, text: Column, k: Int,
      bands: Int, n: Int): Column =
    NativeFunctions.call(spark, "md5_minhash_bands", text, lit(k), lit(bands),
      lit(n))

  def md5Simhash52(spark: SparkSession, text: Column): Column =
    NativeFunctions.call(spark, "md5_simhash52", text)
}
