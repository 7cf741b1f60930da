package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Bloom-filter membership probe. The Column form pays 2k full
  * string hashes per row (each of the k conjuncts re-derives
  * xxhash64(key) and xxhash64(key, 1) — FilterExec does not eliminate
  * common subexpressions across conjuncts); this kernel hashes the key
  * ONCE and walks the k probe positions in a loop — the shape the
  * corpus-wide prefilter needs at 10⁸+ probed shingles.
  *
  * Bit-identical to [[graft.dedup.BloomFilters]]' Column arithmetic
  * (the BUILD path): h1 = xxhash64(key) = XXH64(bytes, seed 42),
  * h2 = xxhash64(key, 1) = XXH64-int(1, h1), probe j =
  * pmod(pmod(h1,m) + j·pmod(h2,m), m) — asserted against the Column
  * probe in DedupSpec. The words array is embedded into generated code
  * via addReferenceObj, never re-read per row.
  */
case class BloomProbeExpr(child: Expression, words: Array[Long],
    numBits: Long, k: Int) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  protected override def nullSafeEval(input: Any): Any =
    BloomProbeExpr.probe(input.asInstanceOf[UTF8String], words, numBits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BloomProbeExpr.probe($c, $ref, ${numBits}L, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbeExpr =
    copy(child = newChild)
}

object BloomProbeExpr {

  /** Spark pmod semantics: ((a % b) + b) % b. */
  private def pmod(a: Long, b: Long): Long = { val r = a % b; if (r < 0) r + b else r }

  def probe(key: UTF8String, words: Array[Long], numBits: Long,
      k: Int): Boolean = {
    val h1 = XXH64.hashUnsafeBytes(key.getBaseObject, key.getBaseOffset,
      key.numBytes(), 42L)
    val h2 = XXH64.hashInt(1, h1)
    val h1m = pmod(h1, numBits)
    val h2m = pmod(h2, numBits)
    var j = 0
    while (j < k) {
      val pos = pmod(h1m + j * h2m, numBits)
      if (((words((pos >>> 6).toInt) >>> (pos & 63L).toInt) & 1L) != 1L)
        return false
      j += 1
    }
    true
  }

  /** Column entry point; installs a filter-specific function name so
    * concurrent filters don't clobber each other's bit arrays. The
    * name is keyed on a 64-bit XXH64 digest of the whole filter state
    * (words + numBits + k), so an existing name means the same filter
    * and [[NativeFunctions.add]] leaves it as it is — a 32-bit java
    * hashCode gave two distinct filters a real chance of colliding,
    * which would bind the later plan's probe to the earlier bit
    * array. */
  def mightContain(spark: SparkSession, key: Column, words: Array[Long],
      numBits: Long, k: Int): Column = {
    var d = XXH64.hashLong(numBits, 42L)
    d = XXH64.hashLong(k.toLong, d)
    var i = 0
    while (i < words.length) { d = XXH64.hashLong(words(i), d); i += 1 }
    val name = s"bloom_might_contain_${java.lang.Long.toHexString(d)}"
    NativeFunctions.add(spark, name,
      exprs => BloomProbeExpr(exprs.head, words, numBits, k))
    call_function(name, key)
  }
}
