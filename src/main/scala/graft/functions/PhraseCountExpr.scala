package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-phrase occurrence counting in ONE text pass — an
  * Aho–Corasick automaton (Aho & Corasick, CACM 1975) over the phrase
  * list, built ONCE at plan-build time and embedded in generated code
  * via `ctx.addReferenceObj`. The naive form is |phrases| full scans
  * per row (one `replace`/`split` each); the automaton is a single
  * scan regardless of phrase count — the difference between O(n·k)
  * and O(n) per document when tagging against a large taxonomy.
  *
  * Count semantics per phrase: NON-OVERLAPPING, greedy left-to-right —
  * exactly what `(length(t) - length(replace(t, p, ''))) / length(p)`
  * computes, so a SQL oracle can replay it. Each phrase is counted
  * independently (two phrases may overlap each other). Matching is
  * exact char-sequence containment (no word boundaries) — document
  * that at the call site if the phrase list could match mid-token.
  */
final class PhraseAutomaton(val phrases: Array[String]) extends Serializable {

  // Trie over chars; node 0 is the root. Built eagerly (phrase lists
  // are small); per-row work never touches the builder structures.
  private val children = scala.collection.mutable.ArrayBuffer(
    new java.util.HashMap[Character, Integer]())
  private val outBuf = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
  private var failArr: Array[Int] = _

  phrases.zipWithIndex.foreach { case (p, pi) =>
    require(p.nonEmpty, "empty phrase")
    var node = 0
    p.foreach { ch =>
      val m = children(node)
      val nx = m.get(ch)
      if (nx == null) {
        children += new java.util.HashMap[Character, Integer]()
        outBuf += Nil
        m.put(ch, children.length - 1)
        node = children.length - 1
      } else node = nx.intValue()
    }
    outBuf(node) = pi :: outBuf(node)
  }

  // BFS failure links; outputs accumulate along fail chains so each
  // state carries EVERY phrase ending there (suffix matches included).
  locally {
    failArr = new Array[Int](children.length)
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).forEach { (_, c) => queue.add(c) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      children(u).forEach { (ch, v) =>
        queue.add(v)
        var f = failArr(u)
        while (f != 0 && !children(f).containsKey(ch)) f = failArr(f)
        val t = children(f).get(ch)
        failArr(v) = if (t != null && t.intValue() != v.intValue()) t.intValue() else 0
        outBuf(v) = outBuf(v) ++ outBuf(failArr(v))
      }
    }
  }

  private val out: Array[Array[Int]] = outBuf.map(_.toArray).toArray
  private val childArr: Array[java.util.HashMap[Character, Integer]] =
    children.toArray
  private val plen: Array[Int] = phrases.map(_.length)

  /** One scan; per-phrase greedy-left non-overlap via a
    * next-allowed-start cursor (matches for a fixed-length phrase
    * arrive in increasing start order, so "start >= cursor" IS the
    * greedy rule). */
  def counts(text: UTF8String): ArrayData = {
    val s = text.toString
    val k = phrases.length
    val c = new Array[Long](k)
    val nextAllowed = new Array[Int](k)
    var node = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val ch = s.charAt(i)
      while (node != 0 && !childArr(node).containsKey(ch)) node = failArr(node)
      val t = childArr(node).get(ch)
      node = if (t != null) t.intValue() else 0
      val os = out(node)
      var j = 0
      while (j < os.length) {
        val p = os(j)
        val start = i - plen(p) + 1
        if (start >= nextAllowed(p)) { c(p) += 1; nextAllowed(p) = i + 1 }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(c)
  }
}

case class PhraseCountExpr(child: Expression, phrases: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "phrase_count"

  @transient private lazy val auto = new PhraseAutomaton(phrases.toArray)

  protected override def nullSafeEval(input: Any): Any =
    auto.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseAuto", auto,
      "graft.functions.PhraseAutomaton")
    defineCodeGen(ctx, ev, c => s"$ref.counts($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseCountExpr =
    copy(child = newChild)
}

object PhraseCountExpr {
  /** counts[i] = non-overlapping occurrences of phrases(i) in text. */
  def phraseCounts(spark: SparkSession, text: Column,
      phrases: Seq[String]): Column =
    NativeFunctions.call(spark, "phrase_count", text, typedLit(phrases))
}
