package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** An ordered BPE merge list compiled for [[BpeEncodeLong]] and
  * [[BpePieceCountLong]]: every symbol a merge names is interned to an
  * int, so applying a merge is one pass of int compares over the word.
  *
  * Semantics are those of the string fold the oracle's `list_reduce`
  * replays (`BpeSpec` keeps it as the reference), merge after merge in
  * list order:
  *   - a word's initial symbols are `trim(regexp_replace(word, "(.)",
  *     "$1 "))` split on single spaces (`Bpe.charSymbols`): one symbol per
  *     code point, a line terminator (which Java's `.` does not match)
  *     glued to the symbol after it, only ASCII spaces trimmed, and a
  *     space inside the word left as an empty symbol;
  *   - merge (a, b) walks the symbols left to right and fuses a symbol
  *     equal to `b` onto the symbol emitted last when the emitted symbols,
  *     space-joined, equal `a` or end with " " + `a` — the last symbol
  *     equals `a`, or for an `a` holding spaces the last symbols equal its
  *     parts. A fused "ab" is emitted, so "a a a" under (a, a) is "aa a";
  *   - a `b` holding a space never equals a symbol, so its merge is inert.
  * The piece array is the final symbols. Cost is O(merges × symbols) per
  * word; [[pieceCount]] memoizes per distinct word. */
final class BpeMerges private (
    names: Array[String], aParts: Array[Array[Int]], bs: Array[Int], fused: Array[Int])
  extends Serializable {

  @transient private lazy val ids: java.util.HashMap[String, Integer] = BpeMerges.intern(names)
  // per task: distinct word -> its piece count
  @transient private lazy val counts = new java.util.concurrent.ConcurrentHashMap[UTF8String, Integer]()

  /** The pieces of one word, in order. */
  private def pieces(word: UTF8String): Array[String] = {
    val init = initialSymbols(word.toString)
    // symbols no merge names keep a negative id: -1 - their initial index
    val sy = Array.tabulate(init.length) { i =>
      val k = ids.get(init(i))
      if (k == null) -1 - i else k.intValue
    }
    var n = sy.length
    var m = 0
    while (m < bs.length) {
      n = applyMerge(sy, n, m)
      m += 1
    }
    Array.tabulate(n)(i => if (sy(i) >= 0) names(sy(i)) else init(-1 - sy(i)))
  }

  /** One greedy left-to-right pass of merge `m` over `sy(0 until n)`, in
    * place; returns the new symbol count. */
  private def applyMerge(sy: Array[Int], n: Int, m: Int): Int = {
    val (a, b) = (aParts(m), bs(m))
    var out = 1
    var i = 1
    while (i < n) {
      if (sy(i) == b && endsWith(sy, out, a)) sy(out - 1) = fused(m)
      else { sy(out) = sy(i); out += 1 }
      i += 1
    }
    out
  }

  private def endsWith(sy: Array[Int], n: Int, a: Array[Int]): Boolean = {
    if (n < a.length) return false
    var k = 1
    while (k <= a.length && sy(n - k) == a(a.length - k)) k += 1
    k > a.length
  }

  /** `Bpe.charSymbols(word)` split on single spaces. */
  private def initialSymbols(word: String): Array[String] = {
    val sb = new java.lang.StringBuilder(2 * word.length)
    word.codePoints().forEach { c =>
      sb.appendCodePoint(c)
      if (!BpeMerges.isLineTerminator(c)) sb.append(' ')
    }
    var (s, e) = (0, sb.length)
    while (s < e && sb.charAt(s) == ' ') s += 1
    while (e > s && sb.charAt(e - 1) == ' ') e -= 1
    sb.substring(s, e).split(" ", -1)
  }

  /** The piece count of one word, memoized per task. */
  private def pieceCount(word: UTF8String): Int = {
    val hit = counts.get(word)
    if (hit != null) return hit.intValue
    if (counts.size >= BpeMerges.MemoSize) counts.clear()
    val n = pieces(word).length
    counts.put(word.clone(), n) // `word` may point into a reused row buffer
    n
  }

  /** `array<string>` of [[pieces]]. */
  def encode(word: UTF8String): ArrayData =
    new GenericArrayData(pieces(word).map(p => UTF8String.fromString(p): Any))

  /** (n_tokens, n_pieces) of one document's token array: the non-empty,
    * non-null tokens and the sum of their piece counts. */
  def countTokens(tokens: ArrayData): InternalRow = {
    var (nt, np) = (0L, 0L)
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val w = tokens.getUTF8String(i)
        if (w.numBytes() > 0) { nt += 1; np += pieceCount(w) }
      }
      i += 1
    }
    InternalRow(nt, np)
  }
}

object BpeMerges {
  private val NoSymbol = Int.MinValue
  private val MemoSize = 1 << 16

  /** Intern the symbols of `merges`: per merge the parts of `a`, `b`
    * (NoSymbol when it holds a space) and the fused last symbol. */
  def apply(merges: Seq[(String, String)]): BpeMerges = {
    require(merges.nonEmpty, "merges must be non-empty")
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val ids = new java.util.HashMap[String, Integer]()
    def id(s: String): Int = ids.computeIfAbsent(s, _ => { names += s; Int.box(names.size - 1) }).intValue
    val aParts = merges.map(_._1.split(" ", -1).map(id)).toArray
    val bs = merges.map(m => if (m._2.contains(" ")) NoSymbol else id(m._2)).toArray
    val fused = merges.map(m => id(m._1.split(" ", -1).last + m._2)).toArray
    new BpeMerges(names.toArray, aParts, bs, fused)
  }

  private def intern(names: Array[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](names.length * 2)
    names.indices.foreach(i => m.put(names(i), i))
    m
  }

  /** The characters Java's regex `.` does not match. */
  private def isLineTerminator(c: Int): Boolean =
    c == '\n' || c == '\r' || c == 0x85 || c == 0x2028 || c == 0x2029
}

/** Native Catalyst expression: a word's subword pieces (`array<string>`)
  * under an ordered merge list ([[BpeMerges]]).
  *
  * Why an expression and not the built-in fold: greedy merge application
  * spelled as nested `aggregate` higher-order functions (an outer fold over
  * a merge-list literal, an inner fold per merge over the split symbol
  * string) is CodegenFallback, so it ran interpreted, re-splitting and
  * re-concatenating the symbol string once per merge. Here the merges are
  * interned once on the driver and the fold is int compares inside
  * WholeStageCodegen, bit-identical to the string fold. A null word yields
  * null. */
case class BpeEncodeLong(child: Expression, merges: BpeMerges) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  override def nullSafeEval(word: Any): Any = merges.encode(word.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", merges, classOf[BpeMerges].getName)
    nullSafeCodeGen(ctx, ev, w => s"${ev.value} = $m.encode($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeLong =
    copy(child = newChild)
}

/** Native Catalyst expression: one document's token budget under an
  * ordered merge list, `struct<n_tokens: bigint, n_pieces: bigint>` over
  * its token array — the non-empty tokens and the sum of their
  * [[BpeEncodeLong]] piece counts, each distinct word encoded once per
  * task. A null token array yields null. */
case class BpePieceCountLong(child: Expression, merges: BpeMerges) extends UnaryExpression {
  override def dataType: DataType = BpePieceCountLong.resultType
  override def prettyName: String = "graft_bpe_count"

  override def nullSafeEval(tokens: Any): Any = merges.countTokens(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", merges, classOf[BpeMerges].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $m.countTokens($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpePieceCountLong =
    copy(child = newChild)
}

object BpePieceCountLong {
  val resultType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false)))
}
