package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document MinHash computation behind [[MinhashLong]]: word
  * n-gram shingles → sorted distinct 60-bit shingle hashes `sh` →
  * `numHashes` Kirsch–Mitzenmacher minima `mh`.
  *
  * Bit-identical to the relational pipeline it replaces
  * (`Text.wordShingles` → `md5`/`conv` per shingle → `sort_array(
  * collect_set(h))` → `min(pmod(w0 + i·w1, 2³¹−1))` over the KM words of
  * each hash's decimal string):
  *   - tokens come from the same `UTF8String.trim().split("\\s+", -1)`
  *     calls `Text.tokens` compiles to, so tabs, newlines and non-space
  *     leading/trailing whitespace produce the same (possibly empty) tokens;
  *   - a shingle is its n tokens joined by one space (`concat_ws(" ", …)`),
  *     fed to md5 token by token instead of materialized as a string;
  *   - `h` = the top 60 bits of md5(shingle) (its first 15 hex digits);
  *   - `w0`/`w1` = the first two big-endian 32-bit words of md5 of `h`'s
  *     decimal string, and `mh(i)` = min over `sh` of (w0 + i·w1) mod
  *     (2³¹−1). Minima over the distinct set equal minima over the
  *     per-shingle multiset the aggregate saw.
  * A document with fewer than `n` tokens has empty `sh` and empty `mh`. */
final class MinhashKernel(val n: Int, val numHashes: Int) extends Serializable {
  require(n >= 1, s"graft_minhash: shingle width n must be >= 1 (got $n)")
  require(numHashes >= 0, s"graft_minhash: numHashes must be >= 0 (got $numHashes)")

  def apply(text: UTF8String): InternalRow = {
    val sh = shingleHashes(text)
    InternalRow(UnsafeArrayData.fromPrimitiveArray(sh),
      UnsafeArrayData.fromPrimitiveArray(signature(sh)))
  }

  /** Sorted distinct 60-bit hashes of the document's word n-grams. */
  private def shingleHashes(text: UTF8String): Array[Long] = {
    val toks = text.trim().split(MinhashKernel.Whitespace, -1).map(_.getBytes)
    val windows = toks.length - n + 1
    if (windows <= 0) return Array.emptyLongArray
    val md = MinhashKernel.md5.get()
    val hs = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      md.update(toks(i))
      var j = 1
      while (j < n) { md.update(MinhashKernel.Space); md.update(toks(i + j)); j += 1 }
      hs(i) = MinhashKernel.word(md.digest(), 0, 8) >>> 4
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = 1
    i = 1
    while (i < windows) {
      if (hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, k)
  }

  /** The `numHashes` KM minima over `sh` (empty when `sh` is). */
  private def signature(sh: Array[Long]): Array[Long] = {
    if (sh.isEmpty) return Array.emptyLongArray
    val mh = Array.fill(numHashes)(Long.MaxValue)
    val md = MinhashKernel.md5.get()
    var s = 0
    while (s < sh.length) {
      val d = md.digest(java.lang.Long.toString(sh(s)).getBytes(StandardCharsets.US_ASCII))
      val w0 = MinhashKernel.word(d, 0, 4)
      val w1 = MinhashKernel.word(d, 4, 4)
      var i = 0
      while (i < numHashes) {
        val v = (w0 + w1 * i) % MinhashKernel.Prime
        if (v < mh(i)) mh(i) = v
        i += 1
      }
      s += 1
    }
    mh
  }
}

object MinhashKernel {
  val Prime = 2147483647L
  private val Whitespace = UTF8String.fromString("\\s+")
  private val Space = ' '.toByte
  // MessageDigest is stateful: one per task thread
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** `len` bytes of `d` from `off` as a big-endian unsigned integer. */
  private def word(d: Array[Byte], off: Int, len: Int): Long = {
    var x = 0L
    var i = 0
    while (i < len) { x = (x << 8) | (d(off + i) & 0xffL); i += 1 }
    x
  }
}

/** Native Catalyst expression `graft_minhash(text, n, numHashes)`: one
  * document's sorted distinct shingle hashes and MinHash signature as
  * `struct<sh: array<bigint>, mh: array<bigint>>` (see [[MinhashKernel]]).
  *
  * Why an expression and not the relational explode: the former index
  * build exploded every document into one row per shingle, hashed each row,
  * and rebuilt the per-document set and signature through two hash
  * aggregates — two shuffles and a pinned per-shingle frame, ~12 Spark jobs
  * on a 300-document batch. Both outputs are pure functions of one row's
  * text, so they belong in a projection: zero shuffle, one md5 per shingle
  * and one per distinct hash inside WholeStageCodegen (the same pattern as
  * [[LshBucketsLong]]). `n` and `numHashes` must be INT literals. A null
  * text yields null. */
case class MinhashLong(child: Expression, n: Int, numHashes: Int) extends UnaryExpression {
  @transient private lazy val kernel = new MinhashKernel(n, numHashes)

  // ExpectsInputTypes is not extended because AbstractDataType is
  // private[sql] in Spark 4
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash: text must be a string, got ${other.simpleString}")
  }
  override def dataType: DataType = MinhashLong.resultType
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(text: Any): Any = kernel(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("minhashKernel", kernel, classOf[MinhashKernel].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $k.apply($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashLong =
    copy(child = newChild)
}

object MinhashLong {
  val resultType: StructType = StructType(Seq(
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false)))
}
