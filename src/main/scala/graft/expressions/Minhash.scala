package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
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

/** The broadcast side of a MinHash index's delta probe: a small delta
  * batch's shingle-hash sets (sorted, distinct — [[MinhashKernel]]'s `sh`)
  * and, per band, a map from band key to the delta rows carrying it.
  * [[MinhashProbeLong]] matches one corpus row against it. */
final class MinhashProbeTable private (threshold: Double, sets: Array[Array[Long]],
    bands: Array[java.util.HashMap[UTF8String, Array[Int]]]) extends Serializable {

  /** (a, jaccard) for each delta row `a` sharing a band key with the corpus
    * row's `keys`, once per `a` however many bands collide, in ascending
    * `a`, whose exact Jaccard with the row's set `sh` reaches the
    * threshold. The verify is the relational one's arithmetic: the PPJoin
    * length filter min(|A|, |B|) ≥ max(|A|, |B|)·(θ − 1e-9), then
    * common / (|A| + |B| − common) as a double. A row with an empty set
    * matches nothing. */
  def matches(keys: ArrayData, sh: ArrayData): ArrayData = {
    val nb = sh.numElements()
    if (nb == 0) return MinhashProbeTable.none
    var cand = new Array[Int](16)
    var n = 0
    var t = 0
    while (t < math.min(keys.numElements(), bands.length)) {
      val hit = bands(t).get(keys.getUTF8String(t))
      if (hit != null) {
        if (n + hit.length > cand.length)
          cand = java.util.Arrays.copyOf(cand, math.max(2 * cand.length, n + hit.length))
        System.arraycopy(hit, 0, cand, n, hit.length)
        n += hit.length
      }
      t += 1
    }
    if (n == 0) return MinhashProbeTable.none
    java.util.Arrays.sort(cand, 0, n)
    val out = new Array[Any](n)
    var kept = 0
    var k = 0
    while (k < n) {
      val a = cand(k)
      if (k == 0 || a != cand(k - 1)) {
        val x = sets(a)
        val na = x.length
        if (math.min(na, nb).toDouble >= math.max(na, nb) * (threshold - 1e-9)) {
          val common = MinhashProbeTable.common(x, sh)
          val jaccard = common.toDouble / (na + nb - common)
          if (jaccard >= threshold) { out(kept) = InternalRow(a, jaccard); kept += 1 }
        }
      }
      k += 1
    }
    new GenericArrayData(out.take(kept))
  }
}

object MinhashProbeTable {
  private val none = new GenericArrayData(Array.empty[Any])

  /** The size of the intersection of two sorted distinct sets. */
  private def common(x: Array[Long], y: ArrayData): Int = {
    var (i, j, c) = (0, 0, 0)
    while (i < x.length && j < y.numElements()) {
      val (u, v) = (x(i), y.getLong(j))
      if (u < v) i += 1
      else if (u > v) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** The table of delta rows with shingle-hash sets `sets` and band keys
    * `bandKeys` (one per band, in band order, the same bands for every
    * row), verified at `threshold`. */
  def apply(threshold: Double, sets: Array[Array[Long]],
      bandKeys: Array[Array[String]]): MinhashProbeTable = {
    val bands = Array.tabulate(bandKeys.headOption.fold(0)(_.length)) { t =>
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      bandKeys.indices.groupBy(a => bandKeys(a)(t)).foreach { case (key, as) =>
        m.put(UTF8String.fromString(key), as.toArray)
      }
      m
    }
    new MinhashProbeTable(threshold, sets, bands)
  }
}

/** Native Catalyst expression: the delta rows of a broadcast
  * [[MinhashProbeTable]] that one corpus row's band keys (`left`,
  * `array<string>` in band order) collide with and whose exact Jaccard
  * with the row's shingle-hash set (`right`, sorted distinct
  * `array<bigint>`) reaches the table's threshold, as `array<struct<a
  * int, jaccard double>>` — the band probe and the verify of a MinHash
  * delta probe inside ONE scan of the corpus index, with the duplicates
  * across bands removed inside the row. Null-intolerant: a row without
  * band keys or set matches nothing. */
case class MinhashProbeLong(left: Expression, right: Expression,
    table: Broadcast[MinhashProbeTable]) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", IntegerType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_minhash_probe"

  override def nullSafeEval(keys: Any, sh: Any): Any =
    table.value.matches(keys.asInstanceOf[ArrayData], sh.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("minhashProbe", table, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (keys, sh) =>
      s"${ev.value} = ((${classOf[MinhashProbeTable].getName}) $b.value()).matches($keys, $sh);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashProbeLong =
    copy(left = newLeft, right = newRight)
}
