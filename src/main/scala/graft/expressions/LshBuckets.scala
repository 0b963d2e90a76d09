package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Plan-time hyperplane matrix for [[LshBucketsLong]]: the seeded ±1
  * Rademacher planes ([[PlaneMatrix.seeded]] — a pure function of (seed,
  * nTables, bits, dim)) flattened to one primitive long array, indexed
  * [(t·bits + j)·dim + pos].
  *
  * Why an expression and not the relational explode: the former
  * formulation exploded every vector into dim rows, broadcast-joined the
  * plane table (fan-out ×nTables·bits per (row, pos) — 25M intermediate
  * rows on a 2.7k-vector corpus at the 24-table dial) and collapsed it
  * back through TWO hash-agg exchanges. The bucket signature is a pure
  * function of one row against a plan-time-constant matrix, so it belongs
  * in a projection: zero shuffle, tight primitive-long loops inside
  * WholeStageCodegen (guide §2.4 — remove shuffles outright; §1.2 step 2).
  * The matrix is nTables·bits·dim longs (16·11·64 ≈ 11k, 90 KB, at the
  * `vector_serve` corpus). */
final class PlaneMatrix(
    val nTables: Int, val bits: Int, val dim: Int, val flat: Array[Long])
  extends Serializable {
  require(nTables > 0 && bits > 0 && dim > 0, "plane matrix must be non-empty")
  require(flat.length == nTables * bits * dim, "plane matrix must be dense")

  /** Bucket per table: bit j of table t's bucket = [Σ_pos w(t,j,pos)·v(pos)
    * ≥ 0] — exact integer sums, bit-identical to the relational
    * sum(when(s ≥ 0, 1<<j)) aggregation this replaces. */
  def buckets(v: ArrayData): ArrayData = {
    if (v.numElements() != dim)
      throw QDotLong.dimMismatch(v.numElements(), dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var b = 0L
      var j = 0
      while (j < bits) {
        var s = 0L
        var i = 0
        val off = (t * bits + j) * dim
        while (i < dim) { s += flat(off + i) * v.getLong(i); i += 1 }
        if (s >= 0L) b += (1L << j)
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }
}

object PlaneMatrix {
  /** The seeded planes: w(t, j, pos) = +1 iff the first md5 nibble of
    * "seed|t|j|pos" is even. Rademacher (±1) entries are a standard
    * random-projection basis (Achlioptas 2001) and keep the projection an
    * exact integer sum. The first hex nibble of the md5 is the high half of
    * its first byte, so the weights are bit-identical to SQL's
    * `md5(concat_ws('|', …))` spelling the oracles use. */
  def seeded(nTables: Int, bits: Int, dim: Int, seed: Long): PlaneMatrix = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val flat = new Array[Long](nTables * bits * dim)
    var k = 0
    for (t <- 0 until nTables; j <- 0 until bits; pos <- 0 until dim) {
      val first = md5.digest(s"$seed|$t|$j|$pos".getBytes(StandardCharsets.UTF_8))(0)
      flat(k) = if ((first & 0x10) == 0) 1L else -1L
      k += 1
    }
    new PlaneMatrix(nTables, bits, dim, flat)
  }
}

/** Native Catalyst expression: all `nTables` sign-LSH bucket signatures of
  * a quantized vector (`array<bigint>`) against a plan-time-constant
  * hyperplane matrix, as `array<bigint>` indexed by table — the bucketing
  * pass as ONE codegen'd projection instead of a dim-explode + broadcast
  * join + two hash-agg exchanges (see [[PlaneMatrix]]). Null-intolerant:
  * a null vector yields null (no buckets). */
case class LshBucketsLong(child: Expression, matrix: PlaneMatrix) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override def nullSafeEval(v: Any): Any = matrix.buckets(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planeMatrix", matrix, classOf[PlaneMatrix].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $m.buckets($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketsLong =
    copy(child = newChild)
}

/** The broadcast side of an embedding index's ingest gate: the quantized
  * vectors and norms of a (small) delta batch and every (table, bucket)
  * key each of them probes — its own bucket and, with multi-probe, its `bits` Hamming-1
  * neighbours — as one sorted key array over runs of delta-row indices.
  * [[LshProbeLong]] matches one corpus row against it. */
final class LshProbeTable private (
    val bits: Int, vecs: Array[Array[Long]], norms: Array[Long],
    keys: Array[Long], starts: Array[Int], members: Array[Int]) extends Serializable {

  /** (a, dot, na) for each delta row `a` with a probe key equal to one of
    * the corpus row's buckets `bk` (masked to `bits`), once per `a` however
    * many tables collide, in ascending `a`; `dot` is the exact integer dot
    * of the two quantized vectors (`graft_qdot`'s arithmetic) and `na` the
    * delta vector's norm. */
  def matches(bk: ArrayData, v: ArrayData): ArrayData = {
    val mask = (1L << bits) - 1
    var cand = new Array[Int](16)
    var n = 0
    var t = 0
    while (t < bk.numElements()) {
      val i = java.util.Arrays.binarySearch(keys, LshProbeTable.key(t, bk.getLong(t) & mask))
      if (i >= 0) {
        var m = starts(i)
        while (m < starts(i + 1)) {
          if (n == cand.length) cand = java.util.Arrays.copyOf(cand, 2 * n)
          cand(n) = members(m); n += 1; m += 1
        }
      }
      t += 1
    }
    if (n == 0) return LshProbeTable.none
    java.util.Arrays.sort(cand, 0, n)
    val dim = v.numElements()
    val out = new Array[Any](n)
    var kept = 0
    var k = 0
    while (k < n) {
      val a = cand(k)
      if (k == 0 || a != cand(k - 1)) {
        val x = vecs(a)
        if (x.length != dim) throw QDotLong.dimMismatch(x.length, dim)
        var s = 0L
        var i = 0
        while (i < dim) { s += x(i) * v.getLong(i); i += 1 }
        out(kept) = InternalRow(a, s, norms(a))
        kept += 1
      }
      k += 1
    }
    new GenericArrayData(out.take(kept))
  }
}

object LshProbeTable {
  private val none = new GenericArrayData(Array.empty[Any])

  private def key(t: Int, bucket: Long): Long = (t.toLong << 32) | bucket

  /** The table of delta rows `vecs` (quantized vectors, with their
    * `norms`) whose buckets in each table are `buckets` (`bits` wide,
    * bits < 32). */
  def apply(bits: Int, multiProbe: Boolean, vecs: Array[Array[Long]],
      norms: Array[Long], buckets: Array[Array[Long]]): LshProbeTable = {
    val probes = (for {
      a <- vecs.indices
      (b, t) <- buckets(a).zipWithIndex
      p <- if (multiProbe) b +: (0 until bits).map(j => b ^ (1L << j)) else Seq(b)
    } yield (key(t, p), a)).sorted.toArray
    val runs = probes.indices.filter(i => i == 0 || probes(i)._1 != probes(i - 1)._1).toArray
    new LshProbeTable(bits, vecs, norms, runs.map(probes(_)._1), runs :+ probes.length, probes.map(_._2))
  }
}

/** Native Catalyst expression: the delta rows of a broadcast
  * [[LshProbeTable]] that one corpus row's buckets (`left`, its
  * `array<bigint>` per table) collide with, each one's exact dot with the
  * row's quantized vector (`right`) and its norm, as `array<struct<a int,
  * dot bigint, na bigint>>` — the probe and the verify dot of an ingest gate inside ONE
  * scan of the corpus, with the duplicates across tables removed inside
  * the row. Null-intolerant: a row without buckets or vector matches
  * nothing. */
case class LshProbeLong(left: Expression, right: Expression,
    table: Broadcast[LshProbeTable]) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", IntegerType, nullable = false),
    StructField("dot", LongType, nullable = false),
    StructField("na", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_lsh_probe"

  override def nullSafeEval(bk: Any, v: Any): Any =
    table.value.matches(bk.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("lshProbe", table, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (bk, v) =>
      s"${ev.value} = ((${classOf[LshProbeTable].getName}) $b.value()).matches($bk, $v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshProbeLong =
    copy(left = newLeft, right = newRight)
}
