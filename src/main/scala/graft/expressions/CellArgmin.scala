package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Plan-time centroid matrix for [[CellArgminLong]]: the localized centroid
  * set flattened to primitive arrays, sorted by centroid id ascending so a
  * strict-improvement scan reproduces `min(struct(d2, cent_id))` exactly
  * (equal d² keeps the earlier = lowest id — the broadcast-join + min-struct
  * tie rule this expression replaces).
  *
  * Why an expression and not the join: the old formulation expanded every
  * corpus row × every centroid through a broadcast join and collapsed it
  * back with a hash aggregate — a full corpus-cardinality EXCHANGE per
  * assignment pass (and per Lloyd round). The argmin is a pure function of
  * one row against a plan-time-constant matrix, so it belongs in a
  * projection: zero shuffle, tight primitive-long loops inside
  * WholeStageCodegen (guide §2.4 — remove shuffles outright; §4 — codegen
  * expressions in the hot path). The matrix is ≤ √N rows · dim longs (IVF)
  * or m·kCents·dsub longs (PQ) — the SAME frame the join broadcast anyway. */
final class CellMatrix(
    val ids: Array[Long], val flat: Array[Long], val ccs: Array[Long],
    val dim: Int) extends Serializable {
  require(ids.length > 0, "centroid matrix must be non-empty")
  require(dim > 0, "centroid dimension must be positive")

  /** Exact-integer argmin cell: d² = vv − 2·v·c + c·c over longs, ties to
    * the lowest centroid id (ids are sorted ascending, strict `<` keeps the
    * first minimum). Bit-identical to the min(struct(d2, cent_id)) agg. */
  def argmin(v: ArrayData, vv: Long): Long = {
    if (v.numElements() != dim)
      throw QDotLong.dimMismatch(v.numElements(), dim)
    argminAt(v.toLongArray(), 0, vv)
  }

  /** d² from the `dim` longs of `x` at `off` (self-dot `xx`) to centroid
    * row `k`. */
  private def d2(x: Array[Long], off: Int, xx: Long, k: Int): Long = {
    var dot = 0L
    var i = 0
    val c = k * dim
    while (i < dim) { dot += x(off + i) * flat(c + i); i += 1 }
    xx - 2L * dot + ccs(k)
  }

  /** [[argmin]] over the `dim` longs of `x` starting at `off` (a PQ
    * sub-vector slice of a primitive vector), with its self-dot `xx`. */
  def argminAt(x: Array[Long], off: Int, xx: Long): Long = {
    var best = 0L
    var bestId = 0L
    var k = 0
    while (k < ids.length) {
      val d = d2(x, off, xx, k)
      if (k == 0 || d < best) { best = d; bestId = ids(k) }
      k += 1
    }
    bestId
  }

  /** The `n` nearest centroid ids of `v`, ordered by (d², id) — the IVF
    * probe list, identical to `row_number() OVER (ORDER BY d2, cent_id) <= n`
    * over a centroid join (the stable sort keeps ascending ids among equal
    * d²). Fewer than `n` centroids yield all. */
  def nearest(v: ArrayData, vv: Long, n: Int): ArrayData = {
    if (v.numElements() != dim)
      throw QDotLong.dimMismatch(v.numElements(), dim)
    val x = v.toLongArray()
    val d = Array.tabulate(ids.length)(k => d2(x, 0, vv, k))
    val order = ids.indices.sortBy(d(_)).take(n)
    UnsafeArrayData.fromPrimitiveArray(order.map(ids(_)).toArray)
  }

  /** Row offset of centroid `id` in [[flat]] (ids are sorted ascending). */
  def indexOf(id: Long): Int = {
    val k = java.util.Arrays.binarySearch(ids, id)
    if (k < 0) throw new IllegalArgumentException(
      s"centroid id $id is not in the trained centroid set")
    k
  }
}

/** Per-subspace codebook matrices for [[CodeArgminLong]]: one [[CellMatrix]]
  * per PQ subspace index (0..m−1, dense). */
final class CodeMatrix(val subs: Array[CellMatrix]) extends Serializable {
  require(subs.nonEmpty && subs.forall(_ != null),
    "codebook matrix must cover every subspace 0..m-1 densely")
  def argmin(sub: Int, v: ArrayData, vv: Long): Long = {
    if (sub < 0 || sub >= subs.length)
      throw CellArgminLong.subOutOfRange(sub, subs.length)
    subs(sub).argmin(v, vv)
  }
}

/** Native Catalyst expression: exact-integer argmin cell assignment of a
  * quantized vector (`array<bigint>`, with its precomputed self-dot) against
  * a plan-time-constant centroid matrix — the IVF coarse-assignment loop as
  * ONE codegen'd projection instead of a broadcast join + corpus-wide
  * hash-agg exchange (see [[CellMatrix]]). Null-intolerant: a null vector or
  * norm yields null (the corpora these paths run on carry no null
  * embeddings; the empty-corpus case short-circuits upstream). */
case class CellArgminLong(left: Expression, right: Expression,
    matrix: CellMatrix) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cell_argmin"

  override def nullSafeEval(v: Any, vv: Any): Any =
    matrix.argmin(v.asInstanceOf[ArrayData], vv.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cellMatrix", matrix, classOf[CellMatrix].getName)
    nullSafeCodeGen(ctx, ev, (v, vv) => s"${ev.value} = $m.argmin($v, $vv);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellArgminLong =
    copy(left = newLeft, right = newRight)
}

object CellArgminLong {
  def subOutOfRange(sub: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_code_argmin: subspace index $sub outside the trained books " +
        s"(m=$m) - batch vectors must share the index's dimensionality")

  /** Build a [[CellMatrix]] from a FOLDABLE `array<struct<cent_id bigint,
    * cv array<bigint>, cc bigint>>` expression (the registry path: the
    * caller passes the localized centroid set as a typedLit). Evaluated
    * once at plan time. */
  def cellMatrixOf(e: Expression, fn: String): CellMatrix = {
    require(e.foldable, s"$fn: the centroid matrix must be a foldable " +
      s"literal array, got: $e")
    val ad = e.eval().asInstanceOf[ArrayData]
    require(ad != null && ad.numElements() > 0, s"$fn: empty centroid matrix")
    val n = ad.numElements()
    val entries = (0 until n).map { i =>
      val row = ad.getStruct(i, 3)
      (row.getLong(0), row.getArray(1).toLongArray(), row.getLong(2))
    }.sortBy(_._1)
    val dim = entries.head._2.length
    require(entries.forall(_._2.length == dim),
      s"$fn: centroid vectors must share one dimension")
    val flat = new Array[Long](n * dim)
    entries.zipWithIndex.foreach { case ((_, cv, _), k) =>
      System.arraycopy(cv, 0, flat, k * dim, dim)
    }
    new CellMatrix(entries.map(_._1).toArray, flat, entries.map(_._3).toArray, dim)
  }

  /** Build a [[CodeMatrix]] from a FOLDABLE `array<struct<sub int, cent_id
    * bigint, cv array<bigint>, cc bigint>>` expression; subspace indexes
    * must cover 0..m−1 densely (they do by construction — posexplode of the
    * static slice array). */
  def codeMatrixOf(e: Expression, fn: String): CodeMatrix = {
    require(e.foldable, s"$fn: the codebook matrix must be a foldable " +
      s"literal array, got: $e")
    val ad = e.eval().asInstanceOf[ArrayData]
    require(ad != null && ad.numElements() > 0, s"$fn: empty codebook matrix")
    val n = ad.numElements()
    val entries = (0 until n).map { i =>
      val row = ad.getStruct(i, 4)
      (row.getInt(0), row.getLong(1), row.getArray(2).toLongArray(), row.getLong(3))
    }
    val bySub = entries.groupBy(_._1)
    val m = bySub.keys.max + 1
    require(bySub.keys.min == 0 && bySub.size == m,
      s"$fn: subspace indexes must cover 0..${m - 1} densely, got ${bySub.keys.toSeq.sorted}")
    val subs = (0 until m).map { s =>
      val es = bySub(s).map(t => (t._2, t._3, t._4)).sortBy(_._1)
      val dim = es.head._2.length
      require(es.forall(_._2.length == dim),
        s"$fn: codebook vectors of subspace $s must share one dimension")
      val flat = new Array[Long](es.length * dim)
      es.zipWithIndex.foreach { case ((_, cv, _), k) =>
        System.arraycopy(cv, 0, flat, k * dim, dim)
      }
      new CellMatrix(es.map(_._1).toArray, flat, es.map(_._3).toArray, dim)
    }.toArray
    new CodeMatrix(subs)
  }
}

/** [[CellArgminLong]]'s per-subspace sibling: argmin code of a sub-vector
  * against ITS subspace's codebook — children (sub int, sv array<bigint>,
  * svv bigint), the PQ code-assignment loop as one codegen'd projection. */
case class CodeArgminLong(first: Expression, second: Expression,
    third: Expression, matrix: CodeMatrix) extends TernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_code_argmin"

  override def nullSafeEval(sub: Any, v: Any, vv: Any): Any =
    matrix.argmin(sub.asInstanceOf[Int], v.asInstanceOf[ArrayData],
      vv.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("codeMatrix", matrix, classOf[CodeMatrix].getName)
    nullSafeCodeGen(ctx, ev, (sub, v, vv) =>
      s"${ev.value} = $m.argmin($sub, $v, $vv);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CodeArgminLong =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Plan-time PQ state of an IVF-PQ index for [[PqEncodeLong]] and
  * [[AdcLutLong]]: the per-subspace codebooks and, for a residual-encoded
  * index, the coarse centroids whose residual v − c(cell) the books
  * quantize (`cents` is null for a non-residual index). Every subspace
  * slices `dsub` consecutive dimensions, as `slice(v, s·dsub + 1, dsub)`
  * does on the relational side.
  *
  * The lookup table of a (query, cell) pair is one flat `array<bigint>`:
  * entry `s·width + code` holds the exact dot of the query's subspace-`s`
  * slice (of its residual, when residual) with codebook entry `code`, and
  * the LAST entry holds the base term (q·c(cell) when residual, else 0),
  * so the ADC dot of a stored code array is base + Σ_s lut(s·width +
  * code_s) ([[AdcDotLong]]). Code ids are the codebook centroid ids
  * (1..kCents from training); `width` = max id + 1 leaves unused slots 0. */
final class PqMatrix(val books: CodeMatrix, val cents: CellMatrix) extends Serializable {
  val m: Int = books.subs.length
  val dsub: Int = books.subs(0).dim
  require(books.subs.forall(_.dim == dsub), "codebook subspaces must share one width")
  val dim: Int = m * dsub
  require(cents == null || cents.dim == dim,
    s"centroid dimension ${cents.dim} differs from the codebooks' $dim")
  val width: Int = {
    val ids = books.subs.flatMap(_.ids)
    require(ids.min >= 0 && ids.max < (1 << 16),
      s"codebook ids must lie in [0, 65536), got [${ids.min}, ${ids.max}]")
    ids.max.toInt + 1
  }

  /** The vector the codes quantize, as primitive longs: `v`, or
    * v − c(cell) for a residual index (exact elementwise subtraction). */
  private def encoded(v: ArrayData, cell: Long): Array[Long] = {
    if (v.numElements() != dim)
      throw QDotLong.dimMismatch(v.numElements(), dim)
    val x = v.toLongArray()
    if (cents != null) {
      val off = cents.indexOf(cell) * dim
      var i = 0
      while (i < dim) { x(i) -= cents.flat(off + i); i += 1 }
    }
    x
  }

  /** The m codes of `v` (in `cell`): per-subspace exact-integer argmin,
    * ties to the lowest id — [[CodeMatrix.argmin]] over each slice. */
  def encode(v: ArrayData, cell: Long): ArrayData = {
    val x = encoded(v, cell)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var xx = 0L
      var i = 0
      while (i < dsub) { xx += x(off + i) * x(off + i); i += 1 }
      out(s) = books.subs(s).argminAt(x, off, xx).toInt
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The ADC lookup table of query `v` against probed `cell` (layout in
    * the class doc). */
  def lut(v: ArrayData, cell: Long): ArrayData = {
    val x = encoded(v, cell)
    val out = new Array[Long](m * width + 1)
    var s = 0
    while (s < m) {
      val b = books.subs(s)
      val off = s * dsub
      var k = 0
      while (k < b.ids.length) {
        var dot = 0L
        var i = 0
        val c = k * dsub
        while (i < dsub) { dot += x(off + i) * b.flat(c + i); i += 1 }
        out(s * width + b.ids(k).toInt) = dot
        k += 1
      }
      s += 1
    }
    if (cents != null) {
      val off = cents.indexOf(cell) * dim
      var base = 0L
      var i = 0
      while (i < dim) { base += v.getLong(i) * cents.flat(off + i); i += 1 }
      out(m * width) = base
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object PqMatrix {
  /** Build from the registry's foldable literals: the codebooks (the
    * [[CellArgminLong.codeMatrixOf]] layout) and, for a residual index,
    * the centroids ([[CellArgminLong.cellMatrixOf]]). */
  def of(children: Seq[Expression], fn: String): PqMatrix = {
    require(children.length == 3 || children.length == 4,
      s"$fn expects (vector, cell, books[, cents]), got ${children.length} arguments")
    new PqMatrix(CellArgminLong.codeMatrixOf(children(2), fn),
      children.lift(3).map(CellArgminLong.cellMatrixOf(_, fn)).orNull)
  }
}

/** The IVF probe list of a quantized query (`array<bigint>` + self-dot):
  * its `probes` nearest centroid ids against the plan-time centroid
  * matrix, nearest first ([[CellMatrix.nearest]]) — one projection, so
  * probing adds no join, window or exchange to a search. */
case class IvfProbeLong(left: Expression, right: Expression,
    matrix: CellMatrix, probes: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_probe"

  override def nullSafeEval(v: Any, vv: Any): Any =
    matrix.nearest(v.asInstanceOf[ArrayData], vv.asInstanceOf[Long], probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cellMatrix", matrix, classOf[CellMatrix].getName)
    nullSafeCodeGen(ctx, ev, (v, vv) => s"${ev.value} = $m.nearest($v, $vv, $probes);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfProbeLong =
    copy(left = newLeft, right = newRight)
}

/** The m PQ codes (`array<int>`) of a quantized vector in `cell`
  * ([[PqMatrix.encode]]) — the packed store's code column, computed in
  * the same projection as the cell so a build or ingest never shuffles. */
case class PqEncodeLong(left: Expression, right: Expression,
    matrix: PqMatrix) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(v: Any, cell: Any): Any =
    matrix.encode(v.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqMatrix", matrix, classOf[PqMatrix].getName)
    nullSafeCodeGen(ctx, ev, (v, cell) => s"${ev.value} = $m.encode($v, $cell);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeLong =
    copy(left = newLeft, right = newRight)
}

/** The ADC lookup table (`array<bigint>`) of a quantized query against
  * one probed cell ([[PqMatrix.lut]]) — one table per query (per probed
  * cell, when residual), built on the small query side of a search. */
case class AdcLutLong(left: Expression, right: Expression,
    matrix: PqMatrix) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_adc_lut"

  override def nullSafeEval(v: Any, cell: Any): Any =
    matrix.lut(v.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqMatrix", matrix, classOf[PqMatrix].getName)
    nullSafeCodeGen(ctx, ev, (v, cell) => s"${ev.value} = $m.lut($v, $cell);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLutLong =
    copy(left = newLeft, right = newRight)
}

/** The ADC dot of a stored code array (`array<int>`, m codes) against a
  * lookup table from [[AdcLutLong]]: base + Σ_s lut(s·width + code_s),
  * read in place from both arrays — no per-row copy of the table. */
case class AdcDotLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_adc_dot"

  override def nullSafeEval(codes: Any, lut: Any): Any =
    AdcDotLong.adc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) =>
      s"${ev.value} = graft.expressions.AdcDotLong.adc($codes, $lut);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDotLong =
    copy(left = newLeft, right = newRight)
}

object AdcDotLong {
  def adc(codes: ArrayData, lut: ArrayData): Long = {
    val m = codes.numElements()
    val n = lut.numElements()
    if (m == 0 || (n - 1) % m != 0)
      throw new IllegalArgumentException(s"graft_adc_dot: dimensions differ " +
        s"($m codes vs a lookup table of $n entries) - codes and table must " +
        "come from one index")
    val width = (n - 1) / m
    var s = lut.getLong(n - 1)
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= width) throw new IllegalArgumentException(
        s"graft_adc_dot: code $c outside the lookup table width $width")
      s += lut.getLong(j * width + c)
      j += 1
    }
    s
  }
}
