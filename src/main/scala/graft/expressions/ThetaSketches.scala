package graft.expressions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketch, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Mergeable THETA sketches (Dasgupta et al., "Theta-sketch framework",
  * 2016) — the fourth store-and-merge family in
  * [[graft.operators.Sketches]], and the one that closes HLL's blind spot:
  * SET ALGEBRA on distinct counts. HLL sketches union cleanly but cannot
  * intersect or difference; theta sketches support union, intersection and
  * A-not-B over the stored binaries, so "distinct users who did BOTH X and
  * Y" / "distinct tokens in A but not B" are answered from per-shard
  * sketches without re-scanning or joining the raw keys — at 100 TB the
  * difference between a kilobyte set-operation and a distinct-join.
  *
  * The aggregation buffer is a theta `Union` (it accepts both raw longs
  * and sketches, giving one buffer type for update and merge); `eval`
  * emits the compact immutable form. Estimates are sample-based
  * (k retained hashes; rse ≈ 1/√k) and — like every sketch here —
  * merge-tree-specific: consumers assert the sketch's own [lb, ub]
  * interval (q113 uses 3 standard deviations ≈ 99.7% per assert; below
  * sketch capacity the sketch is in EXACT mode and lb = est = ub). */
case class ThetaSketchAgg(
    child: Expression, lgK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def prettyName: String = "graft_theta_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  // a clean analysis error instead of a runtime CCE in update() (ADVICE r6)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT argument (hash wider values first), " +
        s"got ${child.dataType.sql}")

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(CompactSketch.heapify(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** Union of serialized theta sketches (the group-later half). The union
  * buffer's nominal-entries cap is set to the framework MAXIMUM (lgK=26)
  * rather than the default 12 (KllMergeAgg's ADVICE-r6 genre): a union's
  * result theta is floored by the buffer's own nominal cap, so a default
  * buffer would silently degrade inputs built with lgK > 12 to ~1.6% rse.
  * Memory is safe — the union gadget grows with RETAINED entries (bounded
  * by the inputs' own lgK), not the nominal preallocation. */
case class ThetaMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] with UnaryLike[Expression] {

  override def prettyName: String = "graft_theta_merge"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY sketch argument, got ${child.dataType.sql}")

  private def maxUnion(): Union =
    SetOperation.builder().setLogNominalEntries(26).buildUnion()

  override def createAggregationBuffer(): Union = maxUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.union(CompactSketch.heapify(
      Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = maxUnion()
    u.union(CompactSketch.heapify(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaMergeAgg =
    copy(child = newChild)
}

/** Scalar set operation on two serialized theta sketches:
  * `[round(estimate), lower_bound(3σ), upper_bound(3σ)]` of the
  * intersection / A-not-B difference / union picked by `op`. One call per
  * output GROUP, never per row — `CodegenFallback`. */
case class ThetaSetEstimate(left: Expression, right: Expression, op: String)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = s"graft_theta_$op"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = CompactSketch.heapify(Memory.wrap(a.asInstanceOf[Array[Byte]]))
    val sb = CompactSketch.heapify(Memory.wrap(b.asInstanceOf[Array[Byte]]))
    val r: Sketch = op match {
      case "intersect" =>
        val i = SetOperation.builder().buildIntersection()
        i.intersect(sa); i.intersect(sb); i.getResult
      case "diff" =>
        SetOperation.builder().buildANotB().aNotB(sa, sb)
      case "union" =>
        val u = SetOperation.builder().buildUnion()
        u.union(sa); u.union(sb); u.getResult
      case other => throw new IllegalArgumentException(
        s"unknown theta set op '$other' (expected intersect/diff/union)")
    }
    new GenericArrayData(Array(
      math.round(r.getEstimate), math.round(r.getLowerBound(3)),
      math.round(r.getUpperBound(3))))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaSetEstimate =
    copy(left = newLeft, right = newRight)
}

object ThetaSetEstimate {
  /** The set operations, each registered as SQL `graft_theta_<op>`. */
  val Ops: Seq[String] = Seq("intersect", "diff", "union")
}
