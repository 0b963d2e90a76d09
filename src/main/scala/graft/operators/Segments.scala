package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The one pin discipline every operator shares. */
private[graft] object Pinned {

  /** Persist + force-materialize: after this, every later consumer —
    * including both sides of a self-join — reads the cached blocks instead
    * of recomputing the plan (lazy persist alone would let the self-join's
    * two concurrently-scheduled map stages each compute the pipeline). */
  def pin(df: DataFrame): DataFrame = pinRows(df)._1

  /** [[pin]], also returning the row count of the count that
    * materialized it — callers that need the size read it from here
    * instead of paying a second count over the cache. The count reads no
    * column of the cache (an empty projection), only its row counts. */
  def pinRows(df: DataFrame): (DataFrame, Long) = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    (df, cachedRows(df.select()).count())
  }

  /** The rows of (a projection of) a persisted frame as an RDD, read
    * through its cache: a fresh plan over it, so the cache is used however
    * `df` was planned before. An RDD action over it runs ONE job after the
    * frame's own exchanges; a DataFrame aggregate would add an exchange,
    * and under adaptive execution a separate cache-materialization job. */
  def cachedRows(df: DataFrame): RDD[InternalRow] = df.select("*").queryExecution.toRdd
}

/** One immutable, pinned part of a standing index: its frame, the row
  * count read by the action that materialized it, its partition count,
  * and any small frames derived from it and pinned beside it (`side`).
  *
  * Segments are shared between index generations and reference-counted:
  * a new segment holds one reference, every index that lists it holds one,
  * and the last [[release]] unpersists its frames. So an index extended
  * into a new one can be released before or after the new one, in either
  * order, without either losing its data. */
final class Segment private[operators] (
    val frame: DataFrame, val rows: Long, val partitions: Int, val side: Seq[DataFrame]) {
  private val refs = new AtomicInteger(1)

  def retain(): Segment = {
    require(refs.getAndIncrement() > 0, "segment already released")
    this
  }

  def release(): Unit =
    if (refs.decrementAndGet() == 0) (frame +: side).foreach(_.unpersist(false))
}

private[operators] object Segment {

  /** Pin `df` as one segment with no side frames. */
  def pin(df: DataFrame): Segment = {
    val (frame, rows) = Pinned.pinRows(df)
    new Segment(frame, rows, Pinned.cachedRows(frame).getNumPartitions, Nil)
  }

  /** The segment list of an index extended by `seg`: the old list (each
    * segment retained, so the old index stays valid) plus `seg`, compacted
    * by the binary-counter rule — while the newest segment has at least as
    * many rows as its older neighbour, the two are replaced by
    * `merge(older, newest)`, one re-pinned segment. With equal batches the
    * segment sizes are distinct powers of two times the batch size, so a
    * store of N batch rows keeps O(log N) segments and copies each row
    * O(log N) times over its life. An empty `seg` is dropped (unless the
    * list is empty). Takes over the caller's reference to `seg`. */
  def append(old: Vector[Segment], seg: Segment)(
      merge: (Segment, Segment) => Segment): Vector[Segment] = {
    if (seg.rows == 0L && old.nonEmpty) {
      seg.release()
      return old.map(_.retain())
    }
    var segs = old.map(_.retain()) :+ seg
    while (segs.size >= 2 && segs.last.rows >= segs(segs.size - 2).rows) {
      val (older, newest) = (segs(segs.size - 2), segs.last)
      val merged = merge(older, newest)
      older.release(); newest.release()
      segs = segs.dropRight(2) :+ merged
    }
    segs
  }

  /** The rows of every segment as one frame, with no copy: their union
    * behind one narrow coalesce to the largest segment's partition count.
    * The coalesce ends the scan's code-generated stage, so the stages a
    * query plans above it are the same for any segment count — a standing
    * index's query code is generated and warmed once, not again each time
    * an ingest changes the count — and a query runs as many tasks per
    * stage as over one segment (and a merged segment has no more
    * partitions than its larger part). */
  def union(segs: Seq[Segment]): DataFrame =
    segs.map(_.frame).reduce(_ unionByName _)
      .coalesce(math.max(1, segs.map(_.partitions).max)) // an empty segment has none
}
