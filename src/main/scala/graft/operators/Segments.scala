package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPins, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The one pin discipline every operator shares. An operator call leaves
  * nothing pinned, and a standing index owns exactly its own pins:
  *
  *  - a transient pin — a frame an operator call reads more than once — is
  *    taken through [[scoped]], which releases it when the call returns or
  *    throws;
  *  - a standing index's pins are its [[Segment]]s, released through
  *    [[StandingIndex.release]].
  *
  * Every pin is a [[Pin]], which owns its cache, so releasing one pin never
  * un-pins another. No operator persists or unpersists a frame itself; the
  * one site that persists by hand (`PinDisciplineSpec` fails on any
  * other), `Dedup.foldComponents`, carries one live round RDD at a time. */
private[graft] object Pinned {

  /** Run `body` with a [[Scope]] to pin through. Every frame pinned in it
    * is released when `body` returns or throws, so no failure after a pin
    * can leak it. `body`'s result must not read a pinned frame lazily:
    * materialize it first (a checkpoint, or a segment pinned from it). */
  def scoped[T](body: Scope => T): T = {
    val pins = new Scope
    try body(pins) finally pins.held.foreach(_.release())
  }

  /** The pins of one [[scoped]] call. */
  final class Scope private[Pinned] {
    private[Pinned] var held = List.empty[Pin]

    /** Pin + force-materialize `df` until the scope ends, returning the
      * pinned frame: every later consumer of it — including both sides of
      * a self-join — reads the cached blocks instead of recomputing the
      * plan (a lazy cache alone would let the self-join's two
      * concurrently-scheduled map stages each compute the pipeline). */
    def apply(df: DataFrame): DataFrame = counted(df)._1

    /** [[apply]], also returning the row count of the job that
      * materialized it — callers that need the size read it from here
      * instead of paying a second count over the cache. */
    def counted(df: DataFrame): (DataFrame, Long) = {
      val (pin, n) = Pin.counted(df); held ::= pin; (pin.frame, n)
    }

    /** Release the pinned frame `df` before the scope ends, once the
      * frames pinned from it carry all the rest of the call needs. */
    def release(df: DataFrame): Unit = {
      val (gone, kept) = held.partition(_.frame eq df)
      held = kept; gone.foreach(_.release())
    }
  }
}

/** An owned pin: a cache relation built as `Dataset.persist` builds one
  * but registered in no CacheManager, so no other frame, however equal its
  * plan, reads, shares or releases it. `frame` is the pinned rows, planned
  * directly over the relation; the first job that reads them builds it. */
private[operators] final class Pin private (relation: InMemoryRelation, val frame: DataFrame) {

  /** The cached batches. Reaching them runs the pinned plan's exchanges
    * (their stages), not the batches themselves. */
  def batches: RDD[CachedBatch] = relation.cacheBuilder.cachedColumnBuffers

  /** The rows as an RDD over the cached batches. An RDD action over it
    * builds the batches it reads: ONE job after the plan's own exchanges.
    * A fresh query over the cache would plan it as an adaptive-execution
    * stage of its own and pay a separate job to materialize it first; a
    * DataFrame aggregate would add an exchange. */
  def cachedRows: RDD[InternalRow] =
    relation.cacheBuilder.serializer.convertCachedBatchToInternalRow(
      batches, relation.output, relation.output, SQLConf.get)

  /** Drop the cache (frames planned over it recompute their plan). */
  def release(): Unit = relation.cacheBuilder.clearCache(blocking = false)
}

private[operators] object Pin {

  /** Pin `df` without materializing it. */
  def apply(df: DataFrame): Pin = {
    val relation = GraftPins.relation(df, StorageLevel.MEMORY_AND_DISK)
    new Pin(relation, GraftPins.ofRows(df.sparkSession, relation))
  }

  /** Pin `df` and count its rows, which materializes it. The count sums
    * the row counts of the cache's own batches, so it is ONE job after the
    * frame's exchanges: it builds the batches as it counts them, and reads
    * no column. A count that fails releases the cache it started. */
  def counted(df: DataFrame): (Pin, Long) = {
    val pin = Pin(df)
    try (pin, pin.batches.map(_.numRows.toLong).fold(0L)(_ + _))
    catch { case e: Throwable => pin.release(); throw e }
  }
}

/** One immutable, pinned part of a standing index: its frame, the row
  * count read by the action that materialized it, its partition count,
  * and the [[Pin]]s it owns — its rows' own, then those of any small frames
  * derived from them and pinned beside them (`side`). An empty segment
  * owns no pin.
  *
  * Segments are shared between index generations and reference-counted:
  * a new segment holds one reference, every index that lists it holds one,
  * and the last [[release]] releases its pins. So an index extended into a
  * new one can be released before or after the new one, in either order,
  * without either losing its data. */
final class Segment private[operators] (
    val frame: DataFrame, val rows: Long, val partitions: Int, pins: Seq[Pin]) {
  private val refs = new AtomicInteger(1)

  /** The small frames pinned beside the segment's rows. */
  def side: Seq[DataFrame] = pins.drop(1).map(_.frame)

  def retain(): Segment = {
    require(refs.getAndIncrement() > 0, "segment already released")
    this
  }

  def release(): Unit =
    if (refs.decrementAndGet() == 0) pins.foreach(_.release())
}

/** A standing index: the [[Segment]]s it lists, holding one reference to
  * each. Every standing index type (BM25, IVF-PQ, MinHash, embedding,
  * fuzzy) releases through this one [[release]]. A segment's pins are its
  * own, so releasing one index never un-pins another, whatever plans
  * their segments share. */
trait StandingIndex {
  def segments: Vector[Segment]

  private val released = new AtomicBoolean(false)

  /** Drop this index's reference to each of its segments. The segments an
    * index shares with an index extended from it stay pinned until both
    * are released, in either order. A second call does nothing. */
  final def release(): Unit =
    if (released.compareAndSet(false, true)) segments.foreach(_.release())
}

private[operators] object Segment {

  /** Pin `df` as one segment with no side frames. */
  def pin(df: DataFrame): Segment = { val (pin, rows) = Pin.counted(df); owning(pin, rows, Nil) }

  /** The segment of the materialized pin `rows` holding `n` rows, with the
    * `side` pins beside it. Takes over every pin. */
  def owning(rows: Pin, n: Long, side: Seq[Pin]): Segment =
    new Segment(rows.frame, n, rows.batches.getNumPartitions, rows +: side)

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

/** The one file protocol of every stored index: a directory of named
  * parquet parts whose LAST part is the commit marker. */
private[operators] object IndexFiles {

  /** Write `parts` (name → frame) under `path`, in order. The last part is
    * the commit marker: it is deleted before any other part is written and
    * written after all of them, so its presence implies every part of ONE
    * save landed — a save (or re-save over an older index) interrupted at
    * any point leaves no marker, and [[open]] rejects the directory instead
    * of reading a torn or mixed-generation index. A save whose parts read
    * from `path` itself is refused before anything is deleted (Spark would
    * refuse the overwrite only after the marker is gone). A pinned frame's
    * plan is its pin's relation, so the check reads through each relation
    * to the plan it caches. */
  def save(path: String, parts: Seq[(String, DataFrame)]): Unit = {
    val conf = parts.last._2.sparkSession.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val root = fs.makeQualified(dir).toString
    def paths(plan: LogicalPlan): Seq[String] = plan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.toString).toSeq
      case r: InMemoryRelation => paths(r.cacheBuilder.logicalPlan)
    }.flatten
    val reads = parts.flatMap(p => paths(p._2.queryExecution.analyzed))
    require(!reads.exists(r => r == root || r.startsWith(root + "/")),
      s"cannot save an index over $path: it is read from there - save it elsewhere")
    fs.delete(new Path(s"$path/${parts.last._1}"), true)
    parts.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$path/$name") }
  }

  /** The fail-fast gate of every loader: `path` must hold every named
    * part, else a clear "incomplete" error names the missing ones — not an
    * AnalysisException deep in some later join. Returns the part reader. */
  def open(spark: SparkSession, path: String, kind: String,
      parts: Seq[String]): String => DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = parts.filterNot { p =>
      val hp = new Path(s"$path/$p")
      hp.getFileSystem(conf).exists(hp)
    }
    require(missing.isEmpty,
      s"$kind at $path is incomplete - missing component(s): " +
        s"${missing.mkString(", ")} (expected ${parts.mkString(", ")}). " +
        "Was the save interrupted? Re-run the save.")
    part => spark.read.parquet(s"$path/$part")
  }
}
