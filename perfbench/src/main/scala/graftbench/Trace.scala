package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each library module, plus the
  * Spark work each span causes.
  *
  * A span sets the `graftbench.span` local property before it calls into
  * the module; every job submitted from the client thread (and from the
  * broadcast threads Spark hands the property to) carries it, so the
  * listener attributes job, stage and task metrics to the span that caused
  * them. Spans live in memory and are summarized when the run ends.
  *
  * With tracing off, `apply` is a plain call. With tracing on, `df`
  * materializes the span's output (`localCheckpoint`), so a lazy frame's
  * jobs belong to the span that built it rather than to its consumer.
  * Table scans are the exception: `Tables` returns a lazy scan whose jobs
  * belong to whichever span reads it, so its spans are not materialized. */
object Trace {
  val Key = "graftbench.span"

  val Modules: Seq[String] = Seq("GraftSession", "Tables", "Ops", "Joins", "Grouping",
    "TableCleaner", "Text", "Dedup", "Bpe", "Similarity", "Search", "Streams")
  val Common: Seq[String] = Seq("calls", "self_s", "jobs", "tasks", "exec_cpu_s",
    "sched_wait_s", "gc_s", "shuffle_bytes", "spill_bytes")
  /** Module-specific counters. */
  val Extras: Seq[String] = Seq("Tables.input_bytes", "Text.rows",
    "Dedup.pairs_out", "Dedup.kept_ratio", "Similarity.build_jobs",
    "Similarity.shortlist_rows", "Streams.kept_ratio")
  /** Extras reported as a mean: accumulated as `.num` and `.den`. */
  private val Ratios = Set("Dedup.kept_ratio", "Similarity.shortlist_rows", "Streams.kept_ratio")

  final class Span(val id: Long, val module: String, val op: String, val parent: Option[Span]) {
    var startNs = 0L
    var endNs = 0L
    var childNs = 0L
  }

  // counter slots filled by the listener, per span id
  private val Jobs = 0; private val Tasks = 1; private val Cpu = 2; private val Wait = 3
  private val Gc = 4; private val Shuffle = 5; private val Spill = 6; private val Input = 7

  private final class Listener extends SparkListener {
    val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    val bySpan = new ConcurrentHashMap[Long, Array[Double]]()
    /** Span of the latest job: the single client runs one query at a time. */
    @volatile var lastJobSpan = 0L

    private def add(span: Long, slot: Int, v: Double): Unit = {
      val a = bySpan.computeIfAbsent(span, _ => new Array[Double](8))
      a.synchronized { a(slot) += v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong)
      lastJobSpan = span.getOrElse(0L)
      span.foreach { id =>
        add(id, Jobs, 1)
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        add(id, Tasks, 1)
        add(id, Wait, math.max(0L, e.taskInfo.duration - (if (m == null) 0L else m.executorRunTime)) / 1e3)
        if (m != null) {
          add(id, Cpu, m.executorCpuTime / 1e9)
          add(id, Gc, m.jvmGCTime / 1e3)
          add(id, Shuffle, m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(id, Spill, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(id, Input, m.inputMetrics.bytesRead.toDouble)
        }
      }
  }

  /** Rows the IVF search scores, read from the executed plans of the
    * `Similarity.ivfPqTopKIndexed` spans: the output of the join of stored
    * cell members with each query's probed cells (the only join keyed on
    * `cell` alone). Both listeners sit on the shared listener queue, so a
    * query's job starts are seen before its end. */
  private final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (spanOps.get(listener.lastJobSpan) == "Similarity.ivfPqTopKIndexed") {
        val rows = collectWithSubqueries(qe.executedPlan) {
          case j: BaseJoinExec if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("cell") =>
            j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        if (rows > 0) scoredRows.synchronized { scoredRows(0) += rows }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val listener = new Listener
  private val spanOps = new ConcurrentHashMap[Long, String]()
  private val scoredRows = Array(0L)
  private val extras = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(new PlanListener)
  }

  private def setProperty(v: String): Unit =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped)
      .foreach(_.setLocalProperty(Key, v))

  /** Run `body` as a span of `module`; a plain call when tracing is off. */
  def apply[T](module: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(nextId, module, op, stack.headOption)
      nextId += 1
      spans += s
      spanOps.put(s.id, s"$module.$op")
      stack = s :: stack
      setProperty(s.id.toString)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        s.parent.foreach(_.childNs += s.endNs - s.startNs)
        setProperty(s.parent.map(_.id.toString).orNull)
      }
    }

  /** A span whose output frame is materialized when tracing is on. */
  def df(module: String, op: String)(body: => DataFrame): DataFrame =
    apply(module, op) {
      val d = body
      if (on) d.localCheckpoint(true) else d
    }

  /** Add to a module-specific counter (ignored when tracing is off). */
  def count(name: String, v: Double): Unit = if (on) extras(name) += v

  /** Every recorded span with the work attributed to it, for the trace file. */
  def spanRecords(): Seq[Map[String, Any]] = {
    val counters = listener.bySpan.asScala
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      val a = counters.getOrElse(s.id, new Array[Double](8))
      Map("id" -> s.id, "parent" -> s.parent.map(_.id).getOrElse(0L), "module" -> s.module,
        "op" -> s.op, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.endNs - s.startNs - s.childNs) / 1e9, "jobs" -> a(Jobs), "tasks" -> a(Tasks),
        "exec_cpu_s" -> a(Cpu), "shuffle_bytes" -> a(Shuffle))
    }
  }

  /** Self time and jobs per `Module.op`, for the report (not a metric). */
  def byOp(): Map[String, Map[String, Double]] = {
    val counters = listener.bySpan.asScala
    spans.filter(s => Modules.contains(s.module)).groupBy(s => s"${s.module}.${s.op}").map {
      case (k, ss) => k -> Map(
        "calls" -> ss.size.toDouble,
        "self_s" -> ss.map(s => (s.endNs - s.startNs - s.childNs) / 1e9).sum,
        "jobs" -> ss.flatMap(s => counters.get(s.id)).map(_(Jobs)).sum)
    }
  }

  /** Per-module counters over every span recorded so far. */
  def summary(spark: SparkSession): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (m <- Modules; c <- Common) out(s"$m.$c") = 0.0
    for (e <- Extras) out(e) = 0.0
    val counters = listener.bySpan.asScala
    for (s <- spans if Modules.contains(s.module)) {
      val m = s.module
      out(s"$m.calls") += 1
      out(s"$m.self_s") += (s.endNs - s.startNs - s.childNs) / 1e9
      counters.get(s.id).foreach { a =>
        out(s"$m.jobs") += a(Jobs)
        out(s"$m.tasks") += a(Tasks)
        out(s"$m.exec_cpu_s") += a(Cpu)
        out(s"$m.sched_wait_s") += a(Wait)
        out(s"$m.gc_s") += a(Gc)
        out(s"$m.shuffle_bytes") += a(Shuffle)
        out(s"$m.spill_bytes") += a(Spill)
        if (m == "Similarity" && s.op.endsWith("IvfPqIndex") && !s.op.startsWith("assign"))
          out("Similarity.build_jobs") += a(Jobs)
      }
    }
    // the scan layer's work: bytes every traced span read from parquet
    out("Tables.input_bytes") = counters.values.map(_(Input)).sum
    extras("Similarity.shortlist_rows.num") = scoredRows(0).toDouble
    for (e <- Extras if !Ratios(e) && extras.contains(e)) out(e) += extras(e)
    for (e <- Ratios) {
      val den = extras(s"$e.den")
      out(e) = if (den > 0) extras(s"$e.num") / den else 0.0
    }
    out.toMap
  }
}
