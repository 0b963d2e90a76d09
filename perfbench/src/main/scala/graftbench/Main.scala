package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, Tables}

/** One request of a workload: a name, parameters echoed into the results,
  * and the call that runs it and returns its checked output. */
final case class Request(kind: String, meta: Map[String, Any], run: () => Any)

trait Workload {
  /** Light warm-up after each session start: plan the inputs, run one job. */
  def warm(spark: SparkSession): Unit
  /** Standing state (indexes, trained merges), built once per run. */
  def setup(spark: SparkSession): Unit
  /** Requests of cycle `c` (a fixed template mix, seeded parameters). */
  def cycle(c: Int): Seq[Request]
  /** Unmeasured requests run before the loop, so JIT compilation and lazy
    * initialization are done before timing; their outputs are checked too. */
  def warmup: Seq[Request]
  /** Setup-side facts for the results (merges, index build time, ...). */
  def facts: Map[String, Any] = Map.empty
  /** Drop every persisted index and cache. */
  def release(): Unit
}

/** Shared helpers for workload code. */
final class Ctx(val spark: SparkSession, val data: String) {
  /** A table of the generated input directory, as a traced `Tables` call. */
  def table(name: String): DataFrame =
    Trace("Tables", name)(if (name == "events") Tables.events(spark, data) else Tables.table(spark, data, name))
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON-friendly form of a collected Spark value. */
  def plain(v: Any): Any = v match {
    case r: Row => r.toSeq.map(plain)
    case s: scala.collection.Seq[_] => s.map(plain)
    case other => other
  }

  def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(plain)

  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
}

/** Closed-loop benchmark runner: one client thread against one local
  * session. Usage: `Main <plan.json>`; the plan names the workload, the
  * generated input directory, the run length and the results file. */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Json.mapper.readTree(new File(args(0)))
    val workload = plan.get("workload").asText
    val data = plan.get("data").asText
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asInt == 1
    val cpus = plan.get("cpus").asText

    // set-up: the session start a caller pays in a fresh JVM (class loading
    // and one-time initialization included) plus a warm-up job, then the
    // standing state
    Trace.on = trace
    val t0 = System.nanoTime()
    val spark = Trace("GraftSession", "local")(GraftSession.local(cpus, "graft-perfbench"))
    if (trace) Trace.attach(spark)
    val ctx = new Ctx(spark, data)
    val wl: Workload = workload match {
      case "relational_mix" => new Relational(ctx, plan)
      case "curation_batch" => new Curation(ctx, plan)
      case "vector_serve"   => new VectorServe(ctx, plan)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.warm(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val s0 = System.nanoTime()
    wl.setup(spark)
    val stateS = (System.nanoTime() - s0) / 1e9
    Trace.on = false

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    def execute(r: Request, c: Int): Unit = {
      val t0 = System.nanoTime()
      val (out, err) =
        try Trace("request", r.kind)((r.run(), null))
        catch { case e: Exception => (null, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      records += Map("kind" -> r.kind, "cycle" -> c, "traced" -> Trace.on,
        "seconds" -> dt, "meta" -> r.meta, "output" -> out, "error" -> err)
    }
    val w0 = System.nanoTime()
    wl.warmup.foreach(execute(_, -1))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // measured loop: whole cycles until the run length is reached. A traced
    // run alternates untraced and traced cycles, so the overhead compares
    // like with like.
    val cycleTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val loopStart = System.nanoTime()
    var c = 0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || (trace && (c < 2 || c % 2 == 1))) {
      Trace.on = trace && c % 2 == 1
      val c0 = System.nanoTime()
      wl.cycle(c).foreach(execute(_, c))
      cycleTimes += ((Trace.on, (System.nanoTime() - c0) / 1e9))
      c += 1
    }
    Trace.on = false
    val elapsed = (System.nanoTime() - loopStart) / 1e9
    val layers = if (trace) Trace.summary(spark) else Map.empty[String, Double]
    val ops = if (trace) Trace.byOp() else Map.empty[String, Map[String, Double]]
    val spans = if (trace) Trace.spanRecords() else Nil

    // retained heap after the workload released everything it owns
    val facts = wl.facts
    wl.release()
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "local_cpus" -> cpus,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "driver_heap_max_mb" -> rt.maxMemory / 1048576)
    spark.stop()

    val result = Map(
      "workload" -> workload, "session_s" -> sessionS, "state_s" -> stateS, "warmup_s" -> warmupS,
      "elapsed_s" -> elapsed,
      "cycles" -> c, "cycle_times" -> cycleTimes.map { case (t, s) => Map("traced" -> t, "seconds" -> s) },
      "records" -> records, "retained_heap_mb" -> heapMb, "layers" -> layers, "ops" -> ops,
      "spans" -> spans,
      "facts" -> facts, "env" -> env)
    Json.mapper.writeValue(new File(plan.get("out").asText), result)
  }
}
