package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.SparkTestBase

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def t(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def batchEvents = Seq(
    Ev(1, t(0), 1, "click", 1.0), Ev(2, t(10), 1, "click", 2.0),
    Ev(3, t(50), 1, "view", 3.0), // 40-min gap -> new session for user 1
    Ev(4, t(5), 2, "click", 4.0)
  ).toDF()

  test("sessionizeBatch: 30-min gap splits sessions; counts and bounds correct") {
    val out = Streams.sessionizeBatch(batchEvents, gapMinutes = 30)
      .orderBy("user_id", "session_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
    val s1 = out(0)
    assert(s1.getLong(3) == t(0).getTime * 1000 && s1.getLong(4) == t(10).getTime * 1000)
  }

  test("sessionWindowAgg: native session_window matches sessionizeBatch incl. the closed gap boundary") {
    val out = Streams.sessionWindowAgg(batchEvents, gapMinutes = 30)
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val us = (m: Int) => t(m).getTime * 1000
    assert(out.toSeq == Seq(
      (1L, us(0), us(10), 2L), (1L, us(50), us(50), 1L), (2L, us(5), us(5), 1L)))
    // boundary: an event EXACTLY gap later still JOINS (closed boundary —
    // matches sessionizeBatch's diff > gap rule); one tick past it splits
    val edge = Seq(Ev(1, t(0), 1, "a", 0.0), Ev(2, t(30), 1, "b", 0.0)).toDF()
    assert(Streams.sessionWindowAgg(edge, 30).count() == 1L)
    assert(Streams.sessionizeBatch(edge, 30).count() == 1L)
    val past = Seq(Ev(1, t(0), 1, "a", 0.0), Ev(2, t(30, 1), 1, "b", 0.0)).toDF()
    assert(Streams.sessionWindowAgg(past, 30).count() == 2L)
    assert(Streams.sessionizeBatch(past, 30).count() == 2L)
  }

  test("resampleDense: empty intervals appear as explicit zero rows, totals conserved") {
    val evs = Seq(
      Ev(1, t(0), 1, "click", 1.0), Ev(2, t(5), 1, "click", 2.0), // bucket 00:00
      Ev(3, t(45), 1, "view", 3.0)                                // bucket 00:40 (gap at 00:10..00:30)
    ).toDF()
    val out = Streams.resampleDense(evs, "ts", "value", everyMinutes = 10)
      .orderBy("bucket_us").collect()
    assert(out.length == 5) // 00:00 .. 00:40 inclusive, every bucket present
    val us0 = t(0).getTime * 1000
    assert(out.map(_.getLong(0)).toSeq ==
      (0 until 5).map(i => us0 + i * 600000000L).toSeq)
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 0L, 0L, 0L, 1L)) // gaps are ZERO rows
    assert(out.map(_.getLong(2)).sum == 600L)                      // cents conserved
  }

  test("tumblingAgg batch: hourly buckets with cents-quantized sums") {
    val out = Streams.tumblingAgg(batchEvents, "1 hour").collect()
    assert(out.length == 2) // click and view in hour 0
    val click = out.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 3L && click.getLong(3) == 700L)
  }

  test("streaming tumblingAgg with watermark: windows close and late data is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingAgg(mem.toDF(), "10 minutes", watermark = Some("5 minutes"))
      .writeStream.format("memory").queryName("tumbling_test").outputMode("append").start()
    try {
      mem.addData(Ev(1, t(1), 1, "click", 1.0), Ev(2, t(3), 1, "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      mem.addData(Ev(3, t(40), 1, "view", 1.0))
      q.processAllAvailable()
      // late event for the long-closed first window: must be dropped
      mem.addData(Ev(4, t(2), 1, "click", 99.0))
      q.processAllAvailable()
      mem.addData(Ev(5, t(59, 59), 1, "view", 1.0)) // push watermark past window 4
      q.processAllAvailable()
      val rows = spark.table("tumbling_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val w0 = t(0).getTime * 1000
      assert(rows.contains((w0, "click", 2L, 300L))) // late 99.0 NOT included
      assert(rows.exists(_._1 == w0 + 40L * 60 * 1000000)) // 00:40 window emitted
    } finally q.stop()
  }

  test("streaming sessionizeStream: flatMapGroupsWithState emits sessions on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionizeStream(mem.toDF(), gapMinutes = 30, watermark = "1 minute")
      .writeStream.format("memory").queryName("session_test").outputMode("append").start()
    try {
      mem.addData(Ev(1, t(0), 1, "click", 1.0), Ev(2, t(10), 1, "click", 1.0))
      q.processAllAvailable()
      // watermark jumps far ahead -> user 1's session times out and is emitted
      mem.addData(Ev(3, t(59), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(4, t(59, 30), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("session_test").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(rows.contains((1L, 2L))) // user 1: one session of 2 events
    } finally q.stop()
  }

  test("sessionPathsStream: closed sessions carry the first-k path; ties by id; equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionPathsStream(mem.toDF(), gapMinutes = 30,
        watermark = "1 minute", maxLen = 5)
      .writeStream.format("memory").queryName("spath_test").outputMode("append").start()
    try {
      // user 1: a tie at t0 (ids 1, 2 -> "a" before "b") then c at t10
      mem.addData(Ev(2, t(0), 1, "b", 1.0), Ev(1, t(0), 1, "a", 1.0),
        Ev(3, t(10), 1, "c", 1.0))
      q.processAllAvailable()
      // watermark jumps past t10 + 30min -> user 1's session times out
      mem.addData(Ev(4, t(59), 2, "x", 1.0))
      q.processAllAvailable()
      val rows = spark.table("spath_test").collect()
        .map(r => (r.getLong(0), r.getString(4), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, "a>b>c", 3L)))
      // the batch twin over the same closed-session rows agrees
      val batch = Seq(Ev(2, t(0), 1, "b", 1.0), Ev(1, t(0), 1, "a", 1.0),
          Ev(3, t(10), 1, "c", 1.0)).toDF()
        .withColumn("ts_us", unix_micros(col("ts")))
      val bp = graft.operators.Sequences.sessionTopPaths(batch, "user_id",
          "event_type", "ts_us", "event_id", gapUs = 30L * 60 * 1000000,
          maxLen = 5, topK = 10).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(bp.toSeq == Seq(("a>b>c", 1L)))
    } finally q.stop()
  }

  test("sessionPathsStream: maxLen caps the prefix; a gap inside one batch closes mid-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionPathsStream(mem.toDF(), gapMinutes = 10,
        watermark = "1 minute", maxLen = 2)
      .writeStream.format("memory").queryName("spath_cap_test").outputMode("append").start()
    try {
      // one batch: u1 has a 3-event session (capped to "a>b") CLOSED by a
      // 25-min gap to the 4th event -> the first session emits mid-batch
      mem.addData(Ev(1, t(0), 1, "a", 1.0), Ev(2, t(5), 1, "b", 1.0),
        Ev(3, t(10), 1, "c", 1.0), Ev(4, t(35), 1, "d", 1.0))
      q.processAllAvailable()
      val rows = spark.table("spath_cap_test").collect()
        .map(r => (r.getString(4), r.getLong(3)))
      assert(rows.toSeq == Seq(("a>b", 3L))) // capped path, true n_events
    } finally q.stop()
  }

  test("funnelStream: step completions across two batches aggregate to the batch funnelWithin") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    val withinUs = 15L * 60 * 1000000 // 15-minute deadline per step
    // u1 converts fully (purchase lands EXACTLY on the click+15min closed
    // boundary); u2's click misses the deadline by 5min; u3 never signs
    // up; u4 shows GREEDY-earliest (click is 16min from the first signup —
    // the 2min-later signup would have made it); u5's first purchase ties
    // its click's ts (strict-after fails), the second converts
    val evs = Seq(
      Ev(1, t(0), 1, "signup", 0), Ev(2, t(5), 1, "click", 0),
      Ev(3, t(20), 1, "purchase", 0),
      Ev(4, t(0), 2, "signup", 0), Ev(5, t(20), 2, "click", 0),
      Ev(6, t(0), 3, "click", 0),
      Ev(7, t(0), 4, "signup", 0), Ev(8, t(2), 4, "signup", 0),
      Ev(9, t(16), 4, "click", 0),
      Ev(10, t(0), 5, "signup", 0), Ev(11, t(1), 5, "click", 0),
      Ev(12, t(1), 5, "purchase", 0), Ev(13, t(10), 5, "purchase", 0))
    val (b1, b2) = evs.partition(_.ts.getTime <= t(5).getTime)
    val mem = MemoryStream[Ev]
    val q = Streams.funnelStream(mem.toDF(), steps, withinUs,
        watermark = "1 minute")
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      // aggregate the completion events exactly as the batch operator does
      val agg = spark.table("funnel_test")
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n_keys"),
          when(sum(col("delay_us")).isNotNull,
            round(sum(col("delay_us")).cast("double")
              / count(col("delay_us")).cast("double"))
              .cast("long")).as("mean_delay_us"))
        .orderBy("step").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      val batch = graft.operators.Sequences.funnelWithin(
          evs.toDF().withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "event_type", "ts_us", steps, withinUs)
        .filter(col("n_keys") > 0).collect()
        .map(r => (r.getLong(0), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      assert(agg.toSeq == batch.toSeq)
      // and the fixture exercises what it claims: 4 sign-ups, 2 clicks
      // (u1, u5), 2 purchases (u1 boundary hit, u5 second-event hit)
      assert(agg.map(x => x._1 -> x._2).toSeq ==
        Seq(1L -> 4L, 2L -> 2L, 3L -> 2L))
    } finally q.stop()
  }

  test("funnelStream expiry: identical inside the horizon; expired keys restart") {
    implicit val sqlCtx = spark.sqlContext
    def ht(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 0$h%01d:$min%02d:00")
    val steps = Seq("signup", "click")
    val withinUs = 15L * 60 * 1000000
    // phase 1 (inside any horizon): u1 converts across two batches —
    // with a wide expiry the output must equal the NoTimeout contract
    val mem = MemoryStream[Ev]
    val q = Streams.funnelStream(mem.toDF(), steps, withinUs,
        watermark = "1 minute", expiryUs = Some(10L * 60 * 1000000))
      .writeStream.format("memory").queryName("funnel_expiry")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, ht(0, 0), 1, "signup", 0)); q.processAllAvailable()
      mem.addData(Ev(2, ht(0, 5), 1, "click", 0)); q.processAllAvailable()
      val inside = spark.table("funnel_expiry")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("step"))).sorted
      assert(inside.toSeq == Seq((1L, 1L), (1L, 2L))) // the batch-twin chain
      // phase 2: advance the watermark far past u1's 10-minute expiry
      // (two dummy-key batches: the second PROCESSES under the first's
      // advanced watermark, firing u1's timeout and dropping its state)
      mem.addData(Ev(3, ht(1, 0), 99, "other", 0)); q.processAllAvailable()
      mem.addData(Ev(4, ht(1, 1), 99, "other", 0)); q.processAllAvailable()
      // phase 3: the tombstone is gone — a fresh signup RESTARTS u1's
      // funnel (the documented divergence that buys bounded state)
      mem.addData(Ev(5, ht(1, 2), 1, "signup", 0)); q.processAllAvailable()
      val afterRestart = spark.table("funnel_expiry")
        .filter(col("user_id") === 1L && col("step") === 1L).count()
      assert(afterRestart == 2L, "expired key must re-enter at step 1")
    } finally q.stop()
    intercept[IllegalArgumentException] {
      Streams.funnelStream(mem.toDF(), steps, withinUs, "1 minute", Some(0L))
    }
  }

  test("streaming parquet sink: windowed aggregates land in files with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingAgg(mem.toDF(), "10 minutes", watermark = Some("5 minutes"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t(1), 1, "click", 1.0), Ev(2, t(3), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, t(40), 1, "view", 1.0)) // advance watermark, close window 0
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      assert(out.filter(col("event_type") === "click").head().getLong(3) == 300L)
    } finally q.stop()
  }

  test("stream-static enrichment join attaches dimension columns per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    val q = Streams.enrich(mem.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      mem.addData(Ev(1, t(0), 1, "click", 1.0), Ev(2, t(1), 3, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => r.getAs[Long]("user_id") -> Option(r.getAs[String]("tier"))).toMap
      assert(rows == Map(1L -> Some("gold"), 3L -> None)) // unmatched keeps null
    } finally q.stop()
  }

  test("stream-stream join within time bound pairs events and drops out-of-window ones") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val q = Streams.streamJoinWithin(clicks.toDF(), buys.toDF(), "user_id",
        windowMinutes = 10, watermark = "1 minute")
      .writeStream.format("memory").queryName("ssjoin_test").outputMode("append").start()
    try {
      clicks.addData(Ev(1, t(0), 1, "click", 1.0))
      buys.addData(Ev(2, t(5), 1, "purchase", 5.0),  // within 10 min -> joins
        Ev(3, t(30), 1, "purchase", 9.0),            // outside window -> dropped
        Ev(4, t(6), 2, "purchase", 2.0))             // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2)))
      assert(rows.toSeq == Seq((1L, t(5))))
    } finally q.stop()
  }

  test("streamingDedup: duplicate keys within watermark removed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.streamingDedup(mem.toDF(), Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      mem.addData(Ev(1, t(0), 1, "click", 1.0), Ev(1, t(1), 1, "click", 1.0), Ev(2, t(2), 1, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("sampleByHash is streaming-safe: stream sample equals the batch sample") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // stateless pure-function filter -> valid in any streaming plan
    val q = graft.operators.Ops.sampleByHash(mem.toDF(), "event_id", 0.0, 0.5)
      .writeStream.format("memory").queryName("sample_test").outputMode("append").start()
    try {
      val evs = (1L to 40L).map(i => Ev(i, t(i.toInt % 30), 1, "click", 1.0))
      mem.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("sample_test").select("event_id")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.operators.Ops.sampleByHash(evs.toDF(), "event_id", 0.0, 0.5)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("dropNearDupsStream: ingest rows near-duplicating the static corpus are dropped") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles hash partitions across executors for the join stage")
    ).toDF("doc_id", "text")
    val index = Dedup.simhashBandIndex(
      Dedup.simhashTable(corpus, "doc_id", "text"))
    val novel = "completely unrelated cooking recipe with butter flour sugar eggs vanilla"
    // batch mode first: exact duplicate of corpus doc 1 dropped, novel kept
    val batchIn = Seq((10L, corpus.head().getString(1)), (11L, novel)).toDF("id", "text")
    val batchOut = Streams.dropNearDupsStream(batchIn, "text", index)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(batchOut == Set(11L))
    intercept[IllegalArgumentException] { // all internal names are guarded
      Streams.dropNearDupsStream(batchIn.withColumn("__cand_bv", lit(1)), "text", index)
    }
    // same operator on an unbounded stream: stateless, no watermark needed
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dropNearDupsStream(mem.toDF().toDF("id", "text"), "text", index)
      .writeStream.format("memory").queryName("ingest_dedup").outputMode("append").start()
    try {
      mem.addData((20L, corpus.collect()(1).getString(1)), (21L, novel))
      q.processAllAvailable()
      val out = spark.table("ingest_dedup").select("id").collect().map(_.getLong(0)).toSet
      assert(out == Set(21L))
    } finally q.stop()
  }

  // Tests named after a `…StreamBulk`/`…Stream` stage run that stage's batch
  // operator through `Streams.eachBatch`, the one micro-batch bridge.
  test("dropNearDupsStreamBulk: foreachBatch relational path equals the per-row path") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles hash partitions across executors for the join stage")
    ).toDF("doc_id", "text")
    val index = Dedup.simhashBandIndex(Dedup.simhashTable(corpus, "doc_id", "text"))
    val rows = Seq(
      (10L, corpus.head().getString(1)), // exact dup of corpus doc 1
      (11L, "completely unrelated cooking recipe with butter flour sugar eggs vanilla"),
      (12L, "spark shuffles hash partitions across executors for the join phase"))
    val batchIn = rows.toDF("id", "text")
    val perRow = Streams.dropNearDupsStream(batchIn, "text", index)
      .select("id").collect().map(_.getLong(0)).toSet
    val bulk = Streams.dropNearDupsBatch(batchIn, "id", "text", index)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(bulk == perRow)                                   // the equality contract
    assert(perRow.contains(11L) && !perRow.contains(10L))    // and it does real work
    // the same relational path through a REAL StreamingQuery via eachBatch
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "text")) { b =>
      got ++= Streams.dropNearDupsBatch(b, "id", "text", index)
        .select("id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      assert(got.toSet == perRow)
    } finally q.stop()
  }

  test("dropEmbeddingNearDupsStreamBulk: streamed vectors matching the corpus index are dropped") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val rows = Seq(
      (10L, Array(0.99f, 0.01f, 0.0f)), // near-dup of corpus vec 1
      (11L, Array(0.0f, 0.0f, 1.0f)))   // novel direction
    val batchIn = rows.toDF("vec_id", "embedding")
    val batchKept = Streams.dropEmbeddingNearDupsBatch(
        batchIn, "vec_id", "embedding", ix, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(11L)) // the near-dup is dropped, the novel row kept
    // the same relational path through a REAL StreamingQuery via eachBatch
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.eachBatch(mem.toDF().toDF("vec_id", "embedding")) { b =>
      got ++= Streams.dropEmbeddingNearDupsBatch(b, "vec_id", "embedding", ix,
          threshold = 0.9)
        .select("vec_id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      assert(got.toSet == batchKept)
    } finally { q.stop(); ix.release() }
  }

  test("dropEmbeddingNearDupsBatch: null ids and null vectors survive; every row of a matched id is dropped") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val batch = Seq[(java.lang.Long, Array[Float], String)](
      (10L, Array(0.99f, 0.01f, 0.0f), "dup"),
      (10L, Array(0.0f, 0.0f, 1.0f), "same id, novel vector"),
      (null, Array(0.99f, 0.01f, 0.0f), "null id, near-dup vector"),
      (11L, null, "null vector"),
      (12L, Array(0.0f, 0.0f, 1.0f), "novel")
    ).toDF("vec_id", "embedding", "tag")
    try {
      val kept = Streams.dropEmbeddingNearDupsBatch(batch, "vec_id", "embedding", ix, threshold = 0.9)
        .select("tag").collect().map(_.getString(0)).toSet
      assert(kept == Set("null id, near-dup vector", "null vector", "novel"))
    } finally ix.release()
  }

  test("assignEmbeddingsStreamBulk: streamed batches get stored-codebook assignments ≡ batch twin") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // two planted clusters (the DedupSimilaritySpec geometry) so the two
    // streamed vectors must land in two distinct stored cells
    val corpus = Seq.tabulate(10) { i =>
      val eps = 0.01f * i
      if (i % 2 == 0) (i.toLong, Array(1.0f, eps, 0.0f))
      else (i.toLong, Array(eps, 1.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val ix = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      nCells = 2, m = 3, kCents = 4, residual = true)
    val rows = Seq((100L, Array(1.0f, 0.0f, 0.0f)), (101L, Array(0.0f, 1.0f, 0.0f)))
    val batchOut = Similarity.assignToIvfPqIndex(
        rows.toDF("vec_id", "embedding"), ix, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // the same no-retrain assignment through a REAL StreamingQuery
    val got = scala.collection.mutable.Set[(Long, Long, Int, Long)]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.eachBatch(mem.toDF().toDF("vec_id", "embedding")) { b =>
      got ++= Similarity.assignToIvfPqIndex(b, ix, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    }.start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      assert(got.toSet == batchOut && batchOut.size == 6) // 2 vectors × 3 subs
      assert(got.map(_._2).toSet.size == 2) // one cell per cluster
    } finally { q.stop(); ix.release() }
  }

  test("bm25PostingsStreamBulk: streamed postings rows ≡ batch twin") {
    import graft.operators.Search
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "spark spark fast"), (2L, "rows and columns"))
    val batchOut = Search.bm25Postings(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = scala.collection.mutable.Set[(Long, String, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("doc_id", "text")) { b =>
      got ++= Search.bm25Postings(b, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    }.start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      assert(got.toSet == batchOut && batchOut((1L, "spark", 2L)))
    } finally q.stop()
  }

  test("bloomNoveltyStreamBulk: seen ids dropped for certain, stream ≡ batch twin") {
    import graft.operators.Joins
    implicit val sqlCtx = spark.sqlContext
    val seenIds = (1L to 50L).toDF("doc_id")
    val seen = Joins.bloomOfKeys(seenIds, "doc_id")
    val batch = (40L to 60L).map(i => (i, s"doc$i"))
    val batchOut = Joins.bloomAntiFilter(batch.toDF("doc_id", "text"), "doc_id", seen)
      .collect().map(_.getLong(0)).toSet
    // the certain half: every seen id is gone
    assert(batchOut.intersect((40L to 50L).toSet).isEmpty)
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("doc_id", "text")) { b =>
      got ++= Joins.bloomAntiFilter(b, "doc_id", seen).collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(got.toSet == batchOut)
    } finally q.stop()
  }

  test("centroidGateStreamBulk: in-domain rows pass, outliers/unknown-group/zero-norm drop; stream ≡ batch") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "a", Array(1.0, 0.0)), (2L, "a", Array(0.9, 0.1)),
      (3L, "b", Array(0.0, 1.0)), (4L, "b", Array(0.1, 0.9))).toDF("id", "grp", "vec")
    val cents = Similarity.groupCentroids(corpus, "vec", "grp").localCheckpoint(true)
    val batch = Seq(
      (10L, "a", Array(1.0, 0.05)),  // in-domain → keep
      (11L, "a", Array(-1.0, 0.0)),  // opposed → drop
      (12L, "z", Array(1.0, 0.0)),   // unknown group → fail closed
      (13L, "b", Array(0.0, 0.0)))   // zero-norm → −2e9, drop
    val kept = Streams.centroidGateBatch(batch.toDF("id", "grp", "vec"),
        "vec", "grp", cents, minCosNano = 500000000L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(10L))
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String, Array[Double])]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "grp", "vec")) { b =>
      got ++= Streams.centroidGateBatch(b, "vec", "grp", cents, 500000000L)
        .collect().map(_.getAs[Long]("id"))
    }.start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(got.toSet == kept)
    } finally q.stop()
  }

  test("conformalGateStreamBulk: boundary kept, over-qhat/small-n/unknown-group drop; stream ≡ batch") {
    import graft.operators.Stats
    implicit val sqlCtx = spark.sqlContext
    // calibration: group a has 9 scores 1..9 (alpha 10% -> qhat = 9.0);
    // group b has 2 scores (k = ceil(3*0.9) = 3 > 2 -> null -> refuses)
    val calib = ((1 to 9).map(i => ("a", i.toDouble, i.toLong))
      ++ Seq(("b", 1.0, 101L), ("b", 2.0, 102L))).toDF("grp", "score", "id")
    val th = Stats.conformalThreshold(calib, "grp", "score", "id", alphaPct = 10)
    val batch = Seq(
      (20L, "a", 9.0),   // score == qhat: the boundary row is KEPT
      (21L, "a", 9.01),  // above qhat -> abstain
      (22L, "a", 0.5),   // well under -> keep
      (23L, "b", 0.1),   // group refused at calibration -> fail closed
      (24L, "z", 0.1))   // unknown group -> fail closed
    val kept = Streams.conformalGateBatch(batch.toDF("id", "grp", "score"),
        "score", "grp", th)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(20L, 22L))
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String, Double)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "grp", "score")) { b =>
      got ++= Streams.conformalGateBatch(b, "score", "grp", th)
        .collect().map(_.getAs[Long]("id"))
    }.start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(got.toSet == kept)
    } finally q.stop()
  }

  test("fuzzyProbeStreamBulk: streamed batches match the standing dictionary ≡ batch twin") {
    import graft.operators.Joins
    implicit val sqlCtx = spark.sqlContext
    val dict = Seq((10L, "spark"), (11L, "spork"), (12L, "shark")).toDF("id", "s")
    val ix = Joins.fuzzyIndex(dict, "id", "s", maxDist = 1)
    val batch = Seq((1L, "spark"), (2L, "sparkk"), (3L, "zzz"))
    val batchOut = Joins.fuzzyProbe(ix, batch.toDF("id", "s"), "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchOut == Set((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)))
    val got = scala.collection.mutable.Set[(Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "s")) { b =>
      got ++= Joins.fuzzyProbe(ix, b, "id", "s")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(got.toSet == batchOut)
    } finally { q.stop(); ix.release() }
  }

  test("Pii redaction is streaming-safe: stateless projection runs unchanged on a stream") {
    import graft.functions.Pii
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "text")
      .select($"id", Pii.redact($"text").as("red"), Pii.emailCount($"text").as("n"))
      .writeStream.format("memory").queryName("pii_test").outputMode("append").start()
    try {
      mem.addData((1L, "mail a@b.org now"), (2L, "clean"))
      q.processAllAvailable()
      val out = spark.table("pii_test").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(out(1L) == (("mail <EMAIL> now", 1)) && out(2L) == (("clean", 0)))
    } finally q.stop()
  }

  test("curation-at-ingest: quality + repetition + PII gates in one stateless streaming plan") {
    import graft.functions.{Pii, Repetition, Text}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "text")
      .select($"id",
        Text.qualityScore($"text").as("quality"),
        Repetition.ngramSignalsPerRow($"text", 2).getField("dup_ngram_char_ppm").as("rep_ppm"),
        Pii.redact($"text").as("clean_text"))
      // BOTH gates live: repetition kills doc 2, quality kills doc 3
      .filter($"rep_ppm" < 800000 && $"quality" >= 0.25)
      .writeStream.format("memory").queryName("ingest_curation").outputMode("append").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog at a@b.org today"),
        (2L, "spam spam spam spam spam spam spam spam"), // dup ppm ~ 1e6 -> repetition-gated
        (3L, "!!! ??? *** !!!")) // distinct bigrams but zero alnum -> quality-gated
      q.processAllAvailable()
      val rows = spark.table("ingest_curation").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L))
      assert(rows.head.getAs[Double]("quality") >= 0.25)
      assert(rows.head.getAs[String]("clean_text").contains("<EMAIL>"))
    } finally q.stop()
  }

  test("approxDistinctPerWindow: streaming HLL windows equal the batch twin on small exact counts") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 distinct users in hour 0, 2 in hour 1 (small counts: HLL exact)
    val rows = Seq((0L, 1L), (5L, 2L), (10L, 3L), (20L, 1L), (70L, 4L), (80L, 5L), (90L, 4L))
      .map { case (minute, user) => (new java.sql.Timestamp(base + minute * 60000L), user) }
    val batch = rows.toDF("ts", "user_id")
    val expect = Streams.approxDistinctPerWindow(batch, "user_id", "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.map(_._2) == Set(3L, 2L))
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = Streams.approxDistinctPerWindow(
        mem.toDF().toDF("ts", "user_id"), "user_id", "1 hour",
        watermark = Some("2 hours"))
      .writeStream.format("memory").queryName("win_distinct").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("win_distinct").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("frequentKeysPerWindow: streaming sketch brackets the true per-window counts") {
    graft.expressions.GraftFunctions.register(spark)
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // hour 0: user 1 ×3, user 2 ×1; hour 1: user 4 ×2, user 5 ×1
    val rows = Seq((0L, 1L), (5L, 1L), (10L, 1L), (20L, 2L), (70L, 4L), (80L, 5L), (90L, 4L))
      .map { case (minute, user) => (new java.sql.Timestamp(base + minute * 60000L), user) }
    val exact = Map((0L, 1L) -> 3L, (0L, 2L) -> 1L, (1L, 4L) -> 2L, (1L, 5L) -> 1L)
    def check(out: Array[org.apache.spark.sql.Row]): Unit = {
      assert(out.length == 2)
      val byHour = out.map(r => (r.getLong(0) / 3600000000L % 24, r)).toMap
      exact.foreach { case ((hour, user), n) =>
        val b = spark.range(1).select(
          call_function("graft_freq_bounds",
            lit(byHour(hour).getAs[Array[Byte]](1)), lit(user))).head().getSeq[Long](0)
        assert(b(1) <= n && n <= b(2), s"hour $hour user $user: $b vs exact $n")
      }
    }
    check(Streams.frequentKeysPerWindow(rows.toDF("ts", "user_id"), "user_id", "1 hour")
      .collect())
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = Streams.frequentKeysPerWindow(mem.toDF().toDF("ts", "user_id"),
        "user_id", "1 hour", watermark = Some("2 hours"))
      .writeStream.format("memory").queryName("win_freq").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      check(spark.table("win_freq").collect())
    } finally q.stop()
  }

  test("surprisalGateStream: frozen-LM perplexity filter keeps in-domain docs, drops OOV noise") {
    import graft.operators.Lm
    implicit val sqlCtx = spark.sqlContext
    // corpus defines "in-domain": plain english-ish tokens
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the dog sleeps under the brown tree all day"))
      .toDF("doc_id", "text")
    val lm = Lm.unigramCounts(corpus, "text")
    // threshold: halfway between in-vocab and fully-OOV mean surprisal —
    // T=18, V=13 ⇒ ceiling ln(31); common tokens sit far below it
    val ceilMicro = math.round(math.log(31) * 1e6)
    val thr = ceilMicro - 300000L
    val batch = Seq(
      (10L, "the quick dog"),                  // all in-vocab: mean well under thr
      (11L, "zzz qqq xxx www yyy"))            // fully OOV: mean = ceiling > thr
      .toDF("id", "text")
    val kept = Streams.surprisalGateBatch(batch, "id", "text", lm, thr)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L))
    // the same gate through a REAL StreamingQuery via eachBatch
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "text")) { b =>
      got ++= Streams.surprisalGateBatch(b, "id", "text", lm, thr)
        .select("id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData((10L, "the quick dog"), (11L, "zzz qqq xxx www yyy"))
      q.processAllAvailable()
      assert(got.toSet == Set(10L))
    } finally q.stop()
    // reserved-name guard
    intercept[IllegalArgumentException](
      Streams.surprisalGateBatch(batch.withColumn("n_tok", lit(1)), "id", "text", lm, thr))
  }

  test("unigramBudgetStream: frozen-vocab piece budget keeps short docs, drops over-budget; stream ≡ batch") {
    import graft.operators.Unigram
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat and sat")).toDF("doc_id", "text")
    val vocab = Unigram.train(corpus, "text", maxWordLen = 8,
      maxPieceLen = 3, seedSize = 16, vocabSize = 12, emRounds = 1)
    val batch = Seq(
      (10L, "the cat"),                          // few pieces: kept
      (11L, "the cat sat on the mat the cats sat and sat on the mat"))
      .toDF("id", "text")
    val counts = Unigram.encodeCounts(batch, "id", "text", vocab)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val budget = counts(10L)                     // exactly doc 10's cost
    val kept = Streams.unigramBudgetBatch(batch, "id", "text", vocab, budget)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L) && counts(11L) > budget)
    // the surviving row carries its piece count
    assert(Streams.unigramBudgetBatch(batch, "id", "text", vocab, budget)
      .select("n_pieces").collect().head.getLong(0) == budget)
    // the same gate through a REAL StreamingQuery via eachBatch
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "text")) { b =>
      got ++= Streams.unigramBudgetBatch(b, "id", "text", vocab, budget)
        .select("id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData((10L, "the cat"),
        (11L, "the cat sat on the mat the cats sat and sat on the mat"))
      q.processAllAvailable()
      assert(got.toSet == Set(10L))
    } finally q.stop()
    // reserved-name guard
    intercept[IllegalArgumentException](
      Streams.unigramBudgetBatch(batch.withColumn("n_pieces", lit(1)),
        "id", "text", vocab, budget))
  }

  test("wordpieceBudgetStream: frozen-vocab MaxMatch budget; UNK words cost 1; stream ≡ batch") {
    import graft.operators.WordPiece
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val vocab = WordPiece.vocabPieces(corpus, "text",
      WordPiece.train(corpus, "text", numMerges = 3))
    val batch = Seq(
      (10L, "low"),                      // l ##o ##w = 3 pieces: kept
      (11L, "zzz zzz"),                  // both UNK = 2 pieces: kept (cheap)
      (12L, "lower lower newest lowest") // well over budget
    ).toDF("id", "text")
    val counts = WordPiece.encodeCounts(batch, "id", "text", vocab)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(counts(10L) == 3L && counts(11L) == 2L)
    val kept = Streams.wordpieceBudgetBatch(batch, "id", "text", vocab, 3L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L) && counts(12L) > 3L)
    // the same gate through a REAL StreamingQuery via eachBatch
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "text")) { b =>
      got ++= Streams.wordpieceBudgetBatch(b, "id", "text", vocab, 3L)
        .select("id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData((10L, "low"), (11L, "zzz zzz"),
        (12L, "lower lower newest lowest"))
      q.processAllAvailable()
      assert(got.toSet == Set(10L, 11L))
    } finally q.stop()
    intercept[IllegalArgumentException](
      Streams.wordpieceBudgetBatch(batch.withColumn("n_words", lit(1)),
        "id", "text", vocab, 3L))
  }

  test("anomalyScores: hand-computed trailing z; insufficient history and zero variance null") {
    // per-minute counts for one type: 3, 5, 4, 6, 12
    val counts = Seq(3, 5, 4, 6, 12)
    val rows = counts.zipWithIndex.flatMap { case (c, m) =>
      (0 until c).map(j => ("err", m.toLong * 60L + j))
    }
    val ev = rows.toDF("event_type", "sec")
      .select(col("event_type"), timestamp_seconds(col("sec")).as("ts"))
    val out = Streams.anomalyScores(ev, "event_type", "ts",
        windowMinutes = 1, baselineWindows = 3)
      .orderBy("bucket_us").collect()
    assert(out.map(_.getAs[Long]("n_events")).toSeq == Seq(3L, 5L, 4L, 6L, 12L))
    assert(out(0).isNullAt(4) && out(1).isNullAt(4)) // base_n 0 and 1: no test
    // m2: baseline (3,5) -> mean 4, var 2 -> z = 0
    assert(out(2).getAs[Long]("base_n") == 2L && out(2).getAs[Long]("z_micro") == 0L)
    // m3: baseline (3,5,4) -> mean 4, var 1 -> z = 2
    assert(out(3).getAs[Long]("z_micro") == 2000000L)
    // m4: baseline (5,4,6) -> mean 5, var 1 -> z = 7
    assert(out(4).getAs[Long]("z_micro") == 7000000L)
    // a constant-rate type yields zero variance -> null z, never a spike
    val const = (0 until 4).flatMap(m => (0 until 2).map(j => ("ok", m.toLong * 60L + j)))
      .toDF("event_type", "sec")
      .select(col("event_type"), timestamp_seconds(col("sec")).as("ts"))
    val zc = Streams.anomalyScores(const, "event_type", "ts", 1, 3)
      .orderBy("bucket_us").collect()
    assert(zc.drop(2).forall(_.isNullAt(4)))
  }

  test("upsertStreamBulk: micro-batches fold into the standing state ≡ sequential batch folds") {
    import graft.operators.Ops
    implicit val sqlCtx = spark.sqlContext
    val init = Seq((1L, 10L, "a", false), (2L, 10L, "b", false)).toDF("k", "ord", "v", "dead")
    val b1 = Seq((1L, 20L, "a2", false), (3L, 5L, "c", false))
    val b2 = Seq((2L, 30L, "gone", true), (4L, 40L, "d", false)) // tombstone k=2
    // batch replay of the same two folds
    val exp = Seq(b1, b2).foldLeft(init) { (st, b) =>
      Ops.upsert(st, b.toDF("k", "ord", "v", "dead"), Seq("k"), "ord", Some("dead"))
        .localCheckpoint(true)
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    var state = init
    val mem = MemoryStream[(Long, Long, String, Boolean)]
    val q = Streams.eachBatch(mem.toDF().toDF("k", "ord", "v", "dead")) { b =>
      state = Ops.upsert(state, b, Seq("k"), "ord", Some("dead")).localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = state.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == exp)
      assert(got == Set((1L, 20L, "a2"), (3L, 5L, "c"), (4L, 40L, "d"))) // k=2 deleted
    } finally q.stop()
  }

  test("countMinStreamBulk: streamed cell folds ≡ one-shot sketch over everything") {
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val (depth, width) = (4, 32)
    val b1 = (1 to 60).map(i => Tuple1((i % 7).toLong))
    val b2 = (1 to 40).map(i => Tuple1((i % 5).toLong))
    // standing state starts as an EMPTY cell table
    var state = Seq.empty[(Int, Long, Long)].toDF("r", "b", "c")
    val mem = MemoryStream[Tuple1[Long]]
    val q = Streams.eachBatch(mem.toDF().toDF("item")) { b =>
      state = Sketches.countMinMerge(Seq(state,
        Sketches.countMinBuild(b, "item", depth, width))).localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).map(t => Tuple1(t._1)).toDF("item")
      val oneShot = Sketches.countMinBuild(all, "item", depth, width)
      assert(rowSet(state) == rowSet(oneShot),
        "incremental cell folds must equal the from-scratch sketch")
      // the standing state answers probes with the one-sided bound intact
      val exact = all.groupBy("item").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val est = Sketches.countMinProbe(state, all, "item", depth, width)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(exact.forall { case (k, c) => est(k) >= c })
    } finally q.stop()
  }

  test("classifyGateStreamBulk: stored-model streaming classification ≡ batch; abstains below margin") {
    import graft.operators.Classify
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "spam", "buy pills now cheap pills"),
      (2L, "spam", "cheap deal pills"), (3L, "ham", "meeting notes review"),
      (4L, "ham", "project review meeting agenda")).toDF("id", "label", "text")
    val model = Classify.nbTrain(corpus, "label", "text")
    val batch = Seq((10L, "cheap pills deal now"), (11L, "review meeting"),
      (12L, "now")) // ambiguous short doc: low margin -> abstain at high tau
    val expect = Streams.classifyGateBatch(batch.toDF("id", "text"),
        "id", "text", model, minMarginMicro = 100000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var got: Map[Long, String] = Map.empty
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("id", "text")) { b =>
      got = Streams.classifyGateBatch(b, "id", "text", model, minMarginMicro = 100000L)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }.start()
    try {
      mem.addData(batch: _*); q.processAllAvailable()
      assert(got == expect && got.nonEmpty)
      assert(got.get(10L).contains("spam") && got.get(11L).contains("ham"))
    } finally q.stop()
    // an absurd threshold abstains on everything
    assert(Streams.classifyGateBatch(batch.toDF("id", "text"), "id", "text",
      model, minMarginMicro = Long.MaxValue).count() == 0L)
  }

  test("transitionsStreamBulk: micro-batch folds reproduce the one-shot matrix") {
    import graft.operators.Sequences
    implicit val sqlCtx = spark.sqlContext
    val hist = Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (2L, "b", 5L, 3L))
      .toDF("u", "st", "t", "id")
    val b1 = Seq((1L, "a", 30L, 4L), (2L, "b", 35L, 5L))
    val b2 = Seq((1L, "c", 40L, 6L), (3L, "c", 50L, 7L))
    var state = Sequences.transitionState(hist, "u", "st", "t", "id") match {
      case (c, l) => (c.localCheckpoint(true), l.localCheckpoint(true))
    }
    val mem = MemoryStream[(Long, String, Long, Long)]
    val q = Streams.eachBatch(mem.toDF().toDF("u", "st", "t", "id")) { b =>
      val (c, l) = state
      val (c1, l1) = Sequences.ingestTransitions(c, l, b, "u", "st", "t", "id")
      state = (c1.localCheckpoint(true), l1.localCheckpoint(true))
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = hist.unionByName(b1.toDF("u", "st", "t", "id"))
        .unionByName(b2.toDF("u", "st", "t", "id"))
      val exp = Sequences.transitionCounts(all, "u", "st", "t", "id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val got = state._1.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == exp)
    } finally q.stop()
  }

  test("periodIngestStreamBulk: order-free idempotent folds answer the full-history retention") {
    import graft.operators.Sequences
    implicit val sqlCtx = spark.sqlContext
    // period = 10µs; batch 2 REPLAYS one of batch 1's rows (id 2) and
    // arrives out of time order (t=5 after t=31) — the set-union fold
    // must shrug at both, unlike the ordered prefix/recent stores
    val b1 = Seq((1L, 0L), (1L, 12L), (2L, 5L), (1L, 31L))
    val b2 = Seq((1L, 12L), (3L, 25L), (2L, 5L), (1L, 15L))
    var state = Seq.empty[(Long, Long)].toDF("key", "period")
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.eachBatch(mem.toDF().toDF("u", "t")) { b =>
      state = Sequences.ingestPeriods(state, b, "u", "t", periodUs = 10L)
        .localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // the store holds exactly the distinct (key, period) pairs
      assert(state.count() ==
        (b1 ++ b2).map { case (u, t) => (u, t / 10) }.distinct.size.toLong)
      val got = Sequences.retentionFromState(state)
        .orderBy("cohort", "offset").collect().map(_.toSeq).toSeq
      val full = Sequences.retentionCohorts((b1 ++ b2).toDF("u", "t"),
          "u", "t", 10L)
        .orderBy("cohort", "offset").collect().map(_.toSeq).toSeq
      assert(got == full)
    } finally q.stop()
  }

  test("gamesIngestStreamBulk: additive pair folds answer the full-history Bradley-Terry") {
    import graft.operators.Stats
    implicit val sqlCtx = spark.sqlContext
    // two micro-batches of games over 3 items; batch 2 adds a NEW pair
    // (B, C) and more games on the (A, B) pair already in the store —
    // both must merge into one pair row each (additive counts)
    val b1 = Seq(("A", "B"), ("A", "B"), ("B", "A"), ("A", "C"))
    val b2 = Seq(("B", "C"), ("C", "B"), ("A", "B"), ("B", "C"))
    var state = Seq.empty[(String, String, Long, Long)]
      .toDF("item_i", "item_j", "n_ij", "wins_i")
    val mem = MemoryStream[(String, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("w", "l")) { b =>
      state = Stats.ingestGames(state, b, "w", "l").localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // the store is pair-bounded: 3 pair rows, never 8 game rows
      assert(state.count() == 3L)
      val ab = state.filter(col("item_i") === "A" && col("item_j") === "B")
        .head()
      assert(ab.getAs[Long]("n_ij") == 4L && ab.getAs[Long]("wins_i") == 3L)
      // readout over the store ≡ BT over the full game history
      val got = Stats.bradleyTerryFromPairs(state, rounds = 6)
        .orderBy("item").collect().map(_.toSeq).toSeq
      val full = Stats.bradleyTerry((b1 ++ b2).toDF("w", "l"), "w", "l",
          rounds = 6)
        .orderBy("item").collect().map(_.toSeq).toSeq
      assert(got == full)
    } finally q.stop()
  }

  test("calibrationIngestStreamBulk: additive bin folds answer the full-history reliability bins") {
    import graft.operators.Stats
    implicit val sqlCtx = spark.sqlContext
    // two micro-batches of (score, label) rows; batch 2 adds rows to a
    // bin already in the store AND a new bin — additive long sums merge
    val b1 = Seq((0.25, true), (0.25, false), (0.95, true), (0.45, true))
    val b2 = Seq((0.25, false), (1.0, true), (0.45, false))
    var state = Seq.empty[(Long, Long, Long, Long)]
      .toDF("bin", "n", "n_pos", "sp_micro")
    val mem = MemoryStream[(Double, Boolean)]
    val q = Streams.eachBatch(mem.toDF().toDF("p", "y")) { b =>
      state = Stats.ingestCalibration(state, b, "p", "y", nBins = 10)
        .localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // the store is bin-bounded: 3 populated bins, never 7 row rows
      assert(state.count() == 3L)
      // readout over the store ≡ bins over the full row history
      val got = Stats.reliabilityBinsFromState(state)
        .orderBy("bin").collect().map(_.toSeq).toSeq
      val full = Stats.reliabilityBins((b1 ++ b2).toDF("p", "y"), "p", "y")
        .orderBy("bin").collect().map(_.toSeq).toSeq
      assert(got == full)
    } finally q.stop()
  }

  test("funnelStream expiry: non-advancing events do not extend the tombstone horizon") {
    implicit val sqlCtx = spark.sqlContext
    def mt(min: Int, sec: Int = 0) =
      Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")
    val steps = Seq("signup", "click")
    // 15-min within, 10-min expiry: u1's signup at 0:00 sets the horizon
    // at 0:10; every later u1 event is NOISE (no funnel advance), so the
    // deadline must NOT move (the ADVICE r14 re-arm-on-touch bug would
    // push it to watermark+1 on every touching batch)
    val mem = MemoryStream[Ev]
    val q = Streams.funnelStream(mem.toDF(), steps, 15L * 60 * 1000000,
        watermark = "1 minute", expiryUs = Some(10L * 60 * 1000000))
      .writeStream.format("memory").queryName("funnel_noise_expiry")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, mt(0), 1, "signup", 0)); q.processAllAvailable()
      // advance the watermark to 0:19 with another key
      mem.addData(Ev(2, mt(20), 99, "other", 0)); q.processAllAvailable()
      // u1 noise processed UNDER watermark 0:19 (> the 0:10 horizon):
      // state unchanged → no re-arm; the old code would have pushed the
      // deadline to 0:19:00.001 here and kept the tombstone alive
      mem.addData(Ev(3, mt(19, 30), 1, "other", 0)); q.processAllAvailable()
      // a u1-quiet batch (watermark still 0:19, past the 0:10 horizon)
      // fires the standing timeout and drops u1's state
      mem.addData(Ev(4, mt(19, 45), 99, "other", 0)); q.processAllAvailable()
      // the tombstone is gone: a fresh signup RESTARTS u1's funnel
      mem.addData(Ev(5, mt(19, 50), 1, "signup", 0)); q.processAllAvailable()
      val restarts = spark.table("funnel_noise_expiry")
        .filter(col("user_id") === 1L && col("step") === 1L).count()
      assert(restarts == 2L,
        "noise events must not extend the expiry horizon")
    } finally q.stop()
  }

  test("recentIngestStreamBulk: bounded last-L folds answer the exact full-history EWMA") {
    import graft.operators.Sequences
    implicit val sqlCtx = spark.sqlContext
    // key 1 gets 6 events across two time-ordered micro-batches; L = 4
    val b1 = Seq((1L, 10L, 1L, 1.0), (1L, 20L, 2L, 2.0), (2L, 10L, 3L, 7.0))
    val b2 = Seq((1L, 30L, 4L, 4.0), (1L, 40L, 5L, 8.0), (1L, 50L, 6L, 16.0))
    var state = Seq.empty[(Long, Long, Long, Double)].toDF("u", "t", "id", "v")
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = Streams.eachBatch(mem.toDF().toDF("u", "t", "id", "v")) { b =>
      state = Sequences.ingestRecent(state, b, "u", "t", "v", "id", lookback = 4)
        .localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // store is bounded: key 1 holds exactly L = 4 rows (events 3..6)
      val perKey = state.groupBy("u").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perKey == Map(1L -> 4L, 2L -> 1L))
      // readout over the store ≡ EWMA over the full history
      val all = (b1 ++ b2).toDF("u", "t", "id", "v")
      val exp = Sequences.ewmaHalfLife(all, "u", "t", "v", "id", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Sequences.ewmaHalfLife(state, "u", "t", "v", "id", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exp)
      // hand value: key 1 last 4 = (16,8,4,2) newest-first, weights
      // 8/15,4/15,2/15,1/15 -> (16*8+8*4+4*2+2)/15 = 170/15
      assert(got.exists { case (k, m, e) =>
        k == 1L && m == 4L && e == math.round(170.0 / 15 * 1e6) })
    } finally q.stop()
  }

  test("prefixIngestStreamBulk: first-k folds equal the full-history prefix and path readout") {
    import graft.operators.Sequences
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (2L, 15L, 3L, "a"))
    val b2 = Seq((1L, 30L, 4L, "c"), (1L, 40L, 5L, "d"), (3L, 50L, 6L, "q"))
    var state = Seq.empty[(Long, String, Long, Long)].toDF("u", "s", "t", "id")
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("u", "t", "id", "s")) { b =>
      state = Sequences.ingestPrefix(state, b, "u", "s", "t", "id", maxLen = 3)
        .localCheckpoint(true)
    }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val all = (b1 ++ b2).toDF("u", "t", "id", "s")
      def set(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(set(state) == set(Sequences.prefixState(all, "u", "s", "t", "id", 3)))
      val paths = Sequences.topPaths(state, "u", "s", "t", "id", 3, 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(paths == Set(("a>b>c", 1L), ("a", 1L), ("q", 1L)))
    } finally q.stop()
  }

  test("eachBatch: a fold whose step throws stops the query; store is skipped and the state stays at batch 1") {
    import graft.operators.Ops
    implicit val sqlCtx = spark.sqlContext
    var state = Seq((1L, 10L, "a")).toDF("k", "ord", "v")
    var stores = 0
    val boom = new IllegalStateException("step failed on micro-batch 2")
    var steps = 0
    def load(): DataFrame = state
    def step(st: DataFrame, b: DataFrame): DataFrame = {
      steps += 1
      if (steps == 2) throw boom
      Ops.upsert(st, b, Seq("k"), "ord")
    }
    def store(out: DataFrame): Unit = { stores += 1; state = out.localCheckpoint(true) }
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.eachBatch(mem.toDF().toDF("k", "ord", "v"))(b => store(step(load(), b)))
      .start()
    try {
      mem.addData((1L, 20L, "a2"), (2L, 5L, "b")); q.processAllAvailable()
      val afterFirst = rowSet(state)
      assert(afterFirst == Set(Seq(1L, 20L, "a2"), Seq(2L, 5L, "b")) && stores == 1)
      mem.addData((3L, 1L, "c"))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(exceptionChain(e).contains(boom), e.getMessage)
      assert(steps == 2 && stores == 1, "store must not run for the failed batch")
      assert(rowSet(state) == afterFirst)
      assert(!q.isActive)
    } finally q.stop()
  }

  test("eachBatch over dropEmbeddingNearDupsBatch leaves no pinned RDD once the query stops") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val start = pinned
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val got = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.eachBatch(mem.toDF().toDF("vec_id", "embedding")) { b =>
      got ++= Streams.dropEmbeddingNearDupsBatch(b, "vec_id", "embedding", ix, threshold = 0.9)
        .select("vec_id").collect().map(_.getLong(0))
    }.start()
    try {
      mem.addData((10L, Array(0.99f, 0.01f, 0.0f)), (11L, Array(0.0f, 0.0f, 1.0f)))
      q.processAllAvailable()
      mem.addData((12L, Array(0.0f, 0.98f, 0.02f)), (13L, Array(0.0f, -1.0f, 0.0f)))
      q.processAllAvailable()
      assert(got.toSet == Set(11L, 13L))
    } finally { q.stop(); ix.release() }
    assert((pinned -- start).isEmpty, s"left pinned: ${pinned -- start}")
  }
}
