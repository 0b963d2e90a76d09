package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.operators.{Audit, Baskets, Bpe, Classify, Dedup, Dsir, Graph, Grouping, Intervals, Joins, Layout, Lm, Ops, Pack, Profile, Search, Sequences, Similarity, Sketches, Stats}
import graft.functions.{Jsons, Multimodal, Pii, Quality, Repetition, Text}
import graft.streaming.Streams

/** [[SparkEntry]] registry slice — relational core: the reference's own workload, filters, dedup, grouping, joins, sorts, set ops, windows, sources, JSON, cleaning.
  * Pure move from SparkEntry.scala (r10 registry split): every entry kept
  * verbatim next to its DuckDB oracle twin. First ids: q00_compare_pipeline, q01_filters, q02_filters_notin, q07_groupby_agg, q08_groupby_count, q09_group_iter, … */
private[graft] object QueriesRelational extends OracleSqlHelpers {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- the reference's own benchmark workload (compare.py:25-34) -------
    // join -> drop_duplicates -> groupby mean, on real tables.
    "q00_compare_pipeline" -> ((s, d) => {
      val o = Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
      val l = Tables.lineitem(s, d)
      val joined = Joins.join(l, o, Seq("l_orderkey"), "inner", broadcastRight = true)
      val deduped = Ops.dropDuplicates(joined, Seq("l_orderkey"), "first",
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      Grouping.groupby(deduped, Seq("o_custkey")).agg(Seq("l_quantity" -> "mean"))
        .orderBy("o_custkey")
    }),
    // ----- O1/O2: tuple-predicate filters ---------------------------------
    "q01_filters" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      Ops.filters(l, Seq(
          ("l_returnflag", "=", "R"),
          ("l_quantity", "<", 10.0),
          ("l_linestatus", "in", Seq("F"))))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q02_filters_notin" -> ((s, d) => {
      val o = Tables.orders(s, d)
      Ops.filters(o, Seq(
          ("o_orderstatus", "not in", Seq("F", "P")),
          ("o_totalprice", ">", 100000.0),
          ("o_orderpriority", "!=", "1-URGENT")))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // ----- O5-O9: groupby + aggs ------------------------------------------
    "q07_groupby_agg" -> ((s, d) => {
      Grouping.groupby(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"))
        .agg(Seq(
          "l_quantity" -> "sum", "l_quantity" -> "mean", "l_quantity" -> "median",
          "l_extendedprice" -> "min", "l_extendedprice" -> "max"))
        .transform(Ops.sortSmallT(col("l_returnflag"), col("l_linestatus")))
    }),
    "q08_groupby_count" -> ((s, d) => {
      Grouping.groupby(Tables.orders(s, d), Seq("o_orderpriority"))
        .aggExprs(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .transform(Ops.sortSmallT(col("o_orderpriority")))
    }),
    "q09_group_iter" -> ((s, d) => {
      import s.implicits._
      Grouping.groupby(Tables.lineitem(s, d).select("l_returnflag", "l_quantity"), Seq("l_returnflag"))
        .iterate { (keys, rows) =>
          var n = 0L; var sq = 0.0
          rows.foreach { r => n += 1; sq += r.getDouble(1) }
          Iterator.single(FlagStat(keys.getString(0), n, sq))
        }
        .toDF().transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // ----- O10-O15: joins --------------------------------------------------
    "q10_join_inner" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey")
      Joins.join(o, c, Seq("o_custkey"), "inner", broadcastRight = true)
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    }),
    "q11_join_multi" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val agg = Grouping.groupby(l, Seq("l_partkey", "l_suppkey"))
        .aggExprs(count(lit(1)).as("n_uses"))
      Joins.join(l, agg, Seq("l_partkey", "l_suppkey"))
        .filter(col("n_uses") >= 3)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "n_uses")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q12_join_left" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "custkey")
      val oAgg = Grouping.groupby(
          Tables.orders(s, d).withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
        .aggExprs(count(lit(1)).as("n_orders"))
      Joins.join(c, oAgg, Seq("custkey"), "left")
        .select("custkey", "c_name", "n_orders")
        .orderBy("custkey")
    }),
    "q13_join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "custkey")
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      Joins.join(c, urgent, Seq("custkey"), "semi")
        .select("custkey", "c_name").orderBy("custkey")
    }),
    "q14_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "custkey")
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      Joins.join(c, urgent, Seq("custkey"), "anti")
        .select("custkey", "c_name").orderBy("custkey")
    }),
    // ----- sorts / limits / set ops ---------------------------------------
    "q15_topk" -> ((s, d) => {
      Ops.topK(Tables.orders(s, d), 10, Seq(col("o_totalprice").desc, col("o_orderkey")))
        .select("o_orderkey", "o_totalprice")
    }),
    "q16_setops" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val poor = c.filter(col("c_acctbal") < 0).select("c_custkey")
      val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      rich.intersect(building).union(poor.except(auto)).orderBy("c_custkey")
    }),
    // ----- window functions ------------------------------------------------
    "q17_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("run_cnt", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("o_custkey", "o_orderkey", "rn", "prev_price", "run_cnt")
        .orderBy("o_custkey", "rn")
    }),
    // ----- grouping sets ----------------------------------------------------
    "q18_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .transform(Ops.sortSmallT(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))
    }),
    "q19_cube" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .transform(Ops.sortSmallT(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first))
    }),
    // ----- O21: JSON string → columns --------------------------------------
    "q20_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), Jsons.extract(col("props"), "$.k", LongType).as("k"))
        .orderBy("event_id")
    }),
    "q21_json_expand" -> ((s, d) => {
      val e = Tables.events(s, d).select("event_id", "props")
      Jsons.strToTable(s, e, "props")
        .select(col("event_id"), col("k").cast(LongType).as("k"))
        .orderBy("event_id")
    }),
    // ----- headline agg ----------------------------------------------------
    "q22_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < to_timestamp(lit("1999-01-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast(LongType))
            .as("revenue_cents"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .transform(Ops.sortSmallT(col("l_returnflag"), col("l_linestatus")))
    }),
    // Unicode NFC normalization ✚ (codegen'd native expression): a decomposed
    // combining-accent prefix is planted on every document so the oracle
    // exercises real composition (the synthetic corpus is ASCII, where NFC
    // is the quick-checked identity fast path)
    "q80_unicode_nfc" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("Cafe\u0301 doc "), col("doc_id").cast("string"), lit(" "),
            substring(col("text"), 1, 40)).as("raw"))
        .select(col("doc_id"), col("raw"),
          Text.normalizeUnicode(col("raw"), "NFC").as("nfc"))
        .select(col("doc_id"),
          length(col("raw")).cast(LongType).as("len_raw"),
          length(col("nfc")).cast(LongType).as("len_nfc"),
          md5(col("nfc")).as("nfc_md5"))
        .orderBy("doc_id")
    }),
    // full Gopher rule battery ✚ (Rae et al. 2021 table A1): per-rule
    // booleans so a curation job can audit WHY documents drop; word-count
    // gate splits this corpus (10-99 words vs the >=50 threshold)
    "q81_gopher_rules" -> ((s, d) => {
      // the rule battery is a heavy narrow projection over a single-split
      // scan: spread it first (no-op at scale; rows unchanged)
      graft.operators.Par.spread(Tables.documents(s, d))
        .select(col("doc_id"), Quality.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.ok_word_count"),
          col("g.ok_mean_word_len"), col("g.ok_symbol_ratio"),
          col("g.ok_bullet_lines"), col("g.ok_ellipsis_lines"),
          col("g.ok_alpha_words"), col("g.ok_stopwords"), col("g.pass"))
        .orderBy("doc_id")
    }),
    // heavy hitters ✚ (q64/q110's third sketch family): per-shard frequency
    // sketches of the hashed token stream, merged globally; the exact
    // top-20 (q26's query, hash-compared) probes the merged sketch and
    // asserts the sketch's DETERMINISTIC lower ≤ exact ≤ upper guarantee
    // (estimates are merge-tree-specific and never hash-compared)
    "q112_heavy_hitters" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      val toks = Tables.documents(s, d)
        .select(explode(Text.tokens(Text.normalize(col("text")))).as("token"))
      val hashed = toks.withColumn("h", xxhash64(col("token")))
      val sk = Sketches.frequencySketch(
        Ops.shardByHash(hashed, "token", 8), Seq("shard"), "h")
      val merged = Sketches.mergeFrequency(sk, Nil)
      val top = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
      top.crossJoin(broadcast(merged))
        .withColumn("b",
          call_function("graft_freq_bounds", col("fsketch"), xxhash64(col("token"))))
        .select(col("token"), col("n"),
          (element_at(col("b"), 2) <= col("n") &&
            col("n") <= element_at(col("b"), 3)).as("ok_bounds"))
        .transform(Ops.sortSmallT(col("n").desc, col("token")))
    }),
    // incremental SEMANTIC components ✚ (q109's vector twin, closing the
    // standing-vector-store loop q115 opened): yesterday's corpus labels
    // are computed first; today's batch folds in via labels-as-edges +
    // (delta↔corpus pairs through the corpus EmbeddingIndex ∪ the delta's
    // own internal pairs) — corpus history never re-contracted, the corpus
    // never re-bucketed. Oracle = recursive closure over the same three
    // pair sets, so the gate asserts incremental ≡ full over these edges.
    "q117_semantic_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val sharded = Ops.shardByHash(e, "vec_id", 5)
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      val ixC = Dedup.embeddingIndex(corpus, "vec_id", "embedding", threshold = 0.3)
      val ixD = Dedup.embeddingIndex(delta, "vec_id", "embedding", threshold = 0.3)
      val prior = Dedup.connectedComponents(
        Dedup.embeddingNearDupPairsIndexed(ixC, threshold = 0.3), corpus, "vec_id")
      val deltaEdges = Dedup.embeddingNearDupPairsBetween(delta, ixC,
          "vec_id", "embedding", threshold = 0.3)
        .select("id_a", "id_b")
        .unionByName(Dedup.embeddingNearDupPairsIndexed(ixD, threshold = 0.3)
          .select("id_a", "id_b"))
      val out = Dedup.connectedComponentsIncremental(prior, deltaEdges, e, "vec_id")
        .filter(col("id") =!= col("component")) // only vecs folded into a group
        .orderBy("id")
      ixC.release(); ixD.release()
      out
    }),
    // bloom-pruned fact⋈dim join ✚: the urgent-orders keys build a
    // ~4 KB bloom tested on the lineitem scan BEFORE the join's exchange
    // (the 100-TB shuffle-prune shape; Spark's runtime-filter injection
    // in library form, caller-controlled). No false negatives, so the
    // result — and the oracle — is EXACTLY the plain join
    "q129_bloom_join" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_returnflag"))
      val small = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      Joins.bloomPrunedJoin(big, small, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast(LongType)).as("revenue_cents"))
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // PMI collocations ✚ (Church & Hanks 1990): top-20 adjacent pairs
    // co-occurring above independence, min support 5 — micro-nat integer
    // PMI, the tokenizer-pipeline's merge-candidate audit
    "q135_pmi_collocations" -> ((s, d) => {
      Lm.pmiCollocations(Tables.documents(s, d), "text", minCount = 5)
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2")).limit(20)
    }),
    // per-doc character-level Shannon entropy ✚ (r9): the compressibility
    // quality signal — micro-nat total + char count (mean = total/n, no
    // division baked in), one rounded ln per scalar, exact long sums
    "q140_char_entropy" -> ((s, d) => {
      graft.functions.Repetition.charEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // exact per-group OLS regression ✚ (r9): price-per-quantity trend line
    // from fixed-order plain sums (cents are integral -> exact sums ->
    // engine-identical doubles), where built-in regr_slope/regr_intercept
    // are partition-order dependent; q76's pattern extended to the fit line
    "q143_linreg_exact" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      Grouping.groupby(l, Seq("l_returnflag"))
        .linregExact("l_quantity", "cents", "slope_cents", "intercept_cents")
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // mergeable aggregate state ✚ (r9): the materialized-view maintenance
    // shape — 4 hash-shards each build a small per-source state (count/sum/
    // min/max), the states FOLD, and the fold ≡ a full-scan rebuild because
    // every component is associative-commutative; the oracle is the plain
    // GROUP BY the fold must reproduce bit-for-bit (exact long sums)
    "q144_agg_state_fold" -> ((s, d) => {
      val sharded = Ops.shardByHash(Tables.documents(s, d), "doc_id", 4)
      val states = (0L until 4L).map { i =>
        Grouping.aggState(sharded.filter(col("shard") === i).drop("shard"),
          Seq("source"), Seq("n_chars"))
      }
      Grouping.finalizeAggState(
          Grouping.mergeAggStates(Seq("source"), states: _*))
        .transform(Ops.sortSmallT(col("source")))
    }),
    // column mutual information ✚ (r9): does `lang` carry information about
    // `source`? — MI over the joint distribution, each cell's term
    // quantized to micro-nats before the exact long sum (q94's contract)
    "q147_mutual_info" -> ((s, d) => {
      Lm.mutualInfo(Tables.documents(s, d), "lang", "source")
    }),
    // chi-squared independence ✚ (r9): lang × source over the contingency
    // grid INCLUDING structural zeros (marginal cross product, cell-sized);
    // per-cell terms micro-quantized before the exact long sum
    "q151_chi_squared" -> ((s, d) => {
      Stats.chiSquared(Tables.documents(s, d), "lang", "source")
    }),
    // trailing-baseline anomaly z ✚ (r9): 6-hour event-type volumes scored
    // against their previous 8 windows — exact counts, one fixed z tree,
    // insufficient-history windows null (not "anomalous")
    "q152_anomaly_z" -> ((s, d) => {
      Streams.anomalyScores(Tables.events(s, d), "event_type", "ts",
          windowMinutes = 360, baselineWindows = 8)
        .orderBy("event_type", "bucket_us")
    }),
    // interval union / coverage ✚ (r9): 30-minute activity spans per user
    // merged overlap-once — exact long sweep, one shuffle, per-key windows
    "q156_interval_coverage" -> ((s, d) => {
      val iv = Tables.events(s, d)
        .withColumn("lo", unix_micros(col("ts")))
        .withColumn("hi", col("lo") + lit(1800000000L))
      Intervals.coverage(iv, "user_id", "lo", "hi")
        .orderBy(col("user_id"))
    }),
    // Markov transitions ✚ (r9): behavioral event-type bigram matrix —
    // key-partitioned lead, exact counts, micro-quantized row-normalized p
    "q158_transitions" -> ((s, d) => {
      Sequences.transitionCounts(Tables.events(s, d), "user_id", "event_type",
          "ts", "event_id")
        .transform(Ops.sortSmallT(col("from_state"), col("to_state")))
    }),
    // time-weighted mean ✚ (r9): per-user TWAP of event value — each value
    // holds until the next event; exact cent×micro products in Decimal(38,0)
    "q161_twap" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .withColumn("ts_us", unix_micros(col("ts")))
      Sequences.timeWeightedMean(ev, "user_id", "ts_us", "cents", "event_id")
        .orderBy(col("user_id"))
    }),
    // half-life EWMA ✚ (r11): per-user recent-activity level over the 16
    // newest events — exact dyadic α=½ weights renormalized to 1, one
    // key-partitioned window + one agg, single shared final division
    "q213_ewma" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.ewmaHalfLife(ev, "user_id", "ts_us", "value", "event_id",
          lookback = 16)
        .orderBy(col("user_id"))
    }),
    // session path mining ✚ (r11): each user's first-5 event-type path,
    // ranked by walkers — per-key prefix window, bounded collect, one
    // path-domain count
    "q214_top_paths" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.topPaths(ev, "user_id", "event_type", "ts_us", "event_id",
        maxLen = 5, topK = 25)
    }),
    // session-scoped paths ✚ (r12, VERDICT r11 missing #2): q214's path
    // mining per SESSION (30-min gap rule) instead of per lifetime —
    // one exchange, session boundaries + prefix rank ride the same
    // user_id partitioning
    "q224_session_paths" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.sessionTopPaths(ev, "user_id", "event_type", "ts_us",
        "event_id", gapUs = 30L * 60L * 1000000L, maxLen = 5, topK = 25)
    }),
    // MoM/YoY growth ✚ (r11): monthly revenue with 1- and 12-period
    // growth — exact cent sums, one period-grain hash-agg, the
    // calendar-bounded window
    "q222_period_growth" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      Sequences.periodGrowth(o, "month", "cents", lagShort = 1, lagLong = 12)
        .transform(Ops.sortSmallT(col("month")))
    }),
    // calendar-exact growth ✚ (r12, VERDICT r11 missing #3): the price
    // filter leaves empty months at sf0.01 (a genuinely gapped series),
    // where q222's positional lag and this dense-spine calendar lag
    // disagree — the month spine makes lag-12 mean 12 calendar months
    "q225_period_growth_gapped" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_totalprice") > 490000)
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      Sequences.periodGrowthDense(o, "month", "cents", lagShort = 1, lagLong = 12)
        .transform(Ops.sortSmallT(col("month")))
    }),
    // cohort retention ✚ (r13): weekly acquisition cohorts × activity
    // offsets — one map-side collapse of events to distinct (user, week),
    // a key-window cohort label, and a cohorts×offsets-domain hash-agg
    "q232_retention_cohorts" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.retentionCohorts(ev, "user_id", "ts_us",
          periodUs = 7L * 86400L * 1000000L, maxOffset = 52)
        .transform(Ops.sortSmallT(col("cohort"), col("offset")))
    }),
    // incremental retention ✚ (r13): the q232 readout rebuilt as a
    // standing (key, period) activity store + order-free idempotent fold
    // (the q216/q221 shape) — the query IS the equivalence gate:
    // retentionFromState(fold(state(hist), batch)) must hash-match the
    // full-history q232 oracle
    "q238_retention_incremental" -> ((s, d) => {
      val wk = 7L * 86400L * 1000000L
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("ts_us"))
      val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2)
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      val hist = tagged.filter(col("ts_us") < col("mid")).drop("mid")
      val batch = tagged.filter(col("ts_us") >= col("mid")).drop("mid")
      val st0 = Sequences.periodState(hist, "user_id", "ts_us", wk)
      val st1 = Sequences.ingestPeriods(st0, batch, "user_id", "ts_us", wk)
      Sequences.retentionFromState(st1, maxOffset = 52)
        .transform(Ops.sortSmallT(col("cohort"), col("offset")))
    }),
    // per-group fraction sampling ✚ (r13): a priority→rate rebalancing
    // plan applied as a stateless hash-band filter behind one broadcast
    // join — per-row fate stable under corpus growth, fraction 0 and 1
    // exercised at the edges
    "q233_sample_fractions" -> ((s, d) => {
      import s.implicits._
      val fr = Seq(("1-URGENT", 0.5), ("2-HIGH", 0.25), ("3-MEDIUM", 0.1),
        ("4-NOT SPECIFIED", 0.0), ("5-LOW", 1.0)).toDF("o_orderpriority", "fraction")
      Ops.sampleByFractions(Tables.orders(s, d), Seq("o_orderpriority"),
          "o_orderkey", fr)
        .select("o_orderpriority", "o_orderkey")
        .orderBy("o_orderpriority", "o_orderkey")
    }),
    // timeout-bounded funnel ✚ (r12): q45's conversion chain with a 3-day
    // deadline per step — greedy earliest-occurrence chaining, one
    // shrinking-set join + hash-agg per step
    "q230_funnel_within" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.funnelWithin(ev, "user_id", "event_type", "ts_us",
        Seq("signup", "click", "purchase"),
        withinUs = 3L * 86400L * 1000000L)
    }),
    // deterministic k-per-group sample ✚ (r12): 5 orders per priority in
    // (idHash60, id) admission order — the reproducible spot-check draw,
    // WindowGroupLimit rank-filter shape
    "q226_group_sample" -> ((s, d) => {
      Ops.sampleKPerGroup(Tables.orders(s, d), Seq("o_orderpriority"),
          "o_orderkey", k = 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .transform(Ops.sortSmallT(col("o_orderpriority"), col("o_orderkey")))
    }),
    // incremental path prefixes ✚ (r11): the q214 readout over a standing
    // first-k store + strictly-later fold — must hash-match the
    // full-history q214 oracle
    "q221_paths_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2)
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      val hist = tagged.filter(col("ts_us") < col("mid")).drop("mid")
      val batch = tagged.filter(col("ts_us") >= col("mid")).drop("mid")
      val st0 = Sequences.prefixState(hist, "user_id", "event_type",
        "ts_us", "event_id", maxLen = 5)
      val st1 = Sequences.ingestPrefix(st0, batch, "user_id", "event_type",
        "ts_us", "event_id", maxLen = 5)
      Sequences.topPaths(st1, "user_id", "event_type", "ts_us", "event_id",
        maxLen = 5, topK = 25)
    }),
    // market-basket lift ✚ (r11): co-purchased part pairs within orders —
    // Apriori-pruned per-basket self-join, exact counts, micro ratios.
    // maxBasketItems = 5 < the 7-item lineitem max, so the oracle
    // genuinely exercises the r12 deterministic fan-out cap path
    "q217_basket_lift" -> ((s, d) => {
      Baskets.pairLift(Tables.lineitem(s, d), "l_orderkey", "l_partkey",
          minPairCount = 3, maxBasketItems = 5)
        .orderBy(col("item_a"), col("item_b"))
    }),
    // trailing exact median ✚ (r11): per-event robust baseline over the
    // last 10 values — bounded sliding frame, doubled-median longs
    "q218_rolling_median" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Sequences.rollingMedian2(ev, "user_id", "ts_us", "value", "event_id",
          window = 10)
        .orderBy(col("user_id"), col("event_id"))
    }),
    // incremental EWMA ✚ (r11): the q213 readout rebuilt as a standing
    // bounded last-L store + strictly-later fold (the q162 shape) — the
    // query IS the equivalence gate: ewma over fold(state(hist), batch)
    // must hash-match the full-history oracle
    "q216_ewma_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("value"), col("ts_us"), col("event_id"))
      val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2)
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      val hist = tagged.filter(col("ts_us") < col("mid")).drop("mid")
      val batch = tagged.filter(col("ts_us") >= col("mid")).drop("mid")
      val st0 = Sequences.recentState(hist, "user_id", "ts_us", "value",
        "event_id", lookback = 16)
      val st1 = Sequences.ingestRecent(st0, batch, "user_id", "ts_us",
        "value", "event_id", lookback = 16)
      Sequences.ewmaHalfLife(st1, "user_id", "ts_us", "value", "event_id",
          lookback = 16)
        .orderBy(col("user_id"))
    }),
    // incremental transition fold ✚ (r9): the q158 matrix rebuilt as
    // standing state + strictly-later ingest — history is never re-scanned
    // (one carried last-event row per key stitches the boundary pair); the
    // query IS the equivalence gate: fold(first half, second half) must
    // equal the full-data oracle count-for-count
    "q162_transitions_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      // deterministic mid-range split; boundary rows go to the batch
      val mid = ev.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2)
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      val hist = tagged.filter(col("ts_us") < col("mid")).drop("mid")
      val batch = tagged.filter(col("ts_us") >= col("mid")).drop("mid")
      val (c0, l0) = Sequences.transitionState(hist, "user_id", "event_type",
        "ts_us", "event_id")
      val (c1, _) = Sequences.ingestTransitions(c0, l0, batch, "user_id",
        "event_type", "ts_us", "event_id")
      c1.transform(Ops.sortSmallT(col("from_state"), col("to_state")))
    }),
    // wide→long melt ✚ (r9): the q36 pivot inverted by Spark's native
    // unpivot (an Expand node — |cols| projections, NO shuffle, no
    // explode-over-array that would block column pruning)
    "q164_melt" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
      Ops.melt(wide, Seq("user_id"), types, "event_type", "n_events")
        .orderBy(col("user_id"), col("event_type"))
    }),
    // rendezvous sharding ✚ (r9): HRW argmax over md5(key:shard) — the
    // stateful-shard assignment that moves only ~1/(n+1) keys on regrow
    // (modulo remaps ~100%); pure codegen'd per-row fold, no shuffle
    "q165_rendezvous" -> ((s, d) => {
      Layout.rendezvousAssign(Tables.documents(s, d).select(col("doc_id")),
          "doc_id", nShards = 8)
        .orderBy(col("doc_id"))
    }),
    // skyline ✚ (r9): per-brand Pareto frontier of (size, price) — the
    // "no other part beats it on both axes" curation shape, two-level
    // suffix max, exact over integer axes
    "q188_skyline" -> ((s, d) => {
      val p = Tables.part(s, d)
        .withColumn("cents", round(col("p_retailprice") * 100).cast(LongType))
      Ops.skylinePerGroup(p, "p_brand", "p_size", "cents")
        .withColumnRenamed("x", "p_size").withColumnRenamed("ymax", "max_cents")
        .transform(Ops.sortSmallT(col("p_brand"), col("p_size")))
    }),
    // average precision ✚ (r9): PR-curve area for the q153 score/label —
    // imbalance-robust ranking metric, id tie-break total order, per-row
    // two-level ranks, pre-rounded integer precision terms
    "q189_avg_precision" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
        .withColumn("is_f", col("o_orderstatus") === "F")
      Stats.averagePrecision(o, "cents", "o_orderkey", "is_f",
        bucketWidth = 1000000L)
    }),
    // sorted-neighborhood blocking ✚ (r9): the Hernández–Stolfo candidate
    // generator — N·(w−1) pairs from sort-order locality, scored by the
    // q163 exact-rational Jaro-Winkler, matches kept at ≥ 0.9
    "q193_sorted_neighborhood" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      Joins.sortedNeighborhoodPairs(names, "name", "name", window = 5)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("gap"),
          call_function("graft_jw_micro", col("key_a"), col("key_b")).as("jw_micro"))
        .filter(col("jw_micro") >= 900000L)
        .orderBy(col("name_a"), col("name_b"))
    }),
    // hashing-trick features ✚ (r9): stateless fixed-dim categorical
    // encoding (single + crossed) — no vocabulary fit, no schema explosion;
    // md5-based so any engine replays the exact buckets
    "q173_feature_hash" -> ((s, d) => {
      val hashed = graft.ml.TableCleaner.hashFeatures(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
        Seq(Seq("lang"), Seq("source")), dim = 16)
      graft.ml.TableCleaner.hashFeatures(hashed,
          Seq(Seq("lang", "source")), dim = 64)
        .select(col("doc_id"), col("hx_lang"), col("hx_source"),
          col("hx_lang_source"))
        .orderBy(col("doc_id"))
    }),
    // trimmed mean ✚ (r9): per-priority order value with 10% trimmed each
    // side — exact kept sums, tie-invariant cut
    "q170_trimmed_mean" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      Grouping.trimmedMean(o, "o_orderpriority", "cents", pNum = 1, pDen = 10)
        .transform(Ops.sortSmallT(col("o_orderpriority")))
    }),
    // ----- ✚ as-of join (point-in-time) + bucketized range join ----------
    // attribution: each purchase matched to the user's most recent prior
    // view (merge_asof semantics; right side pre-aggregated to unique
    // (user, ts) so the match is deterministic on any engine)
    "q54_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      Joins.asofJoin(purchases, views, Seq("user_id"), "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("ts_r")).as("view_ts_us"), col("view_value"))
        .orderBy("event_id")
    }),
    // calibration binning: orders bucketed into per-priority price bands
    // (band edges from min/max — exact order-independent aggregates, so
    // both engines derive bit-identical bounds)
    "q55_range_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val bands = o.groupBy(col("o_orderpriority").as("band"))
        .agg(min(col("o_totalprice")).as("lo"),
          ((min(col("o_totalprice")) + max(col("o_totalprice"))) / 2).as("hi"))
      Joins.rangeJoin(o.select(col("o_orderkey"), col("o_totalprice")), "o_totalprice",
          bands, "lo", "hi", bucketWidth = 10000.0)
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
        .transform(Ops.sortSmallT(col("band")))
    }),
    // interval-OVERLAP join ✚ (both sides are intervals, unlike q55's
    // point-in-interval): click/purchase pairs within 30 minutes per user,
    // expressed as overlapping 30-minute windows — each pair meets in
    // exactly one bucket (the intersection start's), so no dedup pass
    "q82_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      val halfHourUs = 1800000000L
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("us").as("c_lo"), (col("us") + halfHourUs).as("c_hi"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_lo"), (col("us") + halfHourUs).as("p_hi"))
      Joins.intervalJoin(clicks, "c_lo", "c_hi", purchases, "p_lo", "p_hi",
          bucketWidth = 1800000000.0, on = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),
    // salted skew join ✚: the fact side's rows spread over 8 salt shards,
    // the dim side replicated once per shard — a hot key's rows land on 8
    // reducers instead of one; result identical to the plain inner join
    "q86_salted_join" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Joins.saltedJoin(o, c, Seq("o_custkey"), saltBuckets = 8)
        .orderBy("o_orderkey")
    }),
    // per-domain cap: keep each (lang, source)'s 3 longest docs
    "q59_topk_per_key" -> ((s, d) => {
      Ops.topKPerKey(Tables.documents(s, d), Seq("lang", "source"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "source", "doc_id")
    }),
    // one-pass column profiler (exact fields oracled; the HLL++ distinct
    // estimate is approx-by-contract and spec-checked instead — q64 policy)
    "q68_profile" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast(LongType).as("price_cents"))
      operators.Profile.profile(o)
        .select("col_name", "n_rows", "n_nulls", "min_value", "max_value")
        .orderBy("col_name")
    }),
    // equi-width histogram ✚: 20 fixed bins over order totals in cents —
    // fixed bounds keep bins comparable across runs and the bin function
    // engine-portable; sentinel bins -1/-2/-3 catch out-of-range and nulls
    "q77_histogram" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        round(col("o_totalprice") * 100).cast(LongType).as("price_cents"))
      Ops.sortSmall(
        operators.Profile.histogram(o, "price_cents", 0.0, 60000000.0, 20),
        col("bin"))
    }),
    // nearest-direction as-of: closer of backward/forward click per purchase
    // (ties resolve backward); oracled via two DuckDB ASOF joins + CASE
    "q67_asof_nearest" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("click_value"))
      Joins.asofJoin(purchases, clicks, Seq("user_id"), "ts", direction = "nearest")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("ts_r")).as("click_ts_us"), col("click_value"))
        .orderBy("event_id")
    }),
    // capstone assembly composite: quality/language gate → per-source token
    // budget (deterministic hash-order mixing) → writer shards → fixed-
    // budget sequence bins. Every stage is one of the audited operators;
    // the chain is what a training-data assembly job actually submits.
    "q66_assembly" -> ((s, d) => {
      val gated = Tables.documents(s, d)
        .withColumn("quality", Text.qualityScore(col("text")))
        .withColumn("lang_id", Text.langId(col("text")))
        .filter(col("quality") >= 0.5 && col("lang_id") === "en")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
      val mixed = Ops.sampleToBudget(gated, Seq("source"), "doc_id", "n_tokens",
        budget = 5000L)
      val sharded = Ops.shardByHash(mixed, "doc_id", 4)
      Pack.packSequences(sharded, "shard", "doc_id", "n_tokens", budget = 2048L)
        .select(col("doc_id"), col("source"), col("shard"), col("bin"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    // ----- ✚ event streams: batch twins of the streaming transforms --------
    "q34_tumbling_window" -> ((s, d) => {
      Streams.tumblingAgg(Tables.events(s, d), "1 hour")
        .orderBy("window_start_us", "event_type")
    }),
    // time-RANGE window frames ✚: per-user rolling 2-hour event count and
    // cents sum at every event (rangeBetween on event-time micros — the
    // value-based frame q17's ROWS frames don't exercise; one key shuffle)
    "q79_rolling_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-7200000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("n_2h", count(lit(1)).over(w))
        .withColumn("cents_2h", sum(col("cents")).over(w))
        .select("event_id", "user_id", "ts_us", "n_2h", "cents_2h")
        .orderBy("event_id")
    }),
    "q36_event_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),
    // ----- ✚ multimodal plumbing (binary payload + stub decode) ------------
    "q37_multimodal_meta" -> ((s, d) => {
      val media = Multimodal.pack(Tables.documents(s, d), "doc_id", "text", "text/plain")
      media.toDF()
        .select(col("media_id"), col("n_bytes"), md5(col("content")).as("content_md5"),
          col("format"))
        .orderBy("media_id")
    }),
    // the typed mapPartitions batch-decode path itself (stub decoder is
    // deterministic md5 arithmetic, so DuckDB replays the whole pipeline —
    // pack → per-partition feature extraction → typed output)
    "q60_multimodal_features" -> ((s, d) => {
      val media = Multimodal.pack(Tables.documents(s, d), "doc_id", "text", "text/plain")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("content_md5"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_frames").cast(LongType).as("n_frames"))
        .orderBy("media_id")
    }),
    // byte-header media dimensions ✚ (r14, VERDICT r13 missing #5): real
    // PNG/GIF/JPEG headers synthesized per doc (dims a pure function of
    // doc_id), then PARSED back by the byte-arithmetic decoder — the
    // oracle computes the expected dims directly, so a hash match proves
    // build → parse is the identity (incl. the JPEG marker scan past APP0)
    "q247_media_dims" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 1000 + 1).toInt
          val h = (id % 777 + 1).toInt
          val bytes = (id % 3) match {
            case 0 => Multimodal.pngHeader(w, h)
            case 1 => Multimodal.gifHeader(w, h)
            case _ => Multimodal.jpegHeader(w, h)
          }
          Multimodal.MediaRow(id, bytes, "application/octet-stream",
            bytes.length.toLong)
        }
      Multimodal.mediaDims(media).toDF()
        .select(col("media_id"), col("container"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"))
        .orderBy("media_id")
    }),
    // audio/video header metadata ✚ (r15, VERDICT r14 missing #4): real
    // WAV RIFF chunk-walk (sample rate / channels / frame count) and MP4
    // moov/mvhd box-walk (timescale / duration, v0 AND v1 exercised by
    // id), synthesized per doc and PARSED back — the oracle computes the
    // expected fields directly, so a hash match proves build → parse is
    // the identity including the exact-integer duration_ms division
    "q258_av_header_dims" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = if (id % 2 == 0)
            Multimodal.wavHeader(
              sampleRate = (8000 + (id % 5) * 4000).toInt,
              channels = (1 + (id % 6) / 2).toInt,
              nFrames = (1000 + id % 777).toInt)
          else
            Multimodal.mp4Header(
              timescale = 600 + (id % 7) * 100,
              duration = 10000 + id % 999,
              version = if (id % 4 == 1) 0 else 1)
          Multimodal.MediaRow(id, bytes, "application/octet-stream",
            bytes.length.toLong)
        }
      Multimodal.avDims(media).toDF()
        .select(col("media_id"), col("container"), col("timescale"),
          col("duration_units"),
          col("channels").cast(LongType).as("channels"),
          col("duration_ms"))
        .orderBy("media_id")
    }),
    // ----- ✚ scalar string/date function coverage --------------------------
    "q38_scalar_funcs" -> ((s, d) => {
      Tables.orders(s, d).select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 3, 10)).as("prio_word"),
          length(col("o_orderpriority")).cast(LongType).as("prio_len"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          month(col("o_orderdate")).cast(LongType).as("o_month"),
          date_add(to_date(col("o_orderdate")), 30).as("due_date"),
          datediff(to_date(lit("1998-12-31")), to_date(col("o_orderdate"))).cast(LongType).as("days_to_eoy"),
          // scale-0 rounding only: 2-decimal rounding of doubles diverges
          // across engines (shortest-decimal vs binary .xx5 boundaries)
          round(col("o_totalprice") / 1000.0).cast(LongType).as("price_k"))
        .orderBy("o_orderkey")
    }),
    // ----- ✚ ML cleaner (the SQL-expressible transforms; full pipeline is
    //       ScalaTest-covered since fit state isn't SQL) -------------------
    "q39_cleaner_transform" -> ((s, d) => {
      val cleaner = new graft.ml.TableCleaner
      cleaner.registerNumeric("l_quantity", impute = "mean", clip = true)
      cleaner.registerLabel("l_returnflag", Seq("R", "A"))
      cleaner.registerOneHot("l_linestatus", Seq("F", "O"))
      val l = Tables.lineitem(s, d)
      // fit on a restricted "train" slice so the clip-to-train-bounds
      // behavior is actually visible on the full table
      cleaner.fit(l.filter(col("l_quantity").between(5, 45)))
      cleaner.cleanTable(l)
        .orderBy("l_quantity", "l_returnflag", "l_linestatus_F", "l_linestatus_O")
        .limit(1000)
    }),
    // feature scaling ✚: standard-scale quantity (integral-valued -> exact
    // sums -> engine-identical mean/std via the fixed-order formula) and
    // min-max-scale linenumber; fit on the full table
    "q75_cleaner_scaled" -> ((s, d) => {
      val cleaner = new graft.ml.TableCleaner
      cleaner.registerNumeric("l_quantity", scale = "standard")
      cleaner.registerNumeric("l_linenumber", scale = "minmax")
      cleaner.cleanTable(Tables.lineitem(s, d))
        .orderBy("l_quantity", "l_linenumber")
        .limit(1000)
    }),
    // quantile discretizer ✚: TRAIN-learned type-1 quantile boundaries
    // (pure integer rank selection), transform is a codegen'd comparison
    // fold; summarized per bin so the oracle replays boundary learning
    "q89_cleaner_binned" -> ((s, d) => {
      val cleaner = new graft.ml.TableCleaner
      cleaner.registerBinned("l_quantity", 8)
      cleaner.cleanTable(Tables.lineitem(s, d))
        .groupBy(col("l_quantity").as("bin")).agg(count(lit(1)).as("n"))
        .transform(Ops.sortSmallT(col("bin")))
    }),
    // streaming-twin approx distinct per window ✚: exact per-window count
    // hash-checked, HLL estimate bound-asserted (q41 pattern — the sketch
    // value itself is engine-specific and never hash-compared)
    "q106_window_distinct" -> ((s, d) => {
      val e = Tables.events(s, d)
      val approx = Streams.approxDistinctPerWindow(e, "user_id", "1 hour", rsd = 0.02)
      val exact = e
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
        .select(unix_micros(col("w.start")).as("window_start_us"), col("n_distinct_exact"))
      // bound: 4σ of the configured rsd (0.02 → 8%) with an absolute floor
      // of 2. rsd is a standard DEVIATION, not a bound — the previous 5%
      // was only ~2.5σ, so with many windows at larger SF a legitimate run
      // could flip approx_ok and fail the gate (ADVICE r5). 4σ leaves a
      // per-window failure probability of ~6e-5; the floor of 2 covers the
      // small-cardinality windows where ±1 already exceeds any percentage.
      exact.join(approx, Seq("window_start_us"))
        .select(col("window_start_us"), col("n_distinct_exact"),
          (abs(col("n_distinct_approx") - col("n_distinct_exact"))
            <= greatest(lit(2.0), col("n_distinct_exact") * 0.08)).as("approx_ok"))
        .orderBy("window_start_us")
    }),
    // ----- ✚ sliding-window batch twin -------------------------------------
    "q40_sliding_window" -> ((s, d) => {
      Streams.slidingAgg(Tables.events(s, d), "2 hours", "1 hour")
        .orderBy("window_start_us")
    }),
    // ----- ✚ composite analytics: multi-way joins (TPC-H Q3/Q5 flavor) ----
    "q46_shipping_priority" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      val l = Tables.lineitem(s, d)
        .withColumnRenamed("l_orderkey", "o_orderkey")
      val j = Joins.join(Joins.join(o, c, Seq("o_custkey"), "inner", broadcastRight = true),
        l, Seq("o_orderkey"))
      j.groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q47_local_supplier_volume" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val su = Tables.supplier(s, d)
      val l = Tables.lineitem(s, d)
      val nr = Joins.join(
        n.select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("r_regionkey")),
        r.select(col("r_regionkey"), col("r_name")), Seq("r_regionkey"),
        "inner", broadcastRight = true)
      val sn = Joins.join(
        su.select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("n_nationkey")),
        nr, Seq("n_nationkey"), "inner", broadcastRight = true)
      Joins.join(l, sn, Seq("l_suppkey"), "inner", broadcastRight = true)
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .transform(Ops.sortSmallT(col("r_name"), col("n_name")))
    }),
    // ----- ✚ SQL-first interface: the same engine through spark.sql -------
    "q48_sql_interface" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT n_name, c_name, revenue_cents FROM (
          SELECT n.n_name, c.c_name,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                 row_number() OVER (PARTITION BY n.n_name
                   ORDER BY sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) DESC, c.c_name) AS rk
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name, c.c_name) t
        WHERE rk = 1 ORDER BY n_name""")
    }),
    // incremental connected components ✚ (VERDICT r5 §next-5, q72's missing
    // half): the standing corpus's labels are computed FIRST (yesterday's
    // state), then shard 0's delta folds in via labels-as-edges + the
    // delta's banded pairs (delta↔corpus + delta↔delta — per-doc MinHash
    // signatures are corpus-independent, so the split finds exactly the
    // full run's pairs). The oracle is q43's recursive-CTE closure over
    // the FULL pair set — the gate directly asserts incremental == full.
    "q109_incremental_cc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sharded = Ops.shardByHash(docs, "doc_id", 5)
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      // the standing corpus's index is built ONCE (in production: loaded
      // from its stored table) and serves both the prior self-join and the
      // delta's band-join; the delta index serves its cross- and self-joins
      val ixC = Dedup.minhashIndex(corpus, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3)
      val ixD = Dedup.minhashIndex(delta, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3)
      val prior = Dedup.connectedComponents(
        Dedup.minhashLshPairsIndexed(ixC, threshold = 0.8), corpus, "doc_id")
      val deltaEdges = Dedup.minhashLshPairsBetweenIndexed(ixD, ixC, threshold = 0.8)
        .select("id_a", "id_b")
        .unionByName(Dedup.minhashLshPairsIndexed(ixD, threshold = 0.8)
          .select("id_a", "id_b"))
      val out = Dedup.connectedComponentsIncremental(prior, deltaEdges, docs, "doc_id")
        .filter(col("id") =!= col("component")) // only docs folded into a group
        .orderBy("id")
      ixC.release(); ixD.release()
      out
    }),
    // cross-doc boilerplate line removal: seed every doc with a shared
    // footer (and every even doc with a second one — the corpus itself is
    // single-line word-soup, so the repeated lines are planted
    // deterministically, q62-style), then strip lines appearing in >= 2
    // distinct docs and reassemble survivors in order
    "q71_boilerplate_lines" -> ((s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"), concat(
        col("text"),
        lit("\nSubscribe to our newsletter today"),
        lit("\nunique note "), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("\nCopyright 2024 Example Corp"))
          .otherwise(lit(""))).as("t"))
      Dedup.stripBoilerplateLines(seeded, "doc_id", "t", minDocFreq = 2)
        .select(col("doc_id"), col("n_lines_kept"),
          md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast(LongType).as("n_chars_clean"))
        .orderBy("doc_id")
    }),
    // ----- ✚ event funnel ---------------------------------------------------
    "q45_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      val perUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      perUser.select(
          count(lit(1)).as("n_users"),
          count(col("first_signup")).as("n_signed"),
          count(when(col("first_click") > col("first_signup"), 1)).as("n_click_after_signup"),
          count(when(col("first_purchase") > col("first_signup"), 1)).as("n_purchase_after_signup"))
    }),
    // exact discrete percentile ✚: the value AT rank ⌈p·n⌉ — pure integer
    // selection, no engine-ordered float interpolation (q41's approx twin
    // checks bounds; this one hash-matches exactly)
    "q87_percentile_disc" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      Grouping.groupby(l, Seq("l_returnflag"))
        .percentileDisc("cents", 0.95, "p95_cents")
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // type-7 interpolated percentile ✚ (the pandas/numpy default): the
    // interpolation tree is constructed explicitly from integer-rank
    // values, so the double hash-matches after micro-rounding
    "q107_percentile_cont" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      Grouping.groupby(l, Seq("l_returnflag"))
        .percentileCont("cents", 0.95, "p95")
        .select(col("l_returnflag"),
          round(col("p95") * 1000000).cast(LongType).as("p95_microcents"))
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // one-pass multi-percentile ✚: p50/p90/p99 from a single sorted window
    // + one agg — not one shuffle per percentile
    "q105_percentiles_multi" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      Grouping.groupby(l, Seq("l_returnflag"))
        .percentilesDisc("cents",
          Seq(0.5 -> "p50_cents", 0.9 -> "p90_cents", 0.99 -> "p99_cents"))
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // exact mode ✚: most frequent value, ties toward the smallest — a total
    // rule where the built-in `mode` documents ties as non-deterministic
    "q88_mode" -> ((s, d) => {
      Ops.sortSmall(
        Grouping.groupby(Tables.lineitem(s, d), Seq("l_returnflag"))
          .modeExact("l_quantity", "mode_qty"),
        col("l_returnflag"))
    }),
    // ----- ✚ r5 batch 2: chunking / LM scoring / lexical search / graph ----
    // sliding-window chunking (RAG preprocessing): 64-token windows every
    // 32 tokens; pure projection + explode, zero shuffles
    "q90_chunk_sliding" -> ((s, d) => {
      Pack.chunkSliding(Tables.documents(s, d), "doc_id", "text",
          window = 64, stride = 32)
        .orderBy("doc_id", "chunk_idx")
    }),
    // per-stratum weighted sampling ✚: 5 docs per language, inclusion ∝
    // n_chars — the balanced-but-importance-weighted audit slice
    "q98_weighted_per_group" -> ((s, d) => {
      Ops.sampleWeightedPerGroup(Tables.documents(s, d), Seq("lang"),
          "doc_id", "n_chars", n = 5)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    // TPC-H Q10 flavor ✚: returned-item revenue per customer — lineitem
    // filter pushed to the scan, orders shuffle-joined, customer and nation
    // dimensions broadcast, cents-exact revenue, top-20 by revenue
    "q99_returned_revenue" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_nationkey"))
      val n = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      Joins.join(Joins.join(Joins.join(l, o, Seq("o_orderkey")),
          c, Seq("o_custkey"), "inner", broadcastRight = true),
          n, Seq("c_nationkey"), "inner", broadcastRight = true)
        .groupBy(col("o_custkey").as("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast(LongType)).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    }),
    // TPC-H Q14 flavor ✚ (and the one query on the `part` table): per-brand
    // revenue with the promo split — cents-exact longs, no ratio column, so
    // the row hashes exactly; part is the broadcast dimension
    "q104_promo_share" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .select(col("l_partkey").as("p_partkey"), col("l_extendedprice"), col("l_discount"))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"), col("p_brand"))
      val cents = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast(LongType)
      Joins.join(l, p, Seq("p_partkey"), "inner", broadcastRight = true)
        .groupBy("p_brand")
        .agg(
          sum(when(col("p_type") === "PROMO", cents).otherwise(lit(0L))).as("promo_cents"),
          sum(cents).as("total_cents"),
          countDistinct(col("p_partkey")).as("n_parts"))
        .transform(Ops.sortSmallT(col("p_brand")))
    }),
    // ranking-window breadth ✚: ntile / percent_rank / cume_dist share one
    // total order (price desc, key) so every rank function is deterministic;
    // percent_rank and cume_dist are exact rational doubles on both engines
    "q103_window_breadth" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    }),
    // cohort retention ✚: users grouped by first-seen ISO week, distinct
    // active users per whole-week offset — the standard retention triangle
    "q101_cohort_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
      val first = e.groupBy("user_id").agg(min(col("ts")).as("ft"))
      e.join(first, Seq("user_id"))
        .select(
          date_trunc("week", col("ft")).cast("date").as("cohort_week"),
          floor(datediff(col("ts").cast("date"), col("ft").cast("date")) / lit(7))
            .cast(LongType).as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .transform(Ops.sortSmallT(col("cohort_week"), col("week_offset")))
    }),
    // calendar-month retention ✚ (r14, VERDICT r13 missing #3): monthly
    // customer-acquisition cohorts × calendar-month offsets via the exact
    // year·12+month−1 index — the q232 one-exchange shape with q225's
    // calendar reading, on the 1995–2001 orders series (events span only
    // 30 days — a one-row month matrix)
    "q244_retention_calendar" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("odt", col("o_orderdate").cast("timestamp"))
      Sequences.retentionCohortsCalendar(o, "o_custkey", "odt", maxOffset = 24)
        .orderBy("cohort_month", "offset")
    }),
    // temporal holdout split ✚ (r14, VERDICT r13 missing #2): train on
    // the past, validate/evaluate on the future — three time slices by
    // exclusive calendar boundaries, the full per-row assignment oracled
    // (a stateless codegen'd comparison chain, no shuffle)
    "q242_time_split" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("ts_us", unix_micros(col("o_orderdate").cast("timestamp")))
      Ops.splitByTime(o, "ts_us",
          Seq("train" -> 915148800000000L,   // < 1999-01-01
            "val" -> 962409600000000L),      // < 2000-07-01
          tailName = "holdout")
        .select(col("o_orderkey"), col("split"))
        .orderBy("o_orderkey")
    }),
    // time-split leakage audit ✚ (r14, the q228 pattern on the temporal
    // axis): rows postdating the train boundary inside the train slice —
    // structurally ZERO for the time split (the assignment IS the
    // comparison), measurably non-zero for a hash split of the same rows
    "q243_time_split_audit" -> ((s, d) => {
      val cutoff = 915148800000000L // 1999-01-01
      val o = Tables.orders(s, d)
        .withColumn("ts_us", unix_micros(col("o_orderdate").cast("timestamp")))
      val byTime = Ops.splitByTime(o, "ts_us", Seq("train" -> cutoff))
      val byHash = Ops.splitByGroupHash(o, "o_orderkey",
        Seq("train" -> 0.8, "holdout" -> 1.0))
      def audit(sp: DataFrame, method: String) = sp
        .filter(col("split") === "train")
        .agg(count(lit(1)).as("n_train"),
          count(when(col("ts_us") >= cutoff, lit(1))).as("n_future_in_train"))
        .select(lit(method).as("method"), col("n_train"),
          col("n_future_in_train"))
      audit(byTime, "time").unionByName(audit(byHash, "hash"))
        .orderBy("method")
    }),
  )

  /** DuckDB oracle twins live in [[QueriesRelationalSql]] (r12 split:
    * this file crossed the 2k-line navigation guideline; the SQL map is
    * a third of it and shares nothing with the query closures). */
  val oracleSql: Map[String, String] = QueriesRelationalSql.oracleSql
}
