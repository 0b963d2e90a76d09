package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.operators.{Audit, Bpe, Classify, Dedup, Dsir, Graph, Grouping, Intervals, Joins, Layout, Lm, Ops, Pack, Profile, Search, Sequences, Similarity, Sketches, Stats}
import graft.functions.{Jsons, Multimodal, Pii, Quality, Repetition, Text}
import graft.streaming.Streams

/** [[SparkEntry]] registry slice — statistics & sketches: hypothesis tests, rank metrics, survival, drift, HLL/KLL/Theta/count-min.
  * Pure move from SparkEntry.scala (r10 registry split): every entry kept
  * verbatim next to its DuckDB oracle twin. First ids: q23_text_stats, q26_token_freq, q113_theta_sets, q137_centroid_outliers, q150_welch_ab, q153_roc_auc, … */
private[graft] object QueriesStats extends OracleSqlHelpers {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- ✚ text analysis (documents) -------------------------------------
    "q23_text_stats" -> ((s, d) => {
      Tables.documents(s, d).select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          Text.fingerprint(col("text")).as("fingerprint"),
          Text.langId(col("text")).as("lang_id"),
          Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "q26_token_freq" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(Text.tokens(Text.normalize(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    }),
    // theta-sketch set algebra ✚ (the capability HLL lacks): per-event-type
    // theta sketches of the user id stream; "users who did BOTH view and
    // purchase" (intersection) and "view-only users" (A∖B) answered from
    // the two binaries and asserted inside the sketches' 3σ bounds —
    // below sketch capacity the sketch is EXACT and the bounds collapse
    // onto the true count. Exact sides hash-compare; oracle emits TRUE.
    "q113_theta_sets" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("event_type").isin("view", "purchase"))
      val sk = Sketches.thetaSketch(e, Seq("event_type"), "user_id")
      val sv = sk.filter(col("event_type") === "view").select(col("tsketch").as("sv"))
      val sp = sk.filter(col("event_type") === "purchase").select(col("tsketch").as("sp"))
      val flags = e.groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      flags.agg(
          sum(when(col("v") === 1 && col("p") === 1, 1L).otherwise(0L)).as("n_both_exact"),
          sum(when(col("v") === 1 && col("p") === 0, 1L).otherwise(0L)).as("n_view_only_exact"))
        .crossJoin(broadcast(sv)).crossJoin(broadcast(sp))
        .withColumn("bi", Sketches.thetaSetBounds(col("sv"), col("sp"), "intersect"))
        .withColumn("bd", Sketches.thetaSetBounds(col("sv"), col("sp"), "diff"))
        .select(col("n_both_exact"), col("n_view_only_exact"),
          (element_at(col("bi"), 2) <= col("n_both_exact") &&
            col("n_both_exact") <= element_at(col("bi"), 3)).as("ok_intersect"),
          (element_at(col("bd"), 2) <= col("n_view_only_exact") &&
            col("n_view_only_exact") <= element_at(col("bd"), 3)).as("ok_diff"))
    }),
    // per-group centroid outliers ✚ (r9): 8 pseudo-domains (vec_id % 8),
    // bottom-5 cosine-to-centroid per group — the "doesn't belong to its
    // domain" curation prune. The centroid enters as the per-dim integer
    // SUM (cosine is scale-invariant), so the only double rounding is the
    // final nano-quantized cosine — engine-exact ranks
    "q137_centroid_outliers" -> ((s, d) => {
      Similarity.centroidOutliers(
          Tables.embeddings(s, d).withColumn("grp", pmod(col("vec_id"), lit(8L))),
          "vec_id", "embedding", "grp", k = 5)
        .transform(Ops.sortSmallT(col("grp"), col("rank")))
    }),
    // Welch two-sample t ✚ (r9): the A/B-test statistic for click-vs-view
    // spend — conditional exact cent sums in ONE aggregation, one fixed
    // division tree both engines share, micro-quantized t
    "q150_welch_ab" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      Stats.welchT(ev, "event_type", "cents", "click", "view")
    }),
    // exact ROC-AUC ✚ (r9): does order value separate finished from open
    // orders — tie-corrected rank-sum in exact longs, two-level prefix sum
    // (no data-sized single-partition window), one shared final division
    "q153_roc_auc" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
        .withColumn("is_f", col("o_orderstatus") === "F")
      Stats.rocAuc(o, "cents", "is_f", bucketWidth = 1000000L)
    }),
    // robust MAD outlier screen ✚ (r9): per-language length outliers —
    // all-integer flag (20·|2x−med2| > k10·mad4), no floating point at all
    "q155_robust_outliers" -> ((s, d) => {
      Stats.robustOutliers(Tables.documents(s, d), "lang", "n_chars", k10 = 35)
        .transform(Ops.sortSmallT(col("lang")))
    }),
    // value concentration ✚ (r9): exact Gini + top-decile share of
    // customer revenue — Decimal(38,0) rank-weighted sum, two-level ranks
    "q157_concentration" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      Stats.concentration(o, "o_custkey", "cents", bucketWidth = 10000000L)
    }),
    // WoE / IV feature screen ✚ (r9): how strongly `source` separates
    // English from the rest — exact counts, shared ln tree, micro-quantized
    "q160_woe_iv" -> ((s, d) => {
      val doc = Tables.documents(s, d).withColumn("is_en", col("lang") === "en")
      Stats.woeIv(doc, "source", "is_en")
        .transform(Ops.sortSmallT(col("source")))
    }),
    // grouped KS sweep ✚ (r9): every event type's spend drift in ONE pass
    // — per-segment monitoring as one shuffle, not |segments| jobs
    "q181_ks_by_group" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg((min(col("ts_us"))
        + floor((max(col("ts_us")) - min(col("ts_us"))) / 2))
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      Stats.ksTestByGroup(tagged.filter(col("ts_us") < col("mid")),
          tagged.filter(col("ts_us") >= col("mid")), "event_type", "cents",
          bucketWidth = 100L)
        .transform(Ops.sortSmallT(col("event_type")))
    }),
    // count-min sketch ✚ (r9): mergeable relational frequency cells — the
    // sketch is built per half of the stream, MERGED by cell-wise sum, and
    // every user's event count estimated from merged state; md5 row hashes
    // make the estimates engine-exact (one-sided: est ≥ exact always)
    "q182_countmin" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val (depth, width) = (4, 256)
      // null-safe, sign-safe split (ADVICE r9 §3): a bare `% 2 === 0/1`
      // drops null event_ids (and negative odds, where % yields −1) from
      // BOTH halves while `exact` still counts them — breaking the
      // one-sided est ≥ exact contract; pmod(coalesce(·,0), 2) partitions
      // every row into exactly one half
      val half = pmod(coalesce(col("event_id"), lit(0L)), lit(2L))
      val halves = Seq(ev.filter(half === 0), ev.filter(half === 1))
        .map(h => Sketches.countMinBuild(h, "user_id", depth, width))
      val merged = Sketches.countMinMerge(halves)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c_exact"))
      Sketches.countMinProbe(merged, ev, "user_id", depth, width)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("c_exact"), col("c_est"),
          (col("c_est") - col("c_exact")).as("overcount"))
        .orderBy(col("user_id"))
    }),
    // change-point detection ✚ (r9): per event type, WHEN did the spend
    // level shift — exact integer between-means contrast maximized over
    // every split, ties to the earliest; the level-shift monitor that
    // pairs with q181's "did it drift" KS sweep
    "q183_change_point" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .withColumn("ts_us", unix_micros(col("ts")))
      Stats.changePointByGroup(ev, "event_type", "ts_us", "event_id", "cents")
        .withColumnRenamed("split_o", "split_ts_us")
        .transform(Ops.sortSmallT(col("event_type")))
    }),
    // Hamilton apportionment ✚ (r9): split a 100k-unit sampling budget
    // across sources pro rata to character mass — floors + largest
    // remainders, Σalloc ≡ budget exactly, no float rounding
    "q184_apportion" -> ((s, d) => {
      Pack.apportion(Tables.documents(s, d), Seq("source"), "n_chars",
          budget = 100000L)
        .transform(Ops.sortSmallT(col("source")))
    }),
    // Neyman allocation ✚ (r14): variance-optimal audit budget across
    // order priorities — exact-sum per-stratum σ, integer N·σ weights
    // into the q184 Hamilton machinery, Σalloc ≡ budget
    "q251_neyman_allocation" -> ((s, d) => {
      Pack.neymanAllocation(Tables.orders(s, d), Seq("o_orderpriority"),
          "o_totalprice", budget = 1000L)
        .transform(Ops.sortSmallT(col("o_orderpriority")))
    }),
    // out-of-fold target encoding ✚ (r14): the leakage-safe categorical
    // feature — smoothed other-folds target means with a fold-excluded
    // global prior, folds by the shared md5-60-bit band rule
    "q253_target_encoding" -> ((s, d) => {
      Ops.targetEncodeByFold(Tables.orders(s, d), "o_orderpriority",
          "o_totalprice", "o_orderkey", k = 5, priorCount = 10L)
        .transform(Ops.sortSmallT(col("o_orderpriority"), col("fold")))
    }),
    // capped apportionment ✚ (r14): the q184 Hamilton plan under source
    // exhaustion — URGENT has zero capacity and HIGH ~1/30th, so round 1
    // caps both and round 2 redistributes their share among the rest;
    // 3 idempotent rounds unrolled in the oracle (round 3 is the fixpoint
    // replay), Σalloc ≡ budget, caps never exceeded
    "q252_apportion_capped" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
        .withColumn("cap1",
          when(col("o_orderpriority") === "1-URGENT", lit(0L))
            .when(col("o_orderpriority") === "2-HIGH",
              when(col("o_orderkey") % 30 === 0, lit(1L)).otherwise(lit(0L)))
            .otherwise(lit(1L)))
      Pack.apportionCapped(o, Seq("o_orderpriority"), "cents", "cap1",
          budget = 5000L, rounds = 3)
        .transform(Ops.sortSmallT(col("o_orderpriority")))
    }),
    // Good-Turing ✚ (r9): frequency-of-frequencies + adjusted counts —
    // the unseen-mass estimate (r=1 row: P0 = N1/T) a vocab/LM pipeline
    // reads before choosing its smoothing
    "q185_good_turing" -> ((s, d) => {
      Lm.goodTuring(Tables.documents(s, d), "text")
        .transform(Ops.sortSmallT(col("r")))
    }),
    // Poisson bootstrap ✚ (r9): deterministic seeded resampling — 64
    // map-side replicates from md5-derived Poisson(1) weights, CI from
    // order statistics of the replicate means; the scalable bootstrap
    "q190_bootstrap" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      Stats.poissonBootstrapMean(ev, "event_id", "cents", reps = 64)
    }),
    // rank-biased overlap ✚ (r9): top-weighted similarity of the q187
    // run pair WITHOUT designating a truth side — pre-rounded weight
    // lookup at the worse rank, exact integer sums
    "q194_rbo" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 10)
      def cut(df: DataFrame) =
        df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val sys = Similarity.bruteForceTopK(cut(emb), cut(qs), "vec_id", "embedding", k = 10)
      Similarity.rboOverlap(sys, truth).orderBy(col("query_id"))
    }),
    // vocabulary growth ✚ (r9): the Heaps'-law saturation curve — one
    // corpus scan, per-type first-checkpoint assignment, running sums
    // over the checkpoint table
    "q195_vocab_growth" -> ((s, d) => {
      Lm.vocabGrowth(Tables.documents(s, d), "doc_id", "text",
          Seq(16L, 64L, 256L, 1024L, 4096L, 16384L))
        .transform(Ops.sortSmallT(col("k")))
    }),
    // Kaplan-Meier churn ✚ (r9): survival of user activity spans (hours),
    // censored when the last event falls in the final 10% of the range —
    // log-space product with per-level rounded-ln terms, two-level prefixes
    "q179_kaplan_meier" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("ts_us", unix_micros(col("ts")))
      val spans = ev.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("f"), max(col("ts_us")).as("l"))
      val bounds = ev.agg(min(col("ts_us")).as("gmin"), max(col("ts_us")).as("gmax"))
      val hourUs = 3600000000L
      val obs = spans.crossJoin(broadcast(bounds))
        .withColumn("cut",
          col("gmax") - floor((col("gmax") - col("gmin")) / 10).cast(LongType))
        .withColumn("span", col("l") - col("f"))
        .withColumn("dur", ((col("span") - col("span") % hourUs) / hourUs).cast(LongType))
        .withColumn("churned", col("l") < col("cut"))
      Stats.kaplanMeier(obs, "dur", "churned", bucketWidth = 100L)
    }),
    // two-sample KS ✚ (r9): spend distribution, first half vs second half —
    // the continuous drift monitor (q166 PSI is the categorical sibling);
    // exact integer max over the merged step grid, Decimal(38,0) products
    "q171_ks_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg((min(col("ts_us"))
        + floor((max(col("ts_us")) - min(col("ts_us"))) / 2))
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      Stats.ksTest(tagged.filter(col("ts_us") < col("mid")),
        tagged.filter(col("ts_us") >= col("mid")), "cents", bucketWidth = 100L)
    }),
    // exact Spearman ✚ (r9): quantity vs line revenue — tie-averaged ranks
    // as exact integers (2·below + cnt + 1), two-level prefix ranks
    "q172_spearman" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("qty", col("l_quantity").cast(LongType))
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      Stats.spearman(l, "qty", "cents", bucketWidth = 1000000L)
    }),
    // PSI drift ✚ (r9): event-type distribution, first half vs second half
    // of the time range — appeared/vanished levels flagged, never epsilon'd
    "q166_psi_drift" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg((min(col("ts_us"))
        + floor((max(col("ts_us")) - min(col("ts_us"))) / 2))
        .cast(LongType).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      Stats.psi(tagged.filter(col("ts_us") < col("mid")),
          tagged.filter(col("ts_us") >= col("mid")), "event_type")
        .transform(Ops.sortSmallT(col("event_type")))
    }),
    // Benford audit ✚ (r9): leading digit of order cents vs log10(1+1/d) —
    // digit from the decimal STRING, never a double log
    "q167_benford" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast(LongType))
      Stats.benford(o, "cents").transform(Ops.sortSmallT(col("digit")))
    }),
    // Cohen's kappa ✚ (r9): chance-corrected agreement between the gold
    // lang column and the q23 n-gram heuristic — the labeler-eval statistic
    "q168_kappa" -> ((s, d) => {
      val doc = Tables.documents(s, d)
        .filter(col("lang").isNotNull)
        .select(col("lang"), Text.langId(col("text")).as("lang_id"))
      Stats.cohenKappa(doc, "lang", "lang_id")
    }),
    // mergeable-sketch distinct: per-shard HLL sketches of the token stream,
    // unioned to a global estimate; the oracle asserts the error bound
    // against the exact count (the estimate itself is approximate and not
    // partitioning-deterministic — see Sketches scaladoc)
    "q64_sketch_distinct" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(Text.tokens(Text.normalize(col("text")))).as("token"))
      val sk = Sketches.sketch(Ops.shardByHash(toks, "token", 8), Seq("shard"), "token")
      val est = Sketches.mergeEstimate(sk, Nil)
      val exact = toks.agg(countDistinct(col("token")).as("n_exact"))
      exact.crossJoin(est).select(
        lit(8L).as("n_shards"), col("n_exact"),
        Sketches.withinTolerance(col("n_distinct_est"), col("n_exact"), 0.05)
          .as("within_5pct"))
    }),
    // equal-frequency binning ✚: rank-percentile bins derived from the
    // per-VALUE count table (ntile semantics minus its engine-specific tie
    // split); rows are never globally sorted — the tiny value->bin map
    // broadcast-joins back onto the input
    "q84_quantile_bins" -> ((s, d) => {
      operators.Profile.equalFrequencyBins(Tables.lineitem(s, d), "l_quantity", 8)
        .groupBy("bin").agg(count(lit(1)).as("n"),
          min(col("l_quantity")).as("lo"), max(col("l_quantity")).as("hi"))
        .transform(Ops.sortSmallT(col("bin")))
    }),
    // exact per-group correlation ✚: Pearson r from fixed-order plain sums
    // (integral columns -> exact sums -> engine-identical doubles), where
    // built-in streaming corr is partition-order dependent
    "q76_corr_exact" -> ((s, d) => {
      Grouping.groupby(Tables.lineitem(s, d), Seq("l_returnflag"))
        .corrExact("l_quantity", "l_linenumber", "corr_qty_line")
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // mergeable KLL quantile sketches ✚ (VERDICT r5 §next-6, q64's
    // percentile sibling): per-(returnflag, linestatus) shard sketches
    // over exact cents, merged UP to returnflag — store-and-merge, no raw
    // rows at query time. The k=200 sketch bounds normalized RANK error
    // (~1.65%, 99% conf), so each estimate is asserted inside the exact
    // values at rank p±2.5% (bracket booleans; oracle emits TRUE — the
    // sketch value itself is merge-tree-specific and never hash-compared,
    // exactly q64's contract); the exact percentiles hash-compare.
    "q110_kll_quantiles" -> ((s, d) => {
      val x = Tables.lineitem(s, d).filter(col("l_extendedprice").isNotNull)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
      val sk = Sketches.quantileSketch(x, Seq("l_returnflag", "l_linestatus"), "cents")
      val est = Sketches.mergeQuantiles(sk, Seq("l_returnflag"), Seq(0.5, 0.9, 0.99))
      val exact = Grouping.groupby(x, Seq("l_returnflag"))
        .percentilesDisc("cents", Seq(
          0.5 -> "p50_cents", 0.475 -> "lo50", 0.525 -> "hi50",
          0.9 -> "p90_cents", 0.875 -> "lo90", 0.925 -> "hi90",
          0.99 -> "p99_cents", 0.965 -> "lo99", 1.0 -> "hi99"))
      exact.join(est, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          col("p50_cents"), col("p90_cents"), col("p99_cents"),
          (col("q50") >= col("lo50") && col("q50") <= col("hi50")).as("ok_p50"),
          (col("q90") >= col("lo90") && col("q90") <= col("hi90")).as("ok_p90"),
          (col("q99") >= col("lo99") && col("q99") <= col("hi99")).as("ok_p99"))
        .transform(Ops.sortSmallT(col("l_returnflag")))
    }),
    // Mann–Whitney rank-sum ✚ (r10): the nonparametric twin of q150's
    // Welch t on the SAME click-vs-view spend — tie-averaged doubled
    // midranks over distinct cent levels (two-level prefix sum), exact
    // Decimal rank/tie sums, one shared z tree, micro-quantized
    "q200_mann_whitney" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      Stats.mannWhitney(ev, "event_type", "cents", "click", "view")
    }),
    // Kruskal–Wallis H ✚ (r10): k-group rank ANOVA — do document lengths
    // differ by language — per-group H terms micro-quantized THEN
    // long-summed (the chiSquared quantize-then-sum contract), tie
    // correction divided once at the end
    "q201_kruskal_wallis" -> ((s, d) => {
      Stats.kruskalWallis(Tables.documents(s, d), "lang", "n_chars")
    }),
    // grouped Mann–Whitney ✚ (r10): the q200 test per SOURCE cohort in
    // one pass — are English docs longer than German within each source —
    // per-segment midranks via Ranks.twoLevel's grouped path, windows
    // stay (segment × bucket)-sized
    "q205_mw_by_group" -> ((s, d) => {
      Stats.mannWhitneyByGroup(Tables.documents(s, d), "source", "lang",
          "n_chars", "en", "de")
        .transform(Ops.sortSmallT(col("source")))
    }),
    // Wilcoxon signed-rank ✚ (r10): the PAIRED nonparametric test — per
    // user, total click spend vs total view spend (users with both),
    // signed midranks over |diff| levels, zero diffs dropped, classical
    // tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48
    "q207_wilcoxon_signed" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      val pairs = ev.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", col("cents"))).as("x"),
        sum(when(col("event_type") === "view", col("cents"))).as("y"))
      Stats.wilcoxonSignedRank(pairs, "x", "y")
    }),
    // CUPED variance reduction ✚ (r10, Deng/Xu/Kohavi/Walker 2013): the
    // experimentation-platform readout - pre-period spend as the
    // covariate, post-period spend as the metric, deterministic
    // user_id-parity assignment; exact Decimal conditional sums, fixed
    // theta/adjusted-diff/rho^2 trees shared with the oracle
    "q208_cuped" -> ((s, d) => {
      // null user_ids are dropped BEFORE the midpoint agg - the oracle's
      // raw CTE filters first, and a null-user row holding min/max ts
      // must not shift the period split (code-review r10 finding #1)
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg((min(col("ts_us"))
        + floor((max(col("ts_us")) - min(col("ts_us"))) / 2))
        .cast(LongType).as("mid"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy("user_id").agg(
          coalesce(sum(when(col("ts_us") < col("mid"), col("cents"))), lit(0L)).as("x"),
          coalesce(sum(when(col("ts_us") >= col("mid"), col("cents"))), lit(0L)).as("y"))
        .withColumn("t", pmod(col("user_id"), lit(2L)) === 0)
      Stats.cuped(units, "t", "x", "y")
    }),
    // Friedman test ✚ (r10): the k-treatment PAIRED rank test completing
    // the nonparametric 2x2 (MW/KW unpaired, Wilcoxon/Friedman paired) -
    // per-user spend ranked across the five event types WITHIN each user,
    // complete blocks only; per-treatment terms quantize-then-summed,
    // Conover tie correction divided once
    "q209_friedman" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
        .filter(col("cents").isNotNull)
      val cells = ev.groupBy("user_id", "event_type")
        .agg(sum(col("cents")).as("tot"))
      Stats.friedman(cells, "user_id", "event_type", "tot")
    }),
    // one-way ANOVA ✚ (r10): the parametric k-group sibling of q201 -
    // spend by event type as variance-explained eta^2 + F; SST from one
    // fixed tree over exact global sums, per-group bounded shares
    // micro-quantized then long-summed (never a cross-group double sum)
    "q210_anova" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      Stats.oneWayAnova(ev, "event_type", "cents")
    }),
    // Brown-Forsythe ✚ (r10): variance homogeneity - the SCALE complement
    // to q210 on the same spend-by-type frame; ANOVA on DOUBLED deviations
    // from exact group medians (F/eta^2 scale-invariant, so doubling keeps
    // every intermediate integral)
    "q211_brown_forsythe" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", round(col("value") * 100).cast(LongType))
      Stats.brownForsythe(ev, "event_type", "cents")
    }),
    // winsorized mean ✚ (r12): 10%-per-tail clipped spend by type — exact
    // order-statistic bounds via the two-level rank machinery, micro
    // longs, one final division
    "q227_winsorized_mean" -> ((s, d) => {
      Stats.winsorizedMean(Tables.events(s, d), "event_type", "value",
          "event_id", trimPct = 10)
        .transform(Ops.sortSmallT(col("event_type")))
    }),
    // Fleiss' kappa ✚ (r13): multi-rater agreement with orders as items
    // and their lineitems' return flags as the ratings — exact cell
    // counts, nano-quantized integer divisions, one final mirrored
    // double division
    "q234_fleiss_kappa" -> ((s, d) => {
      Stats.fleissKappa(Tables.lineitem(s, d), "l_orderkey", "l_returnflag")
    }),
    // Zipf tail exponent ✚ (r13): Clauset discrete-MLE α over the corpus
    // token-frequency table — per-row nano-quantized ln terms, one exact
    // sum, one mirrored final expression; the distribution health check
    "q239_zipf_alpha" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(Text.tokens(Text.normalize(col("text")))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
      Stats.powerLawAlpha(counts, "n", xMin = 2L)
    }),
    // split-conformal threshold ✚ (r13): the ⌈(n+1)·0.9⌉-th smallest
    // spend per event type — exact order statistic via the two-level
    // rank machinery, integer ceil, the finite-sample coverage gate
    "q236_conformal_threshold" -> ((s, d) => {
      Stats.conformalThreshold(Tables.events(s, d), "event_type", "value",
          "event_id", alphaPct = 10)
        .transform(Ops.sortSmallT(col("event_type")))
    }),
    // Bradley–Terry ✚ (r13): preference strengths over event types —
    // games are a user's consecutive event pairs (winner = the higher
    // value, ties/nulls to the earlier event), 6 MM rounds of pure
    // integer floor-division arithmetic, anchor-free share normalization
    "q235_bradley_terry" -> ((s, d) => {
      Stats.bradleyTerry(btGames(s, d), "winner", "loser", rounds = 6)
        .transform(Ops.sortSmallT(col("item")))
    }),
    // incremental preference store ✚ (r14, VERDICT r13 missing #4): the
    // q235 readout rebuilt as a standing (item_i, item_j, n_ij, wins_i)
    // pair table + additive delta fold — the query IS the equivalence
    // gate: bradleyTerryFromPairs(ingestGames(pairState(hist), batch))
    // must hash-match the full-history q235 oracle
    "q245_bt_incremental" -> ((s, d) => {
      val g = btGames(s, d)
      val mid = g.agg(((min(col("ts_us")) + max(col("ts_us"))) / 2)
        .cast(LongType).as("mid"))
      val tagged = g.crossJoin(broadcast(mid))
      val hist = tagged.filter(col("ts_us") < col("mid")).drop("mid")
      val batch = tagged.filter(col("ts_us") >= col("mid")).drop("mid")
      val st0 = Stats.pairState(hist, "winner", "loser")
      val st1 = Stats.ingestGames(st0, batch, "winner", "loser")
      Stats.bradleyTerryFromPairs(st1, rounds = 6)
        .transform(Ops.sortSmallT(col("item")))
    }),
    // reliability bins ✚ (r14, VERDICT r13 missing #1): the calibration
    // diagram for a pseudo-probability (order age → P(status F)) — exact
    // integer binning, long score sums, one division per bin statistic
    "q240_reliability_bins" -> ((s, d) => {
      Stats.reliabilityBins(calibOrders(s, d), "p", "is_f", nBins = 10)
        .transform(Ops.sortSmallT(col("bin")))
    }),
    // ECE + Brier ✚ (r14): the one-row summary of q240's bins — count-
    // weighted |acc−conf| on a Decimal(38,0) accumulator, per-row squared
    // micro residuals for Brier, both one final division
    "q241_calibration_summary" -> ((s, d) => {
      Stats.calibrationSummary(calibOrders(s, d), "p", "is_f", nBins = 10)
    }),
    // equal-mass reliability bins ✚ (r14): the adaptive-ECE binning —
    // exact ⌊(pos−1)·10/n⌋ rank rule in the (score, o_orderkey) total
    // order, two-level rank machinery, data-dependent bin edges reported
    "q248_reliability_quantile" -> ((s, d) => {
      Stats.reliabilityBinsQuantile(calibOrders(s, d), "p", "is_f",
          "o_orderkey", nBins = 10)
        .transform(Ops.sortSmallT(col("bin")))
    }),
    // Murphy Brier decomposition ✚ (r14): REL/RES/UNC over the q240 bins
    // — exact Decimal sums, the algebraic RES expansion on a pre-rounded
    // micro ȳ, one mirrored division per term
    "q249_brier_decomposition" -> ((s, d) => {
      Stats.brierDecomposition(calibOrders(s, d), "p", "is_f", nBins = 10)
    }),
    // isotonic calibration remap ✚ (r14): PAVA via the exact minimax
    // formula over reliability bins with a deterministically ZIGZAG-
    // calibrated label (orders' own status is independent of everything —
    // PAVA on it pools to one flat constant, a degenerate demo) — the
    // per-pair violators pool, the increasing trend passes through;
    // integer interval rates from prefix-sum differences, nBins² work only
    "q250_isotonic_calibration" -> ((s, d) => {
      Stats.isotonicCalibration(zigzagOrders(s, d), "p", "is_hit", nBins = 10)
        .transform(Ops.sortSmallT(col("bin")))
    }),
    // isotonic remap APPLIED + re-measured ✚ (r15, VERDICT r14 missing
    // #1): the loop closes — fit the q250 remap, broadcast-join it onto
    // the rows, and run the SAME summary on the remapped score; one row
    // of (before, after) pairs. The zigzag fixture has genuine violators,
    // so ece_after < ece_before by construction (StatsSpec asserts the
    // inequality; the oracle asserts the exact numbers).
    "q255_isotonic_apply" -> ((s, d) => {
      val o = zigzagOrders(s, d)
      val remap = Stats.isotonicCalibration(o, "p", "is_hit", nBins = 10)
      val before = Stats.calibrationSummary(o, "p", "is_hit", nBins = 10)
        .select(col("n_rows"), col("ece_micro").as("ece_before"),
          col("brier_micro").as("brier_before"))
      val after = Stats.calibrationSummary(
          Stats.applyCalibration(o, remap, "p", nBins = 10, outCol = "p_cal"),
          "p_cal", "is_hit", nBins = 10)
        .select(col("ece_micro").as("ece_after"),
          col("brier_micro").as("brier_after"))
      before.crossJoin(broadcast(after))
        .select(col("n_rows"), col("ece_before"), col("ece_after"),
          col("brier_before"), col("brier_after"))
    }),
    // per-segment calibration ✚ (r15, VERDICT r14 missing #2): "is the
    // judge calibrated per LANGUAGE" — ECE + Brier per documents.lang in
    // ONE (group, bin)-keyed pass (the ksTestByGroup shape); score rises
    // with doc length, the label's hit rate tracks it by construction
    "q256_calibration_by_group" -> ((s, d) => {
      Stats.calibrationSummaryByGroup(calibDocs(s, d), "lang", "p",
          "is_good", nBins = 10)
        .transform(Ops.sortSmallT(col("lang")))
    }),
    // calibration standing-store fold ✚ (r15, VERDICT r14 missing #3):
    // history before 1996 builds the additive bin state, the rest folds
    // in as a delta batch, the readout divides the folded sums — must
    // reproduce q240's full-history bins bit for bit (same oracle, the
    // q245/q246 store ≡ full-history discipline)
    "q257_calibration_ingest" -> ((s, d) => {
      val o = calibOrders(s, d)
      val cut = "1996-01-01"
      val hist = o.filter(col("o_orderdate") < lit(cut))
      val batch = o.filter(col("o_orderdate") >= lit(cut))
      val st0 = Stats.calibrationState(hist, "p", "is_f", nBins = 10)
      val st1 = Stats.ingestCalibration(st0, batch, "p", "is_f", nBins = 10)
      Stats.reliabilityBinsFromState(st1).transform(Ops.sortSmallT(col("bin")))
    }),
    // Platt scaling ✚ (r15, VERDICT r14 missing #5): the parametric
    // remap on the same zigzag fixture — 6 mirrored Newton rounds on the
    // bin table, σ micro-quantized per (bin, round), all sufficient
    // statistics exact integers, the 2×2 solve one fixed double tree
    // (the oracle unrolls the rounds as MATERIALIZED CTEs)
    "q259_platt_scaling" -> ((s, d) => {
      Stats.plattCalibration(zigzagOrders(s, d), "p", "is_hit",
          nBins = 10, rounds = 6)
        .orderBy(col("bin"))
    }),
  )

  /** Shared by q250 (fit) and q255 (apply + re-measure) — ONE fixture so
    * the before/after gate can never drift: a deterministic pseudo-
    * probability with a per-bin ZIGZAG hit threshold (even bins +8), so
    * adjacent violators exist by construction and the isotonic pool
    * genuinely fires. */
  private def zigzagOrders(s: SparkSession, d: String): DataFrame = {
    val pm = least(lit(1000000L),
      ((lit(2001) - year(col("o_orderdate"))) * 150000
        + month(col("o_orderdate")) * 10000).cast(LongType))
    // pseudo-uniform u ∈ [0, 100) from the key; hit threshold rises
    // with the score but ZIGZAGS per bin (even bins +8) — adjacent
    // violators by construction, so the remap genuinely pools
    val u = (col("o_orderkey") % 97) * 10309 % 100
    val th = lit(10) + graft.operators.Ranks.floorDiv(pm * 60, 1000000L) +
      when(graft.operators.Ranks.floorDiv(pm * 10, 1000000L) % 2 === 0,
        lit(8)).otherwise(lit(0))
    Tables.orders(s, d)
      .withColumn("p", pm.cast("double") / 1e6)
      .withColumn("is_hit", u < th)
  }

  /** q256's fixture: documents with a length-derived pseudo-probability
    * and a hit indicator whose rate rises with it (deterministic integer
    * arithmetic on doc_id, so the oracle replays it exactly). */
  private def calibDocs(s: SparkSession, d: String): DataFrame = {
    val pm = least(lit(1000000L), (length(col("text")) * 300).cast(LongType))
    Tables.documents(s, d)
      .withColumn("p", pm.cast("double") / 1e6)
      .withColumn("is_good", col("doc_id") % 100
        < graft.operators.Ranks.floorDiv(pm * 80, 1000000L) + 10)
  }

  /** Shared by q235 (direct) and q245 (standing pair-state fold) — ONE
    * game construction so the equivalence gate can never drift: a user's
    * consecutive event pairs, winner = the higher value (ties/nulls to
    * the earlier event), stamped with the earlier event's ts for q245's
    * midpoint split. */
  private def btGames(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("nt", lead(col("event_type"), 1).over(w))
      .withColumn("nv", lead(col("value"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") =!= col("event_type"))
      .select(
        when(col("nv") > col("value"), col("nt"))
          .otherwise(col("event_type")).as("winner"),
        when(col("nv") > col("value"), col("event_type"))
          .otherwise(col("nt")).as("loser"),
        col("ts_us"))
  }

  /** Shared by q240/q241: orders with a deterministic pseudo-probability
    * (older orders more likely finalized — p rises with order age, clamped
    * to [0, 1] as an exact micro integer) and the boolean outcome it
    * predicts (`o_orderstatus = 'F'`). The integer-micro construction
    * round-trips `round(p·10⁶)` exactly, so the oracle replays the integer
    * directly. */
  private def calibOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("p",
        least(lit(1000000L), ((lit(2001) - year(col("o_orderdate"))) * 150000
          + month(col("o_orderdate")) * 10000).cast(LongType))
          .cast("double") / 1e6)
      .withColumn("is_f", col("o_orderstatus") === "F")

  val oracleSql: Map[String, String] =
    QueriesStatsSql.oracleSql ++ QueriesCalibrationSql.oracleSql
}
