package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Exact-sum hypothesis tests (✚ extension surface) — the A/B-comparison
  * primitives a data platform runs over event logs and corpus metadata.
  * The reference has no statistics beyond mean/median (SURVEY §2, O8);
  * these follow the repo-wide exactness contract established by
  * [[Grouping.corrExact]] / [[Lm.domainKl]]: every sufficient statistic is
  * an exact long-valued sum over (pre-quantized) inputs, the test
  * statistic is ONE fixed-order double expression over those sums — so
  * the result is bit-identical on any partitioning, any cluster size, and
  * any SQL engine replaying the identical tree — and the final statistic
  * is micro-quantized for hash-stable comparison.
  *
  * Both tests are single map-side-combined aggregation jobs: one pass
  * over the data (or over the distinct contingency cells), nothing
  * driver-side.
  */
object Stats {

  /** Welch's unequal-variance two-sample t-test (the default A/B test
    * statistic): compares `valueCol` between the `a` and `b` levels of
    * `groupCol`,
    *   t = (m_a − m_b) / √(v_a/n_a + v_b/n_b),
    * with sample variances v = (Σx² − (Σx)²/n)/(n−1) from plain
    * conditional sums — ONE aggregation over the data, no per-group
    * subqueries. Rows with a null value (or any other group level) are
    * ignored. Output, one row: `n_a`, `n_b`, `mean_a`, `mean_b`,
    * `t_micro` (t × 10⁶ rounded; null when either side has < 2 rows or
    * the pooled standard error is 0 — a degenerate test).
    *
    * Quantize `valueCol` first (cents, micro-units) for engine-exact
    * sums; the remaining divisions are a fixed tree both engines share
    * (the q150 oracle contract). */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
      a: Any, b: Any): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol).cast("double")
    def side(level: Any) = (
      count(when(g === lit(level) && v.isNotNull, lit(1))).cast("double"),
      sum(when(g === lit(level), v)),
      sum(when(g === lit(level), v * v)))
    val (na, sa, sa2) = side(a)
    val (nb, sb, sb2) = side(b)
    val agged = df.agg(na.as("__na"), sa.as("__sa"), sa2.as("__sa2"),
      nb.as("__nb"), sb.as("__sb"), sb2.as("__sb2"))
    val (cna, cnb) = (col("__na"), col("__nb"))
    val ma = col("__sa") / cna
    val mb = col("__sb") / cnb
    val va = (col("__sa2") - col("__sa") * col("__sa") / cna) / (cna - 1)
    val vb = (col("__sb2") - col("__sb") * col("__sb") / cnb) / (cnb - 1)
    val se2 = va / cna + vb / cnb
    agged.select(
      cna.cast(LongType).as("n_a"), cnb.cast(LongType).as("n_b"),
      when(cna >= 1, ma).as("mean_a"), when(cnb >= 1, mb).as("mean_b"),
      when(cna >= 2 && cnb >= 2 && se2 > 0,
        round((ma - mb) / sqrt(se2) * 1e6).cast(LongType)).as("t_micro"))
  }

  /** Pearson's chi-squared test of independence between two discrete
    * columns (the categorical sibling of [[welchT]]; [[Lm.mutualInfo]]
    * measures the same dependence in nats): over the observed contingency
    * table, Σ (o − e)²/e with expected e = (row total × column total)/n.
    * Each cell INCLUDING structural zeros (o = 0, e > 0) contributes — the
    * zero cells are generated by joining the marginal domains, never by
    * materializing a dense table bigger than |A|×|B| distinct cells.
    * Rows null on either side are dropped. Output, one row: `n_pairs`,
    * `dof` = (|A|−1)(|B|−1), `chi2_micro` (Σ of per-cell micro-quantized
    * terms — the [[Lm.domainKl]] quantize-then-sum contract, so the long
    * total is partition-order independent). */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val joint = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(aCol, bCol).agg(count(lit(1)).as("cab"))
    val ma = joint.groupBy(aCol).agg(sum(col("cab")).as("ca"))
    val mb = joint.groupBy(bCol).agg(sum(col("cab")).as("cb"))
    val tot = joint.agg(sum(col("cab")).as("n"),
      countDistinct(col(aCol)).as("ka"), countDistinct(col(bCol)).as("kb"))
    // full cell grid (marginal cross product), observed joined in; absent
    // cells observe 0 — |A|×|B| rows, never data-sized
    val grid = ma.crossJoin(mb)
      .join(joint, Seq(aCol, bCol), "left")
      .withColumn("o", coalesce(col("cab"), lit(0L)))
    val e = col("ca").cast("double") * col("cb").cast("double") / col("n").cast("double")
    grid.crossJoin(broadcast(tot))
      .select(col("n"), col("ka"), col("kb"),
        round((col("o") - e) * (col("o") - e) / e * lit(1000000L))
          .cast(LongType).as("term_micro"))
      .groupBy(col("n").as("n_pairs"),
        ((col("ka") - 1) * (col("kb") - 1)).as("dof"))
      .agg(sum(col("term_micro")).as("chi2_micro"))
  }

  /** Exact floor division for longs — [[Ranks.floorDiv]] (integral `div`,
    * exact over the full 64-bit range; the old double-division shape was
    * off-by-one past 2⁵³, ADVICE r9 §2). */
  private def floorDiv(x: Column, w: Long): Column = Ranks.floorDiv(x, w)

  /** Exact ROC-AUC of an integer score against a boolean label, via the
    * tie-corrected rank-sum identity: over distinct score levels s
    * (ascending), with p_s positives, n_s negatives and cb_s = Σ negatives
    * strictly below s,
    *   2·U = Σ_s p_s · (2·cb_s + n_s),   AUC = U / (P·N).
    * All sufficient statistics are exact longs (the [[welchT]] contract);
    * only the final AUC division is floating, one fixed tree, emitted
    * micro-quantized.
    *
    * Scale shape: the global prefix sum over score levels is TWO-LEVEL —
    * levels hash-aggregate, then bucket by `floor(score/bucketWidth)`;
    * cumulative negatives across buckets is a window over the (range/W)-row
    * bucket frame, and within-bucket prefixes are windows PARTITIONED BY
    * bucket. No data-sized single-partition window anywhere (the naive
    * one-level shape is the classic AUC scale-killer). Pick `bucketWidth`
    * so the bucket count stays ~10³–10⁶: both frames then dwarf no
    * executor. Output, one row: `n_pos`, `n_neg`, `auc_num2` (= 2·U,
    * exact), `auc_micro` (null when either class is absent). */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val levels = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast(LongType).as("s"))
      .agg(count(when(col(labelCol), lit(1))).as("p"),
        count(when(!col(labelCol), lit(1))).as("n"))
    // negatives strictly below each score level — [[Ranks.runningSums]]
    val ranked = Ranks.runningSums(levels, floorDiv(col("s"), bucketWidth),
      Seq(col("s")), Seq("n" -> "cb"))
    ranked.agg(
        sum(col("p")).cast(LongType).as("n_pos"),
        sum(col("n")).cast(LongType).as("n_neg"),
        sum(col("p") * (col("cb") * 2 + col("n"))).cast(LongType).as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("auc_num2").cast("double")
            / (col("n_pos").cast("double") * col("n_neg").cast("double") * 2d) * 1e6)
            .cast(LongType)).as("auc_micro"))
  }

  /** Exact average precision (area under the precision–recall curve, the
    * class-imbalance-robust companion of [[rocAuc]]): rank rows by
    * (`scoreCol` DESC, `idCol` ASC — the id tie-break makes the ranking a
    * total order, so ties cost determinism nothing), then
    *   AP = mean over positive rows of precision@k = cumPos(k)/k.
    * Each precision term is pre-rounded to a micro integer and summed
    * exactly (the [[graft.operators.Lm.mutualInfo]] discipline); only the
    * final mean is one double division. Output, one row: `n_rows`,
    * `n_pos`, `ap_micro` (null when no positives).
    *
    * Scale shape: per-row ranks use the [[rocAuc]] two-level pattern in
    * DESCENDING score order — bucket counts/positives with a
    * bucket-frame window for cross-bucket offsets, per-bucket windows
    * within — never a data-sized single-partition sort. */
  def averagePrecision(df: DataFrame, scoreCol: String, idCol: String,
      labelCol: String, bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val rows = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull
        && col(idCol).isNotNull)
      .select(col(scoreCol).cast(LongType).as("s"), col(idCol).as("id"),
        col(labelCol).cast("boolean").as("y"))
      .withColumn("y1", when(col("y"), lit(1L)).otherwise(lit(0L)))
    val ranked = Ranks.twoLevel(rows, floorDiv(col("s"), bucketWidth),
      Seq(col("s").desc, col("id").asc), sums = Seq("y1" -> "cp"),
      posCol = Some("k"), inclusive = true, descBuckets = true)
    val terms = ranked.filter(col("y"))
      .select(round(col("cp").cast("double") / col("k").cast("double") * 1e6)
        .cast(LongType).as("tm"))
      .agg(coalesce(sum(col("tm")), lit(0L)).as("st"))
    rows.agg(count(lit(1)).as("n_rows"),
        count(when(col("y"), lit(1))).as("n_pos"))
      .crossJoin(broadcast(terms))
      .select(col("n_rows"), col("n_pos"),
        when(col("n_pos") > 0,
          round(col("st").cast("double") / col("n_pos").cast("double"))
            .cast(LongType)).as("ap_micro"))
  }

  /** Poisson-bootstrap thresholds: floor(CDF_Poisson(1)(k) · (2³¹−1)) for
    * k = 0..6, as exact long literals shared verbatim with the SQL oracle
    * (never recomputed with floating exp/factorial at runtime — two
    * engines' libm need not agree). Draws ≥ 7 are capped (P ≈ 8·10⁻⁵,
    * and the cap is part of the deterministic definition). The modulus is
    * 2³¹−1 because the per-replicate uniform comes from Kirsch–
    * Mitzenmacher double hashing (the [[graft.expressions.MinhashKernel]]
    * idiom). */
  private val poissonCdf31 = Seq(790015083L, 1580030167L, 1975037709L,
    2106706890L, 2139624185L, 2146207644L, 2147304887L)

  /** Poisson bootstrap of the mean (the SCALABLE bootstrap: per-row
    * independent Poisson(1) weights stand in for multinomial resampling,
    * so every replicate is one map-side-combined weighted aggregation —
    * no resampled copies of the data, no driver loop). Weights are
    * DETERMINISTIC: each row is md5-hashed ONCE into two 32-bit words
    * (w0, w1) and replicate r's uniform is (w0 + r·w1) mod (2³¹−1) — the
    * [[graft.expressions.MinhashKernel]] Kirsch–Mitzenmacher idiom, one md5 per
    * ROW instead of one per row×replicate (the naive form put 38M md5s
    * on q190's clock at sf0.1: 14.3 s → this shape) — pushed through the
    * Poisson(1) inverse CDF ([[poissonCdf31]]). The whole CI is a pure
    * function of (data, `reps`) and hash-compares across engines —
    * seeded-bootstrap reproducibility, which a production metrics
    * pipeline needs anyway.
    * Replicate means are micro-quantized; the CI bounds are the
    * (⌈0.025·B⌉)-th smallest/largest replicate means (ties broken by
    * replicate index), the SE is the sample stddev of the replicate
    * means. Output, one row: `n_rows`, `mean_micro` (full sample),
    * `boot_lo_micro`, `boot_hi_micro`, `boot_se_micro` (null when
    * `reps` < 2 effective replicates).
    *
    * Scale shape: one `reps`-way row expansion collapsing into B
    * per-replicate partials map-side (hash agg on the replicate key);
    * the only windows run over the B-row replicate table. */
  def poissonBootstrapMean(df: DataFrame, idCol: String, valueCol: String,
      reps: Int = 64): DataFrame = {
    require(reps >= 2, "need at least 2 replicates")
    val dec = DecimalType(38, 0)
    val base = df.filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        col(valueCol).cast(LongType).as("v"))
    val u = pmod(col("w0") + col("w1") * col("rep"), lit(2147483647L))
    val w = poissonCdf31.zipWithIndex.foldRight(lit(7L)) {
      case ((t, k), rest) => when(u < t, lit(k.toLong)).otherwise(rest)
    }
    val repStats = base
      .select(col("v"), graft.functions.Text.md5Word32(col("id"), 1).as("w0"),
        graft.functions.Text.md5Word32(col("id"), 9).as("w1"))
      .select(col("v"), col("w0"), col("w1"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("w", w)
      .groupBy("rep")
      .agg(sum(col("w") * col("v")).as("sv"), sum(col("w")).as("nw"))
      .filter(col("nw") > 0)
      .select(col("rep"),
        round(col("sv").cast("double") / col("nw").cast("double") * 1e6)
          .cast(LongType).as("m"))
    // ⌈0.025·B⌉ exactly as the scaladoc and the q190 oracle derive it —
    // round() differed from ceil() for some reps (e.g. 90), ADVICE r9 §4
    val loIdx = math.max(1L, math.ceil(0.025 * reps).toLong)
    val ranked = repStats
      .withColumn("ra", row_number().over(Window.orderBy(col("m"), col("rep"))))
      .withColumn("rd", row_number().over(
        Window.orderBy(col("m").desc, col("rep").desc)))
    val ci = ranked.agg(
      count(lit(1)).as("nb"),
      max(when(col("ra") === loIdx, col("m"))).as("lo"),
      max(when(col("rd") === loIdx, col("m"))).as("hi"),
      sum(col("m").cast(dec)).as("sm"),
      sum(col("m").cast(dec) * col("m").cast(dec)).as("sm2"))
    val full = base.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sv"))
    full.crossJoin(broadcast(ci)).select(
      col("n_rows"),
      when(col("n_rows") > 0,
        round(col("sv").cast("double") / col("n_rows").cast("double") * 1e6)
          .cast(LongType)).as("mean_micro"),
      col("lo").as("boot_lo_micro"), col("hi").as("boot_hi_micro"),
      when(col("nb") >= 2, round(sqrt(
        (col("sm2").cast("double")
          - col("sm").cast("double") * col("sm").cast("double")
            / col("nb").cast("double"))
          / (col("nb").cast("double") - 1d))).cast(LongType))
        .as("boot_se_micro"))
  }

  /** Per-group robust (median/MAD) outlier screen over an integer value
    * column — the heavy-tail-safe sibling of z-scores (mean/stddev break
    * under the very outliers being hunted). Entirely in integers: with
    * med2 = 2·median(x) and mad4 = 2·median(|2x − med2|) (both exact longs
    * — a median of longs is a multiple of ½), a row is an outlier iff
    *   |x − med| > (k10/10) · MAD  ⇔  20·|2x − med2| > k10·mad4,
    * so the flag is engine-exact with no floating point at all. mad4 = 0
    * (≥ half the group at the median) flags nothing — the conventional
    * MAD-screen degenerate-case rule.
    *
    * Scale shape: two window passes PARTITIONED BY the group (the
    * [[Grouping.medianByWindow]] discipline — parallel across groups,
    * spillable sort within), one final hash-agg. No global sort, no
    * per-group collect. Output per group: `n_rows`, `med_x2`, `mad_x4`,
    * `n_outliers`. */
  /** Exact 2·median of column `c` per group `g`: rank + count, average
    * the middle one/two (doubled to stay integral). `row_number` among
    * equal values is arbitrary, but the VALUE at any rank position is
    * not — the middle values are tie-order invariant. Shared by
    * [[robustOutliers]] (median + MAD) and [[brownForsythe]]. Output:
    * (`g`, `__m2_c`). The window partitions BY GROUP — per-group frames
    * spill but never serialize the whole table on one task. */
  private def med2Of(in: DataFrame, c: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col(c))
    in.withColumn("__rk", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("__rk") * 2 === col("__cnt")
        || col("__rk") * 2 === col("__cnt") + 1
        || col("__rk") * 2 === col("__cnt") + 2)
      .groupBy("g")
      // n odd → exactly one rank satisfies 2rk = n+1 (doubled twice);
      // n even → ranks n/2, n/2+1 sum to the doubled interpolation
      .agg((when(max(col("__cnt")) % 2 === 1, sum(col(c)) * 2)
        .otherwise(sum(col(c)))).as(s"__m2_$c"))
  }

  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k10: Int = 35): DataFrame = {
    require(k10 >= 0, "k10 must be >= 0")
    val x = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast(LongType).as("v"))
    val med = med2Of(x, "v").select(col("g"), col(s"__m2_v").as("med2"))
    val dev = x.join(med, Seq("g"))
      .withColumn("d2", abs(col("v") * 2 - col("med2")))
    val mad = med2Of(dev.select(col("g"), col("d2")), "d2")
      .select(col("g"), col("__m2_d2").as("mad4"))
    dev.join(mad, Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        max(col("med2")).as("med_x2"), max(col("mad4")).as("mad_x4"),
        count(when(col("mad4") > 0
          && col("d2") * 20 > col("mad4") * k10, lit(1))).as("n_outliers"))
  }

  /** Winsorized (clipped-tail) group mean — the robust location estimate
    * between [[robustOutliers]]'s median and the raw mean: per group,
    * clip the lowest and highest k = ⌊n·trimPct/100⌋ values to the
    * (k+1)-th smallest / (n−k)-th smallest value respectively, then
    * average — tail spikes stop dominating the mean without discarding
    * rows (Tukey's winsorization; the metric-aggregation standard for
    * heavy-tailed latencies/revenues). Bounds are EXACT order statistics
    * in a (value, id) total order, so the clip is deterministic under
    * ties; values are micro-quantized longs, the winsorized sum is an
    * exact long, and the mean is ONE final division (the repo-wide
    * oracle contract). trimPct = 0 degrades to the plain mean.
    *
    * Scale shape: per-group positions come from the shared two-level
    * [[Ranks]] machinery (range-bucketed — no data-sized per-group sort),
    * the two bounds are a filter + |groups|-sized agg, and the clip+mean
    * is one more hash-agg: no window ever holds more than a bucket cell.
    * The result is EAGER (the shared base frame is pinned for the call,
    * as [[Pinned]] states; a since-retired r13 replication probe measured
    * the whole op scan-tracking across 10× rows, 1.62→2.53 s GC-fenced, so
    * unlike tf-idf the pin is justified here: the base frame feeds FOUR
    * branches, not two).
    * Output per group: `n`, `k`, `lo_micro`, `hi_micro`, `wsum_micro`,
    * `wmean_micro`. */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, trimPct: Int = 10): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, "trimPct must be in [0, 50)")
    // x feeds four plan branches (range bounds, positions, counts, the
    // final clip join): pin it so the scan+quantization runs once per
    // action
    Pinned.scoped { pin =>
      val x = pin(df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
        .select(col(groupCol).as("g"),
          round(col(valueCol).cast("double") * 1e6).cast(LongType).as("__v"),
          col(idCol).as("__id")))
      val b = Ranks.withRangeBucket(x, "__v", "__bk")
      val pos = Ranks.twoLevel(b, col("__bk"), Seq(col("__v"), col("__id")),
        posCol = Some("__p"), partCols = Seq("g"))
      val nk = x.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .withColumn("k", Ranks.floorDiv(col("n") * trimPct, 100L))
      val bounds = pos.join(nk, Seq("g"))
        .filter(col("__p") === col("k") + 1 || col("__p") === col("n") - col("k"))
        .groupBy(col("g"))
        .agg(min(when(col("__p") === col("k") + 1, col("__v"))).as("lo_micro"),
          min(when(col("__p") === col("n") - col("k"), col("__v"))).as("hi_micro"))
      x.join(bounds, Seq("g")).join(nk, Seq("g"))
        .withColumn("__w",
          greatest(least(col("__v"), col("hi_micro")), col("lo_micro")))
        .groupBy(col("g").as(groupCol))
        .agg(max(col("n")).as("n"), max(col("k")).as("k"),
          max(col("lo_micro")).as("lo_micro"), max(col("hi_micro")).as("hi_micro"),
          sum(col("__w")).as("wsum_micro"))
        .withColumn("wmean_micro",
          round(col("wsum_micro").cast("double") / col("n").cast("double"))
            .cast(LongType))
        .localCheckpoint(true)
    }
  }

  /** Weight-of-evidence / information-value feature screen of a discrete
    * feature against a boolean outcome — the standard credit-scoring /
    * feature-selection diagnostic. Per feature level:
    *   WoE = ln((p/P)/(n/N)),   IV term = (p/P − n/N) · WoE,
    * with p,n the level's positive/negative counts and P,N the totals.
    * Counts are exact longs; WoE/IV use the engine-shared `ln` tree (the
    * [[Lm]] surprisal contract) and are micro-quantized. Levels pure in
    * either class emit null WoE (the conventional guard) and contribute
    * no IV. One hash-agg over the data + one broadcast of the 1-row
    * totals — nothing driver-side, no window at all. Output per level:
    * `pos`, `neg`, `woe_micro`, `iv_term_micro`. */
  def woeIv(df: DataFrame, featureCol: String, labelCol: String): DataFrame = {
    val lv = df.filter(col(featureCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(featureCol))
      .agg(count(when(col(labelCol), lit(1))).as("pos"),
        count(when(!col(labelCol), lit(1))).as("neg"))
    val tot = lv.agg(sum(col("pos")).as("P"), sum(col("neg")).as("N"))
    val rp = col("pos").cast("double") / col("P").cast("double")
    val rn = col("neg").cast("double") / col("N").cast("double")
    val woe = log(rp / rn)
    lv.crossJoin(broadcast(tot)).select(
      col(featureCol), col("pos"), col("neg"),
      when(col("pos") > 0 && col("neg") > 0,
        round(woe * 1e6).cast(LongType)).as("woe_micro"),
      coalesce(when(col("pos") > 0 && col("neg") > 0,
        round((rp - rn) * woe * 1e6).cast(LongType)), lit(0L)).as("iv_term_micro"))
  }

  /** Population-stability index between two snapshots of a discrete
    * feature — the drift monitor run between training-time and serving-
    * time distributions (the temporal sibling of [[woeIv]]): per level,
    *   PSI term = (p − q) · ln(p/q),
    * with p the level's share in `a` and q its share in `b`. Levels
    * missing from one side get a null term and a `one_sided` flag instead
    * of the epsilon fudge — silent epsilon terms hide exactly the
    * appeared/vanished levels an alert should scream about. Counts exact;
    * the term is the engine-shared ln tree, micro-quantized. Two hash-aggs
    * + a full-outer level join (|levels|-sized) + one broadcast totals row.
    * Output per level: `n_a`, `n_b`, `one_sided`, `psi_term_micro`. */
  def psi(a: DataFrame, b: DataFrame, featureCol: String): DataFrame = {
    def side(df: DataFrame, n: String) = df.filter(col(featureCol).isNotNull)
      .groupBy(col(featureCol)).agg(count(lit(1)).as(n))
    val lv = side(a, "n_a").join(side(b, "n_b"), Seq(featureCol), "full_outer")
      .select(col(featureCol), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = lv.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val p = col("n_a").cast("double") / col("ta").cast("double")
    val q = col("n_b").cast("double") / col("tb").cast("double")
    lv.crossJoin(broadcast(tot)).select(
      col(featureCol), col("n_a"), col("n_b"),
      (col("n_a") === 0 || col("n_b") === 0).as("one_sided"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round((p - q) * log(p / q) * 1e6).cast(LongType)).as("psi_term_micro"))
  }

  /** Benford first-significant-digit audit of a positive integer measure
    * — the fabricated-data / unit-mixup smell test: observed share of
    * leading digits 1–9 against Benford's log₁₀(1 + 1/d) expectation.
    * The leading digit comes from the value's decimal STRING (exact on
    * any engine — never floor(v/10^floor(log10 v)), whose double log
    * misassigns exact powers of ten). Output per digit: `n`,
    * `share_micro`, `benford_micro`, `dev_micro` (observed − expected;
    * Σ|dev| is the headline drift number). One hash-agg over 9 groups. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast(LongType)
    val d = df.filter(v.isNotNull && v > 0)
      .select(substring(v.cast("string"), 1, 1).cast(LongType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = d.agg(sum(col("n")).as("t"))
    val share = col("n").cast("double") / col("t").cast("double")
    val expd = log(lit(1d) + lit(1d) / col("digit").cast("double")) / log(lit(10d))
    d.crossJoin(broadcast(tot)).select(
      col("digit"), col("n"),
      round(share * 1e6).cast(LongType).as("share_micro"),
      round(expd * 1e6).cast(LongType).as("benford_micro"),
      (round(share * 1e6).cast(LongType)
        - round(expd * 1e6).cast(LongType)).as("dev_micro"))
  }

  /** Cohen's kappa — chance-corrected agreement between two discrete
    * labelings of the same rows (gold vs heuristic, annotator vs model):
    *   κ = (pₒ − pₑ)/(1 − pₑ) = (N·Σₖnₖₖ − Σₖrₖcₖ)/(N² − Σₖrₖcₖ),
    * with nₖₖ the diagonal counts and rₖ, cₖ the marginals. The right-hand
    * form is the one computed: both numerator and denominator are EXACT
    * integer sums (rₖcₖ accumulated in Decimal(38,0) — marginal products
    * pass 2⁶³ at fleet scale), one final shared division, micro-quantized.
    * Rows null on either side are dropped. One hash-agg over the
    * |A|×|B|-cell contingency table + two marginal aggs. Output, one row:
    * `n_rows`, `n_agree`, `kappa_micro` (null when pₑ = 1 — a degenerate
    * single-cell table). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val joint = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("la"), col(bCol).as("lb"))
      .agg(count(lit(1)).as("c"))
    val ra = joint.groupBy(col("la")).agg(sum(col("c")).as("r"))
    val cb = joint.groupBy(col("lb")).agg(sum(col("c")).as("cc"))
    val rc = ra.join(cb, col("la") === col("lb"))
      .agg(coalesce(sum(col("r").cast(dec) * col("cc").cast(dec)),
        lit(0).cast(dec)).as("src"))
    val base = joint.agg(sum(col("c")).as("n"),
      sum(when(col("la") === col("lb"), col("c")).otherwise(lit(0L))).as("agree"))
    base.crossJoin(broadcast(rc)).select(
      col("n").cast(LongType).as("n_rows"),
      col("agree").cast(LongType).as("n_agree"),
      when(col("n").cast(dec) * col("n").cast(dec) =!= col("src"),
        round((col("n").cast("double") * col("agree").cast("double")
            - col("src").cast("double"))
          / (col("n").cast("double") * col("n").cast("double")
            - col("src").cast("double")) * 1e6).cast(LongType))
        .as("kappa_micro"))
  }

  /** Fleiss' kappa (r13 ✚) — chance-corrected agreement among MANY raters
    * ([[cohenKappa]] is the two-rater special case): each input row is one
    * rating (item, category); items rated by nᵢ ≥ 2 raters contribute
    *   Pᵢ = (Σₖ nᵢₖ² − nᵢ) / (nᵢ(nᵢ−1)),   P̄ = mean Pᵢ,
    *   pₖ = Σᵢ nᵢₖ / N,   P̄ₑ = Σₖ pₖ²,   κ = (P̄ − P̄ₑ)/(1 − P̄ₑ)
    * (Fleiss 1971, with the standard variable-nᵢ generalization; items
    * with nᵢ < 2 are dropped from BOTH P̄ and the marginals). The
    * annotation-QA gate of a labeling pipeline: κ ≲ 0.4 means the label
    * guidelines, not the model, are the problem.
    *
    * Determinism: all counts are exact longs; Pᵢ and the pₖ² terms are
    * nano-quantized by INTEGER floor division (marginal squares ride
    * Decimal(38,0) — nₖ²·10⁹ passes 2⁶³ at fleet scale) and summed
    * exactly, so only the final κ division is floating point — one
    * mirrored double tree over exact longs (the [[cohenKappa]] contract).
    * Scale shape: one hash-agg to the (item, category) cell table, an
    * item-keyed and a category-keyed agg over it, three broadcast 1-row
    * frames — no window, no join against raw ratings. Output, one row:
    * `n_items`, `n_ratings`, `pbar_nano`, `pe_nano`, `kappa_micro`
    * (null when P̄ₑ = 1 — the degenerate single-category input). */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = df.filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(categoryCol).as("__k"))
      .agg(count(lit(1)).as("c"))
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("c")).as("ni"), sum(col("c") * col("c")).as("ni2"))
      .filter(col("ni") >= 2)
      // Pi_nano = floor(1e9 * (Σc² − n) / (n(n−1))) — integral inputs,
      // exact 64-bit numerator (1e9·Σc² needs n ≤ ~3e4 ratings per item;
      // Decimal(38,0) lifts that to fleet scale)
      .withColumn("pi_nano",
        call_function("div",
          (col("ni2") - col("ni")).cast(dec) * lit(1000000000L).cast(dec),
          (col("ni") * (col("ni") - 1)).cast(dec)).cast(LongType))
    val keep = items.select(col("__i"), col("ni"))
    val pbar = items.agg(count(lit(1)).as("n_items"),
      sum(col("ni")).as("n_ratings"),
      call_function("div", sum(col("pi_nano")), count(lit(1))).as("pbar_nano"))
    val marg = cells.join(keep, Seq("__i"))
      .groupBy(col("__k")).agg(sum(col("c")).as("nk"))
    val pe = marg.crossJoin(broadcast(pbar.select(col("n_ratings").as("__N"))))
      // pk² term, nano-quantized: floor(1e9·nk² / N²) — exact integer
      // division in Decimal(38,0), summed exactly
      .select(call_function("div",
        col("nk").cast(dec) * col("nk").cast(dec) * lit(1000000000L).cast(dec),
        col("__N").cast(dec) * col("__N").cast(dec)).cast(LongType).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("pe_nano"))
    pbar.crossJoin(broadcast(pe)).select(
      col("n_items").cast(LongType), col("n_ratings").cast(LongType),
      col("pbar_nano").cast(LongType), col("pe_nano"),
      when(col("pe_nano") =!= 1000000000L,
        round((col("pbar_nano") - col("pe_nano")).cast("double")
          / (lit(1000000000L) - col("pe_nano")).cast("double") * 1e6)
          .cast(LongType)).as("kappa_micro"))
  }

  /** Power-law (Zipf) tail exponent (r13 ✚) — the discrete MLE
    * approximation of Clauset, Shalizi & Newman (SIAM Rev. 2009, eq. 3.7):
    *   α̂ = 1 + n / Σᵢ ln(xᵢ / (x_min − ½))
    * over the tail x ≥ x_min. The corpus-distribution health check next
    * to [[benford]]: token/domain/user frequency tables should sit near
    * Zipf (α ≈ 2); a collapsing α flags boilerplate flooding or dedup
    * failure, a steepening one vocabulary collapse — readable BEFORE any
    * model sees the data. Also reports the tail mass so the α is never
    * quoted without its support.
    *
    * Determinism: each ln term is nano-quantized per ROW and summed as an
    * exact long (the [[Lm]] surprisal quantize-then-sum contract — a raw
    * double Σln depends on partition order), so α is ONE final mirrored
    * double expression over (n, Σ). Scale shape: a filter + one
    * map-side-combined agg — no shuffle beyond the 1-row result, no
    * window. Output, one row: `n_tail`, `x_min`, `sum_ln_nano`,
    * `alpha_micro` (null ONLY on an empty tail: with the x_min − ½ shift
    * every tail term ln(x/(x_min−0.5)) is strictly positive for
    * x ≥ x_min ≥ 1, so Σ = 0 is unreachable on a non-empty tail — the
    * `sum_ln_nano > 0` guard is belt-and-braces, and the all-x_min case
    * yields a non-null α, as StatsSpec asserts). */
  def powerLawAlpha(df: DataFrame, valueCol: String, xMin: Long = 2L): DataFrame = {
    require(xMin >= 1, "xMin must be >= 1")
    val x = col(valueCol).cast("double")
    val term = round(log(x / lit(xMin.toDouble - 0.5)) * 1e9).cast(LongType)
    df.filter(col(valueCol).isNotNull && col(valueCol).cast(LongType) >= xMin)
      .agg(count(lit(1)).as("n_tail"),
        coalesce(sum(term), lit(0L)).as("sum_ln_nano"))
      .select(col("n_tail"), lit(xMin).as("x_min"), col("sum_ln_nano"),
        when(col("n_tail") > 0 && col("sum_ln_nano") > 0,
          round((lit(1.0) + col("n_tail").cast("double") * 1e9
            / col("sum_ln_nano").cast("double")) * 1e6).cast(LongType))
          .as("alpha_micro"))
  }

  /** Split-conformal calibration threshold (r13 ✚) — per group, the
    * q̂ = ⌈(n+1)(1−α)⌉-th smallest of n calibration nonconformity scores
    * (Vovk's split-conformal quantile; Angelopoulos & Bates 2021): any
    * future prediction whose score exceeds q̂ is flagged/abstained, with
    * the finite-sample ≥ 1−α coverage guarantee. The modern eval-infra
    * gate for model-in-the-loop data pipelines (LLM-judge abstention,
    * autolabel acceptance) — the principled replacement for an eyeballed
    * score cutoff. α is given in percent; k = ⌈(n+1)(100−αPct)/100⌉ by
    * INTEGER arithmetic ((n+1)(100−αPct)+99 div 100 — exact, no double
    * ceil). Groups with k > n emit a null threshold (coverage 1−α is
    * unattainable from n points — the standard small-n refusal).
    *
    * Determinism: scores are micro-quantized longs and q̂ is an EXACT
    * order statistic in a (value, id) total order — ties and reruns
    * cannot move it. Scale shape: the [[winsorizedMean]] machinery —
    * per-group positions from the two-level [[Ranks]] buckets (no
    * data-sized per-group sort), one |groups|-sized bound agg;
    * the shared base frame pinned for the call, eager result. Output per
    * group: `n`, `k`, `qhat_micro`. */
  def conformalThreshold(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, alphaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99, "alphaPct must be in [1, 99]")
    Pinned.scoped { pin =>
      val x = pin(df.filter(col(groupCol).isNotNull && col(scoreCol).isNotNull)
        .select(col(groupCol).as("g"),
          round(col(scoreCol).cast("double") * 1e6).cast(LongType).as("__v"),
          col(idCol).as("__id")))
      val b = Ranks.withRangeBucket(x, "__v", "__bk")
      val pos = Ranks.twoLevel(b, col("__bk"), Seq(col("__v"), col("__id")),
        posCol = Some("__p"), partCols = Seq("g"))
      val nk = x.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .withColumn("k", Ranks.floorDiv(
          (col("n") + 1) * (100 - alphaPct) + 99, 100L))
      val qhat = pos.join(nk, Seq("g"))
        .filter(col("__p") === col("k"))
        .groupBy(col("g"))
        .agg(min(col("__v")).as("qhat_micro"))
      nk.join(qhat, Seq("g"), "left")
        .select(col("g").as(groupCol), col("n"), col("k"),
          when(col("k") <= col("n"), col("qhat_micro")).as("qhat_micro"))
        .localCheckpoint(true)
    }
  }

  /** Bradley–Terry preference strengths (r13 ✚) — aggregate pairwise
    * preference outcomes (A beat B) into per-item strengths, the standard
    * model for preference/comparison data (Bradley & Terry 1952): under
    * P(i beats j) = sᵢ/(sᵢ+sⱼ), the MM update (Hunter 2004)
    *   sᵢ ← Wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ)
    * (Wᵢ = i's total wins, nᵢⱼ = games between i and j) converges to the
    * MLE. `rounds` fixed iterations from a uniform start — the corpus-QA
    * readout for preference datasets: which responses/sources actually
    * win head-to-heads, strength-scaled rather than raw win-rate-scaled
    * (win rate over-rewards items that only met weak opponents).
    *
    * Determinism: strengths live as micro-longs; each per-edge term and
    * each update is an INTEGER floor division on Decimal(38,0) products
    * (floor(nᵢⱼ·10¹²/(sᵢ+sⱼ)), then floor(Wᵢ·10¹²/denom)) and the
    * per-item denominator an exact long sum — NO floating point anywhere,
    * bit-identical on any engine (the pagerank-oracle arithmetic).
    * Zero-win items rest at exactly 0; winners clamp at ≥ 1 micro so no
    * live edge can reach a zero denominator (two all-loser items can
    * never share an edge — their mutual game crowned one of them).
    * `share_micro` = floor(sᵢ·10⁶/Σs) normalizes the scale away.
    *
    * Scale shape: games collapse to the unordered-pair count table (one
    * hash-agg, the only data-sized pass); each round is two item-keyed
    * joins of the ≤ 2·|pairs| edge table against the |items|-sized
    * strength frame + one hash-agg, with the strength frame
    * `localCheckpoint(true)`-pinned per round (the [[Graph.pageRank]]
    * lineage discipline — never a `rounds`-deep lazy plan). Output per
    * item: `n_games`, `n_wins`, `strength_micro`, `share_micro`. */
  def bradleyTerry(games: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int = 6): DataFrame =
    bradleyTerryFromPairs(pairState(games, winnerCol, loserCol), rounds)

  /** Standing preference state (r14 ✚, VERDICT r13 missing #4) — the
    * unordered-pair count table [[bradleyTerry]] collapses games into,
    * materialized as a store: one row per item pair with `item_i` <
    * `item_j`, carrying `n_ij` (games between them) and `wins_i` (games
    * the LEXICALLY-SMALLER item won; j's wins are the difference). This
    * is the natural parquet standing store for preference data: bounded
    * by distinct pairs (≤ |items|²/2), never by game volume — the
    * sufficient statistic of the whole BT model, so readout from the
    * store is EXACTLY readout from full history (q245 is that gate).
    * Same row hygiene as the direct path: null winner/loser and self-play
    * rows dropped.
    *
    * Scale shape: ONE map-side-combined hash-agg over games — the only
    * data-sized pass the whole family ever makes. */
  def pairState(games: DataFrame, winnerCol: String,
      loserCol: String): DataFrame =
    games
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull
        && col(winnerCol) =!= col(loserCol))
      .select(least(col(winnerCol), col(loserCol)).as("item_i"),
        greatest(col(winnerCol), col(loserCol)).as("item_j"),
        when(col(winnerCol) < col(loserCol), lit(1L)).otherwise(lit(0L))
          .as("__wi"))
      .groupBy(col("item_i"), col("item_j"))
      .agg(count(lit(1)).as("n_ij"), sum(col("__wi")).as("wins_i"))

  /** Incremental preference ingest: fold a game-batch DELTA into a
    * standing [[pairState]] WITHOUT re-reading history — collapse the
    * batch to its own pair counts, union, re-aggregate. Counts are
    * additive, so the fold is order-FREE across disjoint deltas (batches
    * commute) but NOT idempotent: each game must be folded exactly once
    * (the [[graft.operators.Sequences.ingestTransitions]] delta contract,
    * unlike the set-union period store). Readout via
    * [[bradleyTerryFromPairs]] must hash-match the full-history
    * [[bradleyTerry]] — q245 IS that equivalence gate.
    *
    * Scale shape: the batch-sized hash-agg plus one state-sized
    * re-aggregation — never touches historical games. */
  def ingestGames(state: DataFrame, batch: DataFrame, winnerCol: String,
      loserCol: String): DataFrame =
    state.unionByName(pairState(batch, winnerCol, loserCol))
      .groupBy(col("item_i"), col("item_j"))
      .agg(sum(col("n_ij")).as("n_ij"), sum(col("wins_i")).as("wins_i"))

  /** [[bradleyTerry]]'s MM readout over a standing [[pairState]] — the
    * pair table is the model's sufficient statistic, so this is
    * bit-identical to recomputing from raw games (per-item wins
    * reconstruct as Σ wins_i on the item_i side + Σ (n_ij − wins_i) on
    * the item_j side). Same integer-only arithmetic, same pinned
    * per-round lineage, same output columns as the direct path. */
  def bradleyTerryFromPairs(state: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds must be in [1, 20]")
    val dec = DecimalType(38, 0)
    val pairs = state.select(col("item_i").as("__i"), col("item_j").as("__j"),
      col("n_ij"), col("wins_i"))
    val edges = pairs
      .select(col("__i").as("item"), col("__j").as("other"), col("n_ij"),
        col("wins_i").as("__w"))
      .unionByName(pairs
        .select(col("__j").as("item"), col("__i").as("other"), col("n_ij"),
          (col("n_ij") - col("wins_i")).as("__w")))
      .localCheckpoint(true) // pinned: 2 joins per round read these blocks
    val base = edges.groupBy(col("item"))
      .agg(sum(col("n_ij")).as("n_games"), sum(col("__w")).as("n_wins"))
      .localCheckpoint(true)
    var s = base.select(col("item"), lit(1000000L).as("s"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val denom = edges
        .join(s.select(col("item"), col("s").as("__si")), Seq("item"))
        .join(s.select(col("item").as("other"), col("s").as("__sj")), Seq("other"))
        .select(col("item"), call_function("div",
          col("n_ij").cast(dec) * lit(1000000000000L).cast(dec),
          (col("__si") + col("__sj")).cast(dec)).cast(LongType).as("__c"))
        .groupBy(col("item")).agg(sum(col("__c")).as("__d"))
      s = base.select(col("item"), col("n_wins"))
        .join(denom, Seq("item"), "left")
        .select(col("item"),
          when(col("n_wins") > 0 && col("__d").isNotNull && col("__d") > 0,
            greatest(lit(1L), call_function("div",
              col("n_wins").cast(dec) * lit(1000000000000L).cast(dec),
              col("__d").cast(dec)).cast(LongType)))
            .otherwise(lit(0L)).as("s"))
        .localCheckpoint(true)
    }
    val tot = s.agg(sum(col("s")).as("__t"))
    base.join(s, Seq("item")).crossJoin(broadcast(tot))
      .select(col("item"), col("n_games"), col("n_wins"),
        col("s").as("strength_micro"),
        when(col("__t") > 0, call_function("div",
          col("s").cast(dec) * lit(1000000L).cast(dec),
          col("__t").cast(dec)).cast(LongType)).as("share_micro"))
  }

  /** Per-distinct-value counts with exclusive prefix totals, via the
    * [[rocAuc]] two-level shape: hash-agg to levels, bucket by
    * floor(value/W), a bucket-count-sized window for cross-bucket
    * offsets, per-bucket windows within. Output: (`__pv`, `__pc`,
    * `__below`). Shared by [[ksTest]]/[[spearman]]. */
  private def prefixCounts(vals: DataFrame, valueCol: String,
      bucketWidth: Long): DataFrame = {
    val lv = vals.groupBy(col(valueCol).cast(LongType).as("__pv"))
      .agg(count(lit(1)).as("__pc"))
    Ranks.runningSums(lv, floorDiv(col("__pv"), bucketWidth),
        Seq(col("__pv")), Seq("__pc" -> "__below"))
      .select(col("__pv"), col("__pc"), col("__below"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over an integer measure —
    * the CONTINUOUS drift monitor ([[psi]] is its categorical sibling):
    *   D = max_v |F_a(v) − F_b(v)|,
    * computed as the exact integer max_v |n_b·CumA(v) − n_a·CumB(v)|
    * over the merged distinct-value grid (products in Decimal(38,0) —
    * count products pass 2⁶³ at fleet scale), divided once at the end.
    * Ties and step positions are handled exactly by evaluating at every
    * distinct value of EITHER sample — no binning approximation. Output,
    * one row: `n_a`, `n_b`, `ks_micro` (null when either side is empty).
    *
    * Scale shape: two level hash-aggs, one |levels|-sized full-outer
    * merge, the [[rocAuc]] two-level prefix sum, one max agg — no
    * data-sized single-partition window. */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    def side(df: DataFrame, n: String) = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast(LongType).as("__pv"))
      .agg(count(lit(1)).as(n))
    val merged = side(a, "ca").join(side(b, "cb"), Seq("__pv"), "full_outer")
      .select(col("__pv"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val cum = Ranks.runningSums(merged, floorDiv(col("__pv"), bucketWidth),
      Seq(col("__pv")), Seq("ca" -> "cuma", "cb" -> "cumb"), inclusive = true)
    val tot = cum.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        abs(col("nb").cast(dec) * col("cuma").cast(dec)
          - col("na").cast(dec) * col("cumb").cast(dec)).as("dn"))
      .groupBy(col("na").cast(LongType).as("n_a"),
        col("nb").cast(LongType).as("n_b"))
      .agg(max(col("dn")).as("dmax"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("dmax").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")) * 1e6)
            .cast(LongType)).as("ks_micro"))
  }

  /** Per-group [[ksTest]] — every segment's drift statistic in ONE pass
    * (the per-segment sweep a monitoring job wants: G segments cost one
    * shuffle keyed on (group, value-bucket), not G jobs). Same exact
    * integer max-over-step-grid semantics per group; all windows gain the
    * group as a partition key, so the "global" bucket frame is per-group
    * bucket-count-sized and the whole sweep stays parallel across
    * segments. Output per group: `n_a`, `n_b`, `ks_micro`. */
  def ksTestByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String, bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    def side(df: DataFrame, n: String) = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(valueCol).cast(LongType).as("__pv"))
      .agg(count(lit(1)).as(n))
    val merged = side(a, "ca").join(side(b, "cb"), Seq("g", "__pv"), "full_outer")
      .select(col("g"), col("__pv"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val cum = Ranks.twoLevel(merged, floorDiv(col("__pv"), bucketWidth),
      Seq(col("__pv")), sums = Seq("ca" -> "cuma", "cb" -> "cumb"),
      inclusive = true, partCols = Seq("g"))
    val tot = cum.groupBy("g")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.join(tot, Seq("g"))
      .select(col("g"), col("na"), col("nb"),
        abs(col("nb").cast(dec) * col("cuma").cast(dec)
          - col("na").cast(dec) * col("cumb").cast(dec)).as("dn"))
      .groupBy(col("g").as(groupCol), col("na").cast(LongType).as("n_a"),
        col("nb").cast(LongType).as("n_b"))
      .agg(max(col("dn")).as("dmax"))
      .select(col(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("dmax").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")) * 1e6)
            .cast(LongType)).as("ks_micro"))
  }

  /** Exact Spearman rank correlation between two integer measures —
    * Pearson over tie-averaged ranks, with every rank an exact integer:
    * the DOUBLED average rank of value v is 2·below(v) + cnt(v) + 1. Rank
    * sums accumulate in Decimal(38,0); the final correlation is one
    * fixed double tree over those exact sums, micro-quantized. Rows null
    * in either column are dropped (pairwise-complete). Output, one row:
    * `n_rows`, `rho_micro` (null when either margin is constant).
    *
    * Scale shape: two [[prefixCounts]] level structures (two-level
    * prefix sums, never a global single-partition window) + two keyed
    * joins attaching each row's rank + one final agg. */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast(LongType).as("__x"), col(yCol).cast(LongType).as("__y"))
    val rx = prefixCounts(rows.select(col("__x").as("v")), "v", bucketWidth)
      .select(col("__pv").as("__x"),
        (col("__below") * 2 + col("__pc") + 1).as("__rx"))
    val ry = prefixCounts(rows.select(col("__y").as("v")), "v", bucketWidth)
      .select(col("__pv").as("__y"),
        (col("__below") * 2 + col("__pc") + 1).as("__ry"))
    val ranked = rows.join(rx, Seq("__x")).join(ry, Seq("__y"))
    val s = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("__rx").cast(dec)).as("sx"), sum(col("__ry").cast(dec)).as("sy"),
      // cast BEFORE multiplying: a doubled rank is ≤ 2n+1, so its square
      // overflows a long at fleet scale if multiplied in LongType
      sum(col("__rx").cast(dec) * col("__rx").cast(dec)).as("sxx"),
      sum(col("__ry").cast(dec) * col("__ry").cast(dec)).as("syy"),
      sum(col("__rx").cast(dec) * col("__ry").cast(dec)).as("sxy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = nd * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    s.select(col("n").cast(LongType).as("n_rows"),
      when(vx > 0 && vy > 0,
        round(num / (sqrt(vx) * sqrt(vy)) * 1e6).cast(LongType)).as("rho_micro"))
  }

  /** Mann–Whitney U / Wilcoxon rank-sum test (Mann & Whitney 1947) — the
    * nonparametric sibling of [[welchT]]: does group `a` stochastically
    * dominate group `b`, decided from tie-averaged ranks rather than
    * means, so it survives the heavy-tailed spend/length distributions a
    * t-test mis-models. Ranks use the [[spearman]] doubled-midrank
    * identity (2·rank(v) = 2·below(v) + cnt(v) + 1, exact longs);
    *   U_a = R_a − n_a(n_a+1)/2,
    * kept doubled (`u2_a` = 2·U_a) so it stays integral, with the normal
    * approximation z tie-corrected per Lehmann:
    *   σ² = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))).
    * Rank and tie sums accumulate in Decimal(38,0) (a doubled rank sum
    * is ≤ N(2N+1) — past 2⁶³ at fleet scale); the z is ONE fixed double
    * tree over those exact sums, micro-quantized. Output, one row:
    * `n_a`, `n_b`, `u2_a` (exact; EMITTED as long, so it nulls via the
    * non-ANSI Decimal cast past ±2⁶³ — at that scale read `z_micro`,
    * which is computed from the unrounded Decimal), `z_micro` (null when
    * either side is empty or every value is tied — a degenerate test).
    *
    * Scale shape: one level hash-agg + the [[rocAuc]] two-level prefix
    * sum over distinct values + one final agg — no data-sized
    * single-partition window, shuffle volume |levels|, not rows. */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      a: Any, b: Any, bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val rows = df.filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull)
      .select((col(groupCol) === lit(a)).as("__isa"),
        col(valueCol).cast(LongType).as("__v"))
    mwCore(rows, Nil, bucketWidth)
  }

  /** [[mannWhitney]] per segment in ONE pass (the [[ksTestByGroup]]
    * shape): the per-cohort A/B drift screen. Ranks are computed WITHIN
    * each segment — the per-segment prefix sums ride [[Ranks.twoLevel]]'s
    * grouped path, so every window stays (segment × bucket)-sized. Null
    * segments are dropped. Output, one row per segment: `segCol`, `n_a`,
    * `n_b`, `u2_a`, `z_micro`. */
  def mannWhitneyByGroup(df: DataFrame, segCol: String, groupCol: String,
      valueCol: String, a: Any, b: Any,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val rows = df.filter(col(segCol).isNotNull
        && col(groupCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(segCol).as("__seg"),
        (col(groupCol) === lit(a)).as("__isa"),
        col(valueCol).cast(LongType).as("__v"))
    mwCore(rows, Seq("__seg"), bucketWidth)
      .withColumnRenamed("__seg", segCol)
  }

  /** Shared Mann–Whitney machinery over (`partCols`…, __isa, __v) rows:
    * level counts → grouped two-level prefix → exact rank/tie sums →
    * the one fixed z tree. */
  private def mwCore(rows: DataFrame, partCols: Seq[String],
      bucketWidth: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    val lv = rows.groupBy((partCols :+ "__v").map(col): _*).agg(
        count(when(col("__isa"), lit(1))).as("ca"),
        count(when(!col("__isa"), lit(1))).as("cb"))
      .withColumn("tot", col("ca") + col("cb"))
    val cum = Ranks.twoLevel(lv, floorDiv(col("__v"), bucketWidth),
      Seq(col("__v")), sums = Seq("tot" -> "below"), partCols = partCols)
    val r2 = col("below") * 2 + col("tot") + 1
    val aggs = Seq(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum(col("ca").cast(dec) * r2.cast(dec)).as("r2a"),
      sum(col("tot").cast(dec) * col("tot").cast(dec) * col("tot").cast(dec)
        - col("tot").cast(dec)).as("ties"))
    val t =
      if (partCols.isEmpty) cum.agg(aggs.head, aggs.tail: _*)
      else cum.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val (na, nb) = (col("na").cast("double"), col("nb").cast("double"))
    val u2a = col("r2a") - col("na").cast(dec) * (col("na") + 1).cast(dec)
    val nd = na + nb
    val varInner = (nd + 1) - col("ties").cast("double") / (nd * (nd - 1))
    t.select(partCols.map(col) ++ Seq(
      col("na").cast(LongType).as("n_a"), col("nb").cast(LongType).as("n_b"),
      u2a.cast(LongType).as("u2_a"),
      when(col("na") > 0 && col("nb") > 0 && varInner > 0,
        round((u2a.cast("double") - na * nb)
          / (lit(2d) * sqrt(na * nb * varInner / 12)) * 1e6)
          .cast(LongType)).as("z_micro")): _*)
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945) — the PAIRED sibling of
    * [[mannWhitney]]: did the per-key measure move between two paired
    * observations (before/after, A-exposure/B-exposure on the SAME key),
    * decided from ranks of |x−y|. Zero differences are dropped (the
    * standard convention); ranks are tie-averaged doubled midranks over
    * distinct |d| levels, W⁺ kept doubled (`w2_plus` = 2·W⁺, exact), and
    * the normal approximation tie-corrects per the classical variance
    *   σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48.
    * Rank and tie sums accumulate in Decimal(38,0); z is ONE fixed double
    * tree, micro-quantized. Output, one row: `n_pairs` (both sides
    * non-null), `n_nonzero`, `w2_plus` (exact; the long emission nulls
    * past ±2⁶³ — read `z_micro` at that scale, it is computed from the
    * unrounded Decimal), `z_micro` (null only when no
    * nonzero difference survives — unlike [[mannWhitney]], an all-tied
    * |d| level keeps σ² > 0: the variance is over SIGN assignment, and
    * ties only shave the Σ(t³−t)/48 term, never to zero for n ≥ 1).
    *
    * Scale shape: one row-wise diff projection, one |d|-level hash-agg,
    * the [[rocAuc]] two-level prefix sum, one final agg. */
  def wilcoxonSignedRank(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    val d0 = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(xCol).cast(LongType) - col(yCol).cast(LongType)).as("__d"))
    val npairs = d0.agg(count(lit(1)).as("npairs"))
    val lv = d0.filter(col("__d") =!= 0)
      .groupBy(abs(col("__d")).as("__v"))
      .agg(count(when(col("__d") > 0, lit(1))).as("cp"),
        count(when(col("__d") < 0, lit(1))).as("cn"))
      .withColumn("tot", col("cp") + col("cn"))
    val cum = Ranks.runningSums(lv, floorDiv(col("__v"), bucketWidth),
      Seq(col("__v")), Seq("tot" -> "below"))
    val r2 = col("below") * 2 + col("tot") + 1
    val t = cum.agg(
      sum(col("tot")).as("nn"),
      sum(col("cp").cast(dec) * r2.cast(dec)).as("w2p"),
      sum(col("tot").cast(dec) * col("tot").cast(dec) * col("tot").cast(dec)
        - col("tot").cast(dec)).as("ties"))
    val nd = coalesce(col("nn"), lit(0L)).cast("double")
    val num = coalesce(col("w2p").cast("double"), lit(0d)) - nd * (nd + 1) / 2
    val varr = nd * (nd + 1) * (nd * 2 + 1) / 24 -
      coalesce(col("ties").cast("double"), lit(0d)) / 48
    t.crossJoin(broadcast(npairs)).select(
      col("npairs").cast(LongType).as("n_pairs"),
      coalesce(col("nn"), lit(0L)).cast(LongType).as("n_nonzero"),
      coalesce(col("w2p"), lit(0).cast(dec)).cast(LongType).as("w2_plus"),
      when(col("nn") >= 1 && varr > 0,
        round(num / (lit(2d) * sqrt(varr)) * 1e6).cast(LongType))
        .as("z_micro"))
  }

  /** One-way fixed-effects ANOVA (Fisher) — the parametric k-group
    * sibling of [[kruskalWallis]] (and [[welchT]]'s k-group extension
    * under equal-variance pooling): does the group mean differ anywhere,
    * reported as the variance-explained effect size η² = SSB/SST and the
    * F statistic. Per the [[chiSquared]] quantize-then-sum contract the
    * cross-group sum never rides free doubles: SST comes from ONE fixed
    * double expression over exact Decimal(38,0) global sums, each
    * group's bounded share n_g·(x̄_g − x̄)²/SST ∈ [0,1] is
    * micro-quantized to a long, and the long total is `eta2_micro`
    * (partition-order independent); F is then one deterministic tree
    *   F = (η²/(k−1)) / ((1−η²)/(N−k))
    * over that exact long. Output, one row: `n_total`, `k`,
    * `dof_between` = k−1, `dof_within` = N−k, `eta2_micro`, `f_micro`
    * (F null when k < 2, N ≤ k, SST = 0, or η² rounds to 1 — a saturated
    * fit has no within-group variance to test against).
    *
    * Scale shape: one conditional hash-agg to k group rows + one final
    * k-row agg; no windows at all. */
  def oneWayAnova(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val rows = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast(LongType).cast(dec).as("__x"))
    val perG = rows.groupBy("__g").agg(count(lit(1)).as("ng"),
      sum(col("__x")).as("sg"))
    val tot = rows.agg(count(lit(1)).as("nn"), sum(col("__x")).as("s"),
      sum(col("__x") * col("__x")).as("sxx"))
    val (nd, sd) = (col("nn").cast("double"), col("s").cast("double"))
    val sst = col("sxx").cast("double") - sd * sd / nd
    val d = col("sg").cast("double") / col("ng").cast("double") - sd / nd
    val terms = perG.crossJoin(broadcast(tot))
      .select(col("nn"), col("sxx"), col("s"), lit(1L).as("one"),
        // sst = 0 (constant data) must not reach the divide: ANSI mode
        // raises DIVIDE_BY_ZERO even for doubles
        when(sst > 0, round(col("ng").cast("double") * d * d / sst * 1e6)
          .cast(LongType)).as("tm"))
    val agged = terms.groupBy("nn", "sxx", "s").agg(
      sum(col("one")).as("k"), sum(col("tm")).as("e2"))
    val eta = col("e2").cast("double") / 1e6
    val kd = col("k").cast("double")
    val f = (eta / (kd - 1)) / ((lit(1d) - eta) / (nd - kd))
    agged.select(
      col("nn").cast(LongType).as("n_total"),
      col("k").cast(LongType).as("k"),
      (col("k") - 1).cast(LongType).as("dof_between"),
      (col("nn") - col("k")).cast(LongType).as("dof_within"),
      when(sst > 0, col("e2")).as("eta2_micro"),
      when(col("k") >= 2 && col("nn") > col("k") && sst > 0
          && col("e2") < 1000000L,
        round(f * 1e6).cast(LongType)).as("f_micro"))
  }

  /** Brown–Forsythe test (Brown & Forsythe 1974) — variance homogeneity
    * across k groups, the SCALE complement to the battery's location
    * tests (and the robust choice over Levene's mean-centered variant:
    * deviations are taken from the group MEDIAN, so heavy tails don't
    * masquerade as variance differences). Mechanically it is
    * [[oneWayAnova]] applied to the absolute deviations |x − med_g| —
    * computed DOUBLED (|2x − med2_g|, via the [[robustOutliers]] exact
    * 2·median idiom) so everything stays integral: η² and F are
    * scale-invariant, so the doubled deviations give bit-identical
    * output. Same output row and guards as [[oneWayAnova]]. A
    * significant F here says "don't trust q210's pooled-variance F";
    * pair with [[welchT]]/[[kruskalWallis]] which don't assume equal
    * variances. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val x = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast(LongType).as("v"))
    val med = med2Of(x, "v").select(col("g"), col("__m2_v").as("med2"))
    val dev = x.join(med, Seq("g"))
      .select(col("g"), abs(col("v") * 2 - col("med2")).as("z2"))
    oneWayAnova(dev, "g", "z2")
  }

  /** Friedman test (Friedman 1937) — the k-treatment PAIRED rank test,
    * completing the battery's 2×2 nonparametric matrix ([[mannWhitney]] /
    * [[kruskalWallis]] unpaired, [[wilcoxonSignedRank]] / this paired):
    * did any of k treatments shift the measure, judged WITHIN each block
    * (user, site, day) so between-block level differences cancel. Only
    * COMPLETE blocks count (every treatment observed exactly once —
    * incomplete blocks are dropped, the classical requirement). Ranks are
    * tie-averaged doubled midranks within each block; with doubled rank
    * sums R2_j and the exact integer deviation d2_j = R2_j − n(k+1),
    *   χ²_F = Σ_j 3·(d2_j)²/(n·k·(k+1)),
    * accumulated per the [[chiSquared]] quantize-then-sum contract
    * (per-treatment micro terms, long-summed), with the Conover tie
    * correction divided once: χ²′ = χ² / (1 − Σ(t³−t)/(n·k·(k²−1))).
    * Output, one row (empty when no complete block): `n_blocks`, `k`,
    * `dof` = k−1, `chi2_micro`, `chi2_tie_micro` (both null when k < 2
    * or every block is fully tied).
    *
    * Scale shape: every window is partitioned BY BLOCK (≤ k rows per
    * frame — bounded by the treatment count, not the data); the rest is
    * hash-aggs keyed by block or treatment. */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val rows = df.filter(col(blockCol).isNotNull && col(treatCol).isNotNull
        && col(valueCol).isNotNull)
      .select(col(blockCol).as("__b"), col(treatCol).as("__t"),
        col(valueCol).cast(LongType).as("__v"))
    val k1 = rows.agg(count_distinct(col("__t")).as("k"))
    val keep = rows.groupBy("__b")
      .agg(count(lit(1)).as("cnt"), count_distinct(col("__t")).as("ndt"))
      .crossJoin(broadcast(k1))
      .filter(col("cnt") === col("k") && col("ndt") === col("k"))
      .select(col("__b"))
    val r = rows.join(keep, Seq("__b"))
    val lv = r.groupBy("__b", "__v").agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvr = lv
      .withColumn("r2", coalesce(sum(col("c")).over(wb), lit(0L)) * 2
        + col("c") + 1)
    val perT = r.join(lvr.select(col("__b"), col("__v"), col("r2")),
        Seq("__b", "__v"))
      .groupBy("__t").agg(sum(col("r2").cast(dec)).as("r2j"))
    val nb = keep.agg(count(lit(1)).as("n"))
    val ties = lv.agg(coalesce(sum(col("c").cast(dec) * col("c").cast(dec)
      * col("c").cast(dec) - col("c").cast(dec)), lit(0).cast(dec)).as("ties"))
    val (nd, kd) = (col("n").cast("double"), col("k").cast("double"))
    val d2 = perT.col("r2j").cast("double") - nd * (kd + 1)
    val terms = perT.crossJoin(broadcast(nb)).crossJoin(broadcast(k1))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("k"), col("ties"),
        round(lit(3d) * d2 * d2 / (nd * kd * (kd + 1)) * 1e6)
          .cast(LongType).as("tm"))
    val corr = lit(1d) - col("ties").cast("double") /
      (nd * kd * (kd * kd - 1))
    terms.groupBy("n", "k", "ties").agg(sum(col("tm")).as("chi2"))
      .select(
        col("n").cast(LongType).as("n_blocks"),
        col("k").cast(LongType).as("k"),
        (col("k") - 1).cast(LongType).as("dof"),
        when(col("k") >= 2 && corr > 0, col("chi2")).as("chi2_micro"),
        when(col("k") >= 2 && corr > 0,
          round(col("chi2").cast("double") / corr).cast(LongType))
          .as("chi2_tie_micro"))
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013) — the A/B-platform adjustment that turns a pre-period
    * covariate into sensitivity: with θ = cov(x, y)/var(x) fit on ALL
    * units pooled (the standard practice — θ is experiment-independent
    * under randomization), each unit's adjusted metric is
    *   y′ = y − θ·(x − x̄),
    * which leaves every treatment-effect estimate unbiased while
    * shrinking variance by the squared correlation ρ². One aggregation
    * over units: exact Decimal(38,0) conditional sums (n, Σx, Σy, Σxy,
    * Σx², Σy², per-arm n/Σx/Σy), then fixed double trees both engines
    * share. Output, one row: `n_treat`, `n_ctrl`, `theta_micro`,
    * `diff_micro` (raw treat−control mean), `diff_cuped_micro`,
    * `var_reduction_micro` (= ρ̂²; the fraction of metric variance the
    * covariate removes). θ/CUPED fields are null when var(x) = 0 (a
    * constant covariate adjusts nothing), diffs when either arm is
    * empty. Rows null in any of the three columns are dropped — coalesce
    * a missing pre-period to 0 upstream if that is the intended
    * semantics. */
  def cuped(df: DataFrame, treatCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val rows = df.filter(col(treatCol).isNotNull && col(xCol).isNotNull
        && col(yCol).isNotNull)
      .select(col(treatCol).cast("boolean").as("__t"),
        col(xCol).cast(LongType).cast(dec).as("__x"),
        col(yCol).cast(LongType).cast(dec).as("__y"))
    val agged = rows.agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__y")).as("sxy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"),
      count(when(col("__t"), lit(1))).as("nt"),
      sum(when(col("__t"), col("__x"))).as("sxt"),
      sum(when(col("__t"), col("__y"))).as("syt"),
      count(when(!col("__t"), lit(1))).as("nc"),
      sum(when(!col("__t"), col("__x"))).as("sxc"),
      sum(when(!col("__t"), col("__y"))).as("syc"))
    val nD = col("n").cast(dec)
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    val theta = num.cast("double") / den.cast("double")
    val (ntd, ncd) = (col("nt").cast("double"), col("nc").cast("double"))
    val mx = col("sx").cast("double") / col("n").cast("double")
    val diff = col("syt").cast("double") / ntd -
      col("syc").cast("double") / ncd
    val adjT = col("syt").cast("double") / ntd -
      theta * (col("sxt").cast("double") / ntd - mx)
    val adjC = col("syc").cast("double") / ncd -
      theta * (col("sxc").cast("double") / ncd - mx)
    val rho2 = num.cast("double") * num.cast("double") /
      (den.cast("double") * vy.cast("double"))
    agged.select(
      col("nt").cast(LongType).as("n_treat"),
      col("nc").cast(LongType).as("n_ctrl"),
      when(den > 0, round(theta * 1e6).cast(LongType)).as("theta_micro"),
      when(col("nt") > 0 && col("nc") > 0,
        round(diff * 1e6).cast(LongType)).as("diff_micro"),
      when(den > 0 && col("nt") > 0 && col("nc") > 0,
        round((adjT - adjC) * 1e6).cast(LongType)).as("diff_cuped_micro"),
      when(den > 0 && vy > 0,
        round(rho2 * 1e6).cast(LongType)).as("var_reduction_micro"))
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — [[mannWhitney]]
    * generalized to k groups: one rank-based "do any of these
    * per-language / per-source distributions differ" screen. With
    * tie-averaged ranks (doubled, exact) and per-group rank sums R_g,
    *   H = 12/(N(N+1)) · Σ_g n_g·(r̄_g − (N+1)/2)² ,
    * accumulated per the [[chiSquared]] quantize-then-sum contract: each
    * group's H term is ONE fixed double tree over exact Decimal(38,0)
    * sums, micro-quantized to a long, then long-summed — so the total is
    * partition-order independent with no cross-group double summation.
    * Tie correction divides once at the end: H′ = H / (1 − Σ(t³−t)/(N³−N)).
    * Output, one row: `n_groups`, `n_total`, `dof` = k−1, `h_micro`,
    * `h_tie_micro` (both null when N < 2 or every value is tied).
    *
    * Scale shape: a (group × level) hash-agg, a |levels| two-level
    * prefix sum for midranks, a |levels|-keyed join back, a per-group
    * agg (k rows) and one final k-row agg — shuffles are level- and
    * group-sized, never row-sized. */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    val gv = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast(LongType).as("__v"))
      .agg(count(lit(1)).as("c"))
    val lv = gv.groupBy("__v").agg(sum(col("c")).as("tot"))
    val ranks = Ranks.runningSums(lv, floorDiv(col("__v"), bucketWidth),
        Seq(col("__v")), Seq("tot" -> "below"))
      .select(col("__v"), (col("below") * 2 + col("tot") + 1).as("r2"))
    val totals = lv.agg(sum(col("tot")).as("nn"),
      sum(col("tot").cast(dec) * col("tot").cast(dec) * col("tot").cast(dec)
        - col("tot").cast(dec)).as("ties"))
    val perG = gv.join(ranks, Seq("__v"))
      .groupBy("__g").agg(sum(col("c")).as("ng"),
        sum(col("c").cast(dec) * col("r2").cast(dec)).as("r2g"))
      .crossJoin(broadcast(totals))
    val ngd = col("ng").cast("double")
    val nd = col("nn").cast("double")
    val d = col("r2g").cast("double") / (lit(2d) * ngd) - (nd + 1) / 2
    val terms = perG.select(col("nn"), col("ties"),
      lit(1L).as("one"),
      round(lit(12d) * ngd * d * d / (nd * (nd + 1)) * 1e6)
        .cast(LongType).as("tm"))
    val agged = terms.groupBy("nn", "ties").agg(
      sum(col("one")).as("k"), sum(col("tm")).as("h"))
    val corr = lit(1d) - col("ties").cast("double") /
      (col("nn").cast("double") * col("nn").cast("double")
        * col("nn").cast("double") - col("nn").cast("double"))
    agged.select(
      col("k").cast(LongType).as("n_groups"),
      col("nn").cast(LongType).as("n_total"),
      (col("k") - 1).cast(LongType).as("dof"),
      when(col("nn") >= 2 && corr > 0, col("h")).as("h_micro"),
      when(col("nn") >= 2 && corr > 0,
        round(col("h").cast("double") / corr).cast(LongType))
        .as("h_tie_micro"))
  }

  /** Kaplan–Meier product-limit survival curve over integer durations
    * with right-censoring (Kaplan & Meier 1958) — the churn/retention
    * estimator: at each distinct duration t with d_t events, c_t censored
    * and n_t = Σ_{u ≥ t}(d_u + c_u) still at risk,
    *   S(t) = Π_{u ≤ t, d_u > 0} (1 − d_u/n_u).
    * The product is computed in LOG space with each factor's ln ROUNDED
    * to a micro-long before the (exact, partition-order-free) prefix sum
    * — the [[Lm]] quantize-then-sum contract — and exponentiated once at
    * the end through the engine-shared tree. A level with d = n (everyone
    * remaining dies) pins S to exactly 0 from there on (the log-space
    * −∞), flagged via a running max rather than a NaN ride. Output per
    * distinct duration: `dur`, `n_risk`, `n_events`, `n_censored`,
    * `logsurv_micro` (null before any event and after S hits 0),
    * `surv_micro`.
    *
    * Scale shape: one level hash-agg + the [[rocAuc]] two-level prefix
    * machinery (bucket offsets for the at-risk suffix, the log-term sum
    * and the death-pin flag; per-bucket windows inside) — no data-sized
    * single-partition window. */
  def kaplanMeier(df: DataFrame, durCol: String, eventCol: String,
      bucketWidth: Long = 100L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val lv = df.filter(col(durCol).isNotNull && col(eventCol).isNotNull)
      .groupBy(col(durCol).cast(LongType).as("dur"))
      .agg(count(when(col(eventCol), lit(1))).as("d"),
        count(when(!col(eventCol), lit(1))).as("c"))
      .withColumn("tot", col("d") + col("c"))
      .withColumn("bkt", floorDiv(col("dur"), bucketWidth))
    val n = lv.agg(sum(col("tot")).as("N"))
    val risk = Ranks.runningSums(lv, col("bkt"), Seq(col("dur")),
        Seq("tot" -> "below"))
      .crossJoin(broadcast(n))
      .withColumn("n_risk", col("N") - col("below"))
      .withColumn("term", when(col("d") > 0 && col("d") < col("n_risk"),
        round(log(lit(1d) - col("d").cast("double") / col("n_risk").cast("double")) * 1e6)
          .cast(LongType)))
      .withColumn("pin", when(col("d") === col("n_risk"), lit(1L)).otherwise(lit(0L)))
    // second two-level pass: inclusive prefix of the term sum (NULL while
    // no event term has occurred yet) and pin max — one Ranks sweep
    val cum = Ranks.twoLevel(risk, col("bkt"), Seq(col("dur")),
      sums = Seq("term" -> "ls"), maxes = Seq("pin" -> "dead"),
      inclusive = true, nullEmptySums = true)
    cum.select(col("dur"), col("n_risk"),
        col("d").as("n_events"), col("c").as("n_censored"),
        when(col("dead") === 0, col("ls")).as("logsurv_micro"),
        when(col("dead") === 1, lit(0L))
          .otherwise(when(col("ls").isNull, lit(1000000L))
            .otherwise(round(exp(col("ls").cast("double") / 1e6) * 1e6).cast(LongType)))
          .as("surv_micro"))
      .orderBy(col("dur"))
  }

  /** Value-concentration profile of a keyed measure — exact Gini
    * coefficient and top-decile share, the "how skewed is revenue /
    * token mass / storage across keys" audit. Keys are ranked ascending
    * by (total, key); with rank i ∈ 1..n and sorted totals x_i,
    *   Gini = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx),
    * and the top-decile share is the mass of the ⌈n/10⌉ largest keys.
    * Σ i·x_i is accumulated in Decimal(38,0) (i·x alone can pass 2⁶³ at
    * fleet scale); the two final ratios are fixed shared trees, emitted
    * micro-quantized.
    *
    * Scale shape: the global rank uses the same two-level prefix sum as
    * [[rocAuc]] — hash-agg per key, bucket by `floor(total/bucketWidth)`,
    * a bucket-count-sized window for cross-bucket offsets, per-bucket
    * windows for the rest. Output, one row: `n_keys`, `total`,
    * `gini_micro`, `top10_share_micro`. */
  def concentration(df: DataFrame, keyCol: String, valueCol: String,
      bucketWidth: Long = 100000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val perKey = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(coalesce(sum(col(valueCol).cast(LongType)), lit(0L)).as("x"))
      .withColumn("bkt", floorDiv(col("x"), bucketWidth))
    val ranked = Ranks.positions(perKey, col("bkt"),
      Seq(col("x"), col("k")), "i")
    val dec = DecimalType(38, 0)
    val agged = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("i").cast(dec) * col("x").cast(dec)).as("six"))
    // top ⌈n/10⌉ keys: Column `/` on longs is a double divide, so take the
    // exact integer ceiling via floor((n+9)/10) — engine-shared semantics
    val topCut = ranked.crossJoin(broadcast(agged.select(col("n"))))
      .filter(col("i") > col("n") - floor((col("n") + 9) / 10).cast(LongType))
      .agg(coalesce(sum(col("x")), lit(0L)).as("top_x"))
    val g = (col("six").cast("double") * 2d
      - (col("n") + 1).cast("double") * col("sx").cast("double"))
    agged.crossJoin(broadcast(topCut)).select(
      col("n").cast(LongType).as("n_keys"),
      col("sx").cast(LongType).as("total"),
      when(col("n") > 0 && col("sx") > 0,
        round(g / (col("n").cast("double") * col("sx").cast("double")) * 1e6)
          .cast(LongType)).as("gini_micro"),
      when(col("sx") > 0,
        round(col("top_x").cast("double") / col("sx").cast("double") * 1e6)
          .cast(LongType)).as("top10_share_micro"))
  }

  /** Per-group offline change-point detection over an ordered integer
    * measure — "when did this segment's level shift?": for each split
    * index i the between-means contrast
    *   D_i = |n·S_i − i·S_n|   (S = prefix sum in (`orderCol`,`idCol`)
    * order) is an exact integer (Decimal(38,0) — n·S products pass 2⁶³
    * at fleet scale); the change point is argmax_i D_i with ties broken
    * to the SMALLEST i, so the selected split is engine- and
    * partition-exact. D_i/(i·(n−i)) is exactly |mean_left − mean_right|,
    * reported micro-quantized. Output per group: `n`, `split_i` (rows in
    * the left segment), `split_o` (the `orderCol` value at the split row),
    * `gap_micro`. Groups with < 2 rows have no valid split and are absent.
    *
    * Scale shape: the prefix (i, S_i) uses the [[rocAuc]] two-level
    * pattern keyed on (group, floor(order/`bucketWidth`)) — a
    * bucket-count-sized window per group plus per-bucket windows, never a
    * data-sized single-partition sort; then one totals join, one max agg,
    * and one argmax join-back. */
  def changePointByGroup(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String,
      bucketWidth: Long = 3600000000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val dec = DecimalType(38, 0)
    val base = df.filter(col(groupCol).isNotNull && col(orderCol).isNotNull
        && col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(orderCol).cast(LongType).as("o"),
        col(idCol).as("id"), col(valueCol).cast(LongType).as("v"))
    val cum = Ranks.twoLevel(base, floorDiv(col("o"), bucketWidth),
      Seq(col("o"), col("id")), sums = Seq("v" -> "si"), posCol = Some("i"),
      inclusive = true, partCols = Seq("g"))
    val tot = base.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sn"))
    val scored = cum.join(tot, Seq("g")).filter(col("i") < col("n"))
      .select(col("g"), col("i"), col("o"), col("n"),
        abs(col("n").cast(dec) * col("si").cast(dec)
          - col("i").cast(dec) * col("sn").cast(dec)).as("d"))
    val dm = scored.groupBy("g").agg(max(col("d")).as("dmax"))
    scored.join(dm, Seq("g")).filter(col("d") === col("dmax"))
      .groupBy(col("g"), col("n"), col("dmax"))
      // for a fixed i the (o, id) row is unique, so min-by-i pins one row
      .agg(min(struct(col("i"), col("o"))).as("s"))
      .select(col("g").as(groupCol), col("n"),
        col("s").getField("i").as("split_i"),
        col("s").getField("o").as("split_o"),
        round(col("dmax").cast("double")
            / (col("s").getField("i").cast("double")
              * (col("n") - col("s").getField("i")).cast("double")) * 1e6)
          .cast(LongType).as("gap_micro"))
  }

  /** Shared row shape for the calibration readouts: rows with a
    * non-null score in [0, 1] and a non-null label, score micro-quantized
    * (`__p` ∈ [0, 10⁶]), label as boolean `__y`. Out-of-range scores are
    * DROPPED (they are not probabilities — the caller's bug, surfaced by
    * `n_rows` shrinking rather than by a poisoned bin). */
  private def calibRows(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull
        && col(scoreCol) >= 0 && col(scoreCol) <= 1)
      .select(round(col(scoreCol).cast("double") * 1e6).cast(LongType).as("__p"),
        col(labelCol).cast("boolean").as("__y"))

  /** Reliability bins (r14 ✚, VERDICT r13 missing #1) — the
    * reliability-diagram table for a predicted-probability column: bucket
    * scores into `nBins` equal-width bins over [0, 1] and report, per
    * bin, the count, the positive count, the mean predicted score
    * (`conf_micro`) and the observed positive rate (`acc_micro`). The
    * standard readout that makes a confidence column TRUSTWORTHY before
    * anything gates on it ([[conformalThreshold]] is the abstention
    * half): a calibrated model has acc ≈ conf in every populated bin.
    *
    * Binning is exact integer arithmetic on the micro score —
    * bin = min(nBins−1, ⌊p_micro·nBins/10⁶⌋) — so a score of exactly 1.0
    * lands in the last bin (the half-open-intervals-plus-closed-top
    * convention) and bin membership is engine-replayable. Per-bin scores
    * sum as exact longs; `conf_micro`/`acc_micro` are each ONE final
    * double division, rounded (the [[rocAuc]] contract). Empty bins are
    * absent (no densification — the diagram reader treats absence as
    * n = 0).
    *
    * Scale shape: ONE map-side-combined hash-agg from data-sized rows to
    * ≤ nBins rows — no window, no join, no second pass. Output per bin:
    * `bin`, `n`, `n_pos`, `conf_micro`, `acc_micro`. */
  def reliabilityBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame =
    reliabilityBinsFromState(calibrationState(df, scoreCol, labelCol, nBins))

  /** Additive calibration state (r15 ✚, VERDICT r14 missing #3) — the
    * sufficient statistic [[reliabilityBins]] divides out: one row per
    * populated bin with exact long `n`, `n_pos` and `sp_micro` (Σ of the
    * micro scores). Every field is ADDITIVE, so this is the natural
    * standing store for monitoring score calibration at ingest: persist
    * it, fold micro-batches in with [[ingestCalibration]], and read the
    * diagram back at any point with [[reliabilityBinsFromState]] —
    * bit-identical to recomputing from full history (q257 is that gate,
    * the [[pairState]] ≡ full-history discipline). Bounded by nBins rows
    * regardless of row volume.
    *
    * Scale shape: ONE map-side-combined hash-agg from data-sized rows to
    * ≤ nBins rows — the only data-sized pass the whole family makes. */
  def calibrationState(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 100000, "nBins must be in [1, 100000]")
    calibRows(df, scoreCol, labelCol)
      .groupBy(least(lit(nBins - 1L),
        Ranks.floorDiv(col("__p") * nBins, 1000000L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__y"), lit(1))).as("n_pos"),
        sum(col("__p")).as("sp_micro"))
  }

  /** Fold a score-batch DELTA into a standing [[calibrationState]]
    * WITHOUT re-reading history: collapse the batch to its own bin
    * state, union, re-aggregate. All three fields are additive, so
    * disjoint batches commute (order-free) but the fold is NOT
    * idempotent — each row must be folded exactly once (the
    * [[ingestGames]] delta contract). `nBins` must match the state's
    * fit-time value: bin membership is a pure function of (score,
    * nBins), so a mismatched fold would silently mix binnings.
    *
    * Scale shape: the batch-sized hash-agg plus one ≤ 2·nBins-row
    * re-aggregation — never touches historical rows. */
  def ingestCalibration(state: DataFrame, batch: DataFrame,
      scoreCol: String, labelCol: String, nBins: Int = 10): DataFrame =
    state.unionByName(calibrationState(batch, scoreCol, labelCol, nBins))
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("sp_micro")).as("sp_micro"))

  /** [[reliabilityBins]]' readout over a standing [[calibrationState]] —
    * the state is the diagram's sufficient statistic, so this is
    * bit-identical to recomputing from raw rows: `conf_micro`/`acc_micro`
    * are each ONE rounded division over the exact long sums ([[rocAuc]]
    * contract). Runs entirely on the ≤ nBins state table. */
  def reliabilityBinsFromState(state: DataFrame): DataFrame =
    state.select(col("bin"), col("n"), col("n_pos"),
      round(col("sp_micro").cast("double") / col("n").cast("double"))
        .cast(LongType).as("conf_micro"),
      round(col("n_pos").cast("double") * 1e6 / col("n").cast("double"))
        .cast(LongType).as("acc_micro"))

  /** Expected calibration error + Brier score (r14 ✚) — the one-row
    * summary of [[reliabilityBins]]:
    *   ECE = Σ_b (n_b/N) · |acc_b − conf_b|,
    *   Brier = (1/N) · Σ rows (p − y)².
    * ECE is computed over the micro-quantized per-bin means (the bins ARE
    * the published readout — summarizing anything else would let the
    * summary drift from the diagram), weighted by exact long counts on a
    * Decimal(38,0) accumulator, ONE final division. Brier squares the
    * micro residual per row — (p_micro − y·10⁶)², an exact long ≤ 10¹² —
    * and sums on Decimal(38,0) (HUGEINT in the DuckDB oracle), so both
    * statistics are bit-identical on any partitioning and any engine.
    *
    * Scale shape: the bin hash-agg (≤ nBins rows) plus one
    * map-side-combined row agg, joined by a broadcast of two 1-row
    * frames — no window, no shuffle beyond the bin keys. Output, one
    * row: `n_rows`, `n_pos`, `ece_micro`, `brier_micro` (both null on
    * empty input). */
  def calibrationSummary(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 100000, "nBins must be in [1, 100000]")
    val dec = DecimalType(38, 0)
    val ece = reliabilityBins(df, scoreCol, labelCol, nBins)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        coalesce(sum(col("n_pos")), lit(0L)).as("n_pos"),
        sum(abs(col("acc_micro") - col("conf_micro")).cast(dec)
          * col("n").cast(dec)).as("__en"))
    val brier = calibRows(df, scoreCol, labelCol)
      .select((col("__p") - when(col("__y"), lit(1000000L)).otherwise(lit(0L)))
        .as("__r"))
      .agg(sum((col("__r") * col("__r")).cast(dec)).as("__bn"),
        count(lit(1)).as("__nb"))
    ece.crossJoin(broadcast(brier))
      .select(col("n_rows").cast(LongType).as("n_rows"),
        col("n_pos").cast(LongType).as("n_pos"),
        when(col("n_rows") > 0,
          round(col("__en").cast("double") / col("n_rows").cast("double"))
            .cast(LongType)).as("ece_micro"),
        when(col("__nb") > 0,
          round(col("__bn").cast("double") / col("__nb").cast("double") / 1e6)
            .cast(LongType)).as("brier_micro"))
  }

  /** Equal-mass (quantile) reliability bins (r14 ✚) — the adaptive-ECE
    * companion of [[reliabilityBins]]: when scores pile up in a few
    * equal-width bins (the usual shape for a confident model), mass-
    * balanced bins keep every bin's acc/conf estimate equally supported
    * (Nixon et al. 2019's adaptive binning argument). Bin membership is an
    * EXACT rank rule in the (score, id) total order —
    * bin = ⌊(pos−1)·nBins/n⌋ — so ties and reruns cannot move a row, and
    * any engine replaying row_number over the same order reproduces the
    * bins. Reports each bin's observed score range (`lo_micro`,
    * `hi_micro`) since quantile edges are data-dependent.
    *
    * Scale shape: the [[conformalThreshold]] machinery — global positions
    * from the two-level [[Ranks]] buckets (no data-sized single-partition
    * window), one broadcast 1-row count, one hash-agg to ≤ nBins rows;
    * the filtered base pinned for the call, eager result. */
  def reliabilityBinsQuantile(df: DataFrame, scoreCol: String,
      labelCol: String, idCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 100000, "nBins must be in [1, 100000]")
    Pinned.scoped { pin =>
      val x = pin(df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull
          && col(scoreCol) >= 0 && col(scoreCol) <= 1 && col(idCol).isNotNull)
        .select(round(col(scoreCol).cast("double") * 1e6).cast(LongType).as("__p"),
          col(labelCol).cast("boolean").as("__y"), col(idCol).as("__id")))
      val b = Ranks.withRangeBucket(x, "__p", "__bk")
      val pos = Ranks.twoLevel(b, col("__bk"), Seq(col("__p"), col("__id")),
        posCol = Some("__pos"))
      val n1 = x.agg(count(lit(1)).as("__n"))
      pos.crossJoin(broadcast(n1))
        // positive operands: div truncation IS the floor
        .withColumn("bin",
          call_function("div", (col("__pos") - 1) * nBins, col("__n")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("__y"), lit(1))).as("n_pos"),
          sum(col("__p")).as("__sp"),
          min(col("__p")).as("lo_micro"), max(col("__p")).as("hi_micro"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("__sp").cast("double") / col("n").cast("double"))
            .cast(LongType).as("conf_micro"),
          round(col("n_pos").cast("double") * 1e6 / col("n").cast("double"))
            .cast(LongType).as("acc_micro"),
          col("lo_micro"), col("hi_micro"))
        .localCheckpoint(true)
    }
  }

  /** Isotonic calibration remap (r14 ✚) — the FIX step after
    * [[reliabilityBins]] measures and [[brierDecomposition]] diagnoses:
    * fit the monotone non-decreasing recalibration of the per-bin
    * positive rates by count-weighted isotonic regression, via the exact
    * MINIMAX characterization of the PAVA solution (Barlow et al. 1972):
    *   iso(b) = max_{i ≤ b} min_{j ≥ b} rate(i..j),
    * where rate(i..j) is the POOLED positive rate of bins i..j (exact
    * integer prefix-sum differences, one rounded division per interval) —
    * adjacent violators pool automatically, correct bins pass through.
    * The output (bin → iso_micro) table IS the remap: broadcast it and
    * score future rows by bin lookup (monotone, so ranking-preserving
    * within bin resolution).
    *
    * Determinism: interval rates are micro-rounded longs from exact count
    * sums; the minimax is integer max/min over them — bit-identical on
    * any engine replaying the same intervals. Scale shape: everything
    * past the [[reliabilityBins]] hash-agg runs on the ≤ nBins bin table —
    * the prefix window is nBins-sized, the interval table nBins², and the
    * minimax bin×interval join nBins³/6 (hence the tighter nBins ≤ 1000
    * bound — ~1.7·10⁸ integer comparisons at the cap, spread across
    * executors by the nested-loop join), all independent of row volume. Output per bin: `bin`, `n`, `n_pos`, `acc_micro`,
    * `iso_micro` (non-decreasing in bin). */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 1000,
      "nBins must be in [1, 1000] (the interval table is nBins²-sized)")
    val bins = reliabilityBins(df, scoreCol, labelCol, nBins)
      .localCheckpoint(true) // tiny; read by the prefix window + 2 joins
    val w = Window.orderBy(col("bin")) // ≤ nBins rows: bounded by parameter
    val pre = bins.select(col("bin"),
      sum(col("n")).over(w).as("__cn"),
      sum(col("n_pos")).over(w).as("__cp"))
    val lo = pre.select(col("bin").as("__i"),
      lag(col("__cn"), 1, 0L).over(w).as("__cn0"),
      lag(col("__cp"), 1, 0L).over(w).as("__cp0"))
    val hi = pre.select(col("bin").as("__j"), col("__cn").as("__cn1"),
      col("__cp").as("__cp1"))
    val rates = lo.join(hi, col("__i") <= col("__j"))
      .select(col("__i"), col("__j"),
        round((col("__cp1") - col("__cp0")).cast("double") * 1e6
          / (col("__cn1") - col("__cn0")).cast("double"))
          .cast(LongType).as("__m"))
    val iso = rates
      .join(bins.select(col("bin")),
        col("__i") <= col("bin") && col("bin") <= col("__j"))
      .groupBy(col("bin"), col("__i"))
      .agg(min(col("__m")).as("__inner")) // min over j ≥ bin for fixed i
      .groupBy(col("bin"))
      .agg(max(col("__inner")).as("iso_micro")) // max over i ≤ bin
    bins.join(iso, Seq("bin"))
      .select(col("bin"), col("n"), col("n_pos"), col("acc_micro"),
        col("iso_micro"))
  }

  /** Apply an [[isotonicCalibration]] remap to a score column (r15 ✚,
    * VERDICT r14 missing #1) — the missing last step of the calibration
    * loop: measure ([[reliabilityBins]]) → diagnose
    * ([[brierDecomposition]]) → fit ([[isotonicCalibration]]) → REMAP
    * rows and re-measure. Each row is binned with the SAME exact integer
    * rule the fit used — bin = min(nBins−1, ⌊round(p·10⁶)·nBins/10⁶⌋),
    * `nBins` must equal the fit-time value — and broadcast-joined against
    * the (bin → iso_micro) table; `outCol` = iso_micro/10⁶ (a double
    * whose micro round-trip is exact, so a downstream
    * [[calibrationSummary]] re-measures the remapped scores without
    * quantization drift). Rows with a null/out-of-range score, or whose
    * bin is absent from the remap (empty at fit time), keep the row but
    * get a NULL `outCol` — the caller's cue to refit before scoring a
    * distribution the fit never saw. The remap is monotone
    * non-decreasing, so ranking is preserved at bin resolution.
    *
    * Scale shape: ONE broadcast join of the ≤ nBins remap against the
    * row scan — stateless, codegen'd, no shuffle of the data side. */
  def applyCalibration(df: DataFrame, remap: DataFrame, scoreCol: String,
      nBins: Int = 10, outCol: String = "score_cal",
      remapCol: String = "iso_micro"): DataFrame = {
    require(nBins >= 1 && nBins <= 1000,
      "nBins must be in [1, 1000] and match the remap's fit")
    Ops.requireUnreserved("applyCalibration", Seq("__cal_bin", "__cal_iso"),
      df.columns)
    val r = remap.select(col("bin").as("__cal_bin"),
      col(remapCol).as("__cal_iso"))
    df.withColumn("__cal_bin",
        when(col(scoreCol).isNotNull && col(scoreCol) >= 0 && col(scoreCol) <= 1,
          least(lit(nBins - 1L), Ranks.floorDiv(
            round(col(scoreCol).cast("double") * 1e6).cast(LongType) * nBins,
            1000000L))))
      .join(broadcast(r), Seq("__cal_bin"), "left")
      .withColumn(outCol, col("__cal_iso").cast("double") / 1e6)
      .drop("__cal_bin", "__cal_iso")
  }

  /** Platt scaling (r15 ✚, VERDICT r14 missing #5) — the PARAMETRIC
    * sibling of [[isotonicCalibration]]: fit σ(A·s + B) to the binned
    * (score, label) sufficient statistics by `rounds` fixed Newton
    * iterations (Platt 1999, incl. the (N₊+1)/(N₊+2) / 1/(N₋+2) target
    * smoothing), and publish the per-bin remap `platt_micro` =
    * σ(A·conf + B) — feed it to [[applyCalibration]] with
    * `remapCol = "platt_micro"`. Fitting on the ≤ nBins bin table (not
    * raw rows) is the deliberate divergence from Platt's row-wise
    * pseudocode: it is what makes every engine replay the fit exactly,
    * and a count-weighted bin fit is the same MLE up to within-bin score
    * spread (the resolution the published diagram already accepts).
    *
    * Determinism (the q235 mirrored-rounds discipline, with the exp
    * where BT had none): per round, each bin's σ is quantized to a micro
    * INTEGER — p = round(10⁶/(1+e^(−z))), z from one fixed double tree
    * over the integer (a_nano, b_nano, conf_micro) — and every
    * gradient/Hessian term is then EXACT integer/Decimal(38,0)
    * arithmetic on (n, n_pos, p, conf_micro); the 2×2 Newton solve runs
    * once per round on those exact sums (IEEE ·/÷ on identical inputs —
    * engine-identical), re-quantized to nano longs. The single libm call
    * per (bin, round) is micro-rounded from identical integer inputs, so
    * a cross-engine ULP flip needs the true value within one ULP of a
    * half-micro boundary (~10⁻¹⁰ per call). A structurally singular
    * Hessian (one bin / zero conf spread) skips that round's update via
    * a scale-free relative gate — det > 10⁻⁹·hAA·hBB, identical on both
    * engines — so degenerate input rests at A = 0, B = the smoothed
    * base-rate logit.
    *
    * Scale shape: the [[reliabilityBins]] hash-agg is the only
    * data-sized pass; each round is one job over the pinned ≤ nBins bin
    * table with a 5-value driver readback (parameter-bounded, the
    * [[graft.ml.TableCleaner]] capped-collect precedent). Output per
    * bin: `bin`, `n`, `n_pos`, `acc_micro`, `platt_micro`. */
  def plattCalibration(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10, rounds: Int = 6): DataFrame = {
    require(nBins >= 1 && nBins <= 1000, "nBins must be in [1, 1000]")
    require(rounds >= 1 && rounds <= 20, "rounds must be in [1, 20]")
    val dec = DecimalType(38, 0)
    val bins = reliabilityBins(df, scoreCol, labelCol, nBins)
      .localCheckpoint(true) // ≤ nBins rows: read once per round + readout
    // half-away-from-zero, matching Spark SQL round() and DuckDB round()
    // (math.round is half-UP and would diverge on exact .5 boundaries)
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    val tot = bins.agg(sum(col("n")), sum(col("n_pos"))).head()
    if (tot.isNullAt(0))
      return bins.select(col("bin"), col("n"), col("n_pos"),
        col("acc_micro"), lit(null).cast(LongType).as("platt_micro"))
    val nT = tot.getLong(0)
    val pT = tot.getLong(1)
    // Platt's smoothed targets; their per-bin micro mass is quantized
    // ONCE (round-independent), from the same double tree as the oracle
    val tPlus = (pT + 1.0) / (pT + 2.0)
    val tMinus = 1.0 / (nT - pT + 2.0)
    val tMicro = round((col("n_pos").cast("double") * lit(tPlus)
      + (col("n") - col("n_pos")).cast("double") * lit(tMinus)) * 1e6)
      .cast(LongType)
    var aNano = 0L
    var bNano = rnd(math.log((pT + 1.0) / (nT - pT + 1.0)) * 1e9)
    def pMicro(a: Long, b: Long): Column = round(lit(1e6)
      / (lit(1d) + exp(-(lit(a).cast("double") * col("conf_micro").cast("double")
        / 1e15 + lit(b).cast("double") / 1e9)))).cast(LongType)
    for (_ <- 1 to rounds) {
      // exact integer sufficient statistics from the quantized σ:
      //   g = n·p − T (micro), w = n·p·(10⁶−p) (micro²); GA/HAB/HAA
      //   carry one/two extra conf_micro factors
      val s = bins
        .select(col("n").cast(dec).as("__n"), tMicro.cast(dec).as("__t"),
          col("conf_micro").cast(dec).as("__c"),
          pMicro(aNano, bNano).cast(dec).as("__p"))
        .select((col("__n") * col("__p") - col("__t")).as("__g"),
          (col("__n") * col("__p") * (lit(1000000L).cast(dec) - col("__p")))
            .as("__w"), col("__c"))
        .agg(sum(col("__g")).as("gb"), sum(col("__g") * col("__c")).as("ga"),
          sum(col("__w")).as("hbb"), sum(col("__w") * col("__c")).as("hab"),
          sum(col("__w") * col("__c") * col("__c")).as("haa"))
        .head()
      // the Newton solve on doubles from the exact sums — one fixed tree
      val ga = s.getDecimal(1).doubleValue() / 1e12
      val gb = s.getDecimal(0).doubleValue() / 1e6
      val haa = s.getDecimal(4).doubleValue() / 1e24
      val hab = s.getDecimal(3).doubleValue() / 1e18
      val hbb = s.getDecimal(2).doubleValue() / 1e12
      // relative gate, not det > 0: a structurally singular Hessian (one
      // bin / zero conf spread) reaches the double solve with rounding
      // noise ~1e-16·haa·hbb that can land positive at any corpus size —
      // the scale-free 1e-9·haa·hbb floor skips exactly those rounds on
      // every engine (true determinants sit at Var(s)/E[s²] ≫ 1e-9)
      val det = haa * hbb - hab * hab
      if (det > 1e-9 * haa * hbb) {
        aNano -= rnd((hbb * ga - hab * gb) / det * 1e9)
        bNano -= rnd((haa * gb - hab * ga) / det * 1e9)
      }
    }
    bins.select(col("bin"), col("n"), col("n_pos"), col("acc_micro"),
      pMicro(aNano, bNano).as("platt_micro"))
  }

  /** Per-group reliability bins (r15 ✚, VERDICT r14 missing #2) — the
    * grouped sibling of [[reliabilityBins]], exactly as [[ksTestByGroup]]
    * is to [[ksTest]]: "is the judge calibrated per LANGUAGE / per
    * SOURCE" in ONE (group, bin)-keyed pass instead of a per-group loop.
    * Same exact integer binning, same long sums, same one-division
    * statistics; rows with a null group are dropped (no distribution to
    * attribute them to). Output per (group, bin): `n`, `n_pos`,
    * `conf_micro`, `acc_micro`, plus `sq_micro` — the exact
    * Decimal(38,0) sum of the per-row squared micro residuals
    * (p−y·10⁶)², carried so [[calibrationSummaryByGroup]] gets Brier
    * from the SAME single pass (the global [[calibrationSummary]] needs
    * a second row scan for it).
    *
    * Scale shape: ONE map-side-combined hash-agg from data-sized rows to
    * ≤ |groups|·nBins rows — no window, no join, no second pass. */
  def reliabilityBinsByGroup(df: DataFrame, grpCol: String,
      scoreCol: String, labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 100000, "nBins must be in [1, 100000]")
    val dec = DecimalType(38, 0)
    val r = (col("__p") - when(col("__y"), lit(1000000L)).otherwise(lit(0L)))
    df.filter(col(grpCol).isNotNull && col(scoreCol).isNotNull
        && col(labelCol).isNotNull
        && col(scoreCol) >= 0 && col(scoreCol) <= 1)
      .select(col(grpCol).as("__g"),
        round(col(scoreCol).cast("double") * 1e6).cast(LongType).as("__p"),
        col(labelCol).cast("boolean").as("__y"))
      .groupBy(col("__g"), least(lit(nBins - 1L),
        Ranks.floorDiv(col("__p") * nBins, 1000000L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__y"), lit(1))).as("n_pos"),
        sum(col("__p")).as("__sp"),
        sum((r * r).cast(dec)).as("sq_micro"))
      .select(col("__g").as(grpCol), col("bin"), col("n"), col("n_pos"),
        round(col("__sp").cast("double") / col("n").cast("double"))
          .cast(LongType).as("conf_micro"),
        round(col("n_pos").cast("double") * 1e6 / col("n").cast("double"))
          .cast(LongType).as("acc_micro"),
        col("sq_micro"))
  }

  /** Per-group ECE + Brier (r15 ✚) — [[calibrationSummary]] by group,
    * rolled up from [[reliabilityBinsByGroup]]'s single pass: ECE is the
    * count-weighted |acc−conf| over each group's own bins (Decimal(38,0)
    * accumulator, one final division), Brier the group's exact squared-
    * residual sum divided once — both bit-identical to running the
    * global summary on each group's slice (StatsSpec asserts it).
    * Output per group: `n_rows`, `n_pos`, `ece_micro`, `brier_micro`.
    *
    * Scale shape: the (group, bin) hash-agg plus one ≤ |groups|·nBins →
    * |groups| rollup — nothing data-sized past the first collapse. */
  def calibrationSummaryByGroup(df: DataFrame, grpCol: String,
      scoreCol: String, labelCol: String, nBins: Int = 10): DataFrame = {
    val dec = DecimalType(38, 0)
    reliabilityBinsByGroup(df, grpCol, scoreCol, labelCol, nBins)
      .groupBy(col(grpCol))
      .agg(sum(col("n")).as("n_rows"), sum(col("n_pos")).as("n_pos"),
        sum(abs(col("acc_micro") - col("conf_micro")).cast(dec)
          * col("n").cast(dec)).as("__en"),
        sum(col("sq_micro")).as("__bn"))
      .select(col(grpCol), col("n_rows"), col("n_pos"),
        round(col("__en").cast("double") / col("n_rows").cast("double"))
          .cast(LongType).as("ece_micro"),
        round(col("__bn").cast("double") / col("n_rows").cast("double") / 1e6)
          .cast(LongType).as("brier_micro"))
  }

  /** Murphy (1973) decomposition of the Brier score (r14 ✚) — over the
    * published [[reliabilityBins]] table:
    *   REL = Σ_b n_b(conf_b − acc_b)²/N   (miscalibration — want 0),
    *   RES = Σ_b n_b(acc_b − ȳ)²/N        (discrimination — want large),
    *   UNC = ȳ(1 − ȳ)                     (the data's own noise floor),
    * with Brier ≈ REL − RES + UNC (exact up to the per-bin micro
    * quantization the bins themselves publish). The readout that splits
    * "the scores are bad" into CALIBRATION debt (fixable by remapping —
    * isotonic/Platt) vs RESOLUTION debt (not fixable without a better
    * model) — the next question after q241 says ECE is high.
    *
    * Determinism: REL sums n·(acc−conf)² exactly on Decimal(38,0); RES
    * expands algebraically as Σn·acc² − 2ȳΣn·acc + Nȳ² over the same
    * exact sums with ȳ pre-rounded to a micro long — every term integer,
    * one final double division each (mirrored HUGEINT in DuckDB). Scale
    * shape: the [[reliabilityBins]] hash-agg plus one ≤ nBins-row agg —
    * nothing data-sized past the bin collapse. Output, one row: `n_rows`,
    * `n_pos`, `ybar_micro`, `rel_micro`, `res_micro`, `unc_micro` (nulls
    * on empty input). */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 100000, "nBins must be in [1, 100000]")
    val dec = DecimalType(38, 0)
    val d = (col("acc_micro") - col("conf_micro")).cast(dec)
    val a = col("acc_micro").cast(dec)
    reliabilityBins(df, scoreCol, labelCol, nBins)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        coalesce(sum(col("n_pos")), lit(0L)).as("n_pos"),
        sum(d * d * col("n").cast(dec)).as("__rel"),
        sum(a * col("n").cast(dec)).as("__s1"),
        sum(a * a * col("n").cast(dec)).as("__s2"))
      .withColumn("ybar_micro", when(col("n_rows") > 0,
        round(col("n_pos").cast("double") * 1e6 / col("n_rows").cast("double"))
          .cast(LongType)))
      .withColumn("__res", col("__s2")
        - lit(2).cast(dec) * col("ybar_micro").cast(dec) * col("__s1")
        + col("n_rows").cast(dec) * col("ybar_micro").cast(dec)
          * col("ybar_micro").cast(dec))
      .select(col("n_rows").cast(LongType).as("n_rows"),
        col("n_pos").cast(LongType).as("n_pos"), col("ybar_micro"),
        when(col("n_rows") > 0,
          round(col("__rel").cast("double") / col("n_rows").cast("double") / 1e6)
            .cast(LongType)).as("rel_micro"),
        when(col("n_rows") > 0,
          round(col("__res").cast("double") / col("n_rows").cast("double") / 1e6)
            .cast(LongType)).as("res_micro"),
        when(col("n_rows") > 0,
          round(col("ybar_micro").cast("double")
            * (lit(1000000d) - col("ybar_micro").cast("double")) / 1e6)
            .cast(LongType)).as("unc_micro"))
  }
}
