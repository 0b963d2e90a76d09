package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational surface mirroring the reference's free functions
  * (`pyarrow_ops/ops.py`), re-expressed declaratively so Catalyst can push
  * filters into the parquet scan and prune columns.
  *
  * Reference semantics (see SURVEY.md §2.2):
  *  - `filters` = conjunctive tuple predicates (`ops.py:34-42`). We compile
  *    the tuple DSL to `Column` expressions and let `CombineFilters` +
  *    `PushDownPredicate` fuse them into the scan — the reference's
  *    "cascading index" evaluation falls out of codegen short-circuiting.
  *  - Null handling follows SQL three-valued logic, NOT the reference's
  *    numpy-NaN quirks (`!=`/`not in` keeping nulls) — documented divergence.
  *  - `drop_duplicates` (`ops.py:45-59`): the reference's keep='first' is
  *    actually nondeterministic (unstable argsort); here 'any' maps to
  *    Spark's `dropDuplicates` (one hash-agg shuffle), and deterministic
  *    first/last/drop are defined against an explicit ordering.
  */
object Ops {

  /** Fail with an IllegalArgumentException naming `op`, its `reserved`
    * internal column names and the input `columns` that clash with them. */
  private[graft] def requireUnreserved(op: String, reserved: Seq[String],
      columns: Seq[String]): Unit = {
    val clash = columns.distinct.filter(reserved.contains)
    require(clash.isEmpty,
      s"$op reserves internal column names ${reserved.mkString("/")}; " +
        s"rename input column(s): ${clash.mkString(", ")}")
  }

  /** Compile one (column, op, value) predicate to a Column.
    * Ops: `=`/`==`, `!=`, `<`, `>`, `<=`, `>=`, `in`, `not in`
    * (reference kernel `ops.py:6-32`). */
  def predicate(col: String, op: String, value: Any): Column = {
    val c = org.apache.spark.sql.functions.col(col)
    def values: Seq[Any] = value match {
      case s: Seq[_]   => s
      case a: Array[_] => a.toSeq
      case other       => Seq(other)
    }
    op match {
      case "=" | "==" => c === lit(value)
      case "!="       => c =!= lit(value)
      case "<"        => c < lit(value)
      case ">"        => c > lit(value)
      case "<="       => c <= lit(value)
      case ">="       => c >= lit(value)
      case "in"       => c.isin(values: _*)
      case "not in"   => !c.isin(values: _*)
      // extensions beyond the reference kernel (`is null` was inexpressible
      // there — SURVEY §2.1 "Filters"); value is ignored for the null tests
      case "is null"  => c.isNull
      case "not null" => c.isNotNull
      case "between"  => values match {
        case Seq(lo, hi) => c.between(lit(lo), lit(hi))
        case _ => throw new IllegalArgumentException("between needs Seq(lo, hi)")
      }
      case "like"     => c.like(value.toString)
      case "rlike"    => c.rlike(value.toString)
      case other      => throw new IllegalArgumentException(s"Unknown filter op: $other")
    }
  }

  /** Conjunctive predicate list — `filters(table, [(col, op, value), ...])`
    * (`ops.py:34-42`). A single fused Filter node; pushdown-friendly. */
  def filters(df: DataFrame, preds: Seq[(String, String, Any)]): DataFrame =
    if (preds.isEmpty) df
    else df.filter(preds.map { case (c, o, v) => predicate(c, o, v) }.reduce(_ && _))

  def filters(df: DataFrame, pred: (String, String, Any)): DataFrame =
    filters(df, Seq(pred))

  /** Keep-aware de-duplication (`ops.py:45-59`).
    *
    * keep = "any"   → Spark `dropDuplicates(on)`: single hash-agg shuffle with
    *                  map-side partial aggregation; the honest contract of the
    *                  reference's nondeterministic 'first'.
    * keep = "first" | "last" → deterministic, defined by `orderBy`:
    *                  `row_number` over Window.partitionBy(on).orderBy(ord) == 1.
    * keep = "drop"  → remove every row of any key with count > 1
    *                  (`ops.py:57-58`): windowed count == 1.
    *
    * All variants shuffle exactly once on the key columns; at scale prefer
    * "any" (partial agg halves shuffle volume vs the window variants).
    */
  def dropDuplicates(
      df: DataFrame,
      on: Seq[String] = Nil,
      keep: String = "any",
      orderBy: Seq[Column] = Nil): DataFrame = {
    val keys = if (on.isEmpty) df.columns.toSeq else on
    keep match {
      case "any" =>
        df.dropDuplicates(keys)
      case "first" | "last" =>
        require(orderBy.nonEmpty,
          "deterministic keep='first'/'last' needs an explicit ordering (SURVEY §2.2.4)")
        val ord = if (keep == "last") orderBy.map(_.desc) else orderBy
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
        df.withColumn("__graft_rn", row_number().over(w))
          .filter(org.apache.spark.sql.functions.col("__graft_rn") === 1)
          .drop("__graft_rn")
      case "drop" =>
        val w = Window.partitionBy(keys.map(col): _*)
        df.withColumn("__graft_cnt", count(lit(1)).over(w))
          .filter(org.apache.spark.sql.functions.col("__graft_cnt") === 1)
          .drop("__graft_cnt")
      case other =>
        throw new IllegalArgumentException(s"Unknown keep mode: $other")
    }
  }

  /** `head(table, n)` (`ops.py:62-80`) — console sink. */
  def head(df: DataFrame, n: Int = 5, maxWidth: Int = 100): Unit =
    df.show(n, maxWidth, vertical = false)

  /** Top-k: global sort bounded by limit — Spark plans `TakeOrderedAndProject`
    * (per-partition heap + driver merge, no full sort shuffle). */
  def topK(df: DataFrame, k: Int, orderBy: Seq[Column]): DataFrame =
    df.orderBy(orderBy: _*).limit(k)

  /** Global sort of an AGGREGATE-BOUNDED result (guide §2.4 "an orderBy
    * used only to make output deterministic"): same rows in the same total
    * order as `df.orderBy(cols)`, but executed as coalesce(1) +
    * sortWithinPartitions — one sorted partition IS a total order.
    *
    * Why: a global `orderBy` plans a RangePartitioning exchange, which
    * costs a separate range-bounds SAMPLING job plus a width-`shuffle
    * .partitions` exchange and that many near-empty sort tasks — pure
    * fixed overhead when the result is a handful of aggregate rows (r16
    * profiling: 1–2 of the ~5 jobs of a typical sub-second agg+sort query).
    * The coalesce collapses only the segment ABOVE the last exchange (the
    * final-aggregate stage); map-side parallelism below the shuffle is
    * untouched.
    *
    * Scale contract: callers may use this ONLY where the result cardinality
    * is bounded by construction — fixed bins, low-cardinality group keys,
    * top-k echoes, stat scalars — i.e. KBs at ANY corpus size, so one final
    * task is the right plan at 100 TB too. Row-scale outputs (per-doc,
    * per-order) must keep the range-partitioned `orderBy`.
    *
    * Guarded: the coalesce is narrow, so it would pull every stage up to
    * the nearest exchange into its one task. A `df` whose physical plan
    * reaches a file or in-memory scan without crossing an exchange, or a
    * node that already outputs one partition, fails here with an
    * IllegalArgumentException naming the scans (e.g. a broadcast join
    * over a parquet scan: its streamed side has no exchange). */
  def sortSmall(df: DataFrame, cols: Column*): DataFrame = {
    val scans = unboundedScans(df.queryExecution.executedPlan)
    require(scans.isEmpty, "sortSmall needs an exchange between its one partition and every " +
      "scan, but these scans would run in that one task: " + scans.map(_.nodeName).mkString(", "))
    df.coalesce(1).sortWithinPartitions(cols: _*)
  }

  /** The file and in-memory scans of `plan` that a coalesce to one
    * partition on top of it would read in one task: those reached without
    * crossing an exchange (a query stage or reused exchange included) or
    * a node whose output is already one partition. */
  private def unboundedScans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => unboundedScans(a.executedPlan)
    case _: Exchange | _: QueryStageExec => Nil
    case p if p.outputPartitioning.numPartitions == 1 => Nil
    case scan @ (_: FileSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec) => Seq(scan)
    case p => p.children.flatMap(unboundedScans)
  }

  /** Chain form of [[sortSmall]]: `df.transform(Ops.sortSmallT(col("k")))`
    * — same contract (aggregate-bounded results only). */
  def sortSmallT(cols: Column*)(df: DataFrame): DataFrame =
    sortSmall(df, cols: _*)

  /** Seeded Bernoulli sample (the reference's unseeded `split` mask made
    * reproducibility impossible — ml.py:124; here seeded by default). */
  def sample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Per-column summary statistics (count/mean/stddev/min/max) — the
    * `describe` analog the reference lacked. */
  def describe(df: DataFrame, cols: String*): DataFrame =
    if (cols.isEmpty) df.describe() else df.describe(cols: _*)

  /** Wide → long reshape (pandas `melt`): each of `valueCols` becomes one
    * output row (idCols..., varName = column name, valName = value) — the
    * inverse of `groupBy(...).pivot(...)`, and the shape feature matrices
    * arrive in before per-feature aggregation. Delegates to Spark's native
    * `unpivot` (an Expand node: `|valueCols|` projections of the input,
    * NO shuffle, codegen-friendly — never an explode over a built array,
    * which blocks column pruning). Value columns must share a common type
    * (Spark resolves the least common type or errors — intentional: a
    * silent cast to string would corrupt numeric aggs downstream). */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "variable", valName: String = "value"): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
      varName, valName)

  /** Per-key top-k: the k best rows within each key group under `orderBy`
    * (e.g. cap each domain/language at its k highest-quality documents — the
    * standard curation diversity cap). One window per key partition — the
    * ranking shuffles on the KEY, so per-group work spreads across
    * executors and no global sort exists. Include a unique tie-breaker in
    * `orderBy` for deterministic output. */
  def topKPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__graft_rank", row_number().over(w))
      .filter(col("__graft_rank") <= k)
      .drop("__graft_rank")
  }

  /** 60-bit uniform hash of an id column: first 15 hex chars of md5 — the
    * same construction the dedup family uses for shingles, so DuckDB (or
    * any engine with md5) reproduces it bit-for-bit. Basis for
    * deterministic sampling/sharding: unlike `sample()` (seed- and
    * partitioning-dependent) the decision is a pure function of the id, so
    * it is stable across runs, engines and cluster sizes, and a row keeps
    * its fate when the corpus around it changes — what training-data holdout
    * splits and A/B carve-outs need. */
  def idHash60(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10).cast("long")

  /** Deterministic hash sample: keeps rows whose [[idHash60]] falls in the
    * band [lo, hi) of the 2^60 hash space (fractions of 1.0). Disjoint
    * bands give disjoint samples — `(0, 0.9)` / `(0.9, 1.0)` is a
    * train/holdout split any engine can re-derive. A pure filter: pushes
    * down to the scan, no shuffle. */
  def sampleByHash(df: DataFrame, idCol: String, lo: Double, hi: Double): DataFrame = {
    require(0.0 <= lo && lo <= hi && hi <= 1.0, s"need 0 <= lo <= hi <= 1, got [$lo, $hi)")
    val h = idHash60(col(idCol))
    // band edges via the shared hashBandEdge rounding contract — ONE
    // definition of where a cut falls, for this filter, splitByGroupHash,
    // and every SQL oracle alike
    df.filter(h >= lit(hashBandEdge(lo)) && h < lit(hashBandEdge(hi)))
  }

  /** Band edge in the 2^60 hash space — the ONE rounding contract for
    * [[sampleByHash]], [[splitByGroupHash]], and every SQL oracle, so no
    * two call sites can disagree on where a cut falls. Rounds to nearest
    * with ties AWAY from zero (floor(x+0.5) on non-negatives), matching
    * SQL `CAST(f * pow(2,60) AS BIGINT)` semantics (DuckDB rounds casts,
    * ties away — CAST(2.5 AS BIGINT) = 3, so math.rint's half-to-EVEN
    * would disagree exactly at .5 ties, e.g. f = 5/2^61). For any
    * fraction ≥ 2^-7 the product f·2^60 is an exact integer double
    * (power-of-two scaling) and all roundings agree; the explicit tie
    * rule makes the cross-engine contract hold for ALL fractions. */
  def hashBandEdge(f: Double): Long = {
    require(0.0 <= f && f <= 1.0, s"fraction must be in [0, 1], got $f")
    math.floor(f * math.pow(2.0, 60) + 0.5).toLong
  }

  /** Leakage-safe split assignment — GroupKFold for training data: append
    * a `split` label chosen by hashing `keyCol`, so every row sharing a
    * key lands in the SAME split. Pass a dedup-component label (e.g.
    * [[Dedup.connectedComponents]] output) as the key and near-duplicate
    * documents can never straddle the train/holdout boundary — the
    * composition a naive row-hash split (O28 `split`, [[sampleByHash]])
    * gets wrong: hashing doc ids sends two near-identical docs to
    * different sides and leaks eval content into training.
    *
    * `cuts` are (name, cumulative upper fraction) pairs, strictly
    * increasing and ending at 1.0 — `("train", 0.8), ("holdout", 1.0)`
    * gives an 80/20 split of the KEY space (group sizes skew row
    * fractions; that is inherent to group-level splitting). Assignment is
    * a pure function of the key via [[idHash60]] — stable across runs,
    * engines, partitionings, and corpus growth (a group keeps its split
    * when other groups appear, the standing-store contract). A null key
    * hashes to null and falls into the LAST cut (when/CASE else-branch
    * semantics — identical in DuckDB, so oracles replay it verbatim).
    *
    * Scale shape: a stateless projection — no shuffle, no lookup table,
    * no driver state; whole-stage-codegen'd md5 + conv per row. */
  def splitByGroupHash(df: DataFrame, keyCol: String,
      cuts: Seq[(String, Double)]): DataFrame = {
    require(!df.columns.contains("split"),
      "splitByGroupHash appends a 'split' column; rename the existing one")
    require(cuts.nonEmpty, "need at least one cut")
    require(cuts.last._2 == 1.0, "last cut must end at 1.0")
    require(cuts.map(_._2) == cuts.map(_._2).sorted.distinct,
      "cut fractions must be strictly increasing")
    require(cuts.map(_._1).distinct.length == cuts.length,
      "cut names must be distinct")
    val h = idHash60(col(keyCol))
    val split = cuts.init.foldLeft(Option.empty[Column]) {
      case (acc, (name, hi)) =>
        val c = h < lit(hashBandEdge(hi))
        Some(acc.fold(when(c, lit(name)))(_.when(c, lit(name))))
    }.fold(lit(cuts.last._1))(_.otherwise(lit(cuts.last._1)))
    df.withColumn("split", split)
  }

  /** Group-atomic k-fold assignment — [[splitByGroupHash]] generalized to
    * cross-validation (VERDICT r12 missing #2): append a `fold` label in
    * [0, k) chosen by banding `keyCol`'s [[idHash60]] against k equal
    * [[hashBandEdge]] cuts (fold i ⇔ h ∈ [edge(i/k), edge((i+1)/k))), so
    * every row sharing a key — a user id, a dedup component — lands in
    * the SAME fold and a leave-one-fold-out loop never trains on a
    * near-duplicate of its eval slice. Same contracts as the parent:
    * pure function of the key (stable across runs, engines, corpus
    * growth), null keys fall into the LAST fold (when/CASE else-branch
    * semantics, replayed verbatim by DuckDB oracles).
    *
    * Scale shape: a stateless whole-stage-codegen'd projection (md5 +
    * conv + a k-arm comparison chain) — no shuffle, no lookup table. */
  def foldByGroupHash(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    require(k <= 1024, "k > 1024 folds is a misuse of a comparison chain")
    require(!df.columns.contains("fold"),
      "foldByGroupHash appends a 'fold' column; rename the existing one")
    val h = idHash60(col(keyCol))
    val fold = (1 until k).foldLeft(Option.empty[Column]) { (acc, i) =>
      val c = h < lit(hashBandEdge(i.toDouble / k))
      Some(acc.fold(when(c, lit((i - 1).toLong)))(_.when(c, lit((i - 1).toLong))))
    }.fold(lit((k - 1).toLong))(_.otherwise(lit((k - 1).toLong)))
    df.withColumn("fold", fold)
  }

  /** Leakage-safe (out-of-fold) target encoding (r14 ✚) — the standard
    * way to turn a high-cardinality categorical into a numeric feature
    * without letting each row SEE ITS OWN LABEL: rows are fold-assigned
    * by [[foldByGroupHash]] on `keyCol` (group-atomic, so correlated rows
    * share a fold), and the encoding for (category, fold) is the smoothed
    * target mean computed from the OTHER k−1 folds only:
    *   enc = (Σ_oof + m·ḡ_oof) / (n_oof + m),
    * with ḡ_oof the fold-excluded GLOBAL mean (even the prior never sees
    * the row's own fold — stricter than the common whole-table prior) and
    * m = `priorCount` the smoothing pseudo-count that pulls rare
    * categories toward the prior. Output is the ENCODING TABLE —
    * (`catCol`, `fold`, `n_oof`, `enc_micro`), |cats|·k rows, densified
    * so a category absent from a fold still gets its row (n_oof = its
    * full count; enc = its other-folds mean) — broadcast it and join on
    * (category, fold) to apply. `enc_micro` is null when n_oof + m = 0,
    * or when m > 0 and the fold holds ALL rows (no out-of-fold prior
    * exists — the honest refusal, not a leaked one).
    *
    * Determinism: targets are micro-quantized longs, all sums exact; enc
    * is ONE mirrored double expression over those sums. Scale shape: one
    * map-side-combined hash-agg to the (cats × folds) cell table; the
    * densify explode, fold totals, and joins all run on cell/fold-sized
    * frames — nothing data-sized past the first agg. */
  def targetEncodeByFold(df: DataFrame, catCol: String, targetCol: String,
      keyCol: String, k: Int, priorCount: Long = 0L): DataFrame = {
    require(priorCount >= 0, "priorCount must be >= 0")
    val base = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull
        && col(keyCol).isNotNull)
      .select(col(catCol).as("__c"),
        round(col(targetCol).cast("double") * 1e6).cast("long").as("__t"),
        col(keyCol).as("__k"))
    val cells = foldByGroupHash(base, "__k", k)
      .groupBy(col("__c"), col("fold"))
      .agg(count(lit(1)).as("__nf"), sum(col("__t")).as("__sf"))
    val cats = cells.groupBy(col("__c"))
      .agg(sum(col("__nf")).as("__nc"), sum(col("__sf")).as("__sc"))
    val foldTot = cells.groupBy(col("fold"))
      .agg(sum(col("__nf")).as("__nft"), sum(col("__sf")).as("__sft"))
    val tot = cells.agg(sum(col("__nf")).as("__n"), sum(col("__sf")).as("__s"))
    val dense = cats
      .select(col("__c"), col("__nc"), col("__sc"),
        explode(sequence(lit(0L), lit((k - 1).toLong))).as("fold"))
      .join(cells, Seq("__c", "fold"), "left")
      .join(broadcast(foldTot), Seq("fold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__c"), col("fold"),
        (col("__nc") - coalesce(col("__nf"), lit(0L))).as("n_oof"),
        (col("__sc") - coalesce(col("__sf"), lit(0L))).as("__so"),
        (col("__n") - coalesce(col("__nft"), lit(0L))).as("__ng"),
        (col("__s") - coalesce(col("__sft"), lit(0L))).as("__sg"))
    val g = col("__sg").cast("double") / col("__ng").cast("double")
    val enc = when(lit(priorCount) === 0,
      when(col("n_oof") > 0,
        round(col("__so").cast("double") / col("n_oof").cast("double"))))
      .otherwise(when(col("__ng") > 0,
        round((col("__so").cast("double") + lit(priorCount.toDouble) * g)
          / (col("n_oof") + lit(priorCount)).cast("double"))))
    dense.select(col("__c").as(catCol), col("fold"), col("n_oof"),
      enc.cast("long").as("enc_micro"))
  }

  /** Temporal holdout split (r14 ✚, VERDICT r13 missing #2) — the OTHER
    * leakage axis next to [[splitByGroupHash]]'s group atomicity:
    * train-on-past / evaluate-on-future. Appends a `split` label chosen
    * by comparing `tsCol` (cast to long — µs timestamps, integer event
    * times) against `cuts`' strictly-increasing EXCLUSIVE upper bounds:
    * the first cut whose bound exceeds the row's time wins, everything at
    * or past the last bound (and every null-ts row — when/CASE
    * else-branch semantics, replayed verbatim by DuckDB) gets `tailName`.
    * So `("train", c)` + tail "holdout" puts ts < c in train and ts ≥ c
    * in holdout — zero training rows can postdate the boundary, by
    * construction (q243 audits that claim as a measured number).
    *
    * Unlike the hash splits the assignment is a pure function of the
    * row's OWN timestamp: a key active on both sides of the boundary
    * contributes rows to both (that is the point — fit on its past,
    * evaluate on its future); compose with [[splitByGroupHash]] when
    * group atomicity is wanted INSTEAD of a time cut.
    *
    * Scale shape: a stateless whole-stage-codegen'd comparison chain —
    * no shuffle, no lookup table; partition-prunes when the data is
    * date-partitioned. */
  def splitByTime(df: DataFrame, tsCol: String, cuts: Seq[(String, Long)],
      tailName: String = "holdout"): DataFrame = {
    require(!df.columns.contains("split"),
      "splitByTime appends a 'split' column; rename the existing one")
    require(cuts.nonEmpty, "need at least one cut")
    require(cuts.map(_._2) == cuts.map(_._2).sorted.distinct,
      "cut bounds must be strictly increasing")
    require((cuts.map(_._1) :+ tailName).distinct.length == cuts.length + 1,
      "cut names (incl. tailName) must be distinct")
    val t = col(tsCol).cast("long")
    val split = cuts.foldLeft(Option.empty[Column]) {
      case (acc, (name, hi)) =>
        val c = t < lit(hi)
        Some(acc.fold(when(c, lit(name)))(_.when(c, lit(name))))
    }.get.otherwise(lit(tailName))
    df.withColumn("split", split)
  }

  /** Deterministic per-group sampling to a weight budget: within each group
    * (e.g. language, source domain), rows are admitted in [[idHash60]] order
    * — an unbiased, engine-independent shuffle of the group — until the
    * cumulative `weightCol` (token count, bytes) reaches `budget`. The
    * domain-mixing primitive of corpus assembly: cap each source at N tokens
    * without a bias toward any particular document property, reproducibly.
    *
    * A row is kept iff the budget was not exhausted BEFORE it (running sum
    * minus own weight < budget), so each non-empty group keeps at least its
    * first hash-ordered row even when that row alone exceeds the budget —
    * the group is represented, and the overshoot is bounded by one document.
    * Rows with a null weight are dropped (null admission test), without
    * affecting the running sum of their neighbors.
    * One shuffle (the per-group window sort); the id tie-break makes the
    * admission order total, so output is identical on any partitioning and
    * any engine that re-derives the md5 hash order. */
  def sampleToBudget(df: DataFrame, groupCols: Seq[String], idCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.contains("__graft_cum"),
      "sampleToBudget reserves the internal column name __graft_cum; rename the input column")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(idHash60(col(idCol)), col(idCol))
    df.withColumn("__graft_cum", sum(col(weightCol)).over(w))
      .filter(col("__graft_cum") - col(weightCol) < budget)
      .drop("__graft_cum")
  }

  /** Deterministic k-per-group sample: each group's first `k` rows in
    * ([[idHash60]], id) order — an unbiased, engine-replayable uniform
    * draw (the [[sampleToBudget]] admission order with a row budget
    * instead of a weight budget). The spot-check primitive of corpus
    * QA: "show me 5 documents per domain" reproducibly, on any engine,
    * any partitioning. Groups with fewer than k rows keep all of them.
    * Under corpus growth the admission ORDER is stable (a pure function
    * of ids), but a new row can displace a group's last pick — use
    * [[sampleByHash]] when per-row fate stability matters more than an
    * exact-k quota.
    *
    * Scale shape: one shuffle on the group key; the rank filter is the
    * WindowGroupLimit shape — each map task keeps ≤ k rows per group
    * BEFORE the exchange, so a mega-group never materializes in the
    * sort. */
  def sampleKPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(groupCols.nonEmpty, "need at least one group column")
    require(!df.columns.contains("__graft_rn"),
      "sampleKPerGroup reserves the internal column name __graft_rn; rename the input column")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(idHash60(col(idCol)), col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }

  /** Deterministic WEIGHTED k-per-group sample — Efraimidis & Spirakis'
    * A-ES weighted reservoir (IPL 2006: take the k largest u^(1/w), u
    * uniform) with the randomness derived from [[idHash60]] instead of a
    * seed: u = (hash+1)/2^60 ∈ (0, 1], ranked by
    * `key_nano` = round(ln(u)/w · 10⁹) descending (the log is monotone in
    * u^(1/w), and nano-quantizing BEFORE ranking is the repo's shared-ln
    * cross-engine contract; ties break by id). Each row's inclusion odds
    * scale with `weightCol` — the quality-weighted data-mixing draw
    * ("sample 10k docs per domain, proportional to quality score") that
    * [[sampleKPerGroup]] is the uniform special case of, reproducible on
    * any engine, partitioning, or rerun. Rows with null or ≤ 0 weight are
    * dropped (no valid key exists), and so are null-`idCol` rows (no hash
    * exists to derive u from — the repo-wide null-key drop convention;
    * ADVICE r12: previously they sorted last under a null key and could
    * be drawn in under-full groups) — documented, oracle replays both.
    *
    * Scale shape: identical to [[sampleKPerGroup]] — one shuffle on the
    * group key, rank filter as a map-side WindowGroupLimit. */
  def weightedSampleKPerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(groupCols.nonEmpty, "need at least one group column")
    require(!df.columns.contains("key_nano"),
      "weightedSampleKPerGroup appends 'key_nano'; rename the existing column")
    require(!df.columns.contains("__graft_rn"),
      "weightedSampleKPerGroup reserves __graft_rn; rename the input column")
    val u = (idHash60(col(idCol)) + 1).cast("double") / lit(math.pow(2.0, 60))
    val key = round(log(u) / col(weightCol).cast("double") * 1e9).cast("long")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("key_nano").desc, col(idCol))
    df.filter(col(idCol).isNotNull
        && col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("key_nano", key)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  }

  /** [[sampleToBudget]] with a PER-GROUP budget table — `budgets` carries
    * `groupCols` + a long `budget` column (e.g. [[temperatureBudgets]]'
    * output). Same hash-order admission rule per group; a group with
    * budget ≤ 0 admits nothing; a group absent from `budgets` is dropped
    * (inner join). */
  def sampleToBudgets(df: DataFrame, groupCols: Seq[String], idCol: String,
      weightCol: String, budgets: DataFrame): DataFrame = {
    require(groupCols.nonEmpty, "per-group budgets need at least one group column")
    require(!df.columns.contains("__graft_cum"),
      "sampleToBudgets reserves the internal column name __graft_cum; rename the input column")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(idHash60(col(idCol)), col(idCol))
    df.join(budgets.select((groupCols.map(col) :+ col("budget")): _*), groupCols)
      .withColumn("__graft_cum", sum(col(weightCol)).over(w))
      .filter(col("__graft_cum") - col(weightCol) < col("budget"))
      .drop("__graft_cum", "budget")
  }

  /** Per-group FRACTION sampling from a fraction table (r13 ✚) — the
    * rate-based sibling of [[sampleToBudgets]]' weight budgets: `fractions`
    * carries `groupCols` + a double `fraction` ∈ [0, 1] (e.g. a language
    * rebalancing plan), and each group keeps the rows whose [[idHash60]]
    * falls below its fraction's band edge — the [[sampleByHash]] rule with
    * a PER-GROUP cut. Per-row fate is stable under corpus growth (a pure
    * function of the id — unlike [[sampleKPerGroup]]'s exact-k quota,
    * which can displace picks), disjoint from the complement band, and
    * replayable by any engine that re-derives the md5 hash. The edge is
    * floor(f·2⁶⁰ + 0.5) computed per row — the [[hashBandEdge]] rounding
    * contract as a column expression (identical IEEE product + floor in
    * DuckDB). A group absent from `fractions` (or with a null fraction)
    * is dropped; fraction ≤ 0 admits nothing; ≥ 1 admits everything.
    * Null-id rows are dropped too (the repo-wide null-key convention:
    * idHash60(null) < edge is null, which filters — and md5(NULL) is NULL
    * in DuckDB, so oracles replay the same drop).
    *
    * Scale shape: a stateless filter behind ONE broadcast join against
    * the |groups|-sized fraction table — no shuffle of `df`, no window;
    * the filter itself stays inside WholeStageCodegen. */
  def sampleByFractions(df: DataFrame, groupCols: Seq[String], idCol: String,
      fractions: DataFrame): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(fractions.columns.contains("fraction"),
      "fractions must carry a 'fraction' column")
    require(!df.columns.contains("fraction"),
      "sampleByFractions reserves the column name 'fraction' for the rate " +
        "table; rename the input column")
    val edge = floor(col("fraction") * lit(math.pow(2.0, 60)) + lit(0.5))
      .cast("long")
    df.join(broadcast(fractions.select(
        (groupCols.map(col) :+ col("fraction")): _*)), groupCols)
      .filter(idHash60(col(idCol)) < edge)
      .drop("fraction")
  }

  /** Top-mass (nucleus) selection per group (r9 ✚) — keep each group's
    * BEST rows, by `scoreCol` descending, until they cover fraction
    * `pNum/pDen` of the group's total `weightCol` mass: "the highest-
    * quality p% of every domain, by token mass" — the curation rule that
    * trims each source's low tail without a global score threshold
    * (sources with different score scales each keep their own top mass).
    *
    * Admission rule: rows in (score DESC, id ASC) order; a row is kept
    * while the mass admitted BEFORE it is still below the target
    * pNum·total/pDen — the [[sampleToBudget]] rule with a per-group
    * fractional budget, so at least one row survives per group with
    * positive total (the first row's prior mass is 0) and the boundary row
    * that crosses the target is INCLUDED. The p fraction is a rational
    * (pNum/pDen): the test is exact long arithmetic
    * (prior·pDen < total·pNum), engine-identical — no float thresholds.
    * Null weights/scores are dropped (null admission test).
    *
    * One shuffle (the per-group window sort) + one map-side-combined total
    * agg joined back on the group key. Output: the input rows that
    * survive, original columns. */
  def takeTopMass(df: DataFrame, groupCols: Seq[String], idCol: String,
      scoreCol: String, weightCol: String, pNum: Int, pDen: Int): DataFrame = {
    require(pDen > 0 && pNum > 0 && pNum <= pDen, "need 0 < pNum/pDen <= 1")
    requireUnreserved("takeTopMass", Seq("__graft_cum", "__graft_tot"), df.columns)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val totals = df.filter(col(weightCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(weightCol)).as("__graft_tot"))
    df.filter(col(weightCol).isNotNull && col(scoreCol).isNotNull)
      .join(totals, groupCols)
      .withColumn("__graft_cum", sum(col(weightCol)).over(w))
      .filter((col("__graft_cum") - col(weightCol)) * lit(pDen.toLong) <
        col("__graft_tot") * lit(pNum.toLong))
      .drop("__graft_cum", "__graft_tot")
  }

  /** Temperature-scaled mixture budgets — the pretraining source-mixing
    * rule (Raffel et al. 2020 §3.4.3 "temperature-scaled mixing"; also the
    * multilingual-sampling rule of Conneau & Lample 2019): group g with
    * total weight n_g receives budget ∝ n_g^alpha. alpha = 1 reproduces
    * the natural proportions; alpha → 0 flattens toward uniform — the dial
    * that keeps low-resource sources from drowning and boilerplate-heavy
    * sources from dominating. Compose with [[sampleToBudgets]] to realize
    * the mixture deterministically.
    *
    * Exactness: n_g^alpha is one double `pow` per GROUP, rounded once to
    * micro units (the quantize-then-sum rule), so the normalizer is an
    * exact long sum and each budget is one integer multiply + integer
    * divide — bit-identical on any engine; Σ budgets ≤ totalBudget by the
    * floor. (totalBudget · pw_micro must fit a long: fine up to budgets of
    * ~1e12 against group weights of ~1e12 — document-count scales; at the
    * extreme, rescale weights before calling.)
    * Output: groupCols + w_total + budget (longs). */
  def temperatureBudgets(df: DataFrame, groupCols: Seq[String],
      weightCol: String, alpha: Double, totalBudget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"need 0 < alpha <= 1, got $alpha")
    require(totalBudget > 0, "totalBudget must be positive")
    val totals = df.groupBy(groupCols.map(col): _*)
      .agg(sum(col(weightCol)).as("w_total"))
    val pm = totals.withColumn("__pw_micro",
      round(pow(col("w_total").cast("double"), lit(alpha)) * lit(1000000L))
        .cast(org.apache.spark.sql.types.LongType))
    val z = pm.agg(sum(col("__pw_micro")).as("__z_micro"))
    pm.crossJoin(broadcast(z))
      .select((groupCols.map(col) :+ col("w_total") :+
        expr(s"CAST(($totalBudget * __pw_micro) DIV __z_micro AS BIGINT)")
          .as("budget")): _*)
  }

  /** Deterministic shard assignment: [[idHash60]] mod `nShards`, appended
    * as `shardCol`. The reproducible analog of `repartition` for
    * LAYOUT-meaningful splits (per-shard files, striped eval sets). */
  def shardByHash(df: DataFrame, idCol: String, nShards: Int,
      shardCol: String = "shard"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.withColumn(shardCol, pmod(idHash60(col(idCol)), lit(nShards.toLong)))
  }

  /** Deterministic stratified sample: exactly min(n, |group|) rows from
    * each group, taken in [[idHash60]] order — an unbiased,
    * engine-independent shuffle of each group (the id tie-break makes the
    * order total, so the selected SET is a pure function of the data).
    * The per-strata counterpart of [[sampleByHash]]'s global band: balanced
    * eval slices, per-language/per-source audit samples, debug extracts
    * that stay stable run over run. One shuffle (the per-group window);
    * no group ever needs more than n rows of window state beyond the sort,
    * and rows, not groups, bound the work — skewed strata cost their row
    * count, never |group|². */
  def sampleNPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(groupCols.nonEmpty, "need at least one group column")
    require(!df.columns.contains("__graft_rn"),
      "sampleNPerGroup reserves the internal column name __graft_rn; rename the input column")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(idHash60(col(idCol)), col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= n)
      .drop("__graft_rn")
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006 "A-ES": keep the k rows with the largest u^(1/w)): the
    * uniform draw is the reproducible u = ([[idHash60]](id)+1)/2^60 ∈ (0,1]
    * instead of an RNG, and rows are ranked by the monotone-equivalent
    * ln(u)/w — so the selected SET is a pure function of (id, weight),
    * stable across runs, engines, partitionings and cluster sizes, while
    * still giving each row inclusion probability proportional to its
    * weight over the hash ensemble. The curation use: quality- or
    * length-weighted corpus subsets that audit identically everywhere.
    * Rows with null or non-positive weight are excluded (A-ES needs w > 0;
    * zero weight = never sampled).
    * Scale shape: a stateless projection + TakeOrderedAndProject — no
    * shuffle, no global sort; k rows of heap state per partition. */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("__graft_wkey"),
      "sampleWeighted reserves the internal column name __graft_wkey; rename the input column")
    val u = (idHash60(col(idCol)) + lit(1L)).cast("double") / lit(math.pow(2.0, 60))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__graft_wkey", log(u) / col(weightCol))
      .orderBy(col("__graft_wkey").desc, col(idCol))
      .limit(k)
      .drop("__graft_wkey")
  }

  /** Per-stratum [[sampleWeighted]]: the n best A-ES keys within EACH group
    * — weighted-by-importance where [[sampleNPerGroup]] is uniform (e.g.
    * "5 docs per language, longer/higher-quality ones proportionally more
    * likely"). Same determinism contract; one keyed window, no global
    * sort, rank state ≤ n per group. */
  def sampleWeightedPerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(groupCols.nonEmpty, "need at least one group column")
    requireUnreserved("sampleWeightedPerGroup", Seq("__graft_wkey", "__graft_rn"),
      df.columns)
    val u = (idHash60(col(idCol)) + lit(1L)).cast("double") / lit(math.pow(2.0, 60))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__graft_wkey").desc, col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__graft_wkey", log(u) / col(weightCol))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= n)
      .drop("__graft_wkey", "__graft_rn")
  }

  /** Deterministic uniform negative sampling (r9 ✚) — the contrastive-pair
    * generator: `k` pseudo-random partners per anchor, each a PURE FUNCTION
    * of (anchor, j, seed), so the pairing is reproducible on any engine and
    * any partitioning (the [[sampleByHash]] philosophy applied to pair
    * generation).
    *
    * Ring construction: every row takes position [[idHash60]](id) on the
    * 2^60 ring; probe (anchor, j) hashes to target t = idHash60-style
    * md5("anchor|j|seed") and selects the ring SUCCESSOR — the row with the
    * smallest pos ≥ t, wrapping past the top. Uniform positions make every
    * successor choice uniform over rows. The rare probe whose successor IS
    * its own anchor is dropped (≈ k/N of output rows; documented, the
    * oracle replays the same rule), so anchors emit ≤ k negatives.
    *
    * Scale shape — NO global sort, NO single-partition window over data:
    * the ring is cut into `buckets` equal hash ranges; the successor search
    * is a bucket-keyed equi-join (each probe meets ~N/buckets ring rows,
    * map-side-combinable argmin window keyed by (anchor, j)), and probes
    * landing past their bucket's last row fall through via a
    * buckets-cardinality boundary table (next non-empty bucket's first
    * row — built with one window over `buckets` rows, constant-size by
    * construction, then broadcast) with the global minimum as the wrap row.
    * Size `buckets` ≈ N/10⁴ at cluster scale so per-probe candidate fan-in
    * stays bounded. Output: (anchor_id, j, neg_id). */
  def negativeSample(df: DataFrame, idCol: String, k: Int, seed: Long = 42L,
      buckets: Int = 256): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(buckets >= 1 && (buckets & (buckets - 1)) == 0 && buckets <= (1 << 20),
      s"buckets must be a power of two in [1, 2^20], got $buckets")
    val shift = 60 - (63 - java.lang.Long.numberOfLeadingZeros(buckets.toLong))
    val ring = df.select(col(idCol).as("__neg_id"), idHash60(col(idCol)).as("__rpos"))
      .withColumn("__rbkt", shiftright(col("__rpos"), shift))
    val firsts = ring.groupBy(col("__rbkt").as("__bkt"))
      .agg(min(struct(col("__rpos"), col("__neg_id"))).as("__f"))
      .select(col("__bkt"), col("__f.__rpos").as("__fpos"), col("__f.__neg_id").as("__fid"))
    // next non-empty bucket's first row for EVERY bucket index — a
    // buckets-row frame, single trivial window (constant size, never data)
    val wNext = Window.orderBy(col("__bkt")).rowsBetween(1, Window.unboundedFollowing)
    val bounds = df.sparkSession.range(buckets).select(col("id").as("__bkt"))
      .join(firsts, Seq("__bkt"), "left")
      .select(col("__bkt"),
        first(col("__fid"), ignoreNulls = true).over(wNext).as("__nxt_id"))
    val wrap = ring
      .select(min(struct(col("__rpos"), col("__neg_id"))).as("__w"))
      .select(col("__w.__neg_id").as("__wrap_id"))
    val probes = df.select(col(idCol).as("anchor_id"))
      .select(col("anchor_id"), explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__t", conv(substring(md5(concat_ws("|",
        col("anchor_id").cast("string"), col("j").cast("string"),
        lit(seed.toString))), 1, 15), 16, 10).cast("long"))
      .withColumn("__bkt", shiftright(col("__t"), shift))
    val wIn = Window.partitionBy(col("anchor_id"), col("j"))
      .orderBy(col("__rpos"), col("__neg_id"))
    val inBucket = probes
      .join(ring, probes("__bkt") === ring("__rbkt") && col("__rpos") >= col("__t"))
      .withColumn("__rn", row_number().over(wIn))
      .filter(col("__rn") === 1)
      .select(col("anchor_id"), col("j"), col("__neg_id").as("__in_id"))
    probes
      .join(inBucket, Seq("anchor_id", "j"), "left")
      .join(broadcast(bounds), Seq("__bkt"))
      .crossJoin(broadcast(wrap))
      .select(col("anchor_id"), col("j"),
        coalesce(col("__in_id"), col("__nxt_id"), col("__wrap_id")).as("neg_id"))
      .filter(col("neg_id") =!= col("anchor_id"))
  }

  /** Latest-wins upsert compaction (✚ extension): the Delta/Hudi-style
    * merge shape in library form. `current` (the standing table) and
    * `delta` (an ingest batch, same schema) union; per key the row with the
    * greatest `ordCol` wins, and on an exact `ordCol` tie the DELTA row
    * wins (a correction batch that re-states a version must land). If
    * `tombstoneCol` is set, a winning row whose flag is true DELETES the
    * key from the output — retractions travel through the same merge.
    *
    * Determinism contract: (keys, ordCol) unique within each side — then
    * the (ord DESC, side DESC) order is total and the winner is a pure
    * function of the data. A delta restating old versions (a replayed
    * ingest batch) is idempotent: older ord values never clobber the
    * standing winner. One keyed window shuffle; no global sort, no
    * driver state. At cluster scale this is the compaction job shape: both
    * sides hash-partition on the key, skew bounded by per-key version
    * count, never table size. */
  def upsert(current: DataFrame, delta: DataFrame, keyCols: Seq[String],
      ordCol: String, tombstoneCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(current.columns.toSet == delta.columns.toSet,
      "current and delta must share a schema (union by name)")
    require(!current.columns.contains("__graft_src"),
      "upsert reserves the internal column name __graft_src; rename the input column")
    val unioned = current.withColumn("__graft_src", lit(0))
      .unionByName(delta.withColumn("__graft_src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(ordCol).desc, col("__graft_src").desc)
    val winners = unioned.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_src", "__graft_rn")
    tombstoneCol.fold(winners)(t => winners.filter(!coalesce(col(t), lit(false))))
  }

  /** SCD2 interval build from a changelog (✚ extension): collapse a
    * per-key event/version history into validity intervals of constant
    * attribute values — `valid_from` = the first timestamp of each run of
    * identical `attrCols`, `valid_to` = the start of the NEXT run (null =
    * current version). Consecutive rows restating the same attributes are
    * suppressed (no zero-change versions), with null-safe comparison, so a
    * null attribute value is a value like any other. `tieCols` extend the
    * per-key ordering when `tsCol` alone is not unique.
    *
    * Two window passes over the SAME key partitioning (change detection,
    * then lead over survivors) — one shuffle, two spillable sorts; work is
    * linear in changelog rows on any cluster size. Output: keys ++ attrs ++
    * (valid_from, valid_to). */
  def scd2FromChangelog(df: DataFrame, keyCols: Seq[String], tsCol: String,
      attrCols: Seq[String], tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "need key and attribute columns")
    require(!df.columns.exists(_.startsWith("__graft_")),
      "scd2FromChangelog reserves __graft_*-prefixed internal column names")
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val changed = attrCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val runs = df
      .withColumn("__graft_first", row_number().over(w) === 1)
      .withColumn("__graft_chg", col("__graft_first") || changed)
      .filter(col("__graft_chg"))
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    runs
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .select((keyCols ++ attrCols).map(col) :+ col("valid_from") :+ col("valid_to"): _*)
  }

  /** Per-group 2-D skyline (Pareto frontier), both axes maximized — the
    * curation query "keep the documents no other document beats on BOTH
    * quality and length". A point is dominated iff some other point is ≥
    * on both axes and > on at least one; ties on both axes dominate
    * neither. Exact over integer axes. Output: one row per frontier
    * (group, `x`, `ymax`) level — `ymax` is the best y at that x, which
    * is the only y value at x that can be non-dominated.
    *
    * Scale shape: reduce to distinct-x levels first (map-side-combined
    * agg — the shuffled volume is |x levels|, not rows), then the
    * dominance test M(x) = max y over x' > x uses the
    * [[Stats.rocAuc]]-style two-level suffix max keyed on (group,
    * x-bucket): a bucket-count window per group + per-bucket windows —
    * never a group-sized single-partition sort. */
  def skylinePerGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, bucketWidth: Long = 16L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val lx = df.filter(col(groupCol).isNotNull && col(xCol).isNotNull
        && col(yCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(xCol).cast("long").as("x"))
      .agg(max(col(yCol).cast("long")).as("ymax"))
    // M(x) = max ymax over x' > x: exclusive descending two-level max
    Ranks.twoLevel(lx, Ranks.floorDiv(col("x"), bucketWidth),
        Seq(col("x").desc), maxes = Seq("ymax" -> "__mgt"),
        descBuckets = true, partCols = Seq("g"))
      .filter(col("__mgt").isNull || col("__mgt") < col("ymax"))
      .select(col("g").as(groupCol), col("x"), col("ymax"))
  }
}
