package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.Kernels

/** Mergeable cardinality sketches for shard-parallel distinct counting —
  * the HyperLogLog workflow a 100 TB pipeline actually runs: each shard/
  * partition/day builds a small binary sketch once, sketches are stored or
  * shipped (kilobytes, not keys), and ANY grouping of shards is answered
  * later by unioning sketches — no re-scan of the data, no giant exact
  * `count(distinct)` shuffle whose hash table must hold every key.
  *
  * Built on Spark's Apache DataSketches HLL functions (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`, SQL functions since 3.5):
  * partial aggregation happens map-side, the merged state is bounded
  * (2^lgK 6-bit registers ≈ 10 KB at the default lgK=12), and the relative
  * error is ~1.04/√(2^lgK) ≈ 1.6%.
  *
  * Treat the estimate as APPROXIMATE, not merely engine-specific: the
  * sparse→dense promotion point depends on the partial-aggregation merge
  * tree, so the same logical input can estimate slightly differently under
  * different partitionings (measured: 1300 vs 1297 vs 1286 for a
  * 1300-distinct input). Every consumer — and the q64 oracle — must assert
  * the error BOUND against an exact count, never hash or equality-compare
  * the estimate itself. */
object Sketches {

  /** Per-group HLL sketch of `valueCol` as a binary column `sketch`. */
  def sketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Merge per-group sketches up to a coarser grouping (possibly global:
    * `groupCols = Nil`) and estimate the distinct count. Note the merged
    * estimate need not equal a direct single-pass sketch's: a small
    * DataSketches HLL stays in exact sparse (coupon) mode, and the union
    * promotes to the dense register array, which estimates — both answers
    * honor the same ~1.04/√(2^lgK) bound, which is the contract callers
    * should rely on (asserted by the q64 oracle). */
  def mergeEstimate(sketches: DataFrame, groupCols: Seq[String],
      estimateCol: String = "n_distinct_est"): DataFrame = {
    val merged =
      if (groupCols.isEmpty) sketches.agg(hll_union_agg(col("sketch")).as("sketch"))
      else sketches.groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("sketch"))
    merged.withColumn(estimateCol, hll_sketch_estimate(col("sketch")))
      .drop("sketch")
  }

  /** |est − exact| ≤ tol·exact, the honesty assertion for an estimate. */
  def withinTolerance(est: Column, exact: Column, tol: Double): Column =
    abs(est.cast("double") - exact.cast("double")) <= lit(tol) * exact.cast("double")

  // ---- KLL quantile sketches (the percentile sibling — VERDICT r5 #6) ----

  /** Per-group KLL quantile sketch of LONG `valueCol` as binary `qsketch`
    * (quantize values first — cents/micros; [[graft.expressions.KllSketchAgg]]
    * for the error contract). k=200 ≈ 1.65% two-sided rank error, ~3 KB. */
  def quantileSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 200): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(Kernels.kllAgg(col(valueCol).cast("long"), k).as("qsketch"))
  }

  /** Merge per-group quantile sketches to a coarser grouping (global when
    * `groupCols = Nil`) and estimate the quantiles at `ps`, one column per
    * requested rank named like `q50` for p=0.5. The estimates are rank-
    * approximate and merge-tree-specific: assert the exact-rank BRACKET
    * (see q110), never equality-compare them. */
  def mergeQuantiles(sketches: DataFrame, groupCols: Seq[String],
      ps: Seq[Double]): DataFrame = {
    val merged = sketches.groupBy(groupCols.map(col): _*)
      .agg(Kernels.kllMerge(col("qsketch")).as("qsketch"))
    ps.foldLeft(merged) { (acc, p) =>
      acc.withColumn(s"q${(p * 100).round}", Kernels.kllQuantile(col("qsketch"), p))
    }.drop("qsketch")
  }

  // ---- frequent-items (heavy hitters) sketches ---------------------------

  /** Per-group frequent-items sketch of LONG `itemCol` as binary `fsketch`
    * (hash wider values first; [[graft.expressions.FreqSketchAgg]] for the
    * DETERMINISTIC ±εN bound contract, ε ≈ 3.5/maxMapSize). */
  def frequencySketch(df: DataFrame, groupCols: Seq[String], itemCol: String,
      maxMapSize: Int = 1024): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(Kernels.freqAgg(col(itemCol).cast("long"), maxMapSize).as("fsketch"))
  }

  /** Merge per-group frequency sketches to a coarser grouping (global when
    * `groupCols = Nil`); keeps the merged `fsketch` binary so callers can
    * probe items with [[graft.expressions.Kernels.freqBounds]] (q112's
    * shape). */
  def mergeFrequency(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(Kernels.freqMerge(col("fsketch")).as("fsketch"))

  // ---- theta sketches: distinct-count SET ALGEBRA ------------------------

  /** Per-group theta sketch of LONG `valueCol` as binary `tsketch` — the
    * set-operable distinct sketch ([[graft.expressions.ThetaSketchAgg]]):
    * unlike HLL these intersect and difference, answering "distinct keys
    * in BOTH/ONLY one group" from the stored binaries. lgK=12 ⇒ rse ≈
    * 1/√4096 ≈ 1.6% once sampling; EXACT below 4096 retained keys. */
  def thetaSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(Kernels.thetaAgg(col(valueCol).cast("long"), lgK).as("tsketch"))
  }

  /** `[round(estimate), lb(3σ), ub(3σ)]` of a set operation between two
    * sketch Columns: op ∈ intersect / diff (A∖B) / union. */
  def thetaSetBounds(a: Column, b: Column, op: String): Column = Kernels.thetaSet(a, b, op)

  // ---- count-min sketch: a mergeable RELATIONAL frequency table ----------

  /** Row-`r` bucket of an item under the repo hash contract: md5 of
    * `"r:item"` folded to a 60-bit long (15 hex chars — the
    * [[Dedup]] fold), mod `width`. Codegen'd, engine-exact: the DuckDB
    * oracle replays the identical hex fold, so estimates hash-compare. */
  private def cmBucket(item: Column, r: Column, width: Int): Column =
    conv(substring(md5(concat(r.cast("string"), lit(":"), item)), 1, 15),
      16, 10).cast("long") % width

  /** Count-min sketch of `itemCol` frequencies as a RELATION of
    * `depth × width` cells `(r, b, c)` — the streaming-classic frequency
    * sketch (Cormode & Muthukrishnan 2005) expressed as a tiny table
    * instead of an opaque binary: cells merge across shards/days by plain
    * `(r, b)`-keyed SUM ([[countMinMerge]]), persist as parquet, and
    * estimate membership counts with a broadcast join ([[countMinProbe]]).
    *
    * Deterministic by construction (md5 row hashes, integer sums), so
    * unlike the HLL/KLL binaries the ESTIMATES themselves are
    * engine-exact and oracle-hashable; the approximation contract is the
    * usual one-sided bound est ≥ exact (never under), with overcount
    * ≤ e·N/width at 1−e^−depth probability per probe.
    *
    * Scale shape: the depth-way row expansion collapses map-side into at
    * most depth·width cells per partition (hash-agg partials), so the
    * shuffle is sketch-sized, not data-sized — the same reason the sketch
    * family exists at 100 TB. */
  def countMinBuild(df: DataFrame, itemCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("__it"))
      .select(col("__it"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"), cmBucket(col("__it"), col("r"), width).as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Merge count-min sketches built with the SAME (depth, width): plain
    * cell-wise sum — the mergeability that makes the sketch a standing,
    * incrementally-foldable store (add a day by unioning its sketch).
    * Folding a batch's [[countMinBuild]] into standing cells equals the
    * one-shot sketch over everything folded, so the standing cells answer
    * [[countMinProbe]] with the same est ≥ exact bound. A replayed batch
    * DOES double-count (a counting sketch has no key to dedup on): feed the
    * fold exactly-once input or an upstream-deduped topic. */
  def countMinMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_.unionByName(_)).groupBy(col("r"), col("b"))
      .agg(sum(col("c")).as("c"))
  }

  /** Estimated count of each distinct `itemCol` value in `items`:
    * min over the depth rows of the probed cell (a missing cell counts 0).
    * The sketch side is depth·width rows — broadcast it; the probe is one
    * map-side join, no shuffle of the item stream. Output: the distinct
    * items with `c_est`. */
  def countMinProbe(cms: DataFrame, items: DataFrame, itemCol: String,
      depth: Int = 4, width: Int = 1024,
      estCol: String = "c_est"): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    items.filter(col(itemCol).isNotNull).select(col(itemCol)).distinct()
      .select(col(itemCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("b", cmBucket(col(itemCol).cast("string"), col("r"), width))
      .join(broadcast(cms), Seq("r", "b"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("c"), lit(0L))).as(estCol))
  }
}
