package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Pinned.pin

/** Market-basket association mining (Agrawal & Srikant 1994's support /
  * confidence framing; lift per Brin et al. 1997) over a (basket, item)
  * relation — the co-purchase / co-occurrence analytics the reference's
  * groupby+join surface gets composed into by hand. Distinct from
  * [[Lm.pmiCollocations]]: PMI reads ADJACENT token pairs inside
  * documents; this reads UNORDERED item pairs inside baskets, the
  * retail / recommendation shape.
  *
  * For an unordered pair {a, b} (canonical a < b) with basket counts
  * c_a, c_b, c_ab out of N baskets:
  *   support = c_ab/N,  confidence(a→b) = c_ab/c_a,  lift = c_ab·N/(c_a·c_b).
  * All counts are exact longs; each reported ratio is ONE double division
  * of exact integers, micro-quantized — engine-identical (the repo-wide
  * oracle contract). Output per pair: `item_a`, `item_b`, `n_ab`,
  * `n_a`, `n_b`, `support_micro`, `conf_ab_micro`, `conf_ba_micro`,
  * `lift_micro`, ordered nothing (caller sorts/limits).
  *
  * Scale shape — the Apriori downward-closure prune done relationally:
  * items below `minPairCount` baskets can never form a qualifying pair,
  * so the (basket, item) relation is FIRST semi-joined against the
  * frequent-item list (one hash-agg + one broadcastable-or-shuffled
  * join), and only then self-joined per basket (a < b). The item prune
  * bounds the CATALOG side; the BASKET side is bounded by
  * `maxBasketItems` (VERDICT r11 finding #1): each basket keeps at most
  * that many frequent items, chosen in ([[Ops.idHash60]], item) order —
  * a deterministic, engine-replayable uniform sample of the basket, so
  * one power-law mega-basket (a crawl page linking 10⁵ frequent tokens)
  * emits C(cap, 2) pairs instead of 5·10⁹ rows into a single partition.
  * Pair counts are therefore counts over the ≤cap-item basket samples;
  * the item marginals n_a/n_b and the basket total N stay EXACT
  * (uncapped) — the cap is documented sampling on co-occurrence only,
  * and the default (256) leaves every realistic retail basket exact.
  * The truncation itself is a rank filter Spark executes as a map-side
  * WindowGroupLimit — each partition keeps ≤cap rows per basket before
  * the shuffle, so the window never materializes a mega-basket either.
  * After the cap the per-basket fan-out is C(min(k, cap), 2); the final
  * pair count is again ≥ `minPairCount`-filtered. Everything else is
  * basket- or item-keyed equi-joins and map-side-combined counts: no
  * cartesian, no driver state. */
object Baskets {

  def pairLift(rel: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L, maxBasketItems: Int = 256): DataFrame = {
    require(minPairCount >= 1L, "minPairCount must be >= 1")
    require(maxBasketItems >= 2, "maxBasketItems must be >= 2 (pairs need two items)")
    // bi feeds ~6 plan branches (N, item counts, both self-join sides,
    // both count joins): pin it rather than lean on ReuseExchange
    // canonicalization surviving AQE replans; released before return
    // (the result is eager — the Similarity-family contract)
    val bi = pin(rel
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .distinct()) // presence, not multiplicity — the basket-count model
    val n = bi.agg(countDistinct(col("__bk")).as("__n"))
    val itemCounts = pin(bi.groupBy(col("__it"))
      .agg(count(lit(1)).as("__ic")))
    // downward closure: an item in < minPairCount baskets cannot reach it
    // as a pair — prune BEFORE the per-basket self-join
    val frequent = bi.join(
      itemCounts.filter(col("__ic") >= minPairCount).select(col("__it")),
      Seq("__it"))
    // per-basket fan-out cap: keep each basket's first `maxBasketItems`
    // frequent items in (idHash60, item) order — deterministic sampling of
    // co-occurrence, exact marginals (scaladoc); rank-filter shape so the
    // window group-limits map-side instead of materializing mega-baskets
    val wBk = Window.partitionBy(col("__bk"))
      .orderBy(Ops.idHash60(col("__it")), col("__it"))
    val capped = frequent
      .withColumn("__rn", row_number().over(wBk))
      .filter(col("__rn") <= maxBasketItems)
      .drop("__rn")
    val pairs = capped.as("l")
      .join(capped.as("r"), col("l.__bk") === col("r.__bk")
        && col("l.__it") < col("r.__it"))
      .groupBy(col("l.__it").as("item_a"), col("r.__it").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    val mic = (x: org.apache.spark.sql.Column) =>
      round(x * 1e6).cast(LongType)
    val out = pairs
      .join(itemCounts.select(col("__it").as("item_a"), col("__ic").as("n_a")),
        Seq("item_a"))
      .join(itemCounts.select(col("__it").as("item_b"), col("__ic").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        mic(col("n_ab").cast("double") / col("__n").cast("double"))
          .as("support_micro"),
        mic(col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("conf_ab_micro"),
        mic(col("n_ab").cast("double") / col("n_b").cast("double"))
          .as("conf_ba_micro"),
        mic(col("n_ab").cast("double") * col("__n").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift_micro"))
      .localCheckpoint(true)
    itemCounts.unpersist(false)
    bi.unpersist(false)
    out
  }
}
