package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Joins, Ops, Pack, Similarity}

/** Codifies the engine's core scale property: results are independent of
  * physical partitioning. Every oracle-facing construction (integer
  * quantization, cents sums, md5 hashing) must produce BIT-IDENTICAL rows
  * whether the data lives in 1 partition or many — this is what makes the
  * engine's answers reproducible across cluster sizes. */
class DeterminismSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = (0L until 40L).map(i =>
    (i, s"alpha beta gamma delta epsilon zeta eta theta token$i iota kappa lambda"))
    .toDF("doc_id", "text")

  test("cents-quantized aggregation: identical at 1 vs 7 partitions") {
    val vals = (1 to 500).map(i => (i % 7, i * 1.01 + 0.005)).toDF("k", "v")
    def agg(p: Int) = rowSet(
      vals.repartition(p).groupBy("k")
        .agg(sum(round(col("v") * 100).cast("long")).as("cents")))
    assert(agg(1) == agg(7))
  }

  test("minhash LSH pairs: identical at 1 vs 7 partitions") {
    val dup = docs.union(Seq((100L, "alpha beta gamma delta epsilon zeta eta theta token3 iota kappa lambda"))
      .toDF("doc_id", "text"))
    def pairs(p: Int) = rowSet(
      Dedup.minhashLshPairs(dup.repartition(p), "doc_id", "text", threshold = 0.5))
    assert(pairs(1) == pairs(7))
    assert(pairs(1).nonEmpty)
  }

  test("quantized cosine top-k: identical at 1 vs 7 partitions") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    def topk(p: Int) = rowSet(
      Similarity.bruteForceTopK(vecs.repartition(p),
        vecs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 4))
    assert(topk(1) == topk(7))
  }

  test("simhash table: identical at 1 vs 7 partitions") {
    def h(p: Int) = rowSet(Dedup.simhashTable(docs.repartition(p), "doc_id", "text"))
    assert(h(1) == h(7))
  }

  test("asofJoin: identical at 1 vs 7 partitions") {
    val l = (0L until 50L).map(i => (i % 5, i, i * 1.5)).toDF("k", "ts", "lv")
    val r = (0L until 30L).map(i => (i % 5, i * 2, i * 10.0)).toDF("k", "ts", "rv")
    def j(p: Int) = rowSet(Joins.asofJoin(l.repartition(p), r.repartition(p), Seq("k"), "ts"))
    assert(j(1) == j(7))
  }

  test("rangeJoin: identical at 1 vs 7 partitions") {
    val vals = (0 until 120).map(i => (i.toLong, i * 3.0 % 53)).toDF("id", "v")
    val ivs = Seq((1L, 0.0, 15.0), (2L, 10.0, 40.0), (3L, 48.0, 52.0)).toDF("iv_id", "lo", "hi")
    def j(p: Int) = rowSet(Joins.rangeJoin(vals.repartition(p), "v", ivs.repartition(p),
      "lo", "hi", bucketWidth = 8.0))
    assert(j(1) == j(7))
    assert(j(1).nonEmpty)
  }

  test("hash sample + shard + pack + per-key top-k: identical at 1 vs 7 partitions") {
    val d = (0L until 200L).map(i => (i, i % 9 + 1)).toDF("doc_id", "n_tokens")
    def pipe(p: Int) = rowSet {
      val sharded = Ops.shardByHash(
        Ops.sampleByHash(d.repartition(p), "doc_id", 0.0, 0.6), "doc_id", 4)
      Pack.packSequences(sharded, "shard", "doc_id", "n_tokens", budget = 20L)
    }
    assert(pipe(1) == pipe(7))
    def cap(p: Int) = rowSet(Ops.topKPerKey(d.repartition(p), Seq("n_tokens"),
      Seq(col("doc_id").desc), 3))
    assert(cap(1) == cap(7))
  }

  test("repetition signals: identical at 1 vs 7 partitions") {
    val rep = docs.union(Seq((200L, "same same same same different tail here now")).toDF("doc_id", "text"))
    def r(p: Int) = rowSet(graft.functions.Repetition
      .ngramRepetition(rep.repartition(p), "doc_id", "text", 2))
    assert(r(1) == r(7) && r(1).nonEmpty)
  }

  test("sampleToBudget: identical at 1 vs 7 partitions") {
    val d = (0L until 150L).map(i => (s"g${i % 3}", i, 5L + i % 11)).toDF("g", "id", "w")
    def s(p: Int) = rowSet(Ops.sampleToBudget(d.repartition(p), Seq("g"), "id", "w", 80L))
    assert(s(1) == s(7) && s(1).nonEmpty)
  }

  test("z-values and profiler exact fields: identical at 1 vs 7 partitions") {
    val d = (0L until 300L).map(i => (i, i % 31, (i * 7) % 29)).toDF("id", "x", "y")
    def z(p: Int) = rowSet(d.repartition(p)
      .select(col("id"), operators.Layout.zValue2(col("x"), col("y"), 5).as("z")))
    assert(z(1) == z(7))
    // profiler: exact fields only — the HLL++ estimate is approximate BY
    // CONTRACT and may vary with the merge tree (see Sketches scaladoc)
    def prof(p: Int) = rowSet(operators.Profile.profile(d.repartition(p))
      .select("col_name", "n_rows", "n_nulls", "min_value", "max_value"))
    assert(prof(1) == prof(7))
  }

  test("asofJoin nearest: identical at 1 vs 7 partitions") {
    val l = (0L until 50L).map(i => (i % 5, i, i * 1.5)).toDF("k", "ts", "lv")
    val r = (0L until 30L).map(i => (i % 5, i * 2 + 1, i * 10.0)).toDF("k", "ts", "rv")
    def j(p: Int) = rowSet(Joins.asofJoin(l.repartition(p), r.repartition(p),
      Seq("k"), "ts", direction = "nearest"))
    assert(j(1) == j(7) && j(1).nonEmpty)
  }

  test("sparse cosine pairs: identical at 1 vs 7 partitions") {
    val dup = docs.union(Seq((100L, "alpha beta gamma delta epsilon zeta eta theta token3 iota kappa lambda"))
      .toDF("doc_id", "text"))
    def pairs(p: Int) = rowSet(Similarity.sparseCosinePairs(dup.repartition(p),
      "doc_id", graft.functions.Text.wordShingles(col("text"), 3),
      threshold = 0.5, maxDf = 10))
    assert(pairs(1) == pairs(7) && pairs(1).nonEmpty)
  }

  test("stratified sample, quantile bins, percentile, mode: identical at 1 vs 7 partitions") {
    val d = (0L until 300L).map(i => (i, s"g${i % 4}", i % 23)).toDF("id", "g", "v")
    def strat(p: Int) = rowSet(Ops.sampleKPerGroup(d.repartition(p), Seq("g"), "id", 9))
    assert(strat(1) == strat(7) && strat(1).size == 36)
    def bins(p: Int) = rowSet(operators.Profile.equalFrequencyBins(d.repartition(p), "v", 5))
    assert(bins(1) == bins(7))
    def pct(p: Int) = rowSet(operators.Grouping.groupby(d.repartition(p), Seq("g"))
      .percentileDisc("v", 0.9, "p90"))
    assert(pct(1) == pct(7))
    def md(p: Int) = rowSet(operators.Grouping.groupby(d.repartition(p), Seq("g"))
      .modeExact("v", "mv"))
    assert(md(1) == md(7))
  }
}
