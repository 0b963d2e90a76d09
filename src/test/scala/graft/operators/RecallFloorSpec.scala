package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Recall floors of the approximate search and near-dup operators, in one
  * table. Each row measures one operator on a corpus the spec generates
  * from a seed — `n` unit vectors of `dim` independent Gaussian components,
  * the shape of the `embeddings` test table, which has no cluster structure
  * and so is the hard case for LSH, IVF and PQ — against the exact answer:
  *  - top-5 recall: the share of [[Similarity.bruteForceTopK]]'s top-5 of
  *    each of the first `nQueries` vectors that the operator returns;
  *  - pair recall: the share of the vector pairs whose exact quantized
  *    cosine reaches θ = 0.3 that the operator finds.
  *
  * A floor is 0.9 × the lowest recall seen over seeds 1–12, rounded down
  * to a multiple of 0.05: a working operator does not fail by chance, and
  * one that loses a fifth of its recall fails. An IVF search probing one
  * cell, a single LSH table, or PQ without the exact rerank each fail
  * their rows. Seen ranges, seeds 1–12 (`n` = 2000, 40 queries):
  *
  * | probe                                          | floor | seen        |
  * |------------------------------------------------|-------|-------------|
  * | bucketedTopK top-5                             | 0.75  | 0.860–0.915 |
  * | ivfTopK top-5                                  | 0.80  | 0.940–0.985 |
  * | embeddingNearDupPairs, default tables (24)     | 0.85  | 0.945–0.953 |
  * | embeddingNearDupPairs, nTables = 16            | 0.75  | 0.856–0.868 |
  * | embeddingNearDupPairsBetween (default, 24)     | 0.80  | 0.942–0.955 |
  * | pqTopK top-5, rerank 50                        | 0.80  | 0.920–0.960 |
  * | ivfPqTopK top-5, rerank 50                     | 0.80  | 0.895–0.920 |
  * | ivfPqTopK residual top-5, rerank 50            | 0.75  | 0.875–0.935 |
  *
  * The suite runs seed 1. To re-measure the ranges:
  * `sbt "Test/runMain graft.operators.RecallFloorSpec 1 12"`. */
class RecallFloorSpec extends SparkTestBase {
  import RecallFloorSpec._

  private lazy val corpus = new Corpus(spark, 1L)

  probes.foreach { case (probe, floor, measure) =>
    test(s"recall floor: $probe") {
      val recall = measure(corpus)
      info(f"$probe: $recall%.3f (floor $floor)")
      assert(recall >= floor, f"$probe recall $recall%.3f is below its floor $floor")
    }
  }
}

object RecallFloorSpec {
  val n = 2000
  val dim = 64
  val nQueries = 40
  val k = 5
  val theta = 0.3

  /** `n` seeded unit vectors (vec_id, embedding), the first `nQueries` of
    * them the queries, with the exact answers the probes score against. */
  final class Corpus(spark: SparkSession, seed: Long) {
    import spark.implicits._

    val vecs: DataFrame = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val v = Array.fill(dim)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(x => (x / norm).toFloat))
      }.toDF("vec_id", "embedding")
    }
    val queries: DataFrame = vecs.filter(col("vec_id") < nQueries)

    lazy val topK: Set[(Long, Long)] =
      idPairs(Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k), "query_id", "nbr_id")

    /** Each vector quantized as the operators quantize it, by id. */
    private lazy val quantized: Map[Long, Array[Long]] =
      vecs.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
        .as[(Long, Array[Long])].collect().toMap
    private lazy val norms: Map[Long, Double] =
      quantized.map { case (id, q) => id -> math.sqrt(dot(q, q).toDouble) }
    private def dot(x: Array[Long], y: Array[Long]): Long = {
      var s = 0L
      var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }

    /** The candidate pairs whose exact quantized cosine — the operators'
      * verify arithmetic — reaches `theta`. */
    private def exactPairs(cands: Iterator[(Long, Long)]): Set[(Long, Long)] =
      cands.filter { case (a, b) =>
        dot(quantized(a), quantized(b)).toDouble / (norms(a) * norms(b)) >= theta
      }.toSet

    lazy val selfPairs: Set[(Long, Long)] =
      exactPairs(for (a <- (0L until n).iterator; b <- (a + 1) until n.toLong) yield (a, b))

    /** Hash shard 0 of 5 plays an ingest batch against the rest. */
    lazy val (delta, standing): (DataFrame, DataFrame) = {
      val sharded = Ops.shardByHash(vecs, "vec_id", 5)
      (sharded.filter(col("shard") === 0).drop("shard"), sharded.filter(col("shard") =!= 0).drop("shard"))
    }
    lazy val deltaPairs: Set[(Long, Long)] = {
      val inDelta = delta.select("vec_id").as[Long].collect().toSet
      exactPairs(for (a <- inDelta.iterator; b <- (0L until n).iterator if !inDelta(b)) yield (a, b))
    }
  }

  private def idPairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(found: Set[(Long, Long)], exact: Set[(Long, Long)]): Double = {
    require(exact.nonEmpty, "no exact answers to score against")
    (found intersect exact).size.toDouble / exact.size
  }

  private def topKRecall(c: Corpus, approx: DataFrame): Double =
    recall(idPairs(approx, "query_id", "nbr_id"), c.topK)

  private def pairRecall(found: DataFrame, exact: Set[(Long, Long)]): Double =
    recall(idPairs(found, "id_a", "id_b"), exact)

  /** (probe, floor, its recall on a corpus). */
  val probes: Seq[(String, Double, Corpus => Double)] = Seq(
    ("Similarity.bucketedTopK top-5", 0.75,
      c => topKRecall(c, Similarity.bucketedTopK(c.vecs, c.queries, "vec_id", "embedding", k))),
    ("Similarity.ivfTopK top-5", 0.80,
      c => topKRecall(c, Similarity.ivfTopK(c.vecs, c.queries, "vec_id", "embedding", k))),
    ("Dedup.embeddingNearDupPairs, default tables", 0.85,
      c => pairRecall(Dedup.embeddingNearDupPairs(c.vecs, "vec_id", "embedding",
        threshold = theta), c.selfPairs)),
    ("Dedup.embeddingNearDupPairs, nTables = 16", 0.75,
      c => pairRecall(Dedup.embeddingNearDupPairs(c.vecs, "vec_id", "embedding",
        nTables = 16, threshold = theta), c.selfPairs)),
    ("Dedup.embeddingNearDupPairsBetween", 0.80, { c =>
      val ix = Dedup.embeddingIndex(c.standing, "vec_id", "embedding", threshold = theta)
      try pairRecall(Dedup.embeddingNearDupPairsBetween(c.delta, ix, "vec_id", "embedding",
        threshold = theta), c.deltaPairs)
      finally ix.release()
    }),
    ("Similarity.pqTopK top-5, rerank 50", 0.80,
      c => topKRecall(c, Similarity.pqTopK(c.vecs, c.queries, "vec_id", "embedding", k,
        rerank = 50))),
    ("Similarity.ivfPqTopK top-5, rerank 50", 0.80,
      c => topKRecall(c, Similarity.ivfPqTopK(c.vecs, c.queries, "vec_id", "embedding", k,
        rerank = 50))),
    ("Similarity.ivfPqTopK residual top-5, rerank 50", 0.75,
      c => topKRecall(c, Similarity.ivfPqTopK(c.vecs, c.queries, "vec_id", "embedding", k,
        rerank = 50, residual = true))))

  /** Prints each probe's recall on seeds `from` to `to` and its range. */
  def main(args: Array[String]): Unit = {
    val Array(from, to) = args.map(_.toLong)
    val spark = graft.SparkTestBase.spark
    spark.sparkContext.setLogLevel("ERROR")
    val seen = (from to to).map { seed =>
      val c = new Corpus(spark, seed)
      val rs = probes.map { case (probe, _, measure) => probe -> measure(c) }
      rs.foreach { case (probe, r) => println(f"seed $seed%3d  $r%.3f  $probe") }
      rs.toMap
    }
    probes.foreach { case (probe, floor, _) =>
      val rs = seen.map(_(probe))
      println(f"range  ${rs.min}%.3f–${rs.max}%.3f  floor $floor  $probe")
    }
    spark.stop()
  }
}
