package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Every pin owns its cache: a pin whose plan equals another live pin's
  * neither shares nor releases that pin's cache. */
class PinOwnershipSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = (0L until 40L).map { i =>
    (i, (0 until 12).map(j => s"w${(i / 2 * 7 + j) % 31}").mkString(" "))
  }.toDF("doc_id", "text")

  private val vecs = (0L until 40L).map { i =>
    (i, Array.tabulate(6)(j => (((i / 2 * 31 + j * 17) % 23) - 11).toFloat / 10f))
  }.toDF("vec_id", "embedding")

  /** Build `index`, run `oneShot` (a call that builds and releases an index
    * of the same plan), and check that the live index's RDDs stay
    * persisted and that reading `view` costs no more jobs than before. */
  private def survives[I <: StandingIndex](index: => I)(view: I => Unit)(oneShot: => Unit): Unit = {
    val start = pinned
    val ix = index
    try {
      val own = pinned -- start
      assert(own.nonEmpty)
      val untouched = jobsRun(view(ix))
      oneShot
      assert(own.subsetOf(pinned), "the one-shot call released the live index's pin")
      assert(jobsRun(view(ix)) <= untouched)
    } finally ix.release()
  }

  test("a one-shot minhashLshPairs leaves a live minhashIndex of the same frame pinned") {
    survives(Dedup.minhashIndex(docs, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3))(
      _.shingles.collect()) {
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3).collect()
    }
  }

  test("a one-shot embeddingNearDupPairs leaves a live embeddingIndex of the same frame pinned") {
    survives(Dedup.embeddingIndex(vecs, "vec_id", "embedding", signBits = 3))(_.vecs.collect()) {
      Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", signBits = 3).collect()
    }
  }

  test("a sorted pinned frame joins a frame derived from itself (PageRank's edge layout)") {
    val edges = spark.range(0L, 60L).select((col("id") % 7).as("src"), (col("id") % 11).as("dst"))
    val ranks = Graph.pageRank(edges, "src", "dst", iterations = 3)
    assert(ranks.count() == 11L)
    Pinned.scoped { pin =>
      val e = pin(edges.repartition(col("src")).sortWithinPartitions("src"))
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val joined = e.join(deg, "src")
      assert(joined.join(e.select(col("src").as("node")).distinct(), col("dst") === col("node")).count() > 0L)
    }
  }

  test("a released scoped pin of a live segment's plan leaves the segment pinned; no cache entry is registered") {
    def rows = spark.range(0L, 200L).select(col("id"), (col("id") * 2).as("x"))
    val start = pinned
    val seg = Segment.pin(rows)
    try {
      val own = pinned -- start
      assert(own.nonEmpty)
      assert(Pinned.scoped(pin => pin(rows).count()) == 200L)
      assert(own.subsetOf(pinned), "releasing the scoped pin released the segment")
      assert(seg.frame.count() == 200L)
      assert(spark.sharedState.cacheManager.isEmpty, "a pin registered a shared cache entry")
    } finally seg.release()
    assert(pinned == start)
  }
}
