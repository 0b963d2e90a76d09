package graft.operators

import org.apache.spark.sql.functions.col
import graft.SparkTestBase

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  test("connectedComponents: chains, triangles, singletons") {
    // components: {1,2,3} (chain), {5,6} (edge), {9} (singleton)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    val n = 12
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val nodes = (1 to n).map(_.toLong).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .collect().map(r => r.getLong(1)).toSet
    assert(out == Set(1L)) // everything collapses to the min label
  }

  test("dedupedCorpus: keeps cluster minimum + unpaired docs") {
    val docs = Seq(
      (0L, "spark shuffles data across the cluster during wide transformations always"),
      (1L, "spark shuffles data across the cluster during wide transformations always"),
      (2L, "completely unrelated text about cooking pasta with fresh tomatoes basil")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupedCorpus(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L)) // doc 1 folded into doc 0's cluster
  }

  test("connectedComponents: empty pair set leaves all singletons") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .filter(col("id") =!= col("component"))
    assert(out.count() == 0)
  }

  test("connectedComponentsIncremental: equals the full recompute") {
    // history: {1,2,3} and {5,6}; delta merges the two via 3-5 and adds a
    // brand-new pair {10,11} plus an untouched singleton 9
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val oldNodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val prior = Dedup.connectedComponents(oldPairs, oldNodes, "doc_id")
    val deltaPairs = Seq((3L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    val allNodes = Seq(1L, 2L, 3L, 5L, 6L, 9L, 10L, 11L).toDF("doc_id")
    val inc = Dedup.connectedComponentsIncremental(prior, deltaPairs, allNodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(oldPairs.union(deltaPairs), allNodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
    // the merge relabels the {5,6} family down to root 1
    assert(inc(5L) == 1L && inc(6L) == 1L && inc(9L) == 9L && inc(11L) == 10L)
  }

  test("connectedComponentsIncremental: empty delta is a no-op relabel") {
    val oldPairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 5L, 6L).toDF("doc_id")
    val prior = Dedup.connectedComponents(oldPairs, nodes, "doc_id")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(prior, none, nodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("leakage-safe split: a planted near-dup pair never straddles the boundary") {
    // docs 100/101 are near-identical (one token differs); 200 is unrelated
    val docs = Seq(
      (100L, "spark shuffles data across the cluster during wide transformations always"),
      (101L, "spark shuffles data across the cluster during wide transformations often"),
      (200L, "completely unrelated text about cooking pasta with fresh tomatoes basil")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 3, threshold = 0.5)
    assert(pairs.count() >= 1) // the plant actually pairs
    val labels = Dedup.connectedComponents(pairs, docs, "doc_id")
    val split = Ops.splitByGroupHash(labels, "component",
        Seq("train" -> 0.5, "holdout" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // the near-dups share a component label, hence a split — whatever the
    // individual doc-id hashes would have said
    assert(split(100L) == split(101L))
    assert(split.size == 3)
  }

  test("saveComponentLabels/loadComponentLabels: round trip; missing store fails fast") {
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, docs, "doc_id")
    val path = java.nio.file.Files.createTempDirectory("graft_cclbl_spec").toString
    Dedup.saveComponentLabels(labels, path)
    val pinnedLabels = Dedup.loadComponentLabels(spark, path) // pinned: the caller unpersists
    val loaded = try pinnedLabels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally pinnedLabels.unpersist(false)
    assert(loaded == Seq((1L, 1L), (2L, 1L), (3L, 3L)))
    // a missing store names the problem instead of an AnalysisException
    val err = intercept[IllegalArgumentException] {
      Dedup.loadComponentLabels(spark, path + "_nope")
    }
    assert(err.getMessage.contains("incomplete"))
  }

  /** Union-find oracle: node → min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(x => x -> find(x)).toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // without AQE coalescing the distinct edge set keeps all 4 shuffle
  // partitions, so the one-partition local pass does not apply and the
  // large-star/small-star loop runs
  private def multiPartition(f: => Unit): Unit =
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(f)

  test("connectedComponents over >= 4 partitions: long chain and two joined stars equal union-find") {
    multiPartition {
      // a 300-node chain over a seeded permutation of the ids, so consecutive
      // chain links land in different partitions
      val perm = new scala.util.Random(11L).shuffle((1L to 300L).toList)
      val chain = perm.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
      // two 20-leaf stars (centers 1000, 2000) joined leaf to leaf
      val stars = (1001L to 1020L).map(1000L -> _) ++ (2001L to 2020L).map(2000L -> _) :+
        (1020L -> 2001L)
      val edges = chain ++ stars
      val nodes = (1L to 300L) ++ (1000L to 1020L) ++ (2000L to 2020L) :+ 5000L
      val pairs = edges.toDF("id_a", "id_b")
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 4)
      var got = Map.empty[Long, Long]
      val jobs = jobsRun {
        got = labels(Dedup.connectedComponents(pairs, nodes.toDF("doc_id"), "doc_id"))
      }
      assert(got == unionFind(edges, nodes))
      assert(got(2020L) == 1000L && got(5000L) == 5000L && got.values.toSet.size == 3)
      assert(jobs > 6, s"expected the round loop to run, saw only $jobs jobs")
    }
  }

  test("connectedComponentsIncremental over >= 4 partitions equals union-find over all pairs") {
    multiPartition {
      val old = (1L until 40L).map(i => (i, i + 1)) ++ (100L until 130L).map(i => (i, i + 1))
      val delta = Seq((40L, 130L), (200L, 201L), (7L, 115L))
      val oldNodes = (1L to 40L) ++ (100L to 130L)
      val allNodes = oldNodes ++ Seq(200L, 201L, 300L)
      val prior = Dedup.connectedComponents(old.toDF("id_a", "id_b"), oldNodes.toDF("doc_id"), "doc_id")
      val inc = labels(Dedup.connectedComponentsIncremental(prior, delta.toDF("id_a", "id_b"),
        allNodes.toDF("doc_id"), "doc_id"))
      assert(inc == unionFind(old ++ delta, allNodes))
      assert(inc(130L) == 1L && inc(201L) == 200L && inc(300L) == 300L)
    }
  }

  test("connectedComponents on a one-partition graph: the local pass alone, <= 6 jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L), (4L, 1L))
    val nodes = (1L to 12L)
    val pairs = edges.toDF("id_a", "id_b").localCheckpoint(true)
    val docs = nodes.toDF("doc_id").localCheckpoint(true)
    var got = Map.empty[Long, Long]
    val jobs = jobsRun { got = labels(Dedup.connectedComponents(pairs, docs, "doc_id")) }
    assert(got == unionFind(edges, nodes))
    // the distinct's exchange, the forest collect, the labels' broadcast
    // and the result
    assert(jobs <= 4, s"one-partition components ran $jobs jobs")
  }

  test("connectedComponents: string ids take the local pass with Spark's string order") {
    // "Z" < "a" < "é" in UTF-8 byte order; the root must be the byte-order min
    val pairs = Seq(("a", "é"), ("é", "Z"), ("x", "y")).toDF("id_a", "id_b")
    val nodes = Seq("a", "é", "Z", "x", "y", "solo").toDF("name")
    val single = Dedup.connectedComponents(pairs, nodes, "name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(single == Map("a" -> "Z", "é" -> "Z", "Z" -> "Z", "x" -> "x", "y" -> "x", "solo" -> "solo"))
    multiPartition {
      val multi = Dedup.connectedComponents(pairs, nodes, "name")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(multi == single)
    }
  }
}
