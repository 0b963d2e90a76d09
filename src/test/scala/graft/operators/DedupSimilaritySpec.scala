package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.expressions.{CellMatrix, CodeMatrix, Kernels, PqMatrix}

class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  // 3 docs: 0 and 1 are near-identical (one word changed), 2 unrelated
  private def docs = Seq(
    (0L, "spark shuffles data across the cluster during wide transformations always"),
    (1L, "spark shuffles data across the cluster during wide transformations sometimes"),
    (2L, "completely unrelated text about cooking pasta with fresh tomatoes basil")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized text") {
    val dup = docs.union(Seq((3L, "Spark shuffles data across the cluster during wide transformations always"))
      .toDF("doc_id", "text"))
    val out = Dedup.exact(dup, "doc_id", "text")
    assert(out.count() == 3) // doc 3 normalizes equal to doc 0
    assert(out.filter(col("n_copies") === 2).head().getLong(1) == 0L) // keep_id = min
  }

  test("ngramJaccardPairs finds the near-dup pair, not the unrelated one") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("sparseCosinePairs: exact tf cosine on shared terms, nothing else") {
    import graft.functions.Text
    // unigram tf space: A=(a:2, b:1), B=(a:1, b:2) → dot 4, |A|=|B|=√5,
    // cosine 4/(√5·√5) — the exact IEEE value (√5² = 5 + 1ulp), which any
    // engine doing the same correctly-rounded ops reproduces bit-for-bit;
    // C shares no term with A or B → never a candidate
    val d = Seq((1L, "a a b"), (2L, "a b b"), (3L, "x y z")).toDF("doc_id", "text")
    val out = Similarity.sparseCosinePairs(d, "doc_id", Text.tokens(col("text")),
        threshold = 0.0, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 4.0 / (math.sqrt(5.0) * math.sqrt(5.0)))))
  }

  test("sparseCosinePairs: df cap drops boilerplate terms before pairing") {
    import graft.functions.Text
    // 'the' occurs in all 4 docs; with maxDf=3 it is dropped, so docs that
    // share ONLY 'the' never meet — and doc 4, left with no kept terms,
    // pairs with nobody (rather than scoring 1.0 on boilerplate alone)
    val d = Seq((1L, "the alpha beta"), (2L, "the alpha beta"),
      (3L, "the gamma delta"), (4L, "the")).toDF("doc_id", "text")
    val out = Similarity.sparseCosinePairs(d, "doc_id", Text.tokens(col("text")),
        threshold = 0.5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
    intercept[IllegalArgumentException](
      Similarity.sparseCosinePairs(d, "doc_id", Text.tokens(col("text")), 0.5, 0))
  }

  test("minhashLshPairs agrees with exact jaccard on the planted pair") {
    val out = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 3, threshold = 0.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((0L, 1L)))
    // 10 tokens -> 8 shingles per doc; only the last differs -> 7 common, union 9
    assert(math.abs(r.getDouble(2) - 7.0 / 9.0) < 1e-12)
  }

  test("new dedup operators plan as keyed joins — no cartesian, no nested loop") {
    // eager operators checkpoint internally, so audit the CANDIDATE stage
    // plans they are built from (the join-shape risk lives there)
    val subPlan = {
      val e = docs.select(col("doc_id").as("id"),
        explode(graft.functions.Text.wordShingles(col("text"), 5)).as("s"))
        .select(col("id"), md5(col("s")).as("h"))
      e.as("x").join(e.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
        .queryExecution.executedPlan.toString
    }
    assert(!subPlan.contains("CartesianProduct") && !subPlan.contains("BroadcastNestedLoopJoin"),
      s"substring candidate join must be a keyed equi-join:\n$subPlan")
    val boilerPlan = Dedup.stripBoilerplateLines(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!boilerPlan.contains("CartesianProduct") && !boilerPlan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate plan must be keyed joins only:\n$boilerPlan")
  }

  test("minhashIndex: one prebuilt index serves self-join AND delta-join, equal to the direct calls") {
    val delta = docs.filter(col("doc_id") === 0)
    val corpus = docs.filter(col("doc_id") =!= 0)
    val ixC = Dedup.minhashIndex(corpus, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3)
    val ixD = Dedup.minhashIndex(delta, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3)
    val selfIx = Dedup.minhashLshPairsIndexed(ixC, threshold = 0.5)
    val selfDirect = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 3, threshold = 0.5)
    assert(rowSet(selfIx) == rowSet(selfDirect))
    val betweenIx = Dedup.minhashLshPairsBetweenIndexed(ixD, ixC, threshold = 0.5)
    val betweenDirect = Dedup.minhashLshPairsBetween(delta, corpus, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 3, threshold = 0.5)
    assert(rowSet(betweenIx) == rowSet(betweenDirect))
    assert(betweenIx.count() == 1) // the planted cross pair
    ixC.release(); ixD.release()
  }

  /** The band-join delta path `minhashLshPairsBetweenIndexed` ran before
    * its one-scan probe: a (band, band_key) equi-join of the two indexes'
    * band rows, a candidate distinct, and the exact verify joined back to
    * both shingle sets. */
  private def bandJoinBetween(left: Dedup.MinhashIndex, right: Dedup.MinhashIndex,
      threshold: Double): Set[Seq[Any]] = {
    val cand = left.bandedKeys.as("x").join(right.bandedKeys.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    rowSet(cand
      .join(left.shingles.select(col("id").as("id_a"), col("sh").as("sh_a"), col("nsh").as("nsh_a")), Seq("id_a"))
      .join(right.shingles.select(col("id").as("id_b"), col("sh").as("sh_b"), col("nsh").as("nsh_b")), Seq("id_b"))
      .filter(least(col("nsh_a"), col("nsh_b")).cast("double") >=
        greatest(col("nsh_a"), col("nsh_b")) * lit(threshold - 1e-9))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard"))
  }

  /** A seeded corpus of 20-word docs and a delta of edited copies: 1–6
    * words replaced, an exact copy, a copy under a corpus id, docs below
    * three tokens, an empty and a null text. */
  private def minhashDeltaFixture: (Seq[(Long, String)], Seq[(Long, Option[String])]) = {
    val rnd = new scala.util.Random(20261019L)
    val vocab = (0 until 60).map(i => s"w$i")
    val corpus = (0L until 150L).map(i => (i, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    def edit(t: String, k: Int) = {
      val ws = t.split(" ")
      (0 until k).foreach(_ => ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size)))
      ws.mkString(" ")
    }
    val edited = (0 until 40).map(i => (1000L + i, Option(edit(corpus(rnd.nextInt(150))._2, 1 + i % 6))))
    val delta = edited ++ Seq(
      (2000L, Option(corpus(5)._2)), // an exact copy: it collides in every band
      (7L, Option(edit(corpus(7)._2, 1))), // a near-dup under its corpus doc's own id
      (9L, Option(corpus(10)._2)), // a corpus id on another doc's copy
      (2001L, Option("w1 w2")), (2002L, Option("")), (2003L, None))
    (corpus, delta)
  }

  test("minhash delta probe ≡ the band join + exact verify: each pair once, no pin") {
    val (corpusRows, deltaRows) = minhashDeltaFixture
    val longIds = (corpusRows.toDF("doc_id", "text"), deltaRows.toDF("doc_id", "text"))
    val stringIds = (corpusRows.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text"),
      deltaRows.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text"))
    for ((corpus, delta) <- Seq(longIds, stringIds); threshold <- Seq(0.5, 0.8)) {
      val ixR = Dedup.minhashIndex(corpus, "doc_id", "text")
      val ixL = Dedup.minhashIndex(delta, "doc_id", "text")
      val want = bandJoinBetween(ixL, ixR, threshold)
      val before = pinned
      val got = Dedup.minhashLshPairsBetweenIndexed(ixL, ixR, threshold)
      assert(pinned == before, "the probe pins nothing")
      assert(rowSet(got) == want, s"θ=$threshold")
      assert(got.count() == want.size, s"each pair once at θ=$threshold")
      assert(got.schema.map(_.dataType) == Seq(corpus.schema("doc_id").dataType,
        corpus.schema("doc_id").dataType, org.apache.spark.sql.types.DoubleType))
      // the cases are there: the exact copy (every band) and the id-sharing
      // near-dup pair (excluded), several edited copies at θ 0.5
      val key = (i: Long) => if (corpus.schema("doc_id").dataType.typeName == "string") s"d$i" else i
      assert(want.contains(Seq(key(2000L), key(5L), 1.0)))
      assert(!want.exists(p => p(0) == p(1)))
      assert(want.size >= (if (threshold < 0.6) 10 else 3), s"${want.size} pairs at θ=$threshold")
      assert(rowSet(Dedup.minhashLshPairsBetween(delta, corpus, "doc_id", "text",
        threshold = threshold)) == want)
      // empty delta, empty standing index
      val none = Dedup.minhashIndex(delta.limit(0), "doc_id", "text")
      assert(Dedup.minhashLshPairsBetweenIndexed(none, ixR, threshold).count() == 0)
      val empty = Dedup.minhashIndex(corpus.limit(0), "doc_id", "text")
      assert(Dedup.minhashLshPairsBetweenIndexed(ixL, empty, threshold).count() == 0)
      Seq(ixR, ixL, none, empty).foreach(_.release())
    }
    // the exact copy collides in all four bands, yet is one pair
    val ixR = Dedup.minhashIndex(longIds._1, "doc_id", "text")
    val ixL = Dedup.minhashIndex(longIds._2, "doc_id", "text")
    val bands = ixL.bandedKeys.filter(col("id") === 2000L).join(
      ixR.bandedKeys.filter(col("id") === 5L), Seq("band", "band_key")).count()
    assert(bands == 4)
    ixR.release(); ixL.release()
  }

  test("minhashLshPairsBetween: delta vs corpus finds the cross pair, never corpus-internal ones") {
    val delta = docs.filter(col("doc_id") === 0)
    // corpus holds BOTH a near-dup of the delta doc (1) and an internal
    // exact-dup pair (2, 3) — only the cross pair may be reported
    val corpus = docs.filter(col("doc_id") =!= 0)
      .union(Seq((3L, "completely unrelated text about cooking pasta with fresh tomatoes basil"))
        .toDF("doc_id", "text"))
    val out = Dedup.minhashLshPairsBetween(delta, corpus, "doc_id", "text",
      n = 3, bands = 4, rowsPerBand = 3, threshold = 0.5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    // same jaccard as the self-join operator computes for that pair
    assert(math.abs(out.head.getDouble(2) - 7.0 / 9.0) < 1e-12)
  }

  test("dedupedCorpus: default keeps min id; keepBy keeps the best-ranked member") {
    val defaultKept = Dedup.dedupedCorpus(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(defaultKept == Seq(0L, 2L)) // cluster {0,1} keeps min id 0
    // keepBy inverts the preference: cluster {0,1} keeps 1; singleton 2 stays
    val bestKept = Dedup.dedupedCorpus(docs, "doc_id", "text", threshold = 0.5,
        keepBy = Seq(col("doc_id").desc))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bestKept == Seq(1L, 2L))
    // reserved-name clash guard
    intercept[IllegalArgumentException](
      Dedup.dedupedCorpus(docs.withColumn("__graft_comp", lit(1)), "doc_id", "text",
        keepBy = Seq(col("doc_id"))))
  }

  test("a repeated id is matched once per row, never merged into one shingle set") {
    // id 1 sits on two rows (texts A and B), id 3 on two copies of B: each
    // row is indexed on its own text, so 1 pairs with 2 through A and with
    // 3 through B once per matching (row, row) combination
    val a = docs.filter(col("doc_id") === 0).head().getString(1)
    val b = docs.filter(col("doc_id") === 2).head().getString(1)
    val d = Seq((1L, a), (1L, b), (2L, a), (3L, b), (3L, b)).toDF("doc_id", "text")
    val want = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 3L, 1.0))
    def sorted(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(sorted(Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8)) == want)
    assert(sorted(Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.8)) == want)
    // one component {1, 2, 3}: both rows of its min id are kept
    assert(Dedup.dedupedCorpus(d, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted == Seq((1L, a), (1L, b)).sorted)
  }

  test("stripBoilerplateLines: cross-doc lines removed, order kept, edge docs handled") {
    val d = Seq(
      (1L, "alpha unique content\nSubscribe now\nmore alpha"),
      (2L, "beta body text\nSubscribe now\n  \nCopyright 2024"),
      (3L, "Subscribe now\nCopyright 2024"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == "alpha unique content\nmore alpha")
    assert(out(0).getAs[Long]("n_lines_kept") == 2L)
    assert(out(1).getAs[String]("clean_text") == "beta body text") // blank line dropped too
    assert(out(2).getAs[String]("clean_text") == "")               // all-boiler doc survives empty
    assert(out(2).getAs[Long]("n_lines_kept") == 0L)
    assert(out(3).isNullAt(out(3).fieldIndex("clean_text")))       // null text stays null
    // repetition WITHIN one doc alone is not boilerplate
    val solo = Seq((1L, "same line\nsame line\nother")).toDF("doc_id", "text")
    assert(Dedup.stripBoilerplateLines(solo, "doc_id", "text")
      .head().getAs[Long]("n_lines_kept") == 3L)
    intercept[IllegalArgumentException](
      Dedup.stripBoilerplateLines(d.withColumn("__lh", lit(1)), "doc_id", "text"))
  }

  test("substringDupPairs: verbatim block inside dissimilar docs — the mode Jaccard misses") {
    // a 60-token verbatim block planted inside two otherwise-disjoint docs
    val block = (0 until 60).map(i => s"boiler$i").mkString(" ")
    val fillerA = (0 until 200).map(i => s"alpha$i").mkString(" ")
    val fillerB = (0 until 200).map(i => s"beta$i").mkString(" ")
    val d = Seq(
      (0L, s"$fillerA $block ${(0 until 40).map(i => s"tailA$i").mkString(" ")}"),
      (1L, s"$fillerB $block ${(0 until 40).map(i => s"tailB$i").mkString(" ")}"),
      (2L, (0 until 300).map(i => s"gamma$i").mkString(" "))
    ).toDF("doc_id", "text")
    // global Jaccard of (0,1) is ~60/540 << 0.8: the Jaccard path finds nothing
    assert(Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8).isEmpty)
    // the substring path flags exactly the planted pair; a 60-token block
    // has 60 - 50 + 1 = 11 shared 50-token windows
    val out = Dedup.substringDupPairs(d, "doc_id", "text", k = 50).collect()
    assert(out.length == 1)
    assert((out.head.getLong(0), out.head.getLong(1)) == ((0L, 1L)))
    assert(out.head.getLong(2) == 11L)
    // minShared above the shared-window count suppresses the pair
    assert(Dedup.substringDupPairs(d, "doc_id", "text", k = 50, minShared = 12L).isEmpty)
    // k longer than the block: nothing to find
    assert(Dedup.substringDupPairs(d, "doc_id", "text", k = 61).isEmpty)
  }

  test("substringDupSpans: longest shared run measured EXACTLY via diagonal islands") {
    val block = (0 until 35).map(i => s"span$i").mkString(" ") // 35-token shared block
    val nine = (0 until 9).map(i => s"nine$i").mkString(" ")   // 9 tokens: below k=10
    val d = Seq(
      (0L, s"${(0 until 50).map(i => s"a$i").mkString(" ")} $block ${(0 until 20).map(i => s"aa$i").mkString(" ")} $nine"),
      (1L, s"${(0 until 30).map(i => s"b$i").mkString(" ")} $block $nine x ${(0 until 10).map(i => s"bb$i").mkString(" ")}"),
      (2L, (0 until 80).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupSpans(d, "doc_id", "text", k = 10, minRunTokens = 20).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((0L, 1L)))
    // the 35-token block is the longest run, measured exactly; the shared
    // 9-token 'nine' phrase sits below k and contributes nothing
    assert(r.getLong(2) == 35L)
    // thresholds above the block length suppress the pair
    assert(Dedup.substringDupSpans(d, "doc_id", "text", k = 10, minRunTokens = 36).isEmpty)
  }

  test("substringSpansBetween: eval quote inside a train doc measured; eval-internal pairs invisible") {
    val quote = (0 until 25).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (0L, s"${(0 until 40).map(i => s"t$i").mkString(" ")} $quote ${(0 until 15).map(i => s"tt$i").mkString(" ")}"),
      (1L, (0 until 60).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, s"${(0 until 5).map(i => s"e$i").mkString(" ")} $quote"),
      (101L, s"${(0 until 5).map(i => s"e$i").mkString(" ")} $quote") // eval-internal dup
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpansBetween(train, evalSet, "doc_id", "text",
      k = 10, minRunTokens = 20).orderBy("train_id", "eval_id").collect()
    // train 0 quotes BOTH eval docs at exactly 25 tokens; eval 100↔101's
    // mutual 30-token overlap is eval-internal and must not appear
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 100L, 25L), (0L, 101L, 25L)))
  }

  test("simhashTable equals the Column-level Text.simhash") {
    import graft.functions.Text
    val t = Dedup.simhashTable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = docs.select(col("doc_id"), Text.simhash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == c)
  }

  test("simhashPairs: identical docs at hamming 0; guard on maxHamming") {
    val twins = Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
      (2L, "omicron pi rho sigma")).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(twins, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(twins, "doc_id", "text", maxHamming = 9)
    }
  }

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK: correct neighbor order, self excluded") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
    val got = out.collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L))) // nearest 1, then orthogonal 2, then opposite 3
    val top = out.filter(col("rank") === 1).head()
    assert(math.abs(top.getDouble(2) - (900.0 / math.sqrt(1000000.0 * 820000.0) * 1000)) < 1e-9)
  }

  test("bucketedTopK: only same-sign-bucket candidates (3 excluded for query 0)") {
    val out = Similarity.bucketedTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
      k = 3, signBits = 3)
    val got = out.collect().map(_.getLong(1)).toSet
    assert(!got.contains(3L)) // negative first component -> different bucket
    assert(got.contains(1L))
  }

  test("embeddingNearDupPairs finds the high-cosine pair only") {
    val out = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", signBits = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L)))
  }

  test("embeddingNearDupPairsBetween: delta vs corpus index only — corpus-internal pairs excluded") {
    // corpus holds a near-dup pair (10, 11) of its own; the delta near-dups
    // both of them. Between() must report delta↔corpus pairs ONLY.
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.95f, 0.05f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val delta = Seq((0L, Array(0.99f, 0.01f, 0.0f))).toDF("vec_id", "embedding")
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val out = Dedup.embeddingNearDupPairsBetween(delta, ix, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ix.release()
    assert(out == Set((0L, 10L), (0L, 11L))) // never (10, 11)
    assert(out.forall(_._1 == 0L)) // id_a is always the delta side
  }

  test("embedding/minhash index parquet round-trip: loaded index produces identical pairs") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.95f, 0.05f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val delta = Seq((0L, Array(0.99f, 0.01f, 0.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ix").toString
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val fresh = Dedup.embeddingNearDupPairsBetween(delta, ix, "vec_id", "embedding",
      threshold = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.saveEmbeddingIndex(ix, s"$dir/emb")
    ix.release()
    val loaded = Dedup.loadEmbeddingIndex(spark, s"$dir/emb")
    assert(loaded.bits == 3 && loaded.dim == 3)
    val viaLoaded = Dedup.embeddingNearDupPairsBetween(delta, loaded, "vec_id",
      "embedding", threshold = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    loaded.release()
    assert(viaLoaded == fresh && fresh.nonEmpty)
    // minhash sibling: stored signatures band a delta identically
    val docsC = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles hash partitions across executors for the join stage")
    ).toDF("doc_id", "text")
    val docsD = Seq(
      (9L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    val mIx = Dedup.minhashIndex(docsC, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3)
    val mIxD = Dedup.minhashIndex(docsD, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 3)
    val mFresh = Dedup.minhashLshPairsBetweenIndexed(mIxD, mIx, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.saveMinhashIndex(mIx, s"$dir/mh")
    mIx.release()
    val mLoaded = Dedup.loadMinhashIndex(spark, s"$dir/mh")
    val mVia = Dedup.minhashLshPairsBetweenIndexed(mIxD, mLoaded, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mLoaded.release(); mIxD.release()
    assert(mVia == mFresh && mFresh == Set((9L, 1L)))
  }

  test("embeddingIndex reuse: indexed self-join pairs equal the one-call path") {
    val ix = Dedup.embeddingIndex(vecs, "vec_id", "embedding", signBits = 3)
    val indexed = Dedup.embeddingNearDupPairsIndexed(ix, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ix.release()
    val oneCall = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
        signBits = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed == oneCall)
  }

  test("dedupedCorpusByEmbedding keeps one representative per semantic cluster") {
    // cluster {0, 1} (cosine ≈ 0.994) + singletons 2, 3
    val kept = Dedup.dedupedCorpusByEmbedding(vecs, "vec_id", "embedding",
        threshold = 0.9, signBits = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L)) // min-id representative for {0, 1}
    // keepBy: prefer the HIGHER id in each cluster
    val keptBy = Dedup.dedupedCorpusByEmbedding(vecs, "vec_id", "embedding",
        threshold = 0.9, signBits = 3, keepBy = Seq(col("vec_id").desc))
      .collect().map(_.getLong(0)).toSet
    assert(keptBy == Set(1L, 2L, 3L))
  }

  // two tight planted clusters on the x/y axes; even ids = cluster A,
  // odd ids = cluster B. The hash-ordered centroid seeds for ids 0..9 are
  // 6 (cluster A) and 9 (cluster B), so 2-round Lloyd provably separates
  // the clusters regardless of perturbation.
  private def clustered = Seq.tabulate(10) { i =>
    val eps = 0.01f * i
    if (i % 2 == 0) (i.toLong, Array(1.0f, eps, 0.0f))
    else (i.toLong, Array(eps, 1.0f, 0.0f))
  }.toDF("vec_id", "embedding")

  test("ivfTopK: nprobe=1 restricts to the query's cluster cell") {
    val out = Similarity.ivfTopK(clustered, clustered.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 9, nCells = 2, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(2L, 4L, 6L, 8L)) // cluster A members only, no self
  }

  test("pqTopK: ADC ranks the planted cluster first; guards and determinism") {
    // dim 3, m = 3 ⇒ dsub = 1 (per-dimension scalar quantization): the
    // bimodal per-dim values separate cleanly, so cluster A must fill the
    // query's top-4 despite reconstruction error
    val qs = clustered.filter(col("vec_id") === 0)
    val out = Similarity.pqTopK(clustered, qs, "vec_id", "embedding",
      k = 4, m = 3, kCents = 4)
    val got = out.collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.map(_._1).toSet == Set(2L, 4L, 6L, 8L)) // cluster A only, no self
    assert(got.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // deterministic: an identical second run yields identical rows
    val again = Similarity.pqTopK(clustered, qs, "vec_id", "embedding",
      k = 4, m = 3, kCents = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    // dim not divisible by m is a schema bug, not a silent truncation
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(clustered, qs, "vec_id", "embedding", k = 4, m = 2)
    }
    // rerank covering the whole corpus ⇒ exact re-score equals brute force
    val rr = Similarity.pqTopK(clustered, qs, "vec_id", "embedding",
        k = 4, m = 3, kCents = 4, rerank = 9)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    val bf = Similarity.bruteForceTopK(clustered, qs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    assert(rr == bf)
  }

  test("ivfPqTopK: full probes + full rerank equal brute force; nprobe=1 restricts to the cell") {
    val qs = clustered.filter(col("vec_id") === 0)
    // probe every cell AND rerank the whole corpus ⇒ exact
    val full = Similarity.ivfPqTopK(clustered, qs, "vec_id", "embedding",
        k = 4, nCells = 2, nprobe = 2, m = 3, kCents = 4, rerank = 9)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    val bf = Similarity.bruteForceTopK(clustered, qs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    assert(full == bf)
    // nprobe=1: candidates come from the query's own cell only
    val one = Similarity.ivfPqTopK(clustered, qs, "vec_id", "embedding",
        k = 9, nCells = 2, nprobe = 1, m = 3, kCents = 4, rerank = 9)
      .collect().map(_.getLong(1)).toSet
    assert(one == Set(2L, 4L, 6L, 8L)) // cluster A members only, no self
  }

  // save/load round-trip of an IVF-PQ index with `cells` cells; the one-cell
  // index (nprobe = 1, no Lloyd passes) is the flat PQ store behind pqTopK
  private def pqIndexRoundTrip(cells: Int, probes: Int, lloyd: Int): Unit = {
    val qs = clustered.filter(col("vec_id") === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqix").toString
    val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
      nCells = cells, ivfLloydIters = lloyd, m = 3, kCents = 4)
    val fresh = Similarity.ivfPqTopKIndexed(ix, qs, "vec_id", "embedding",
        k = 4, nprobe = probes, rerank = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    if (cells == 1) {
      val flat = Similarity.pqTopK(clustered, qs, "vec_id", "embedding",
          k = 4, m = 3, kCents = 4, rerank = 9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(flat == fresh)
    }
    val corpusCodes = ix.codes.filter(col("nbr_id") === 0L)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    Similarity.saveIvfPqIndex(ix, s"$dir/ix")
    ix.release()
    val loaded = Similarity.loadIvfPqIndex(spark, s"$dir/ix")
    assert(loaded.m == 3 && loaded.kCents == 4 && loaded.nCells == cells &&
      loaded.dim == 3 && !loaded.residual)
    val via = Similarity.ivfPqTopKIndexed(loaded, qs, "vec_id", "embedding",
        k = 4, nprobe = probes, rerank = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(via == fresh && fresh.nonEmpty, s"nCells=$cells")
    // ingest: an identical vector reproduces the corpus codes
    val batch = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val asg = Similarity.assignToIvfPqIndex(batch, loaded, "vec_id", "embedding")
      .collect().map(r => (r.getInt(2), r.getLong(3))).toSet
    loaded.release()
    assert(asg == corpusCodes, s"nCells=$cells")
    // a partially-written index names the missing component up front
    // (ADVICE r7), not an AnalysisException deep in a later join
    val p = new org.apache.hadoop.fs.Path(s"$dir/ix/params")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val e = intercept[IllegalArgumentException](Similarity.loadIvfPqIndex(spark, s"$dir/ix"))
    assert(e.getMessage.contains("params"))
  }

  test("IvfPqIndex parquet round-trip: loaded index answers identically; partial save fails fast") {
    pqIndexRoundTrip(cells = 2, probes = 2, lloyd = 4)
  }

  test("PqIndex (flat) parquet round-trip: loaded index answers identically; assignment matches corpus codes") {
    pqIndexRoundTrip(cells = 1, probes = 1, lloyd = 0)
  }

  test("an index re-save that fails mid-way leaves no commit marker: the load names it") {
    val boom = raise_error(lit("injected write failure"))
    def failsToLoad(load: => Any, marker: String = "params"): Unit = {
      val e = intercept[IllegalArgumentException](load)
      assert(e.getMessage.contains(s"missing component(s): $marker"), e.getMessage)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_resave").toString
    // embedding: vecs, then buckets (fails), then the params marker
    val emb = Dedup.embeddingIndex(vecs, "vec_id", "embedding", signBits = 3)
    Dedup.saveEmbeddingIndex(emb, s"$dir/emb")
    val embSeg = emb.segments.head
    val badPacked = embSeg.frame.withColumn("bk",
      when(col("id") === 2L, boom).otherwise(col("bk")))
    val badEmb = emb.copy(segments = Vector(new Segment(badPacked, embSeg.rows, embSeg.partitions, Nil)))
    intercept[Exception](Dedup.saveEmbeddingIndex(badEmb, s"$dir/emb"))
    failsToLoad(Dedup.loadEmbeddingIndex(spark, s"$dir/emb"))
    // a clean re-save restores it; saving over the directory an index was
    // loaded from is refused before the marker is touched
    Dedup.saveEmbeddingIndex(emb, s"$dir/emb")
    emb.release()
    val loaded = Dedup.loadEmbeddingIndex(spark, s"$dir/emb")
    intercept[IllegalArgumentException](Dedup.saveEmbeddingIndex(loaded, s"$dir/emb"))
    loaded.release()
    Dedup.loadEmbeddingIndex(spark, s"$dir/emb").release()
    // IVF-PQ: the codes view (the fifth of six parts) fails at write time
    val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
      nCells = 2, m = 3, kCents = 4)
    Similarity.saveIvfPqIndex(ix, s"$dir/ivf")
    val seg = ix.segments.head
    val badStore = seg.frame.withColumn("codes",
      when(col("nbr_id") === 3L, boom).otherwise(col("codes")))
    val bad = ix.copy(segments = Vector(new Segment(badStore, seg.rows, seg.partitions, Nil)))
    intercept[Exception](Similarity.saveIvfPqIndex(bad, s"$dir/ivf"))
    ix.release()
    failsToLoad(Similarity.loadIvfPqIndex(spark, s"$dir/ivf"))
    // Naive Bayes: token_lik fails at write time; class_stats is the marker
    val nb = Classify.nbTrain(Seq(("spam", "cheap pills now"), ("ham", "lunch at noon"))
      .toDF("label", "text"), "label", "text")
    Classify.saveNbModel(nb, s"$dir/nb")
    val badLik = nb.tokenLik.withColumn("lik_micro",
      when(col("token") === "pills", boom).otherwise(col("lik_micro")))
    intercept[Exception](Classify.saveNbModel(nb.copy(tokenLik = badLik), s"$dir/nb"))
    failsToLoad(Classify.loadNbModel(spark, s"$dir/nb"), "class_stats")
    Classify.saveNbModel(nb, s"$dir/nb")
    assert(rowSet(Classify.loadNbModel(spark, s"$dir/nb").classStats) == rowSet(nb.classStats))
  }

  test("failing index builds check arguments before pinning and leak no pin") {
    val tenDim = Seq.tabulate(4)(i => (i.toLong, Array.tabulate(10)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding")
    def leaksNothing(build: => Any): Unit = {
      val before = pinned
      intercept[IllegalArgumentException](build)
      assert(pinned == before)
    }
    leaksNothing(Similarity.ivfPqIndex(tenDim, "vec_id", "embedding", m = 3))
    leaksNothing(Similarity.pqTopK(tenDim, tenDim, "vec_id", "embedding", k = 2, m = 3))
    // an invalid search argument releases the index built for the call
    leaksNothing(Similarity.pqTopK(clustered, clustered, "vec_id", "embedding",
      k = 4, m = 3, kCents = 4, rerank = 2))
    for ((n, bands, rows) <- Seq((0, 4, 3), (3, 0, 3), (3, 4, 0)))
      leaksNothing(Dedup.minhashIndex(docs, "doc_id", "text", n, bands, rows))
  }

  test("residual IVF-PQ: full probes + full rerank equal brute force; ingest assignment is a pure function") {
    val qs = clustered.filter(col("vec_id") === 0)
    val full = Similarity.ivfPqTopK(clustered, qs, "vec_id", "embedding",
        k = 4, nCells = 2, nprobe = 2, m = 3, kCents = 4, rerank = 9, residual = true)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    val bf = Similarity.bruteForceTopK(clustered, qs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2).toSeq
    assert(full == bf)
    // a batch vector IDENTICAL to corpus vec 0 must land in vec 0's cell
    // with vec 0's exact codes — assignment is a pure function of the
    // STORED centroids/codebooks (the q122 contract)
    val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
      nCells = 2, m = 3, kCents = 4, residual = true)
    val batch = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val asg = Similarity.assignToIvfPqIndex(batch, ix, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val corpusCell = ix.cells.filter(col("nbr_id") === 0L).head().getLong(1)
    val corpusCodes = ix.codes.filter(col("nbr_id") === 0L)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(asg.map(_._1).toSet == Set(100L) && asg.length == 3)
    assert(asg.map(_._2).toSet == Set(corpusCell))
    assert(asg.map(t => (t._3, t._4)).toSet == corpusCodes)
    // extend: the ingested copy becomes searchable at exact cosine 1.0
    val ext = Similarity.extendIvfPqIndex(ix, batch, "vec_id", "embedding")
    val got = Similarity.ivfPqTopKIndexed(ext, qs, "vec_id", "embedding",
        k = 5, nprobe = 2, rerank = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    ext.release(); ix.release()
    assert(got.contains((100L, 1L)))
  }

  test("filtered ANN: the allowed-id gate restricts results to the permitted set") {
    val qs = clustered.filter(col("vec_id") === 0)
    val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
      nCells = 2, m = 3, kCents = 4)
    // allow only odd ids (cluster B) — the query's OWN cluster is shut out,
    // so every returned neighbor must come from the far cluster
    val allowed = clustered.filter(col("vec_id") % 2 === 1).select("vec_id")
    val got = Similarity.ivfPqTopKIndexed(ix, qs, "vec_id", "embedding",
        k = 9, nprobe = 2, rerank = 9, allowed = Some(allowed))
      .collect().map(_.getLong(1)).toSet
    ix.release()
    assert(got == Set(1L, 3L, 5L, 7L, 9L))
  }

  test("ivfTopK: probing every cell equals brute force") {
    val qs = clustered.filter(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(clustered, qs, "vec_id", "embedding",
        k = 4, nCells = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val brute = Similarity.bruteForceTopK(clustered, qs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(ivf == brute)
  }

  test("knnClassify: modal neighbor label wins; ties toward smaller label; lsh path agrees here") {
    // labeled clusters: even ids (x-axis) label 1, odd ids (y-axis) label 2
    val labeled = Seq.tabulate(10) { i =>
      val eps = 0.01f * i
      if (i % 2 == 0) (i.toLong, Array(1.0f, eps, 0.0f), 1)
      else (i.toLong, Array(eps, 1.0f, 0.0f), 2)
    }.toDF("vec_id", "embedding", "label")
    val qs = labeled.filter(col("vec_id") < 2)
    val got = Similarity.knnClassify(labeled, qs, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // query 0 (cluster A) → label 1 unanimously; query 1 (cluster B) → label 2
    assert(got == Set((0L, 1, 3L), (1L, 2, 3L)))
    // k=4 on this geometry still yields a 3-1 majority, not a tie
    val lsh = Similarity.knnClassify(labeled, qs, "vec_id", "embedding", "label",
      k = 3, method = "lsh")
    assert(lsh.collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((0L, 1), (1L, 2)))
    // vote tie: two labels with one vote each → smaller label wins
    val tie = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f, 0.0f), 5),
      (2L, Array(0.8f, 0.2f, 0.0f), 9)).toDF("vec_id", "embedding", "label")
    val t = Similarity.knnClassify(tie, tie.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", k = 2)
      .head()
    assert(t.getInt(1) == 5 && t.getLong(2) == 1L)
    intercept[IllegalArgumentException](
      Similarity.knnClassify(tie, tie, "vec_id", "embedding", "label", 2, method = "bogus"))
  }

  test("qdot/qcosine: quantized integer dot is exact") {
    val df = Seq((Array(0.5, -0.25), Array(0.5, 0.25))).toDF("a", "b")
    val r = df.select(
      Similarity.qdot(Similarity.quantize(col("a")), Similarity.quantize(col("b"))),
      Similarity.qcosine(Similarity.quantize(col("a")), Similarity.quantize(col("b")))).head()
    assert(r.getLong(0) == 500L * 500 - 250L * 250)
    val exp = (500.0 * 500 - 250.0 * 250) /
      (math.sqrt(500.0 * 500 + 250.0 * 250) * math.sqrt(500.0 * 500 + 250.0 * 250))
    assert(math.abs(r.getDouble(1) - exp) < 1e-12)
    // vectors of different dimensions raise, as in every operator
    val err = intercept[Exception](Seq((Array(0.5), Array(0.5, 0.25))).toDF("a", "b")
      .select(Similarity.qdot(Similarity.quantize(col("a")), Similarity.quantize(col("b"))))
      .collect())
    assert(exceptionChain(err).exists(_.getMessage.contains("dimensions differ")))
  }

  test("centroidOutliers: the planted stray ranks first in its group; partition-independent") {
    // group 0: three near-identical vectors + one opposed stray; group 1: uniform
    val rows = Seq(
      (1L, 0L, Array(1.0, 0.1, 0.0)), (2L, 0L, Array(1.0, 0.0, 0.1)),
      (3L, 0L, Array(0.9, 0.1, 0.1)), (4L, 0L, Array(-1.0, 0.0, 0.0)),
      (5L, 1L, Array(0.0, 1.0, 0.0)), (6L, 1L, Array(0.0, 1.0, 0.1)),
      (7L, 1L, Array(0.0, 0.0, 0.0))) // zero vector: pinned below -1e9
      .toDF("id", "grp", "vec")
    val out = Similarity.centroidOutliers(rows, "id", "vec", "grp", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val g0 = out.filter(_._1 == 0L).sortBy(_._4).map(_._2)
    assert(g0.head == 4L) // the opposed stray is group 0's top outlier
    val g1 = out.filter(_._1 == 1L).sortBy(_._4)
    assert(g1.head._2 == 7L && g1.head._3 == -2000000000L) // zero-norm sentinel first
    val rep = Similarity.centroidOutliers(rows.repartition(7), "id", "vec", "grp", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.sortBy(x => (x._1, x._4)).toSeq == out.sortBy(x => (x._1, x._4)).toSeq)
  }

  test("winnowing: positional guarantee, density, rightmost ties, partition-invariant") {
    val (k, w) = (4, 3)
    // a 60-char random-ish base; doc 2 copies a 20-char run (>= k+w-1 = 6)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val copied = base.substring(10, 30)
    val docs = Seq((1L, base), (2L, "zzz qqq " + copied + " vvv kkk"),
      (3L, "completely different words here"), (4L, "tiny")).toDF("id", "text")
    val fp = Dedup.winnowFingerprints(docs, "id", "text", k, w)
    // doc 4 is shorter than k+w-1 after normalization: no full window
    assert(fp.filter(col("id") === 4L).count() == 0)
    // density: selected fingerprints are far fewer than grams, but nonzero
    val n1 = fp.filter(col("id") === 1L).count()
    assert(n1 > 0 && n1 < base.length - k + 1)
    // positional guarantee: the shared >= k+w-1 run forces a shared hash
    val shared = fp.filter(col("id") === 1L).select("h")
      .intersect(fp.filter(col("id") === 2L).select("h"))
    assert(shared.count() >= 1)
    // deterministic under repartitioning (struct-min tie break is total)
    val again = Dedup.winnowFingerprints(docs.repartition(5), "id", "text", k, w)
    assert(rowSet(fp) == rowSet(again))
    // pairs: only (1,2) share capped fingerprints; jaccard consistent
    val pairs = Dedup.winnowPairs(docs, "id", "text", k, w, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
         r.getAs[Long]("jac_micro"))).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    val (ns, na, nb, jm) = pairs((1L, 2L))
    assert(ns >= 1 && jm == math.round(ns.toDouble / (na + nb - ns) * 1e6))
  }

  test("rankingMetrics: MRR/overlap/nDCG from two ranked lists, misses read zero") {
    def wt(r: Long): Long = math.round(1e6 / (math.log(r + 1) / math.log(2.0)))
    val truth = Seq((1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
      (2L, "x", 1L), (2L, "y", 2L)).toDF("query_id", "nbr_id", "rank")
    // q1: system finds b (rank 1) and a (rank 3); q2: total miss
    val sys = Seq((1L, "b", 1L), (1L, "d", 2L), (1L, "a", 3L),
      (2L, "p", 1L), (2L, "q", 2L)).toDF("query_id", "nbr_id", "rank")
    val m = Similarity.rankingMetrics(sys, truth).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getAs[Long]("n_truth") == 3L && r1.getAs[Long]("n_hit") == 2L)
    assert(r1.getAs[Long]("rr_micro") == math.round(1e6 / 3)) // true top-1 'a' at sys rank 3
    val dcg = wt(1) + wt(3)
    val idcg = wt(1) + wt(2) + wt(3)
    assert(r1.getAs[Long]("dcg_micro") == dcg && r1.getAs[Long]("idcg_micro") == idcg)
    assert(r1.getAs[Long]("ndcg_micro") == math.round(dcg.toDouble / idcg * 1e6))
    val r2 = m(2L)
    assert(r2.getAs[Long]("n_hit") == 0L && r2.getAs[Long]("rr_micro") == 0L)
    assert(r2.getAs[Long]("dcg_micro") == 0L && r2.getAs[Long]("ndcg_micro") == 0L)
    // a perfect run scores nDCG exactly 1
    val perfect = Similarity.rankingMetrics(truth, truth).collect()
    assert(perfect.forall(_.getAs[Long]("ndcg_micro") == 1000000L))
    assert(perfect.forall(_.getAs[Long]("rr_micro") == 1000000L))
  }

  test("rboOverlap: identical runs hit the truncated ceiling, disjoint read zero") {
    val runA = (1L to 10L).map(r => (7L, s"n$r", r)).toDF("query_id", "nbr_id", "rank")
    val idSelf = Similarity.rboOverlap(runA, runA).collect()(0)
    assert(idSelf.getAs[Long]("n_shared") == 10L)
    assert(idSelf.getAs[Long]("rbo_micro") == Similarity.rboWeights10.sum) // 651319
    // disjoint: present query id, zero overlap
    val runB = (1L to 10L).map(r => (7L, s"m$r", r)).toDF("query_id", "nbr_id", "rank")
    val dis = Similarity.rboOverlap(runA, runB).collect()(0)
    assert(dis.getAs[Long]("n_shared") == 0L && dis.getAs[Long]("rbo_micro") == 0L)
    // hand case: only 'b' shared, worse rank 2 -> weight index 2
    val a2 = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("query_id", "nbr_id", "rank")
    val b2 = Seq((1L, "b", 1L), (1L, "c", 2L)).toDF("query_id", "nbr_id", "rank")
    val h = Similarity.rboOverlap(a2, b2).collect()(0)
    assert(h.getAs[Long]("n_shared") == 1L)
    assert(h.getAs[Long]("rbo_micro") == Similarity.rboWeights10(1))
  }

  /** The centroid matrix of a `(cent_id, cv, cc)` frame's rows. */
  private def cellMatrixOf(cents: DataFrame): CellMatrix =
    CellMatrix.of(cents.select("cent_id", "cv", "cc").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))))

  /** The codebook matrix of a `(sub, cent_id, cv, cc)` frame's rows. */
  private def codeMatrixOf(books: DataFrame): CodeMatrix =
    CodeMatrix.of(books.select("sub", "cent_id", "cv", "cc").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3))))

  test("cell/code argmin expressions match the join+min(struct) formulation, ties included (r15)") {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(spark)
    // 12 vectors, dim 4; centroids include an EXACT DUPLICATE pair
    // (cent 2 ≡ cent 5) so every vector ties between them — the expression
    // must reproduce min(struct(d2, cent_id))'s lowest-id tie rule
    val vecs = Seq.tabulate(12) { i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toLong))
    }.toDF("id", "v").withColumn("vv", call_function("graft_qdot", col("v"), col("v")))
    val cents = Seq(
      (1L, Seq(1L, 2L, -1L, 0L)), (2L, Seq(-3L, 0L, 2L, 2L)),
      (3L, Seq(0L, 0L, 0L, 4L)), (5L, Seq(-3L, 0L, 2L, 2L)))
      .toDF("cent_id", "cv")
      .withColumn("cc", call_function("graft_qdot", col("cv"), col("cv")))
    val centsM = cellMatrixOf(cents)
    val viaExpr = vecs.select(col("id"), Kernels.cellArgmin(col("v"), col("vv"), centsM).as("cell"))
    val viaJoin = vecs.join(broadcast(cents))
      .withColumn("d2", col("vv")
        - lit(2) * call_function("graft_qdot", col("v"), col("cv")) + col("cc"))
      .groupBy(col("id"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("id"), col("m.cent_id").as("cell"))
    assert(rowSet(viaExpr) == rowSet(viaJoin))
    // ties resolved to the LOWEST cent_id: nothing may ever land on 5
    assert(viaExpr.filter(col("cell") === 5L).isEmpty)
    assert(!viaExpr.filter(col("cell") === 2L).isEmpty)

    // per-subspace code argmin (PqEncodeLong's m argmins) vs the same
    // reference formulation, with a duplicated codebook entry inside sub 1
    // (codes 1 and 3 identical)
    val sv = vecs.select(col("id"), posexplode(array(
        slice(col("v"), 1, 2), slice(col("v"), 3, 2))).as(Seq("sub", "sv")))
      .withColumn("svv", call_function("graft_qdot", col("sv"), col("sv")))
    val books = Seq(
      (0, 1L, Seq(0L, 1L)), (0, 2L, Seq(-2L, 3L)),
      (1, 1L, Seq(1L, -1L)), (1, 2L, Seq(4L, 0L)), (1, 3L, Seq(1L, -1L)))
      .toDF("sub", "cent_id", "cv")
      .withColumn("cc", call_function("graft_qdot", col("cv"), col("cv")))
    val codeExpr = vecs.select(col("id"), posexplode(Kernels.pqEncode(col("v"), lit(0L),
        new PqMatrix(codeMatrixOf(books), null))).as(Seq("sub", "code")))
      .select(col("id"), col("sub"), col("code").cast("long"))
    val codeJoin = sv.join(broadcast(books), Seq("sub"))
      .withColumn("d2", col("svv")
        - lit(2) * call_function("graft_qdot", col("sv"), col("cv")) + col("cc"))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("id"), col("sub"), col("m.cent_id").as("code"))
    assert(rowSet(codeExpr) == rowSet(codeJoin))
    assert(codeExpr.filter(col("sub") === 1 && col("code") === 3L).isEmpty)

    // dimension mismatch raises (the graft_qdot contract); local mode may
    // surface it bare or wrapped, so match on the message
    val err = intercept[Exception] {
      vecs.select(Kernels.cellArgmin(slice(col("v"), 1, 2), col("vv"), centsM)).collect()
    }
    assert(err.getMessage.contains("dimensions differ")
      || Option(err.getCause).exists(_.getMessage.contains("dimensions differ")))
  }

  test("graft_lsh_buckets expression matches the relational explode+join+agg bucketing (r15)") {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(spark)
    // 20 vectors over dim 6, values straddling zero so sign bits exercise
    // both branches; 3 tables x 4 bits — the real seeded plane derivation
    val vecs = Seq.tabulate(20) { i =>
      (i.toLong, Array.tabulate(6)(j => ((i * 13 + j * 5) % 17 - 8).toLong))
    }.toDF("id", "v")
    val planes = Similarity.hyperplanes(spark, nTables = 3, bits = 4, dim = 6, seed = 42L)
    val matrix = graft.expressions.PlaneMatrix.seeded(nTables = 3, bits = 4, dim = 6, seed = 42L)
    // the former relational formulation, verbatim
    val viaJoin = vecs.select(col("id"), posexplode(col("v")).as(Seq("pos", "x")))
      .join(broadcast(planes), Seq("pos"))
      .groupBy(col("id"), col("t"), col("j"))
      .agg(sum(col("w") * col("x")).as("s"))
      .groupBy(col("id"), col("t"))
      .agg(sum(when(col("s") >= 0,
        call_function("shiftleft", lit(1L), col("j").cast("int"))).otherwise(lit(0L)))
        .as("bucket"))
    val viaExpr = Similarity.lshBuckets(vecs, "id", "v", matrix)
    assert(rowSet(viaExpr) == rowSet(viaJoin))
    // schema parity with the stored-index layout: t stays a BIGINT
    assert(viaExpr.schema("t").dataType.typeName == "long")
    // dimension mismatch raises (the graft_qdot contract)
    val err = intercept[Exception] {
      Similarity.lshBuckets(
        vecs.select(col("id"), slice(col("v"), 1, 3).as("v")), "id", "v", matrix)
        .collect()
    }
    assert(exceptionChain(err).exists(_.getMessage.contains("dimensions differ")))
  }

  /** The relational MinHash pipeline the graft_minhash kernel replaced,
    * kept verbatim as its reference: explode shingles, hash each, rebuild
    * the per-doc set with collect_set and the KM minima with one min() per
    * hash function, band keys md5(concat_ws("|", band slice)). Returns
    * (sets (id, sh, nsh), signatures (id, mh array), banded (id, band,
    * band_key)); docs without a shingle are absent from all three. */
  private def relationalMinhash(df: DataFrame, n: Int, bands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.Text
    val rows = df.select(col("doc_id").as("id"),
        explode(Text.wordShingles(col("text"), n)).as("s"))
      .select(col("id"), conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
    val sets = rows.groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val ex = rows.select(col("id"),
      Text.md5Word32(col("h").cast("string"), 1).as("w0"),
      Text.md5Word32(col("h").cast("string"), 9).as("w1"))
    val mins = (0 until bands * rowsPerBand).map(i =>
      min(pmod(col("w0") + col("w1") * i, lit(2147483647L))).as(s"mh$i"))
    val sig = ex.groupBy(col("id")).agg(mins.head, mins.tail: _*)
    val bandKeys = (0 until bands).map(bi =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(j => col(s"mh${bi * rowsPerBand + j}").cast("string")): _*)))
    val banded = sig.select(col("id"), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
    (sets, sig.select(col("id"), array((0 until bands * rowsPerBand).map(i => col(s"mh$i")): _*)
      .as("mh")), banded)
  }

  test("graft_minhash kernel: sets, signatures and band keys bit-equal the relational pipeline") {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(spark)
    // seeded docs over a small mixed-script vocabulary with every kind of
    // separator, plus hand-picked edge cases: tabs/newlines, leading and
    // trailing whitespace of both kinds, non-ASCII, fewer than n tokens,
    // the empty string, null, and a doc repeating one shingle
    val rnd = new scala.util.Random(20261017L)
    val vocab = Seq("spark", "shuffle", "café", "naïve", "日本語", "данные", "🙂", "a", "the", "x1")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ", "\r\n")
    val seeded = (0 until 60).map { i =>
      val len = rnd.nextInt(14)
      (i.toLong, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .map(_ + seps(rnd.nextInt(seps.size))).mkString.trim)
    }
    val fixed = Seq(
      "\tleading tab then words here", "trailing newline words here\n",
      "  spaced   out\t\twords\n\nhere  ", " \t mixed lead and trail \n ",
      "one two", "", "  ", "\t", "solo",
      "a b a b a b a b a b", "naïve café über straße façade", "日本語 の テキスト です よ")
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val df = (seeded ++ fixed).map { case (i, t) => (i, Option(t)) }
      .:+((2000L, Option.empty[String])).toDF("doc_id", "text")

    for ((n, bands, rows) <- Seq((3, 4, 3), (1, 2, 5), (5, 3, 2))) {
      val (refSets, refSig, refBanded) = relationalMinhash(df, n, bands, rows)
      def kernel = df.select(col("doc_id").as("id"),
        call_function("graft_minhash", col("text"), lit(n), lit(bands * rows)).as("k"))
      // codegen and interpreted evaluation agree row for row (nulls included)
      val gen = rowSet(kernel)
      var interp = Set.empty[Seq[Any]]
      withSQLConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { interp = rowSet(kernel) }
      assert(gen == interp, s"codegen and interpreted evaluation differ at n=$n")
      val k = kernel.filter(size(col("k.sh")) > 0)
      assert(rowSet(k.select(col("id"), col("k.sh"), size(col("k.sh")))) == rowSet(refSets),
        s"shingle sets differ at n=$n")
      assert(rowSet(k.select(col("id"), col("k.mh"))) == rowSet(refSig), s"signatures differ at n=$n")
      // docs below n tokens: empty sh AND empty mh; null text: null
      val empties = kernel.filter(size(col("k.sh")) === 0)
      assert(empties.filter(size(col("k.mh")) =!= 0).isEmpty)
      assert(kernel.filter(col("id") === 2000L).head().isNullAt(1))
      // the index built on the kernel carries the same sets and band keys
      val ix = Dedup.minhashIndex(df, "doc_id", "text", n, bands, rows)
      assert(rowSet(ix.shingles) == rowSet(refSets), s"index shingles differ at n=$n")
      assert(rowSet(ix.bandedKeys) == rowSet(refBanded), s"band keys differ at n=$n")
      ix.release()
    }
    // the edge cases really are edge cases: "one two" and the blanks have
    // no 3-shingle; the repeated-shingle doc collapses to 2 distinct ones
    val k3 = df.select(col("doc_id"), size(call_function("graft_minhash", col("text"),
      lit(3), lit(0)).getField("sh")).as("nsh")).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(k3(1004L) == 0 && k3(1005L) == 0 && k3(1009L) == 2)
    intercept[Exception](df.select(call_function("graft_minhash", col("doc_id"), lit(3), lit(4))).collect())
  }

  test("graft_qdot: dimension mismatch raises instead of silently truncating (VERDICT r2 #5)") {
    graft.expressions.GraftFunctions.register(spark)
    val df = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("a", "b")
    // codegen path
    val eGen = intercept[Exception] {
      df.select(call_function("graft_qdot", col("a"), col("b"))).collect()
    }
    assert(exceptionChain(eGen).exists(_.getMessage.contains("dimensions differ")))
    // interpreted path (codegen disabled)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val eInt = intercept[Exception] {
        df.select(call_function("graft_qdot", col("a"), col("b"))).collect()
      }
      assert(exceptionChain(eInt).exists(_.getMessage.contains("dimensions differ")))
    }
    // equal dims still fine
    val ok = Seq((Array(1L, 2L), Array(3L, 4L))).toDF("a", "b")
      .select(call_function("graft_qdot", col("a"), col("b"))).head().getLong(0)
    assert(ok == 11L)
  }

  test("prototypicality: one row per vector, dense per-cell ranks ordered by score, single-cell degenerate") {
    import spark.implicits._
    // strictly positive, per-dim varying: no zero vector or zero centroid
    // can arise, so every cosine (and proto_micro) is non-null here
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j =>
        ((i * 31 + j * 7) % 13 + 1).toDouble / 14.0))).toDF("vec_id", "embedding")
    val p = Similarity.prototypicality(vecs, "vec_id", "embedding",
      nCells = 4, lloydIters = 2)
    val rows = p.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSet == (0L until 40L).toSet) // exactly once each
    rows.groupBy(_._2).foreach { case (_, cell) =>
      val n = cell.head._5
      assert(cell.forall(_._5 == n) && n == cell.length)
      assert(cell.map(_._4).sorted.toSeq == (1L to n).toSeq) // dense ranks
      // rank order agrees with score order (desc, ties by id)
      val byRank = cell.sortBy(_._4).map(r => (r._3, r._1))
      assert(byRank.toSeq == cell.map(r => (r._3, r._1))
        .sortBy { case (s, id) => (-s, id) }.toSeq)
    }
    // nCells=1: every vector in one cell, rank spans 1..N
    val one = Similarity.prototypicality(vecs, "vec_id", "embedding",
      nCells = 1, lloydIters = 1)
    assert(one.select("cell").distinct().count() == 1L)
    assert(one.agg(max(col("cell_rank"))).head.getLong(0) == 40L)
    // determinism under repartition: exact integer machinery end-to-end
    val rep = Similarity.prototypicality(vecs.repartition(7), "vec_id",
        "embedding", nCells = 4, lloydIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(rep == rows.toSet)
  }

  test("groupDiversity: hand mean pairwise cosines via the sum identity; zero and singleton edges") {
    import spark.implicits._
    val df = Seq(
      ("dup", Array(1.0, 0.0)), ("dup", Array(1.0, 0.0)),   // identical
      ("orth", Array(1.0, 0.0)), ("orth", Array(0.0, 1.0)), // orthogonal
      ("anti", Array(2.0, 0.0)), ("anti", Array(-3.0, 0.0)), // opposed
      ("one", Array(1.0, 1.0)),                              // no pairs
      ("mix", Array(1.0, 0.0)), ("mix", Array(1.0, 0.0)),
      ("mix", Array(0.0, 0.0))                               // zero vec
    ).toDF("g", "v")
    val got = Similarity.groupDiversity(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got("dup") == (2L, 0L, Some(1000000L)))
    assert(got("orth") == (2L, 0L, Some(0L)))
    assert(got("anti") == (2L, 0L, Some(-1000000L)))
    assert(got("one") == (1L, 0L, None))
    // the zero vector is excluded from pairs but counted
    assert(got("mix") == (2L, 1L, Some(1000000L)))
    // O(N) identity agrees with the explicit pair mean on a real-ish set
    val vecs = (0L until 12L).map(i =>
      ("g", Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toDouble)))
      .toDF("g", "v")
    val byId = Similarity.groupDiversity(vecs, "g", "v")
      .head.getLong(3)
    val u = vecs.collect().map { r =>
      val a = r.getSeq[Double](1).map(x => math.round(x * 1000).toDouble).toArray
      val nn = math.sqrt(a.map(x => x * x).sum)
      a.map(x => math.round(x / nn * 1000))
    }
    val pairs = for (i <- u.indices; j <- u.indices if i != j)
      yield u(i).zip(u(j)).map { case (x, y) => x * y }.sum
    val want = math.round(pairs.sum.toDouble / pairs.length / 1e6 * 1e6)
    assert(byId == want)
  }

  test("centroidDrift: identical/opposed/moved snapshots; one-sided groups dropped; zero-norm null") {
    import spark.implicits._
    val a = Seq(
      ("same", Array(1.0, 0.0)), ("same", Array(1.0, 0.0)),
      ("flip", Array(2.0, 0.0)),
      ("move", Array(1.0, 0.0)), ("move", Array(0.0, 1.0)),
      ("only_a", Array(1.0, 1.0)),
      ("zero", Array(0.0, 0.0))).toDF("g", "v")
    val b = Seq(
      ("same", Array(3.0, 0.0)),          // same direction, other scale
      ("flip", Array(-1.0, 0.0)),         // opposed
      ("move", Array(1.0, 0.0)),          // centroid (1,1) vs (1,0)
      ("only_b", Array(1.0, 1.0)),
      ("zero", Array(1.0, 0.0))).toDF("g", "v")
    val got = Similarity.centroidDrift(a, b, "v", "g")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    // only the shared groups survive the inner join
    assert(got.keySet == Set("same", "flip", "move", "zero"))
    assert(got("same") == (2L, 1L, Some(1000000000L), Some(0L)))
    assert(got("flip") == (1L, 1L, Some(-1000000000L), Some(2000000000L)))
    // cos((1,1), (1,0)) = 1/sqrt(2) -> 707106781 nano
    assert(got("move") == (2L, 1L, Some(707106781L), Some(292893219L)))
    // a zero-norm centroid has no direction: null cosine AND null drift
    assert(got("zero") == (1L, 1L, None, None))
    // deterministic under repartitioning (integer sums, one division)
    val rep = Similarity.centroidDrift(a.repartition(5), b.repartition(3), "v", "g")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(rep == got.view.mapValues(_._3).toMap)
  }

  // ---- packed IVF-PQ store: one-pass search vs the join-based formulation

  /** 400 seeded vectors (dim 8) with planted ties: ids 0..19 copy ids
    * 20..39, ids 40..44 are one vector, id 399 is the zero vector. */
  private def seededVecs = {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(400)(Array.fill(8)((math.round(rnd.nextGaussian() * 100) / 100.0).toFloat))
    val v = Array.tabulate(400) { i =>
      if (i < 20) base(i + 20) else if (i >= 40 && i <= 44) base(40)
      else if (i == 399) Array.fill(8)(0.0f) else base(i)
    }
    v.indices.map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
  }

  /** The join-based IVF-PQ search the packed store replaced, verbatim in
    * shape, over the index's `cents`/`books` and `cells`/`codes`/`vecs`
    * views: windowed probe ranking, per-query (per-cell when residual) LUT
    * rows joined on (query, [cell,] sub, code), a grouped ADC sum, and a
    * shortlist window + join back to the vectors for the exact rerank. */
  private def joinBasedIvfPq(ix: Similarity.IvfPqIndex, queries: DataFrame,
      k: Int, nprobe: Int, rerank: Int, allowed: Option[DataFrame]): Set[Seq[Any]] = {
    def qdot(a: Column, b: Column) = Similarity.qdot(a, b)
    def gate(cand: DataFrame) = allowed.fold(cand)(a =>
      cand.join(a.select(col(a.columns.head).as("nbr_id")), Seq("nbr_id"), "left_semi"))
    def slices(v: Column) = posexplode(array(
      (0 until ix.m).map(s => slice(v, s * ix.dsub + 1, ix.dsub)): _*)).as(Seq("sub", "sv"))
    val probes = Similarity.ivfProbes(ix.nCells, nprobe)
    val q = queries.select(col("vec_id").as("query_id"),
        Similarity.quantize(col("embedding"), ix.scale).as("qv"))
      .withColumn("qn", qdot(col("qv"), col("qv")))
    val qProbe = q.join(broadcast(ix.cents))
      .withColumn("d2", col("qn") - lit(2) * qdot(col("qv"), col("cv")) + col("cc"))
      .withColumn("__cr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cent_id"))))
      .filter(col("__cr") <= probes)
    val adc = if (!ix.residual) {
      val cand = gate(ix.cells.join(
          broadcast(qProbe.select(col("query_id"), col("cent_id").as("cell"))), Seq("cell"))
        .select(col("query_id"), col("nbr_id")))
      val lut = q.select(col("query_id"), slices(col("qv")))
        .join(broadcast(ix.books), Seq("sub"))
        .select(col("query_id"), col("sub"), col("cent_id").as("code"),
          qdot(col("sv"), col("cv")).as("dot"))
      cand.join(ix.codes, Seq("nbr_id")).join(lut, Seq("query_id", "sub", "code"))
        .filter(col("query_id") =!= col("nbr_id"))
        .groupBy(col("query_id"), col("nbr_id")).agg(sum(col("dot")).as("adc_dot"))
    } else {
      val qr = qProbe.select(col("query_id"), col("cent_id").as("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qrv"),
        qdot(col("qv"), col("cv")).as("qc"))
      val lut = qr.select(col("query_id"), col("cell"), col("qc"), slices(col("qrv")))
        .join(broadcast(ix.books), Seq("sub"))
        .select(col("query_id"), col("cell"), col("sub"), col("cent_id").as("code"),
          col("qc"), qdot(col("sv"), col("cv")).as("dot"))
      val cand = gate(ix.cells.join(
          broadcast(qr.select(col("query_id"), col("cell"))), Seq("cell"))
        .filter(col("query_id") =!= col("nbr_id"))
        .select(col("query_id"), col("nbr_id"), col("cell")))
      cand.join(ix.codes, Seq("nbr_id")).join(lut, Seq("query_id", "cell", "sub", "code"))
        .groupBy(col("query_id"), col("nbr_id"))
        .agg((sum(col("dot")) + max(col("qc"))).as("adc_dot"))
    }
    val scored = adc.join(ix.vecs.select(col("nbr_id"), col("vv")), Seq("nbr_id"))
      .join(broadcast(q.select(col("query_id"), col("qn"))), Seq("query_id"))
      .withColumn("adc_cos", Similarity.cosineOf(col("adc_dot"), col("qn"), col("vv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_cos").desc, col("nbr_id"))
    val ranked = if (rerank == 0) {
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("nbr_id"), col("adc_cos").as("cosine"), col("rank"))
    } else {
      val shortlist = scored.withColumn("__sr", row_number().over(w))
        .filter(col("__sr") <= rerank).select(col("query_id"), col("nbr_id"))
      shortlist.join(ix.vecs, Seq("nbr_id")).join(broadcast(q), Seq("query_id"))
        .withColumn("cosine",
          Similarity.cosineOf(qdot(col("qv"), col("nv")), col("qn"), col("vv")))
        .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
    }
    rowSet(ranked.select(col("query_id"), col("nbr_id"),
      round(col("cosine") * 1e6).cast("long").as("cosine_micro"), col("rank")))
  }

  test("packed IVF-PQ search equals the join-based ADC formulation (residual, allowed, nprobe, rerank)") {
    val corpus = seededVecs
    // self-matches (corpus ids), a duplicate pair (20 ~ 0), a five-way tie
    // (40..44), the zero vector (399) and a query outside the corpus
    val qs = corpus.filter(col("vec_id").isin(0L, 20L, 40L, 150L, 399L))
      .union(Seq((1000L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"))
    val allowed = corpus.filter(col("vec_id") % 3 =!= 0).select("vec_id")
    val k = 5
    for (residual <- Seq(false, true)) {
      val ix = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
        nCells = 40, m = 4, kCents = 8, residual = residual)
      // nprobe = 0 derives 32 probes of the 40 cells
      assert(Similarity.ivfProbes(ix.nCells, 0) == 32)
      val cases = (for (np <- Seq(1, 0, 40); rr <- Seq(0, 3 * k)) yield (np, rr, false)) ++
        Seq((0, 3 * k, true), (40, 0, true))
      for ((np, rr, gated) <- cases) {
        val a = if (gated) Some(allowed) else None
        val got = rowSet(Similarity.ivfPqTopKIndexed(ix, qs, "vec_id", "embedding",
          k, nprobe = np, rerank = rr, allowed = a))
        val ref = joinBasedIvfPq(ix, qs, k, np, rr, a)
        assert(got == ref, s"residual=$residual nprobe=$np rerank=$rr gated=$gated")
        assert(got.nonEmpty && got.forall(r => r(0) != r(1)), "self-matches excluded")
        if (gated) assert(got.forall(r => r(1).asInstanceOf[Long] % 3 != 0))
        // ties rank by neighbour id: the zero query scores NULL against
        // every candidate, so its top-k is its k smallest candidate ids
        val zero = got.filter(_(0) == 399L).toSeq.sortBy(_(3).asInstanceOf[Long])
        assert(zero.size == k && zero.forall(_(2) == null))
        assert(zero.map(_(1).asInstanceOf[Long]) == zero.map(_(1).asInstanceOf[Long]).sorted)
        // the exact rerank finds the planted duplicate at cosine 1.0
        if (rr > 0 && !gated) assert(got.contains(Seq(20L, 0L, 1000000L, 1L)))
      }
      ix.release()
    }
  }

  test("IVF-PQ kernels: interpreted equals codegen and the relational formulation; dims are checked") {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(spark)
    def qdot(a: Column, b: Column) = call_function("graft_qdot", a, b)
    // repartition keeps the projections out of local-relation folding, so
    // the default run really goes through codegen
    val vecs = Seq.tabulate(12) { i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toLong))
    }.toDF("id", "v").repartition(2)
      .withColumn("vv", qdot(col("v"), col("v")))
    // cents 2 and 5 are identical (ties to the lower id); sub 1 of the
    // books repeats an entry (codes 1 and 3) and sub 0 skips id 3
    val cents = Seq((1L, Seq(1L, 2L, -1L, 0L)), (2L, Seq(-3L, 0L, 2L, 2L)),
        (3L, Seq(0L, 0L, 0L, 4L)), (5L, Seq(-3L, 0L, 2L, 2L)))
      .toDF("cent_id", "cv").withColumn("cc", qdot(col("cv"), col("cv")))
    val books = Seq((0, 1L, Seq(0L, 1L)), (0, 2L, Seq(-2L, 3L)),
        (1, 1L, Seq(1L, -1L)), (1, 2L, Seq(4L, 0L)), (1, 3L, Seq(1L, -1L)))
      .toDF("sub", "cent_id", "cv").withColumn("cc", qdot(col("cv"), col("cv")))
    val centsM = cellMatrixOf(cents)
    val booksM = codeMatrixOf(books)
    def bothModes(df: => DataFrame): Set[Seq[Any]] = {
      val gen = rowSet(df)
      var interp = Set.empty[Seq[Any]]
      withSQLConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { interp = rowSet(df) }
      assert(gen == interp, "codegen and interpreted evaluation differ")
      gen
    }
    def seqs(rows: Set[Seq[Any]]) = rows.map(r => r.head -> r(1).asInstanceOf[scala.collection.Seq[Any]].toSeq)

    // probe lists: (d2, cent_id) window over the centroid join
    val probe = bothModes(vecs.select(col("id"),
      Kernels.ivfProbe(col("v"), col("vv"), centsM, 3)))
    val probeRef = vecs.join(broadcast(cents))
      .withColumn("d2", col("vv") - lit(2) * qdot(col("v"), col("cv")) + col("cc"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("d2"), col("cent_id"))))
      .filter(col("r") <= 3)
      .groupBy(col("id")).agg(transform(array_sort(collect_list(struct(col("r"), col("cent_id")))),
        e => e.getField("cent_id")).as("cells"))
    assert(seqs(probe) == seqs(rowSet(probeRef)))
    // the duplicate centroid 5 is only ever probed right after its twin 2
    assert(probe.forall { r =>
      val cells = r(1).asInstanceOf[scala.collection.Seq[Long]]
      !cells.contains(5L) || cells.indexOf(2L) == cells.indexOf(5L) - 1
    })

    // codes: per-slice join+min(struct) argmin over v (non-residual) and
    // over v − c(cell) (residual, the cell being the argmin cell)
    val withCell = vecs.withColumn("cell", Kernels.cellArgmin(col("v"), col("vv"), centsM))
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cv"))), Seq("cell"))
      .withColumn("rv", zip_with(col("v"), col("cv"), (a, b) => a - b))
    def codesRef(vec: String) = withCell.select(col("id"),
        posexplode(array(slice(col(vec), 1, 2), slice(col(vec), 3, 2))).as(Seq("sub", "sv")))
      .join(broadcast(books.select(col("sub"), col("cent_id"), col("cv").as("bv"), col("cc"))),
        Seq("sub"))
      .withColumn("d2", qdot(col("sv"), col("sv")) - lit(2) * qdot(col("sv"), col("bv")) + col("cc"))
      .groupBy(col("id"), col("sub")).agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .groupBy(col("id")).agg(transform(array_sort(collect_list(struct(col("sub"), col("m.cent_id")))),
        e => e.getField("cent_id").cast("int")).as("codes"))
    // the centroids enter the PQ matrix only when the codes quantize residuals
    for ((resid, vec) <- Seq((null, "v"), (centsM, "rv"))) {
      val enc = bothModes(withCell.select(col("id"),
        Kernels.pqEncode(col("v"), col("cell"), new PqMatrix(booksM, resid))))
      assert(seqs(enc) == seqs(rowSet(codesRef(vec))), s"encode over $vec")
    }

    // LUT entries + ADC dot: every vector's codes scored against every
    // other vector's table equal the relational Σ_s qdot(slice, book) (+ q·c)
    for ((resid, vec) <- Seq((null, "v"), (centsM, "rv"))) {
      val pq = new PqMatrix(booksM, resid)
      val tables = withCell.select(col("id").as("qid"), col("cell"), col(vec).as("qx"), col("v").as("qv"),
        Kernels.adcLut(col("v"), col("cell"), pq).as("lut"),
        (if (resid == null) lit(0L) else qdot(col("v"), col("cv"))).as("base"))
      val codes =
        withCell.select(col("id"), Kernels.pqEncode(col("v"), col("cell"), pq).as("codes"))
      val adc = bothModes(tables.crossJoin(codes).select(col("qid"), col("id"),
        Kernels.adcDot(col("codes"), col("lut"))))
      val ref = tables.crossJoin(codes.select(col("id"), posexplode(col("codes")).as(Seq("sub", "code"))))
        .join(broadcast(books.select(col("sub").as("bsub"), col("cent_id"), col("cv").as("bv"))),
          col("sub") === col("bsub") && col("code") === col("cent_id"))
        .select(col("qid"), col("id"), col("base"),
          qdot(slice(col("qx"), col("sub") * 2 + 1, lit(2)), col("bv")).as("dot"))
        .groupBy(col("qid"), col("id")).agg((sum(col("dot")) + max(col("base"))).as("adc"))
      assert(adc == rowSet(ref), s"adc over $vec")
      // width = max id + 1 = 4 per subspace, plus the base slot
      assert(tables.select(size(col("lut"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(9))
    }

    // dimension mismatches raise on both paths
    val short = vecs.select(slice(col("v"), 1, 3).as("v"), col("vv"), lit(1L).as("cell"))
    val bad = Seq(
      Kernels.ivfProbe(col("v"), col("vv"), centsM, 2),
      Kernels.pqEncode(col("v"), col("cell"), new PqMatrix(booksM, null)),
      Kernels.adcLut(col("v"), col("cell"), new PqMatrix(booksM, centsM)),
      Kernels.adcDot(array(Seq.fill(3)(col("cell").cast("int")): _*),
        array(Seq.fill(3)(col("vv")): _*)))
    for (e <- bad) {
      val errGen = intercept[Exception](short.select(e).collect())
      assert(exceptionChain(errGen).exists(_.getMessage.contains("dimensions differ")), s"$e")
      withSQLConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val errInt = intercept[Exception](short.select(e).collect())
        assert(exceptionChain(errInt).exists(_.getMessage.contains("dimensions differ")), s"$e")
      }
    }
  }

  test("IVF-PQ search plan: one shuffle exchange, one join keyed on cell, none on sub/code") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    val qs = clustered.filter(col("vec_id") < 3)
    for (residual <- Seq(false, true)) {
      val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
        nCells = 2, m = 3, kCents = 4, residual = residual)
      for (rerank <- Seq(0, 9)) {
        val plan = Similarity.ivfPqSearch(ix, qs, "vec_id", "embedding", 4, 2, rerank, None)
        assert(plan.collect().nonEmpty)
        val exec = plan.queryExecution.executedPlan
        val shuffles = helper.collectWithSubqueries(exec) { case e: ShuffleExchangeLike => e }
        val joinKeys = helper.collectWithSubqueries(exec) {
          case j: BaseJoinExec => (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
        }
        assert(shuffles.size == 1, s"residual=$residual rerank=$rerank:\n$exec")
        assert(joinKeys == Seq(Seq("cell", "cell")), s"residual=$residual rerank=$rerank:\n$exec")
      }
      ix.release()
    }
  }

  test("IvfPqIndex views keep the long schemas; extend + save/load round-trips to identical search") {
    def schemaOf(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val longSchemas = Seq(
      Seq("nbr_id" -> "bigint", "cell" -> "bigint"),
      Seq("nbr_id" -> "bigint", "sub" -> "int", "code" -> "bigint"),
      Seq("nbr_id" -> "bigint", "nv" -> "array<bigint>", "vv" -> "bigint"))
    val qs = clustered.filter(col("vec_id") < 2)
    val batch = Seq((100L, Array(1.0f, 0.02f, 0.0f)), (101L, Array(0.03f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    for (residual <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_pqext").toString
      val ix = Similarity.ivfPqIndex(clustered, "vec_id", "embedding",
        nCells = 2, m = 3, kCents = 4, residual = residual)
      val ext = Similarity.extendIvfPqIndex(ix, batch, "vec_id", "embedding")
      ix.release()
      def views(x: Similarity.IvfPqIndex) = Seq(x.cells, x.codes, x.vecs)
      assert(views(ext).map(schemaOf) == longSchemas)
      assert(ext.cells.count() == 12 && ext.codes.count() == 36 && ext.vecs.count() == 12)
      // the ingested rows carry exactly what the assignment path assigns
      val asg = rowSet(Similarity.assignToIvfPqIndex(batch, ext, "vec_id", "embedding"))
      assert(asg == rowSet(ext.cells.join(ext.codes, Seq("nbr_id"))
        .filter(col("nbr_id") >= 100L).select("nbr_id", "cell", "sub", "code")))
      def search(x: Similarity.IvfPqIndex) = rowSet(Similarity.ivfPqTopKIndexed(
        x, qs, "vec_id", "embedding", k = 5, nprobe = 2, rerank = 10))
      val before = search(ext)
      val stored = views(ext).map(rowSet)
      Similarity.saveIvfPqIndex(ext, s"$dir/ix")
      ext.release()
      val loaded = Similarity.loadIvfPqIndex(spark, s"$dir/ix")
      assert(views(loaded).map(schemaOf) == longSchemas)
      assert(views(loaded).map(rowSet) == stored)
      val after = search(loaded)
      loaded.release()
      assert(after == before && before.exists(_(1) == 100L), s"residual=$residual")
    }
  }

  private def vecRows(ids: Seq[Long]) = ids.map { i =>
    (i, Array.tabulate(6)(j => (((i * 31 + j * 17) % 23) - 11).toFloat / 10f))
  }.toDF("vec_id", "embedding")

  test("IvfPqIndex extend chain: every extend ≡ one fold of the union; segments stay O(log)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val helper = new AdaptiveSparkPlanHelper {}
    val qs = vecRows(Seq(0L, 5L, 17L, 30L, 99L))
    for (residual <- Seq(false, true)) {
      val trained = Similarity.ivfPqIndex(vecRows(0L until 16L), "vec_id", "embedding",
        nCells = 4, m = 3, kCents = 4, residual = residual)
      var ix = trained
      for (step <- 1 to 11) {
        val next = Similarity.extendIvfPqIndex(ix,
          vecRows((12L + 4 * step) until (16L + 4 * step)), "vec_id", "embedding")
        if (ix ne trained) ix.release()
        ix = next
        // the reference: the same trained state, every batch folded at once
        val ref = Similarity.extendIvfPqIndex(trained,
          vecRows(16L until (16L + 4 * step)), "vec_id", "embedding")
        val ctx = s"residual=$residual step $step"
        assert(rowSet(ix.store) == rowSet(ref.store), ctx)
        for (rerank <- Seq(0, 10)) assert(
          rowSet(Similarity.ivfPqTopKIndexed(ix, qs, "vec_id", "embedding", 5, 2, rerank)) ==
            rowSet(Similarity.ivfPqTopKIndexed(ref, qs, "vec_id", "embedding", 5, 2, rerank)), ctx)
        ref.release()
        val rows = ix.segments.map(_.rows)
        assert(rows.sum == 16L + 4 * step)
        assert(rows.zip(rows.tail).forall { case (a, b) => a > b }, s"$ctx: $rows")
        val bound = (math.log(rows.sum / 4.0) / math.log(2)).floor.toInt + 2
        assert(ix.segments.size <= bound, s"$ctx: $rows > $bound segments")
      }
      // 11 batches on a base of 4: 15 batch sizes = binary 8+4+2+1
      assert(ix.segments.map(_.rows) == Vector(32L, 16L, 8L, 4L))
      // the search over four segments still takes one shuffle exchange
      val plan = Similarity.ivfPqSearch(ix, qs, "vec_id", "embedding", 4, 2, 9, None)
      assert(plan.collect().nonEmpty)
      val exec = plan.queryExecution.executedPlan
      assert(helper.collectWithSubqueries(exec) { case e: ShuffleExchangeLike => e }.size == 1,
        s"residual=$residual:\n$exec")
      ix.release(); trained.release()
    }
  }

  test("IvfPqIndex, MinhashIndex and EmbeddingIndex release: an index and its extensions free every pin in either order") {
    val qs = vecRows(Seq(3L))
    releasesEveryPin("IvfPqIndex") { newestFirst =>
      val base = Similarity.ivfPqIndex(vecRows(0L until 8L), "vec_id", "embedding",
        nCells = 2, m = 3, kCents = 4)
      val ixs = (1 to 4).scanLeft(base) { (ix, step) =>
        Similarity.extendIvfPqIndex(ix, vecRows((4L + 4 * step) until (8L + 4 * step)),
          "vec_id", "embedding")
      }
      // an empty batch adds no segment
      val same = Similarity.extendIvfPqIndex(ixs.last, vecRows(Nil), "vec_id", "embedding")
      assert(same.segments == ixs.last.segments)
      (if (newestFirst) ixs.reverse else ixs) :+ same
    }(Similarity.ivfPqTopKIndexed(_, qs, "vec_id", "embedding", 3))
    // no extend: one generation, released twice
    releasesEveryPin("MinhashIndex")(_ => Seq(Dedup.minhashIndex(docs, "doc_id", "text")))(
      Dedup.minhashLshPairsIndexed(_, 0.5))
    releasesEveryPin("EmbeddingIndex") { _ =>
      Seq(Dedup.embeddingIndex(vecRows(0L until 30L), "vec_id", "embedding", signBits = 3))
    }(Dedup.embeddingNearDupPairsIndexed(_, 0.9))
  }

  test("job budget: hyperplanes runs no job") {
    val planeJobs = jobsRun {
      Similarity.hyperplanes(spark, nTables = 16, bits = 8, dim = 64, seed = 42L).collect()
    }
    assert(planeJobs == 0, s"$planeJobs jobs")
  }

  test("job budgets: ivfPqIndex ≤ 4 jobs; ivfTopK and prototypicality train in ≤ 4") {
    val corpus = vecRows(0L until 64L).localCheckpoint(true)
    for (residual <- Seq(false, true)) {
      var ix: Similarity.IvfPqIndex = null
      val jobs = jobsRun {
        ix = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
          nCells = 4, m = 3, kCents = 4, residual = residual)
      }
      ix.release()
      assert(jobs <= 4, s"residual=$residual: $jobs jobs")
    }
    // the jobs before the search/score stage, which is the call's last SQL
    // execution (its checkpoint)
    def beforeLast(f: => Unit): Int = {
      val ex = jobExecutions(f)
      ex.takeWhile(_ != ex.last).size
    }
    val ivf = beforeLast(Similarity.ivfTopK(corpus, vecRows(Seq(0L, 5L)), "vec_id", "embedding",
      k = 3, nCells = 4))
    val proto = beforeLast(Similarity.prototypicality(corpus, "vec_id", "embedding", nCells = 4))
    assert(ivf <= 4 && proto <= 4, s"ivfTopK $ivf, prototypicality $proto jobs")
  }

  test("hyperplanes: driver-side planes ≡ the SQL md5 spelling the oracles use") {
    for (seed <- Seq(42L, 7L, -3L)) {
      val t = spark.range(3).select(col("id").as("t"))
      val j = spark.range(5).select(col("id").as("j"))
      val p = spark.range(11).select(col("id").as("pos"))
      val viaSql = t.crossJoin(j).crossJoin(p)
        .select(col("t"), col("j"), col("pos"),
          when(pmod(conv(substring(md5(
              concat_ws("|", lit(seed), col("t"), col("j"), col("pos"))), 1, 1), 16, 10)
              .cast("long"), lit(2)) === 0, lit(1L))
            .otherwise(lit(-1L)).as("w"))
      val planes = Similarity.hyperplanes(spark, nTables = 3, bits = 5, dim = 11, seed = seed)
      assert(planes.columns.toSeq == Seq("t", "j", "pos", "w"))
      val got = rowSet(planes)
      assert(got.size == 165 && got == rowSet(viaSql), s"seed $seed")
      assert(got.map(_(3)) == Set(1L, -1L))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** The relational IVF and PQ trainers the index used before training
    * moved to the driver — one Spark aggregate plus one collect per Lloyd
    * round — with the per-subspace code argmin spelled as the
    * (d2, cent_id)-ordered window over a codebook join. */
  private object RelationalTraining {
    private def qdot(a: Column, b: Column) = Similarity.qdot(a, b)
    private def localized(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    private def byMd5 = md5(col("nbr_id").cast("string"))
    def withCell(c: DataFrame, cents: DataFrame): DataFrame =
      c.withColumn("cell", Kernels.cellArgmin(col("nv"), col("vv"), cellMatrixOf(cents)))

    def cents(c: DataFrame, cells: Int, lloydIters: Int): DataFrame = {
      var cents = localized(c.orderBy(byMd5).limit(cells)
        .select(row_number().over(Window.orderBy(byMd5)).cast("long").as("cent_id"),
          col("nv").as("cv"), col("vv").as("cc")))
      for (_ <- 1 to lloydIters) {
        val sums = withCell(c, cents).select(col("cell"), posexplode(col("nv")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        cents = localized(sums
          .withColumn("m", round(col("s").cast("double") / col("cnt").cast("double")).cast("long"))
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            e => e.getField("m")).as("cv"))
          .select(col("cell").as("cent_id"), col("cv"))
          .withColumn("cc", qdot(col("cv"), col("cv"))))
      }
      cents
    }

    def books(c: DataFrame, cents: DataFrame, residual: Boolean,
        m: Int, dsub: Int, kCents: Int, lloydIters: Int): DataFrame = {
      val enc = if (!residual) c.select(col("nbr_id"), col("nv").as("ev"))
        else withCell(c, cents)
          .join(broadcast(cents.select(col("cent_id").as("cell"), col("cv"))), Seq("cell"))
          .select(col("nbr_id"), zip_with(col("nv"), col("cv"), (a, b) => a - b).as("ev"))
      val sv = enc.select(col("nbr_id"), posexplode(array(
          (0 until m).map(s => slice(col("ev"), s * dsub + 1, dsub)): _*)).as(Seq("sub", "sv")))
        .withColumn("svv", qdot(col("sv"), col("sv"))).localCheckpoint(true)
      val seeds = localized(c.orderBy(byMd5).limit(kCents)
        .select(row_number().over(Window.orderBy(byMd5)).cast("long").as("cent_id"), col("nbr_id")))
      var books = localized(sv.join(broadcast(seeds), Seq("nbr_id"))
        .select(col("sub"), col("cent_id"), col("sv").as("cv"))
        .withColumn("cc", qdot(col("cv"), col("cv"))))
      for (_ <- 1 to lloydIters) {
        val nearest = Window.partitionBy(col("nbr_id"), col("sub")).orderBy(col("d2"), col("cent_id"))
        val asg = sv.join(broadcast(books.select(col("sub"), col("cent_id"), col("cv"), col("cc"))), Seq("sub"))
          .withColumn("d2", col("svv") - lit(2) * qdot(col("sv"), col("cv")) + col("cc"))
          .withColumn("r", row_number().over(nearest))
          .filter(col("r") === 1)
          .select(col("sub"), col("cent_id").as("code"), col("sv"))
        val sums = asg.select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("spos", "x")))
          .groupBy(col("sub"), col("code"), col("spos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        books = localized(sums
          .withColumn("mv", round(col("s").cast("double") / col("cnt").cast("double")).cast("long"))
          .groupBy(col("sub"), col("code"))
          .agg(transform(array_sort(collect_list(struct(col("spos"), col("mv")))),
            e => e.getField("mv")).as("cv"))
          .select(col("sub"), col("code").as("cent_id"), col("cv"))
          .withColumn("cc", qdot(col("cv"), col("cv"))))
      }
      books
    }
  }

  test("driver-trained IVF centroids and PQ codebooks ≡ the relational Lloyd chain, bit for bit") {
    graft.expressions.GraftFunctions.register(spark)
    // small-integer milli-unit vectors, so per-dim means often land on .5;
    // the md5-second vector copies the md5-first one, so seed 2 ties seed 1
    // on every vector and its cell (and PQ code 2) empties in round one
    def seeded(seed: Int, n: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val v = Array.fill(n)(Array.fill(4)((rnd.nextInt(13) - 6) / 1000.0f))
      val order = (0 until n).sortBy(i => md5hex(i.toString))
      v(order(1)) = v(order(0))
      v.indices.map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
    }
    // one cell, one round: dims 0 and 1 average exactly −2.5 and +2.5
    val halves = Seq((0L, Seq(-1, 1, 0, -5)), (1L, Seq(-2, 2, 0, 0)),
        (2L, Seq(-3, 3, 0, 0)), (3L, Seq(-4, 4, 1, 0)))
      .map { case (i, x) => (i, x.map(_ / 1000.0f).toArray) }.toDF("vec_id", "embedding")
    for ((name, corpus) <- Seq("seeded-40" -> seeded(5, 40), "seeded-64" -> seeded(6, 64),
        "halves" -> halves)) {
      val c = corpus.select(col("vec_id").as("nbr_id"), Similarity.quantize(col("embedding")).as("nv"))
        .withColumn("vv", call_function("graft_qdot", col("nv"), col("nv"))).localCheckpoint(true)
      val n = c.count()
      for (cells <- Seq(1, 4, math.ceil(math.sqrt(n.toDouble)).toInt).distinct; rounds <- Seq(0, 1, 4)) {
        val refCents = RelationalTraining.cents(c, cells, rounds)
        if (name != "halves" && cells > 1 && rounds > 0)
          assert(refCents.count() < cells, s"$name cells=$cells: no cell emptied")
        for (residual <- Seq(false, true)) {
          val ctx = s"$name cells=$cells rounds=$rounds residual=$residual"
          val ix = Similarity.ivfPqIndex(corpus, "vec_id", "embedding", nCells = cells,
            ivfLloydIters = rounds, m = 2, kCents = 4, pqLloydIters = rounds, residual = residual)
          try {
            assert(rowSet(ix.cents) == rowSet(refCents), ctx)
            assert(rowSet(ix.books) ==
              rowSet(RelationalTraining.books(c, refCents, residual, 2, 2, 4, rounds)), ctx)
          } finally ix.release()
        }
      }
    }
    // Spark's round is HALF_UP away from zero: −2.5 → −3 (Math.round: −2)
    val one = Similarity.ivfPqIndex(halves, "vec_id", "embedding", nCells = 1,
      ivfLloydIters = 1, m = 2, kCents = 4)
    try assert(one.cents.collect().map(_.getSeq[Long](1)).toSeq == Seq(Seq(-3L, 3L, 0L, -1L)))
    finally one.release()
  }

  test("bad arguments fail before any job or pin") {
    val vecs = vecRows(0L until 20L)
    def ivf(k: Int = 5, nCells: Int = 2, nprobe: Int = 0) =
      Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding", k, nCells, nprobe)
    def lsh(k: Int = 5, nTables: Int = 4, signBits: Int = 0) =
      Similarity.bucketedTopK(vecs, vecs, "vec_id", "embedding", k, nTables, signBits)
    // (call, a word of its message, the call)
    val runs = Seq[(String, String, () => Any)](
      ("ivfPqTopK", "rerank", () => Similarity.ivfPqTopK(vecs, vecs, "vec_id", "embedding", k = 5,
        nCells = 2, m = 3, kCents = 4, rerank = 3)),
      ("pqTopK", "rerank", () => Similarity.pqTopK(vecs, vecs, "vec_id", "embedding", k = 5,
        m = 3, kCents = 4, rerank = 3)),
      ("ivfTopK k = 0", "k must", () => ivf(k = 0)),
      ("ivfTopK nCells < 0", "nCells", () => ivf(nCells = -1)),
      ("ivfTopK nprobe < 0", "nprobe", () => ivf(nprobe = -2)),
      ("bucketedTopK k = 0", "k must", () => lsh(k = 0)),
      ("bucketedTopK nTables = 0", "nTables", () => lsh(nTables = 0)),
      ("bucketedTopK signBits < 0", "signBits", () => lsh(signBits = -1)),
      ("ngramJaccardPairs threshold = 0", "threshold",
        () => Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)),
      ("minhashLshPairs threshold > 1", "threshold",
        () => Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 1.5)),
      ("minhashLshPairsBetween threshold NaN", "threshold",
        () => Dedup.minhashLshPairsBetween(docs, docs, "doc_id", "text", threshold = Double.NaN)))
    for ((name, word, run) <- runs) {
      val before = pinned
      var err: IllegalArgumentException = null
      val jobs = jobsRun { err = intercept[IllegalArgumentException](run()) }
      assert(err.getMessage.contains(word), s"$name: ${err.getMessage}")
      assert(jobs == 0, name)
      assert(pinned == before, name)
    }
  }

  test("a training set of mixed dimensions fails on the driver and leaks no pin") {
    val mixed = vecRows(0L until 8L)
      .union(Seq((8L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding"))
    val builds = Seq[(String, () => Any)](
      "ivfPqIndex" -> (() => Similarity.ivfPqIndex(mixed, "vec_id", "embedding", nCells = 2, m = 3)),
      "ivfTopK" -> (() => Similarity.ivfTopK(mixed, mixed, "vec_id", "embedding", k = 2, nCells = 2)),
      "prototypicality" -> (() => Similarity.prototypicality(mixed, "vec_id", "embedding", nCells = 2)))
    for ((name, build) <- builds) {
      val before = pinned
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("dimensions differ"), s"$name: ${e.getMessage}")
      assert(pinned == before, name)
    }
    // past the 256·max(nCells, kCents) = 512-vector training prefix the
    // three-dim vector fails the store pin instead; both pins are released
    val ids = 0L until 600L
    val last = ids.maxBy(i => md5hex(i.toString))
    val wide = ids.map(i => (i,
      if (i == last) Array(0.1f, 0.2f, 0.3f) else Array.tabulate(6)(j => ((i * 7 + j) % 11).toFloat)))
    val before = pinned
    intercept[Exception](Similarity.ivfPqIndex(wide.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nCells = 2, m = 3, kCents = 2))
    assert(pinned == before)
  }

  test("an operator that throws after its first pin leaks no pin") {
    val threeDim = Seq((100L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val calls = Seq[(String, () => Any)](
      // the corpus and the queries are pinned before their dimensions meet
      "bucketedTopK" -> (() => Similarity.bucketedTopK(vecRows(0L until 8L), threeDim,
        "vec_id", "embedding", k = 2)),
      // the corpus windows are pinned before the eval set is read
      "substringSpansBetween" -> (() => Dedup.substringSpansBetween(docs,
        docs.withColumnRenamed("text", "body"), "doc_id", "text")),
      // the seeds are pinned before the edges are read
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(
        edges.drop("dst"), "src", "dst", seeds, "node", iterations = 2)),
      // the edges are pinned before the seeds are read
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst",
        seeds.withColumn("label", lit("a")), "missing", "label", iterations = 2)),
      // an edge plan of its own: labelPropagation pins the same layout, and
      // Spark shares one cache entry between equal plans
      "bfsHops" -> (() => Graph.bfsHops(edges.limit(2), "src", "dst", seeds, "missing",
        maxHops = 2)),
      // the candidate pairs are pinned before the relevance column is read
      "mmrRerank" -> (() => Similarity.mmrRerank(Seq(("q", 1L), ("q", 2L)).toDF("query_id", "nbr_id"),
        vecRows(0L until 4L).withColumnRenamed("vec_id", "id"), "id", "embedding", k = 2)))
    for ((name, call) <- calls) {
      val before = pinned
      intercept[Exception](call())
      assert(pinned == before, name)
    }
  }

  /** The delta path the packed index replaced, kept as its reference:
    * pinned delta → relational bucketing (dim-explode ⋈ hyperplanes, two
    * aggregates) → multi-probe → (t, bucket) band join against the corpus
    * buckets → distinct → exact-cosine verify against the corpus vectors. */
  private def relationalBetween(delta: DataFrame, ix: Dedup.EmbeddingIndex,
      threshold: Double, multiProbe: Boolean): Set[Seq[Any]] = {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(spark)
    val dv = delta.select(col("vec_id").as("id"), Similarity.quantize(col("embedding"), ix.scale).as("v"))
      .withColumn("nn", call_function("graft_qdot", col("v"), col("v"))).persist()
    val planes = Similarity.hyperplanes(spark, ix.nTables, ix.bits, ix.dim, ix.seed)
    val db = dv.filter(col("v").isNotNull)
      .select(col("id"), posexplode(col("v")).as(Seq("pos", "x")))
      .join(broadcast(planes), Seq("pos"))
      .groupBy(col("id"), col("t"), col("j")).agg(sum(col("w") * col("x")).as("s"))
      .groupBy(col("id"), col("t"))
      .agg(sum(when(col("s") >= 0, call_function("shiftleft", lit(1L), col("j").cast("int")))
        .otherwise(lit(0L))).as("bucket"))
    val probed = if (multiProbe) Similarity.multiProbe(db, "id", ix.bits) else db
    val cand = probed.as("x").join(ix.buckets.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val out = cand
      .join(dv.select(col("id").as("id_a"), col("v").as("va"), col("nn").as("na")), Seq("id_a"))
      .join(ix.vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nn").as("nb")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineOf(
        call_function("graft_qdot", col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    try rowSet(out) finally dv.unpersist()
  }

  /** A seeded corpus of `n` 8-dim vectors: a zero vector, exact duplicate
    * vectors under two ids, and clusters around a few directions so pairs
    * spread over the cosine range. */
  private def seededVectors(n: Int, seed: Int, idBase: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    Seq.tabulate(n) { i =>
      val v = if (i == 3) Array.fill(8)(0.0f)
        else {
          val c = centers(i % 4)
          c.map(x => (x + 0.9 * rnd.nextGaussian()).toFloat)
        }
      (idBase + i, v)
    }
  }

  test("packed index delta scan ≡ the relational band-join path, bit for bit") {
    val base = seededVectors(120, 11, 0L)
    // exact duplicate vectors under two ids
    val corpusRows = base :+ ((500L, base(7)._2.clone()))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val noisy = seededVectors(40, 12, 1000L)
    val deltaRows = noisy ++ Seq(
      (7L, base(7)._2.clone()), // overlaps a corpus id with the same vector
      (8L, base(20)._2.clone()), // overlaps a corpus id, another vector
      (2000L, base(9)._2.clone()), (2001L, base(9)._2.clone()), // duplicated delta vectors
      (2002L, Array.fill(8)(0.0f))) // a zero vector (NULL cosine)
    val delta = deltaRows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_packed").toString
    for ((threshold, tables) <- Seq((0.3, 24), (0.9, 16))) {
      val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", threshold = threshold)
      assert(ix.nTables == tables && ix.bits == Similarity.sizedSignBits(corpusRows.size))
      val loose = relationalBetween(delta, ix, threshold, multiProbe = false)
      for (multiProbe <- Seq(true, false)) {
        val want = relationalBetween(delta, ix, threshold, multiProbe)
        val got = Dedup.embeddingNearDupPairsBetween(delta, ix, "vec_id", "embedding",
          threshold, multiProbe)
        assert(rowSet(got) == want, s"θ=$threshold multiProbe=$multiProbe")
        assert(got.count() == want.size, "each pair once")
        assert(want.nonEmpty)
      }
      // the Hamming-1 probes find pairs the exact buckets miss
      assert(relationalBetween(delta, ix, threshold, multiProbe = true).size > loose.size || threshold > 0.5)
      // save/load through the views: same rows, same pairs
      Dedup.saveEmbeddingIndex(ix, s"$dir/t$tables")
      val loaded = Dedup.loadEmbeddingIndex(spark, s"$dir/t$tables")
      assert(rowSet(loaded.vecs) == rowSet(ix.vecs) && rowSet(loaded.buckets) == rowSet(ix.buckets))
      assert(loaded.buckets.schema.map(f => (f.name, f.dataType)) ==
        ix.buckets.schema.map(f => (f.name, f.dataType)))
      assert(rowSet(Dedup.embeddingNearDupPairsBetween(delta, loaded, "vec_id", "embedding", threshold)) ==
        rowSet(Dedup.embeddingNearDupPairsBetween(delta, ix, "vec_id", "embedding", threshold)))
      // empty delta and empty corpus: zero pairs
      assert(Dedup.embeddingNearDupPairsBetween(delta.limit(0), ix, "vec_id", "embedding",
        threshold).count() == 0)
      loaded.release(); ix.release()
    }
    val emptyIx = Dedup.embeddingIndex(corpus.limit(0), "vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairsBetween(delta, emptyIx, "vec_id", "embedding").count() == 0)
    emptyIx.release()
  }

  test("the embedding gate leaks no pin: a batch or corpus of another dimension raises") {
    val corpus = vecRows(0L until 20L)
    val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", signBits = 3)
    val wrong = Seq((100L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val before = pinned
    val e = intercept[Exception](graft.streaming.Streams.dropEmbeddingNearDupsBatch(
      wrong, "vec_id", "embedding", ix, 0.9).collect())
    assert(exceptionChain(e).exists(_.getMessage.contains("dimensions differ")), e.getMessage)
    assert(pinned == before)
    ix.release()
    val mixed = corpus.union(wrong)
    val start = pinned
    val e2 = intercept[Exception](Dedup.embeddingIndex(mixed, "vec_id", "embedding", signBits = 3))
    assert(exceptionChain(e2).exists(_.getMessage.contains("dimensions differ")), e2.getMessage)
    assert(pinned == start)
  }

  test("job budget: a one-file parquet pin ≤ 2 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget").toString
    vecRows(0L until 400L).coalesce(1).write.parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    var seg: Segment = null
    val pinJobs = jobsRun { seg = Segment.pin(Par.spread(corpus)) }
    seg.release()
    assert(pinJobs <= 2, s"pin: $pinJobs jobs")
  }

}
