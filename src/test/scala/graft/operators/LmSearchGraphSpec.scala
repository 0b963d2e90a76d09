package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Sliding-window chunking, unigram-LM surprisal, BM25, fixed-point
  * PageRank, and per-domain KL divergence (the r5 batch-2 operators). */
class LmSearchGraphSpec extends SparkTestBase {
  import spark.implicits._

  // ---- Pack.chunkSliding --------------------------------------------------

  test("chunkSliding: starts every stride, full windows, truncated tail only for short docs") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b"),                            // shorter than the window
      (3L, "   ")                             // whitespace-only: no chunks
    ).toDF("doc_id", "text")
    val out = Pack.chunkSliding(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_start", "n_tok")
    assert(rowList(out) == Seq(
      Seq(1L, 0L, 1L, 4L), // t1..t4
      Seq(1L, 1L, 4L, 4L), // t4..t7 (overlap of window-stride = 1)
      Seq(1L, 2L, 7L, 4L), // t7..t10 (stop = 7 lands on the stride grid)
      Seq(2L, 0L, 1L, 2L)))
    // misaligned tail: 12 tokens, W=5, S=4 → strided starts 1, 5 end at
    // token 9; the end-aligned chunk at stop=8 covers tokens 8..12
    val tail = Seq((1L, (1 to 12).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    assert(rowList(Pack.chunkSliding(tail, "doc_id", "text", 5, 4)
        .select("chunk_idx", "chunk_start", "n_tok").orderBy("chunk_idx")) ==
      Seq(Seq(0L, 1L, 5L), Seq(1L, 5L, 5L), Seq(2L, 8L, 5L)))
    // chunk content is the hash of the space-joined token slice
    val h = Pack.chunkSliding(df, "doc_id", "text", 4, 3)
      .filter($"doc_id" === 1L && $"chunk_idx" === 1L)
      .select("chunk_hash").collect().head.getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("t4 t5 t6 t7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(h == expected)
    intercept[IllegalArgumentException](Pack.chunkSliding(df, "doc_id", "text", 0, 3))
    intercept[IllegalArgumentException](Pack.chunkSliding(df, "doc_id", "text", 4, 0))
  }

  test("chunkSliding: partition-independent (pure projection)") {
    val df = (0L until 40L).map(i => (i, (0 to i.toInt % 17).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val a = rowSet(Pack.chunkSliding(df, "doc_id", "text", 5, 2))
    val b = rowSet(Pack.chunkSliding(df.repartition(7), "doc_id", "text", 5, 2))
    assert(a == b && a.nonEmpty)
  }

  // ---- Lm.surprisal -------------------------------------------------------

  test("surprisal: exact micro-nat totals under the add-one unigram LM") {
    // corpus: d1 = a a b, d2 = b c  ⇒ counts a:2 b:2 c:1, T=5, V=3
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = Lm.surprisal(df, "doc_id", "text").orderBy("doc_id")
    val ln3 = math.round(math.log(3) * 1e6) // s_micro for counts 2 (a, b)
    val ln2 = math.round(math.log(2) * 1e6) // s_micro for count 1 (c)
    val ln8 = math.round(math.log(8) * 1e6) // ln(T+V)
    assert(rowList(out) == Seq(
      Seq(1L, 3L, 3 * ln8 - (2 * ln3 + ln3)),
      Seq(2L, 2L, 2 * ln8 - (ln3 + ln2))))
    // rarer tokens ⇒ higher mean surprisal: d2 contains the rare 'c'
    val rows = out.collect()
    assert(rows(1).getLong(2).toDouble / 2 > rows(0).getLong(2).toDouble / 3)
  }

  test("surprisal: partition-independent exact longs") {
    val df = (0L until 200L)
      .map(i => (i, s"tok${i % 7} tok${i % 3} tok${i % 11} shared"))
      .toDF("doc_id", "text")
    val a = rowSet(Lm.surprisal(df, "doc_id", "text"))
    val b = rowSet(Lm.surprisal(df.repartition(13), "doc_id", "text"))
    assert(a == b && a.size == 200)
  }

  test("surprisalAgainst: equals surprisal on the fit corpus; unseen tokens take the max floor") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val counts = Lm.unigramCounts(corpus, "text")
    assert(rowSet(Lm.surprisalAgainst(counts, corpus, "doc_id", "text")) ==
      rowSet(Lm.surprisal(corpus, "doc_id", "text")))
    // a wholly out-of-vocabulary doc: every token at the ln(T+V) ceiling
    val delta = Seq((9L, "zz qq")).toDF("doc_id", "text")
    val lnTV = math.round(math.log(5 + 3) * 1e6) // T=5, V=3 from the corpus
    assert(rowList(Lm.surprisalAgainst(counts, delta, "doc_id", "text")) ==
      Seq(Seq(9L, 2L, 2 * lnTV)))
  }

  test("bigramSurprisal: exact Laplace bigram totals; sub-2-token docs dropped") {
    // doc1 bigrams: (a,b),(b,a),(a,b) ⇒ c2(a,b)=2, c2(b,a)=1, c1(a)=2,
    // c1(b)=1; doc2 has no bigrams but its token 'x' widens V to 3
    val df = Seq((1L, "a b a b"), (2L, "x")).toDF("doc_id", "text")
    val out = rowList(Lm.bigramSurprisal(df, "doc_id", "text"))
    def r(x: Double) = math.round(math.log(x) * 1e6)
    val expect = 2 * (r(2 + 3) - r(2 + 1)) + (r(1 + 3) - r(1 + 1))
    assert(out == Seq(Seq(1L, 3L, expect)))
    // word salad scores higher than fluent repetition at equal unigrams
    val fluent = "the cat sat on the mat and the cat sat on the mat"
    val salad = "mat the on sat cat the and mat sat the cat on the"
    val s = Lm.bigramSurprisal(
        Seq((1L, fluent), (2L, salad)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(s(2L) > s(1L))
  }

  test("plan shapes: chunking is exchange-free; bm25 top-k never global-sorts") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val cp = Pack.chunkSliding(df, "doc_id", "text", 2, 1)
      .queryExecution.executedPlan.toString
    assert(!cp.contains("Exchange"))
    // top-k is TakeOrderedAndProject (k-row heaps per partition); the only
    // Sort above it is the k-row window that assigns ranks
    val bp = Search.bm25TopK(df, "doc_id", "text", Seq("a"), 5)
      .queryExecution.executedPlan.toString
    assert(bp.contains("TakeOrderedAndProject"))
  }

  // ---- Search.bm25TopK ----------------------------------------------------

  test("bm25TopK: matches an independently-computed reference, tf raises rank") {
    val df = Seq(
      (1L, "spark spark spark fast engine"),
      (2L, "spark is a data engine"),
      (3L, "rows and columns only"),
      (4L, "spark engine engine engine engine engine engine engine engine engine")
    ).toDF("doc_id", "text")
    val out = Search.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 10)
      .select("doc_id", "n_hit_terms", "score_micro", "rank").orderBy("rank")
    val rows = rowList(out)
    // doc 3 has no query term: absent
    assert(rows.map(_.head) == Seq(1L, 2L, 4L))
    // reference computation (same formula, same double order)
    val n = 4.0; val dfT = 3.0
    val idf = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
    val avgdl = 24.0 / 4.0 // dl: 5 + 5 + 4 + 10
    def score(tf: Double, dl: Double): Long =
      math.round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
    assert(rows.map(r => (r(0), r(2))).toSet ==
      Set((1L, score(3, 5)), (2L, score(1, 5)), (4L, score(1, 10))))
    // tf=3 over tf=1 at equal length wins; longer doc is penalized below
    // the short one at equal tf
    assert(rows.map(_.head) == Seq(1L, 2L, 4L))
    intercept[IllegalArgumentException](Search.bm25TopK(df, "doc_id", "text", Nil, 5))
    intercept[IllegalArgumentException](Search.bm25TopK(df, "doc_id", "text", Seq("x"), 0))
  }

  test("bm25PerQuery: single-query batch is bit-identical to bm25TopK; queries are independent") {
    val df = Seq(
      (1L, "spark spark spark fast engine"),
      (2L, "spark is a data engine"),
      (3L, "rows and columns only"),
      (4L, "spark engine engine engine engine engine engine engine engine engine")
    ).toDF("doc_id", "text")
    val qs = Seq(("a", "spark"), ("b", "rows"), ("b", "columns")).toDF("qid", "term")
    val multi = Search.bm25PerQuery(df, "doc_id", "text", qs, "qid", "term", k = 10)
    val single = Search.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 10)
    assert(rowSet(multi.filter($"qid" === "a").drop("qid")) == rowSet(single))
    // query b only matches doc 3, on both its terms
    assert(rowList(multi.filter($"qid" === "b").select("doc_id", "n_hit_terms")) ==
      Seq(Seq(3L, 2L)))
  }

  test("Bm25Index: stored search ≡ from-scratch; extend ≡ full rebuild bit-for-bit; partial save fails fast") {
    val corpus = Seq(
      (1L, "spark spark spark fast engine"),
      (2L, "spark is a data engine"),
      (3L, "rows and columns only")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (4L, "spark engine engine engine engine engine engine engine engine engine")
    ).toDF("doc_id", "text")
    val full = corpus.unionByName(delta)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    val ix = Search.bm25Index(full, "doc_id", "text")
    // stored-statistics search is bit-identical to the from-scratch path
    assert(rowSet(Search.bm25TopKIndexed(ix, Seq("spark"), 10)) ==
      rowSet(Search.bm25TopK(full, "doc_id", "text", Seq("spark"), 10)))
    val qs = Seq(("a", "spark"), ("b", "rows")).toDF("qid", "term")
    assert(rowSet(Search.bm25PerQueryIndexed(ix, qs, "qid", "term", 10)) ==
      rowSet(Search.bm25PerQuery(full, "doc_id", "text", qs, "qid", "term", 10)))
    // parquet round-trip preserves statistics and answers
    Search.saveBm25Index(ix, s"$dir/ix")
    ix.release()
    val loaded = Search.loadBm25Index(spark, s"$dir/ix")
    assert(loaded.idCol == "doc_id" && loaded.nDocs == 4 && loaded.totalTokens == 24)
    // incremental fold: corpus index + delta ≡ the full-corpus index
    // bit-for-bit (every statistic is an exact long aggregate)
    val cIx = Search.bm25Index(corpus, "doc_id", "text")
    val ext = Search.extendBm25Index(cIx, delta, "text")
    assert(ext.nDocs == 4 && ext.totalTokens == 24)
    assert(rowSet(Search.bm25TopKIndexed(ext, Seq("spark"), 10)) ==
      rowSet(Search.bm25TopKIndexed(loaded, Seq("spark"), 10)))
    ext.release(); cIx.release(); loaded.release()
    // a partially-written index names the missing component up front
    val p = new org.apache.hadoop.fs.Path(s"$dir/ix/termdf")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val e = intercept[IllegalArgumentException](Search.loadBm25Index(spark, s"$dir/ix"))
    assert(e.getMessage.contains("termdf"))
  }

  // docs with exactly 4 distinct tokens each (5 segment rows: 4 postings
  // + the document row), so every 3-doc batch pins the same row count
  private val vocab = Seq("spark", "join", "window", "rows", "engine", "fast",
    "data", "plan", "scan", "sort", "hash", "cache")
  private def segDocs(ids: Seq[Long]) = ids.map { i =>
    val words = (0 until 4).map(j => vocab(((i + 3 * j) % 12).toInt))
    (i, (Seq.fill((i % 3).toInt)(words.head) ++ words).mkString(" "))
  }.toDF("doc_id", "text")

  test("Bm25Index extend chain: every extend ≡ a rebuild on the union; segments stay O(log)") {
    val terms = Seq("spark", "window", "cache")
    val qs = Seq(("a", "spark"), ("a", "sort"), ("b", "hash"), ("c", "zzz")).toDF("qid", "term")
    val base = segDocs(0L until 12L)
    var ix = Search.bm25Index(base, "doc_id", "text")
    val batchRows = 15L
    for (step <- 1 to 11) {
      val batch = segDocs((9L + 3 * step) until (12L + 3 * step))
      val next = Search.extendBm25Index(ix, batch, "text")
      ix.release()
      ix = next
      val union = segDocs(0L until (12L + 3 * step))
      val ref = Search.bm25Index(union, "doc_id", "text")
      assert((ix.nDocs, ix.totalTokens) == ((ref.nDocs, ref.totalTokens)), s"step $step")
      assert(rowSet(Search.bm25TopKIndexed(ix, terms, 7)) ==
        rowSet(Search.bm25TopKIndexed(ref, terms, 7)), s"step $step")
      assert(rowSet(Search.bm25PerQueryIndexed(ix, qs, "qid", "term", 5)) ==
        rowSet(Search.bm25PerQueryIndexed(ref, qs, "qid", "term", 5)), s"step $step")
      assert(Seq(ix.postings, ix.docLens, ix.termDf).map(rowSet) ==
        Seq(ref.postings, ref.docLens, ref.termDf).map(rowSet), s"step $step")
      ref.release()
      // binary-counter compaction: sizes strictly fall from oldest to newest
      val rows = ix.segments.map(_.rows)
      val total = rows.sum
      assert(total == 5L * (12 + 3 * step))
      assert(rows.zip(rows.tail).forall { case (a, b) => a > b }, s"step $step: $rows")
      val bound = (math.log(total.toDouble / batchRows) / math.log(2)).floor.toInt + 2
      assert(ix.segments.size <= bound, s"step $step: $rows > $bound segments")
    }
    // 11 batches on a base of 4: 15 batch sizes = binary 8+4+2+1
    assert(ix.segments.map(_.rows) == Vector(120L, 60L, 30L, 15L))
    // and the from-scratch path agrees with the extended index
    val all = segDocs(0L until 45L)
    assert(rowSet(Search.bm25TopKIndexed(ix, terms, 7)) ==
      rowSet(Search.bm25TopK(all, "doc_id", "text", terms, 7)))
    ix.release()
  }

  test("Bm25Index release: an index and its extensions free every pin in either order") {
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (newestFirst <- Seq(false, true)) {
      val start = pinned
      val ixs = (1 to 4).scanLeft(Search.bm25Index(segDocs(0L until 6L), "doc_id", "text")) {
        (ix, step) => Search.extendBm25Index(ix, segDocs((3L + 3 * step) until (6L + 3 * step)), "text")
      }
      // the generation released last still answers after the others
      val order = if (newestFirst) ixs.reverse else ixs
      order.init.foreach(_.release())
      val last = order.last
      val before = pinned
      assert(Search.bm25TopKIndexed(last, Seq("spark"), 3).count() > 0)
      val checkpoint = pinned -- before // the result's own blocks
      last.release()
      last.release() // idempotent
      assert((pinned -- start -- checkpoint).isEmpty, s"newestFirst=$newestFirst")
    }
  }

  test("Bm25Index job budget: a non-compacting extend runs at most 5 Spark jobs") {
    val ix = Search.bm25Index(segDocs(0L until 60L), "doc_id", "text")
    var ext: Search.Bm25Index = null
    val jobs = jobsRun { ext = Search.extendBm25Index(ix, segDocs(60L until 63L), "text") }
    assert(ext.segments.size == 2)
    assert(jobs <= 5, s"$jobs jobs")
    ext.release(); ix.release()
  }

  test("fuseRrf: exact nano sums, rank-based fusion, docs in both lists rise") {
    // list 1 ranks docs 1,2,3; list 2 ranks docs 3,4 — doc 3 is in both
    val l1 = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 3L, 3L))
      .toDF("qid", "doc", "rank")
    val l2 = Seq(("q", 3L, 1L), ("q", 4L, 2L)).toDF("qid", "doc", "rank")
    val out = Search.fuseRrf(Seq(l1, l2), "qid", "doc", k = 10)
    val rows = rowList(out.select("doc", "n_lists", "rrf_nano", "rank").orderBy("rank"))
    def c(r: Long) = 1000000000L / (60L + r)
    // doc 3: ranked 3rd and 1st -> two contributions, tops the fused list
    assert(rows == Seq(
      Seq(3L, 2L, c(3) + c(1), 1L),
      Seq(1L, 1L, c(1), 2L),
      Seq(2L, 1L, c(2), 3L),
      Seq(4L, 1L, c(2), 4L)))
    // ties (docs 2 and 4, both c(2)) break by ascending doc id
    // k truncates per query
    assert(Search.fuseRrf(Seq(l1, l2), "qid", "doc", k = 2).count() == 2L)
    // degenerate: single list is a rank-preserving re-score
    val solo = Search.fuseRrf(Seq(l1), "qid", "doc", k = 10)
    assert(rowList(solo.select("doc").orderBy("rank")).flatten == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException](Search.fuseRrf(Nil, "qid", "doc", 5))
    intercept[IllegalArgumentException](Search.fuseRrf(Seq(l1), "qid", "doc", 0))
  }

  // ---- Dsir ---------------------------------------------------------------

  test("dsir: target-like raw docs get higher importance weights; features counted exactly") {
    val target = Seq((100L, "alpha beta alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val ab = Seq.fill(24)("alpha beta").mkString(" ")
    val gd = Seq.fill(24)("gamma delta").mkString(" ")
    val raw = Seq((1L, ab), (2L, gd)).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 48 tokens -> 48 unigram + 47 bigram feature instances
    assert(w(1L)._1 == 95L && w(2L)._1 == 95L)
    // doc 1 shares every feature with the target, doc 2 none
    assert(w(1L)._2 > w(2L)._2)
    // the A-ES log-space noise term ln(−ln u) spans at most
    // (ln(60·ln2) − ln(2^-60)) ≈ 45.3 nats across ANY pair of hash
    // uniforms, so a weight contrast above that can never be flipped by
    // the noise — resampling k=1 MUST pick the target-like doc
    assert((w(1L)._2 - w(2L)._2) > 46L * 1000000L)
    val picked = Dsir.select(raw, target, "doc_id", "text", k = 1)
      .select("doc_id").head().getLong(0)
    assert(picked == 1L)
  }

  test("dsir: weights are partition-independent exact longs; select composes") {
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "alpha beta gamma alpha" else "delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val a = Dsir.importanceWeights(raw, target, "doc_id", "text")
    val b = Dsir.importanceWeights(raw.repartition(7), target, "doc_id", "text")
    assert(rowSet(a) == rowSet(b))
    assert(rowSet(Dsir.select(raw, target, "doc_id", "text", k = 5)) ==
      rowSet(Dsir.resampleTopK(a, "doc_id", 5)))
    // empty target: every bucket takes the add-one floor, weights still defined
    val noT = Dsir.importanceWeights(raw, target.limit(0), "doc_id", "text")
    assert(noT.count() == 20)
  }

  // ---- Graph.pageRank -----------------------------------------------------

  test("pageRank: symmetric cycle stays uniform; star concentrates on the hub") {
    // 3-cycle, symmetrized: perfectly regular graph ⇒ all ranks equal
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val r = Graph.pageRank(cyc, "src", "dst", iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.values.toSet.size == 1)
    // floored micro mass: within 3 micro of 1.0 per node's own leak bound
    assert(r.values.forall(v => v > 320000 && v <= 333334))

    // star: hub 0 ↔ leaves 1..4
    val star = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val s = Graph.pageRank(star, "src", "dst", iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((1L to 4L).map(s).toSet.size == 1) // leaves symmetric
    assert(s(0L) > 2 * s(1L))                 // hub dominates
    // total mass conserved up to the documented floor leak
    assert(s.values.sum <= 1000000L && s.values.sum > 990000L)
    intercept[IllegalArgumentException](Graph.pageRank(star, "src", "dst", 0))
    intercept[IllegalArgumentException](Graph.pageRank(star, "src", "dst", 3, 100, 100))
  }

  test("pageRank: partition-independent exact longs; dangling nodes keep base rank") {
    val e = (0L until 60L).map(i => (i % 12, (i * 7) % 12)).filter(p => p._1 != p._2)
      .toDF("src", "dst")
    val a = rowSet(Graph.pageRank(e, "src", "dst", 4))
    val b = rowSet(Graph.pageRank(e.repartition(9), "src", "dst", 4))
    assert(a == b && a.nonEmpty)
    // a pure sink (in-edges only): rank = base + inflow, never null
    val sink = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(sink, "src", "dst", 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L) && r(2L) > r(1L) && r(1L) == r(3L))
  }

  test("personalizedPageRank: rank decays with distance from the seed; edgeless seed holds teleport mass") {
    // lollipop: triangle 1-2-3 with tail 3—4—5 (symmetrized; the triangle
    // keeps the walk aperiodic — a bare path oscillates under fixed
    // iterations). Seed {1}: mass concentrates at the seed and decays
    // down the tail.
    val lolli = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRank(lolli, "src", "dst", seeds, "node", 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 317989L, 2L -> 225132L, 3L -> 299114L,
      4L -> 100594L, 5L -> 57157L)) // hand-replayed integer fixed point
    assert(r(1L) == r.values.max && r(4L) > r(5L))
    // the global walk sees 1 and 2 as exact mirror images; only the seed
    // gate separates them
    val g = Graph.pageRank(lolli, "src", "dst", 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(g(1L) == g(2L) && r(1L) > r(2L))
    // partition-independence (exact longs)
    val a = rowSet(Graph.personalizedPageRank(lolli, "src", "dst", seeds, "node", 4))
    val b = rowSet(Graph.personalizedPageRank(
      lolli.repartition(7), "src", "dst", seeds.repartition(3), "node", 4))
    assert(a == b && a.nonEmpty)
    // a seed with no edges still holds its share of the teleport mass
    val iso = Graph.personalizedPageRank(lolli, "src", "dst",
        Seq(1L, 99L).toDF("node"), "node", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(iso(99L) > 0L && iso.keySet.contains(4L))
    intercept[IllegalArgumentException](Graph.personalizedPageRank(
      lolli, "src", "dst", Seq.empty[Long].toDF("node"), "node", 3))
  }

  test("labelPropagation: frontier grows one hop per round, seeds clamp, ties lexicographic") {
    // 1(A)—2—3—4, 5(B)—4: node 2 labels round 1 from A; node 4 round 1
    // from B; node 3 sees A (via 2) and B (via 4) in round 2 with equal
    // votes → lexicographic tie to "A". Seeds never relabel.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq((1L, "A"), (5L, "B")).toDF("node", "label")
    val out = Graph.labelPropagation(e, "src", "dst", seeds, "node", "label", 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> (("A", 0L)), 5L -> (("B", 0L)),
      2L -> (("A", 1L)), 4L -> (("B", 1L)),
      3L -> (("A", 2L))))
    // radius bound: 1 round reaches only direct neighbors
    val r1 = Graph.labelPropagation(e, "src", "dst", seeds, "node", "label", 1)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L, 4L, 5L))
    // partition-independent
    val a = rowSet(Graph.labelPropagation(e, "src", "dst", seeds, "node", "label", 2))
    val b = rowSet(Graph.labelPropagation(
      e.repartition(5), "src", "dst", seeds.repartition(3), "node", "label", 2))
    assert(a == b && a.nonEmpty)
  }

  // ---- Ops.sampleWeighted -------------------------------------------------

  test("sampleWeighted: A-ES selection is weight-monotone, deterministic, partition-independent") {
    val df = (0L until 400L).map(i => (i, if (i < 200) 1L else 100L)).toDF("id", "w")
      .union(Seq((400L, 0L), (401L, -3L)).toDF("id", "w")) // never sampled
    val out = Ops.sampleWeighted(df, "id", "w", 50)
    val ids = out.collect().map(_.getLong(0)).toSet
    assert(ids.size == 50 && !ids.contains(400L) && !ids.contains(401L))
    // heavy rows (w=100, ids 200..399) should dominate the winners
    assert(ids.count(_ >= 200) > 40)
    // pure function of (id, weight): identical set on any partitioning
    val b = Ops.sampleWeighted(df.repartition(13), "id", "w", 50)
      .collect().map(_.getLong(0)).toSet
    assert(b == ids)
    // matches a local replay of the key formula
    val space = math.pow(2.0, 60)
    def h60(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val expect = (0L until 400L).map { i =>
      val w = if (i < 200) 1.0 else 100.0
      (i, math.log((h60(i) + 1).toDouble / space) / w)
    }.sortBy { case (i, key) => (-key, i) }.take(50).map(_._1).toSet
    assert(ids == expect)
    intercept[IllegalArgumentException](Ops.sampleWeighted(df, "id", "w", 0))
  }

  test("sampleWeightedPerGroup: n per stratum, weight-biased within, partition-independent") {
    val df = (0L until 300L)
      .map(i => (i, s"g${i % 3}", if (i % 2 == 0) 1L else 200L))
      .toDF("id", "g", "w")
    val out = Ops.sampleWeightedPerGroup(df, Seq("g"), "id", "w", 5)
    val byG = out.collect().map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
    assert(byG.keySet == Set("g0", "g1", "g2") && byG.values.forall(_.length == 5))
    // heavy rows (odd ids, w=200) dominate every stratum's pick
    assert(out.collect().count(_.getLong(0) % 2 == 1) >= 12)
    val b = Ops.sampleWeightedPerGroup(df.repartition(11), Seq("g"), "id", "w", 5)
    assert(rowSet(b) == rowSet(out))
    intercept[IllegalArgumentException](
      Ops.sampleWeightedPerGroup(df, Nil, "id", "w", 5))
  }

  test("degenerate inputs: null/empty text, empty edge lists, absent query terms") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "only")).toDF("doc_id", "text")
    // chunking: null and empty docs yield no chunks; 1-token doc yields one
    val ch = Pack.chunkSliding(docs, "doc_id", "text", 4, 2).collect()
    assert(ch.map(_.getLong(0)).toSeq == Seq(3L) && ch.head.getLong(3) == 1L)
    // surprisal: null text drops (no tokens); empty text tokenizes to [""]
    // on both engines (split semantics) and scores like any token
    val s = Lm.surprisal(docs, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(s == Set(2L, 3L))
    // bigrams need 2+ tokens: nothing here qualifies
    assert(Lm.bigramSurprisal(docs, "doc_id", "text").isEmpty)
    // bm25 with a term absent from the corpus: empty, not an error
    assert(Search.bm25TopK(docs, "doc_id", "text", Seq("zzz"), 5).isEmpty)
    // pageRank on an empty edge list: empty, no division-by-zero
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(none, "src", "dst", 2).isEmpty)
  }

  // ---- Lm.domainKl --------------------------------------------------------

  test("domainKl: identical distributions give exactly 0; skew gives positive divergence") {
    val same = Seq(("a", "x y"), ("b", "x y")).toDF("source", "text")
    val r0 = Lm.domainKl(same, "source", "text").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(r0 == Map("a" -> 0L, "b" -> 0L))
    val skew = Seq(("a", "x x x x y"), ("b", "y y y y x")).toDF("source", "text")
    val r1 = Lm.domainKl(skew, "source", "text").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(r1("a") > 0L && r1("b") > 0L)
    // n_tokens is the domain's token total
    val nt = Lm.domainKl(skew, "source", "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nt == Map("a" -> 5L, "b" -> 5L))
  }

  test("domainJsd: identical 0, disjoint ln2, symmetric, hand value, empty-side null") {
    def docs(ts: String*) = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // identical distributions: exactly 0
    val a = docs("x y x", "y x y")
    assert(Lm.domainJsd(a, a, "text").head().getAs[Long]("jsd_micro") == 0L)
    // fully disjoint vocabularies: the ln 2 ceiling (micro-rounded)
    val d = Lm.domainJsd(docs("x x y"), docs("z w w"), "text").head()
    assert(d.getAs[Long]("n_tokens_a") == 3L && d.getAs[Long]("n_tokens_b") == 3L)
    assert(math.abs(d.getAs[Long]("jsd_micro") - math.round(math.log(2) * 1e6)) <= 1L)
    // symmetric by construction
    val p = docs("x x x y"); val q = docs("x y y y")
    val pq = Lm.domainJsd(p, q, "text").head().getAs[Long]("jsd_micro")
    val qp = Lm.domainJsd(q, p, "text").head().getAs[Long]("jsd_micro")
    assert(pq == qp && pq > 0L)
    // hand value: P = (.75, .25), Q = (.25, .75), M = (.5, .5) ->
    // JSD = .75 ln1.5 + .25 ln.5 (per side, sides equal)
    val exp = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    assert(math.abs(pq - math.round(exp * 1e6)) <= 1L)
    // an empty side has no distribution: null, not NaN or a crash
    val e = Lm.domainJsd(p, docs("   "), "text").head()
    assert(e.isNullAt(2))
    // partition invariance (exact long term sums)
    assert(Lm.domainJsd(p.repartition(5), q.repartition(3), "text")
      .head().getAs[Long]("jsd_micro") == pq)
  }

  // ---- Graph.triangles ----------------------------------------------------

  test("triangles: K4 = 3 per node; path = 0 per node; messy edge list tolerated") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("src", "dst")
    val t = Graph.triangles(k4, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)) // 4 triangles total
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val p = Graph.triangles(path, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L)) // 0-rows present
    // duplicates, reversed orientation, and a self-loop: still one {1,2,3}
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val m = Graph.triangles(messy, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangles: partition-independent; star hub counts only its real triangle") {
    val e = (1L to 20L).map(l => (0L, l)).toDF("src", "dst")
      .union(Seq((1L, 2L)).toDF("src", "dst"))
    val a = rowSet(Graph.triangles(e, "src", "dst"))
    val b = rowSet(Graph.triangles(e.repartition(9), "src", "dst"))
    assert(a == b && a.nonEmpty)
    val m = Graph.triangles(e, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == 1L && m(1L) == 1L && m(2L) == 1L)
    assert((3L to 20L).forall(m(_) == 0L))
  }

  test("mutualInfo: independent columns give exactly 0; a copy gives ln(k); nulls dropped") {
    // perfectly independent 2x2 uniform: every cell term is ln(1) = 0
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("u", "v")
    val r0 = Lm.mutualInfo(indep, "u", "v").collect()(0)
    assert(r0.getAs[Long]("n_pairs") == 4L && r0.getAs[Long]("mi_micro") == 0L)
    // v = u (2 uniform symbols): MI = ln 2, as the sum of per-cell micro terms
    val copy = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"),
      (null, "zz"), ("zz", null)).toDF("u", "v")
    val r1 = Lm.mutualInfo(copy, "u", "v").collect()(0)
    assert(r1.getAs[Long]("n_pairs") == 4L) // null-sided rows dropped
    val cellTerm = math.round(math.log(2.0) * 2 * 1e6)
    assert(r1.getAs[Long]("mi_micro") == 2 * cellTerm)
    // partition-independent (exact long sum of pre-rounded terms)
    val r2 = Lm.mutualInfo(copy.repartition(7), "u", "v").collect()(0)
    assert(r2.getAs[Long]("mi_micro") == r1.getAs[Long]("mi_micro"))
  }

  test("hits: hand-computed bipartite authorities/hubs, partition-invariant") {
    import spark.implicits._
    val edges = Seq(("u1", "x"), ("u1", "y"), ("u2", "x")).toDF("s", "d")
    // 3 unnormalized rounds: a3(x)=13, a3(y)=8; h3(u1)=21, h3(u2)=13
    val r = Graph.hits(edges, "s", "d", iterations = 3).collect()
      .map(x => x.getString(0) ->
        (x.getAs[Long]("auth_micro"), x.getAs[Long]("hub_micro"))).toMap
    assert(r.keySet == Set("u1", "u2", "x", "y"))
    assert(r("x") == ((1000000L, 0L)))
    assert(r("y") == ((math.round(8.0 / 13 * 1e6), 0L)))
    assert(r("u1") == ((0L, 1000000L)))
    assert(r("u2") == ((0L, math.round(13.0 / 21 * 1e6))))
    val again = Graph.hits(edges.repartition(5), "s", "d", iterations = 3)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Long]("auth_micro"), x.getAs[Long]("hub_micro"))).toMap
    assert(again == r)
  }

  test("vocabGrowth: hand Heaps curve, beyond-checkpoint docs excluded") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (20L, "b c"), (100L, "d"), (300L, "z"))
      .toDF("doc_id", "text").repartition(3)
    val r = Lm.vocabGrowth(docs, "doc_id", "text", Seq(16L, 64L, 256L))
      .collect().map(x => x.getAs[Long]("k") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_types"),
         x.getAs[Long]("ttr_micro"))).toMap
    // doc 300 is beyond every checkpoint: never counted
    assert(r == Map(16L -> ((2L, 2L, 1000000L)), 64L -> ((4L, 3L, 750000L)),
      256L -> ((5L, 4L, 800000L))))
    // empty prefix: zero point is real, TTR null
    val late = Seq((50L, "x y")).toDF("doc_id", "text")
    val z = Lm.vocabGrowth(late, "doc_id", "text", Seq(10L, 100L)).collect()
      .map(x => x.getAs[Long]("k") -> x.getAs[Long]("n_tokens")).toMap
    assert(z == Map(10L -> 0L, 100L -> 2L))
  }

  test("goodTuring: adjusted counts from the freq-of-freq table, tail undefined") {
    import spark.implicits._
    // counts: a=3, b=2, c=1  ->  N1=N2=N3=1
    val docs = Seq(Tuple1("a a a b"), Tuple1("b c")).toDF("text")
    val r = Lm.goodTuring(docs, "text").collect()
      .map(x => x.getAs[Long]("r") ->
        Option(x.getAs[Any]("r_star_micro")).map(_.asInstanceOf[Long])).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L).contains(2000000L)) // r* = (1+1)*N2/N1 = 2
    assert(r(2L).contains(3000000L)) // r* = (2+1)*N3/N2 = 3
    assert(r(3L).isEmpty)            // N4 = 0: raw GT undefined at the tail
    // gapped counts: a,b,c=1 and d=3 -> N1=3, N2 absent, N3=1
    val gap = Seq(Tuple1("a b c d d d")).toDF("text")
    val g = Lm.goodTuring(gap, "text").collect()
      .map(x => x.getAs[Long]("r") ->
        Option(x.getAs[Any]("r_star_micro")).map(_.asInstanceOf[Long])).toMap
    assert(g.keySet == Set(1L, 3L) && g(1L).isEmpty && g(3L).isEmpty)
  }

  test("tfidfTopTerms: hand tf*ln(N/df) scores, zero for corpus-wide terms, k cap, term tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Search.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ln2 = math.round(math.log(2.0) * 1e6)
    // N=2; df(a)=2 -> ln(1)=0; df(b)=df(c)=1 -> ln 2
    assert(got((1L, 1L)) == ("b", 1L, 1L, ln2))
    assert(got((1L, 2L)) == ("a", 2L, 2L, 0L))
    assert(got((2L, 1L)) == ("c", 1L, 1L, ln2))
    assert(got((2L, 2L)) == ("a", 1L, 2L, 0L))
    // k caps the per-doc rows
    assert(Search.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .groupBy("doc_id").count().collect().forall(_.getLong(1) == 1L))
  }

  test("bfsHops: multi-source shortest hops, maxHops cap, unreached omitted") {
    import spark.implicits._
    // 1->2->3->4 chain, 5->6 island, 7 reachable from both seeds (via 2)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (2L, 7L), (5L, 7L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = Graph.bfsHops(e, "src", "dst", seeds, "node", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 7 is 2 hops via 1->2->7 but 1 hop via 5->7: min wins
    assert(got == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 6L -> 1L, 7L -> 1L,
      3L -> 2L, 4L -> 3L))
    // cap: maxHops=2 drops node 4
    val capped = Graph.bfsHops(e, "src", "dst", seeds, "node", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == got - 4L)
    // edgeless seed still emits hops=0; nothing else reached from it
    val lone = Graph.bfsHops(e, "src", "dst", Seq(99L).toDF("node"), "node", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lone == Map(99L -> 0L))
    // partition invariance
    val rep = Graph.bfsHops(e.repartition(5), "src", "dst",
        seeds.repartition(2), "node", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got)
  }
}
