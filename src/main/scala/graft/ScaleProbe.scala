package graft


import org.apache.spark.sql.functions._

import graft.functions.{Repetition, Text}
import graft.operators.{Bpe, Dedup, Joins, Lm, Ops, Pack}

/** Empirical scaling probe for the dedup pipeline (the suite's algorithmic
  * core): replicates the documents corpus `factor`× in memory (id-offset
  * clones) and times MinHash-LSH pair generation and connected components
  * at growing N on the same hardware.
  *
  * Replication semantics: every original near-dup cluster of size m becomes
  * one cluster of size m·factor (clones across batches near-dup each
  * other), so pair count grows ~factor² within clusters — this
  * deliberately stresses BOTH axes: signature/banding throughput (linear
  * in docs) and component size (large-star/small-star round count is
  * log-bounded). A flat seconds-per-doc curve plus bounded CC rounds is
  * the evidence that the 100 TB story holds; a superlinear curve is a bug.
  *
  * Run: `sbt "runMain graft.ScaleProbe [sfDir] [factor...]"`. Prints one
  * JSON line per factor.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val cpus = GraftSession.envCpus("32")
    val spark = GraftSession.local(cpus, "graft-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect() // absorb session init

    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // offset derived from the observed id range so clone batches can never
    // collide, whatever id space the given corpus uses
    val offRow = base.agg(max(col("doc_id"))).head()
    require(!offRow.isNullAt(0),
      s"documents table at $sfDir is empty - nothing to probe")
    val offset = offRow.getLong(0) + 1L
    factors.foreach { factor =>
      val docs = (0 until factor)
        .map(k => base.select((col("doc_id") + lit(k * offset)).as("doc_id"), col("text")))
        .reduce(_ union _)
        .repartition(cpus.toInt).persist()
      val n = docs.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 3, threshold = 0.8)
      val nPairs = pairs.count() // pairs is eagerly checkpointed; count is cheap
      val t1 = System.nanoTime()
      val comps = Dedup.connectedComponents(pairs, docs, "doc_id")
        .filter(col("id") =!= col("component")).count()
      val t2 = System.nanoTime()
      // assembly axis: repetition signals -> per-bucket token budget ->
      // sequence packing. Pure explode/window/aggregate shapes — this curve
      // must stay linear in docs (there is no pair blow-up to excuse).
      val rep = Repetition.ngramRepetition(docs, "doc_id", "text", 2)
      val withTok = docs.withColumn("n_tokens",
          Text.tokenCount(col("text")).cast("long"))
        .withColumn("grp", pmod(col("doc_id"), lit(16L)))
      val mixed = Ops.sampleToBudget(withTok, Seq("grp"), "doc_id", "n_tokens",
        budget = 50000L)
      val packed = Pack.packSequences(
        Ops.shardByHash(mixed, "doc_id", 16), "shard", "doc_id", "n_tokens", 4096L)
      val nRep = rep.count()
      val nPacked = packed.count()
      val t3 = System.nanoTime()
      // substring axis (r5): window-index self-join. Clone replication makes
      // every copy pair share ALL its windows, so match volume grows with
      // factor² per cluster — the deliberate worst case for the index join.
      val spans = Dedup.substringDupPairs(docs, "doc_id", "text", k = 30)
      val nSpanPairs = spans.count()
      val t4 = System.nanoTime()
      // LM axis (r5 batch 2): fit + score = two explode passes and a
      // vocab join. Replication multiplies token counts by `factor` but the
      // vocab is FIXED, so the curve must stay linear in docs — the fit
      // agg's shuffled volume (the vocab) does not grow at all.
      val nScored = Lm.surprisal(docs, "doc_id", "text").count()
      val t5 = System.nanoTime()
      // sparse-cosine axis (r6): Bayardo prefix-index join + codegen'd
      // merge-dot verify. Clone replication multiplies each kept term's df
      // by `factor` (clones share all shingles), so df-capped postings
      // SHRINK per batch while candidate volume within surviving terms
      // grows ~factor² — the curve tracks candidates, not docs²; the df
      // cap scales with factor to keep the kept vocabulary comparable.
      val nCosPairs = graft.operators.Similarity.sparseCosinePairs(docs, "doc_id",
        Text.wordShingles(col("text"), 3), threshold = 0.6,
        maxDf = 10L * factor).count()
      val t6 = System.nanoTime()
      // sketch axis (r7, VERDICT r6 stretch): per-shard KLL build+merge vs
      // exact percentile on the same column. The sketch side's merged state
      // is KB-bounded regardless of N — the measured 100-TB argument these
      // operators exist to make: exact grows with data, sketch stays flat.
      val tokens = docs.select(Text.tokenCount(col("text")).cast("long").as("v"),
        pmod(col("doc_id"), lit(64L)).as("shard"))
      graft.operators.Sketches.mergeQuantiles(
        graft.operators.Sketches.quantileSketch(tokens, Seq("shard"), "v"),
        Nil, Seq(0.5, 0.9, 0.99)).count()
      val t7 = System.nanoTime()
      tokens.groupBy().agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))")).count()
      val t8 = System.nanoTime()
      // embedding-index axis (r7): replicate the embeddings table the same
      // way, build the corpus EmbeddingIndex ONCE (linear in vectors —
      // explode, broadcast plane join, two hash-aggs; sign bits re-size
      // with the corpus so bucket occupancy stays constant), then band the
      // hash-shard-0 delta against it. Clones share exact buckets, so
      // between-pair volume grows ~factor² within original near-dup
      // families — the deliberate worst case for the band-join; the build
      // curve must stay linear in vectors.
      val ebase = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      // guard (ADVICE r7): an empty embeddings table used to NPE on the
      // offset read — skip the axis (zeros) instead, keeping the doc axes
      // usable on corpora without an embeddings table worth probing
      val eoffRow = ebase.agg(max(col("vec_id"))).head()
      val (nVecs, t9, t10, nBetween, t11, pqJson) = if (eoffRow.isNullAt(0)) {
        System.err.println("[scaleprobe] embeddings table is empty - skipping embedding axis")
        val now = System.nanoTime()
        (0L, now, now, 0L, now,
          s""","pq_build_sec":0,"pq_raw_bytes":0,"pq_code_bytes":0,""" +
            s""""pq_search_sec":0,"div_groups":0,"div_sec":0""")
      } else {
        val eoff = eoffRow.getLong(0) + 1L
        val evecs = (0 until factor)
          .map(j => ebase.select((col("vec_id") + lit(j * eoff)).as("vec_id"), col("embedding")))
          .reduce(_ union _)
          .repartition(cpus.toInt).persist()
        val nV = evecs.count()
        val esh = Ops.shardByHash(evecs, "vec_id", 5)
        val ta = System.nanoTime()
        val eix = Dedup.embeddingIndex(esh.filter(col("shard") =!= 0).drop("shard"),
          "vec_id", "embedding", threshold = 0.3)
        val tb = System.nanoTime()
        val nB = Dedup.embeddingNearDupPairsBetween(
          esh.filter(col("shard") === 0).drop("shard"), eix,
          "vec_id", "embedding", threshold = 0.3).count()
        val tc = System.nanoTime()
        eix.release()
        // PQ-store axis (r8, VERDICT r7 stretch): train an IVF-PQ index on
        // the same replicated corpus and measure (a) the build curve (must
        // stay ~linear in vectors — broadcast-join Lloyd rounds), (b) the
        // STORED bytes of the raw vector table vs the packed codes+norm
        // table (the "~13× compression" scaladoc claim as a measured
        // parquet number — the at-rest layouts an ADC scan vs a raw scan
        // would read), and (c) the stored-index search time for a 10-query
        // batch — the no-retrain read path, training amortized away.
        val pqt0 = System.nanoTime()
        val pqIx = graft.operators.Similarity.ivfPqIndex(evecs, "vec_id", "embedding")
        val pqt1 = System.nanoTime()
        val pdir = java.nio.file.Files.createTempDirectory("graft_probe_pq").toString
        pqIx.vecs.select("nbr_id", "nv").write.mode("overwrite").parquet(s"$pdir/raw")
        pqIx.codes.groupBy("nbr_id")
          .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
            e => e.getField("code").cast("byte")).as("codes"))
          .join(pqIx.vecs.select(col("nbr_id"), col("vv")), Seq("nbr_id"))
          .write.mode("overwrite").parquet(s"$pdir/packed")
        def dirBytes(p: String): Long = {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(hp).getLength
        }
        val rawBytes = dirBytes(s"$pdir/raw")
        val codeBytes = dirBytes(s"$pdir/packed")
        val pqt2 = System.nanoTime()
        graft.operators.Similarity.ivfPqTopKIndexed(pqIx,
          evecs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, rerank = 50).count()
        val pqt3 = System.nanoTime()
        pqIx.release()
        // diversity axis (r11): per-label mean pairwise cosine over the
        // replicated vectors. The sum-of-vectors identity means work is
        // ONE explode + hash-aggs — div_sec must stay linear in vectors
        // even though the quantity measured is over ~factor² pairs.
        val dvt0 = System.nanoTime()
        val nDivGroups = graft.operators.Similarity.groupDiversity(
          evecs.select(pmod(col("vec_id"), lit(16L)).as("label"),
            col("embedding")), "label", "embedding").count()
        val dvt1 = System.nanoTime()
        evecs.unpersist(blocking = false)
        def s2(a: Long, b: Long): String =
          String.format(java.util.Locale.ROOT, "%.2f", Double.box((b - a) / 1e9))
        (nV, ta, tb, nB, tc,
          s""","pq_build_sec":${s2(pqt0, pqt1)},"pq_raw_bytes":$rawBytes,""" +
            s""""pq_code_bytes":$codeBytes,"pq_search_sec":${s2(pqt2, pqt3)},""" +
            s""""div_groups":$nDivGroups,"div_sec":${s2(dvt0, dvt1)}""")
      }
      // bloom axis (r8): a ~1%-selective key set bloom-prunes the growing
      // corpus. The curve to watch: survivors/docs must stay ≈ selectivity
      // + fpp at every factor (the prune's value doesn't erode as the big
      // side grows) while the filter bytes track the KEY side only.
      val blt0 = System.nanoTime()
      val bloomKeys = docs.select(col("doc_id")).filter(col("doc_id") % 101 === 0)
      val nBk = bloomKeys.count()
      val bloomBytes = Joins.bloomOfKeys(bloomKeys, "doc_id")
      val blt1 = System.nanoTime()
      graft.expressions.GraftFunctions.register(spark)
      val nBloomSurv = docs.filter(call_function("graft_bloom_might_contain",
        lit(bloomBytes), col("doc_id"))).count()
      val blt2 = System.nanoTime()

      // triangle axis (r9): per-node triangle counts over the LSH pair
      // graph — clone replication densifies clusters, so edges grow
      // ~factor² within them: the deliberate worst case for wedge
      // enumeration. The Suri–Vassilvitskii bound is O(m^{3/2}) wedges;
      // the curve to watch is tri_sec vs pairs^{3/2}, not docs.
      val trt0 = System.nanoTime()
      val nTriNodes = graft.operators.Graph.triangles(pairs, "id_a", "id_b")
        .filter(col("n_tri") > 0).count()
      val trt1 = System.nanoTime()
      // k-core axis (r9 batch 2): 3 peel rounds at k=2 over the same pair
      // graph — per round one degree agg + two semi-joins, all
      // edge-cardinality, so kcore_sec must track edges LINEARLY (the
      // localCheckpoint per round pins the plan; without it this curve
      // went 5^r in the optimizer, not the executors).
      val kct0 = System.nanoTime()
      val nCoreNodes = graft.operators.Graph.kCore(pairs, "id_a", "id_b",
        k = 2, rounds = 3).count()
      val kct1 = System.nanoTime()
      // fuzzy axis (r9): standing FastSS dictionary over the word
      // vocabulary plus `_k`-suffixed clone batches (≥2 edits from every
      // original, so d=1 match volume stays flat while the dictionary
      // grows linearly); probe = a ~5% md5 sample of the original words.
      // Watch fz_sigs/fz_dict (constant ≈ L+1 at d=1 — signature fan-out
      // does not erode) and fz_probe_sec (tracks probe size, not dict).
      val words0 = graft.operators.Bpe.wordCounts(base, "text")
        .filter(length(col("word")).between(4, 20)).select("word")
      val fdict = (0 until factor)
        .map(k => if (k == 0) words0
          else words0.select(concat(col("word"), lit("_" + k)).as("word")))
        .reduce(_ union _)
      val nFdict = fdict.count()
      val fzt0 = System.nanoTime()
      val fzIx = Joins.fuzzyIndex(fdict, "word", "word", maxDist = 1)
      val nSigs = fzIx.signatures.count()
      val fzt1 = System.nanoTime()
      val fprobe = words0.filter(md5(col("word")) < "0c")
      val fzMatches = Joins.fuzzyProbe(fzIx, fprobe, "word", "word")
        .persist()
      val nFzMatches = fzMatches.count()
      val fzt2 = System.nanoTime()
      // JW rescore axis (r9 batch 2): graft_jw_micro over the matched
      // pairs — a stateless codegen'd projection, so jw_sec must track
      // fz_matches linearly and stay far below the probe join itself.
      val nJwHigh = fzMatches.filter(call_function("graft_jw_micro",
        col("str_l"), col("str_r")) >= 900000L).count()
      val fzt3 = System.nanoTime()
      fzMatches.unpersist(blocking = false)
      fzIx.release()
      // winnowing axis (r9 wave 6): MOSS fingerprints + df-capped pair
      // join over the cloned corpus. Clones collide on EVERY fingerprint,
      // so the df-cap is what keeps the curve linear — maxDf sized to the
      // clone count exercises the cap exactly at its boundary.
      val wnt0 = System.nanoTime()
      val nWinnowPairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 8, w = 4, maxDf = math.max(20L, factor * 4L)).count()
      val wnt1 = System.nanoTime()

      // count-min axis (r9 wave 6): cell build + full-key probe. The cell
      // table is CONSTANT size (depth×width) at any corpus scale — build
      // time must grow linearly, probe time with the DISTINCT keys only.
      val cmt0 = System.nanoTime()
      val cmCells = graft.operators.Sketches.countMinBuild(docs, "doc_id", 4, 1024)
        .localCheckpoint(true)
      val nCmCells = cmCells.count()
      val cmt1 = System.nanoTime()
      val nCmProbed = graft.operators.Sketches.countMinProbe(
        cmCells, docs, "doc_id", 4, 1024).count()
      val cmt2 = System.nanoTime()
      // standing-store fold axis (r10 §next-7a): fold a FIXED batch (the
      // base corpus, re-id'd) into the factor-sized standing cell table.
      // The cell table is CONSTANT (depth×width) at any history size, so
      // this curve must be flat — the measured "history never re-scanned"
      // claim for the count-min ingest gate.
      val batch = base.select(
        (col("doc_id") + lit(factor.toLong * offset)).as("doc_id"), col("text"))
      val nCmFold = graft.operators.Sketches.countMinMerge(Seq(cmCells,
        graft.operators.Sketches.countMinBuild(batch, "doc_id", 4, 1024)))
        .count()
      val cmt3 = System.nanoTime()
      // release the pinned cell table like the neighboring axes do
      // (ADVICE r9 §5): its blocks otherwise accumulate across factors
      cmCells.unpersist(blocking = false)

      // standing-store fold axis (r10 §next-7b): BM25. Extend pins the
      // fixed batch as one new segment beside the store's segments, which
      // it shares uncopied, so its cost tracks the BATCH size, not the
      // store's; the build/extend ratio across factors is the measured
      // claim (a flat extend time as the store grows).
      val bmt0 = System.nanoTime()
      val bmIx = graft.operators.Search.bm25Index(docs, "doc_id", "text")
      val nBmPostings = bmIx.postings.count()
      val bmt1 = System.nanoTime()
      val bmIx2 = graft.operators.Search.extendBm25Index(bmIx, batch, "text")
      val nBmExtended = bmIx2.postings.count()
      val bmt2 = System.nanoTime()
      bmIx.release(); bmIx2.release()

      // stats axis (r10 §next-6): grouped KS + concentration through the
      // shared two-level rank machinery. KS levels are text LENGTHS and
      // concentration keys the (fixed) vocabulary, so both window frames
      // stay level-sized while rows replicate — the curves must track the
      // level hash-agg (linear in docs), never a data-sized sort.
      val stt0 = System.nanoTime()
      val sfm = docs.select(pmod(col("doc_id"), lit(8L)).as("g"),
        length(col("text")).cast("long").as("len"),
        pmod(col("doc_id"), lit(2L)).as("h"))
      val nKsGroups = graft.operators.Stats.ksTestByGroup(
        sfm.filter(col("h") === 0), sfm.filter(col("h") === 1), "g", "len",
        bucketWidth = 64L).count()
      val stt1 = System.nanoTime()
      val toks = docs.select(
          explode(Text.tokens(Text.normalize(col("text")))).as("w"))
        .filter(length(col("w")) > 0).withColumn("one", lit(1L))
      val nConc = graft.operators.Stats.concentration(toks, "w", "one",
        bucketWidth = 100000L).count()
      val stt2 = System.nanoTime()

      // unigram-LM axis (r10): ALL training statistics live on the
      // unique-word table (fixed vocabulary under replication), so the
      // train curve must track the ONE corpus wordCounts shuffle and the
      // encode curve the doc-word hash-agg — both linear in docs, with
      // the per-word Viterbi DP a constant (map-side expression, never a
      // join). Clone replication multiplies counts, not words: the
      // learned vocab is replication-invariant.
      val ugt0 = System.nanoTime()
      val ugVocab = graft.operators.Unigram.train(docs, "text")
      val nUgVocab = ugVocab.count()
      val ugt1 = System.nanoTime()
      val nUgDocs = graft.operators.Unigram.encodeCounts(
        docs, "doc_id", "text", ugVocab).count()
      val ugt2 = System.nanoTime()

      // rank-test axis (r10): Mann–Whitney over doc lengths, sides by id
      // parity. The midrank machinery shuffles |distinct length levels|
      // rows (FIXED under clone replication), so the curve must track the
      // one level hash-agg — linear in docs, never a data-sized sort.
      // Representative of the whole r10 battery (KW/Wilcoxon/Friedman/
      // ANOVA ride the same level-table + two-level-prefix shapes).
      val rkt0 = System.nanoTime()
      val nMwRows = graft.operators.Stats.mannWhitney(
        docs.select(pmod(col("doc_id"), lit(2L)).as("g"),
          length(col("text")).cast("long").as("len")),
        "g", "len", 0L, 1L, bucketWidth = 64L).count()
      val rkt1 = System.nanoTime()

      // WordPiece axis (r10): same unique-word-table invariance as the
      // unigram axis, but rounds are inherently sequential (likelihood
      // denominators change per merge), so train cost = rounds × a
      // vocab-sized job — flat under clone replication; the MaxMatch
      // encode tracks the doc-word hash-agg, its per-word fold constant.
      val wpt0 = System.nanoTime()
      val wpMerges = graft.operators.WordPiece.train(docs, "text", 12)
      val nWpMerges = wpMerges.count()
      val wpVocab = graft.operators.WordPiece.vocabPieces(docs, "text", wpMerges)
      val wpt1 = System.nanoTime()
      val nWpDocs = graft.operators.WordPiece.encodeCounts(
        docs, "doc_id", "text", wpVocab).count()
      val wpt2 = System.nanoTime()

      // BFS axis (r11): multi-source hop bands over the LSH pair graph
      // (seeds = a 1/256 ≈ 0.4% md5-prefix sample of nodes). Frontier joins touch each
      // edge at most once per hop BAND, not once per round — bfs_sec must
      // track the pair graph (like kcore_sec), never rounds × edges.
      val bft0 = System.nanoTime()
      val bfsSeeds = docs.select(col("doc_id").as("node"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) === "00")
      val bfsE = pairs.select(col("id_a"), col("id_b"))
      val nBfsReached = graft.operators.Graph.bfsHops(
        bfsE.union(bfsE.select(col("id_b").as("id_a"), col("id_a").as("id_b"))),
        "id_a", "id_b", bfsSeeds, "node", maxHops = 3).count()
      val bft1 = System.nanoTime()

      // EWMA axis (r11): per-key half-life smoothing over a synthetic
      // keyed sequence (key = doc_id mod 1009, ts = doc_id). Keys are
      // FIXED while rows grow with the factor, so per-key history grows
      // linearly — the axis that proves the WindowGroupLimit map-side
      // prune keeps the windowed volume at keys·L, i.e. ewma_sec tracks
      // the scan, not the per-key sort of ever-longer histories.
      val ewt0 = System.nanoTime()
      val nEwmaKeys = graft.operators.Sequences.ewmaHalfLife(
        docs.select(pmod(col("doc_id"), lit(1009L)).as("k"),
          col("doc_id").as("t"), length(col("text")).cast("long").as("v"),
          col("doc_id").as("id")),
        "k", "t", "v", "id", lookback = 16).count()
      val ewt1 = System.nanoTime()

      // basket axis (r12, VERDICT r11 finding #1): pairLift over synthetic
      // baskets whose size GROWS with the factor (257 baskets × a fixed
      // 4096-item domain — every item passes the Apriori prune, so the cap
      // is the only defense). Uncapped, per-basket pair volume would grow
      // ~factor²; with maxBasketItems = 32 the emitted pairs are bounded by
      // 257·C(32,2) at every factor — bk_pairs must plateau and bk_sec must
      // track the scan (linear), the measured Σ min(k,cap)² claim.
      val bkt0 = System.nanoTime()
      val bkRel = docs.select(pmod(col("doc_id"), lit(257L)).as("bk"),
        pmod(col("doc_id"), lit(4096L)).as("it"))
      val nBkPairs = graft.operators.Baskets.pairLift(bkRel, "bk", "it",
        minPairCount = 2, maxBasketItems = 32).count()
      val bkt1 = System.nanoTime()

      // rolling-median axis (r12): trailing exact median over the EWMA
      // axis's keyed series. Per-key history grows linearly with the
      // factor but the sliding frame is BOUNDED (10 rows), so the per-row
      // sorted-array work is a constant — med_sec must track rows
      // linearly, never rows·history.
      val rmt0 = System.nanoTime()
      val nMedRows = graft.operators.Sequences.rollingMedian2(
        docs.select(pmod(col("doc_id"), lit(1009L)).as("k"),
          col("doc_id").as("t"), length(col("text")).cast("long").as("v"),
          col("doc_id").as("id")),
        "k", "t", "v", "id", window = 10).count()
      val rmt1 = System.nanoTime()

      // topPaths axis (r12): first-5 prefix paths over the same keyed
      // series (state = len mod 7). The rank filter group-limits map-side,
      // so the windowed volume is keys·maxLen at every factor and the path
      // domain is fixed — paths_sec must track the scan, not history.
      val tpt0 = System.nanoTime()
      val nPathRows = graft.operators.Sequences.topPaths(
        docs.select(pmod(col("doc_id"), lit(1009L)).as("k"),
          pmod(length(col("text")).cast("long"), lit(7L)).as("s"),
          col("doc_id").as("t"), col("doc_id").as("id")),
        "k", "s", "t", "id", maxLen = 5, topK = 25).count()
      val tpt1 = System.nanoTime()

      // winsorize axis (r13, VERDICT r12 #6): winsorizedMean over per-key
      // doc lengths — 8 fixed groups while rows grow with the factor, so
      // the "bucket-cell windows, never data-sized sorts" claim becomes a
      // curve: wz_sec must track the scan linearly (the two-level Ranks
      // positions shuffle bucket cells, not a per-group sorted history).
      // GC fence (r13): the r13 axes run ~30 axes deep in one JVM; an
      // untimed collection here keeps earlier axes' garbage off these
      // clocks (run-3 measured a 3.6× factor-10 swing on THIS axis from
      // accumulated heap state alone).
      System.gc()
      val wzt0 = System.nanoTime()
      val nWz = graft.operators.Stats.winsorizedMean(
        docs.select(pmod(col("doc_id"), lit(8L)).as("g"),
          length(col("text")).cast("long").as("v"), col("doc_id").as("id")),
        "g", "v", "id", trimPct = 10).count()
      val wzt1 = System.nanoTime()

      // tfidf axis (r13, VERDICT r12 #1): the shipped lazy tfidfTopTerms
      // (explode+hash-agg runs twice, N from a no-explode scan) vs the r12
      // pin-once counterfactual (persist tf + eager localCheckpoint, three
      // consumers read the cache) — the measurement that DEcided the q219
      // pin trade: the pin lost at every factor (materialization + cache
      // read-back > the recompute), so r13 shipped the lazy plan; this
      // axis keeps the counterfactual honest every round.
      System.gc() // untimed fence between the two variants' clocks
      val tft0 = System.nanoTime()
      val nTfShipped = graft.operators.Search.tfidfTopTerms(
        docs, "doc_id", "text", k = 5).count()
      val tft1 = System.nanoTime()
      val toksL = docs.select(col("doc_id"),
          explode(Text.tokens(Text.normalize(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
      val tfL = toksL.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      tfL.count()
      val dfreqL = tfL.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocsL = tfL.agg(countDistinct(col("doc_id")).as("__n"))
      val wTf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf_micro").desc, col("term"))
      val nTfPinned = tfL.join(dfreqL, Seq("term"))
        .crossJoin(broadcast(nDocsL))
        .withColumn("tfidf_micro",
          round(col("tf").cast("double")
            * log(col("__n").cast("double") / col("df").cast("double"))
            * 1e6).cast("long"))
        .withColumn("rank", row_number().over(wTf))
        .filter(col("rank") <= 5)
        .localCheckpoint(true).count()
      tfL.unpersist(blocking = false)
      val tft2 = System.nanoTime()

      // retention axis (r13): cohort matrix over a keyed synthetic series
      // (1009 fixed keys, period = id div 256 so both active periods AND
      // rows grow with the factor). The ONE data-sized exchange carries
      // the map-side-deduped (key, period) volume — ret_sec must track
      // rows linearly, never re-shuffle the collapsed table a second time.
      System.gc()
      val rtt0 = System.nanoTime()
      val nRet = graft.operators.Sequences.retentionCohorts(
        docs.select(pmod(col("doc_id"), lit(1009L)).as("k"),
          col("doc_id").as("t")),
        "k", "t", periodUs = 256L, maxOffset = 1000000).count()
      val rtt1 = System.nanoTime()

      // bradley-terry axis (r13): preference strengths over a fixed
      // 13-item domain with games growing linearly (winner/loser derived
      // from doc length/id). The wins/pairs collapse is the only
      // data-sized pass; the 6 MM rounds run on the ≤ 13²-row pinned edge
      // table — bt_sec must track the scan, not rounds × rows.
      System.gc()
      val btt0 = System.nanoTime()
      val btGames = docs.select(
          pmod(length(col("text")).cast("long"), lit(13L)).as("w"),
          pmod(length(col("text")).cast("long") + col("doc_id"), lit(13L)).as("l"))
        .filter(col("w") =!= col("l"))
      val nBt = graft.operators.Stats.bradleyTerry(btGames, "w", "l",
        rounds = 6).count()
      val btt1 = System.nanoTime()

      // BT-fold axis (r14): ingest a FIXED game batch into the standing
      // pair state built over the growing corpus. The fold is the batch
      // collapse + a ≤ C(13,2)-row state re-agg — bt_fold_sec must stay
      // FLAT in the factor (history is never re-read; a fold that tracks
      // corpus size would defeat the store).
      val btState = graft.operators.Stats.pairState(btGames, "w", "l")
        .localCheckpoint(true) // state build is NOT on the fold's clock
      val fixedBatch = base.select(pmod(col("doc_id"), lit(13L)).as("w"),
          pmod(col("doc_id") + 7, lit(13L)).as("l"))
        .filter(col("w") =!= col("l"))
      System.gc()
      val bgt0 = System.nanoTime()
      val nBtFold = graft.operators.Stats.ingestGames(btState, fixedBatch,
        "w", "l").count()
      val bgt1 = System.nanoTime()

      // calibration axis (r14): ECE/Brier over a doc-derived score/label —
      // ONE bin hash-agg (≤ 10 rows) + one map-side row agg, so cal_sec
      // must track the scan linearly (no window, no join to excuse).
      System.gc()
      val clt0 = System.nanoTime()
      val calRows = graft.operators.Stats.calibrationSummary(
        docs.select(
          (pmod(col("doc_id"), lit(1000L)).cast("double") / 1000.0).as("p"),
          (pmod(length(col("text")).cast("long"), lit(2L)) === 0L).as("y")),
        "p", "y").head().getAs[Long]("n_rows")
      val clt1 = System.nanoTime()

      // calibration-fold axis (r15): ingest a FIXED row batch into the
      // standing bin state built over the growing corpus. The fold is the
      // batch collapse + a ≤ 2·nBins-row state re-agg — cal_fold_sec must
      // stay FLAT in the factor (the bt_fold discipline: history is never
      // re-read, and the state is nBins-bounded whatever the corpus).
      val calScored = docs.select(
        (pmod(col("doc_id"), lit(1000L)).cast("double") / 1000.0).as("p"),
        (pmod(length(col("text")).cast("long"), lit(2L)) === 0L).as("y"))
      val calState = graft.operators.Stats.calibrationState(calScored,
        "p", "y").localCheckpoint(true) // state build NOT on the fold's clock
      val calBatch = base.select(
        (pmod(col("doc_id"), lit(997L)).cast("double") / 997.0).as("p"),
        (pmod(col("doc_id"), lit(3L)) === 0L).as("y"))
      System.gc()
      val cft0 = System.nanoTime()
      val nCalFold = graft.operators.Stats.ingestCalibration(calState,
        calBatch, "p", "y").count()
      val cft1 = System.nanoTime()

      // grouped-calibration axis (r15): per-segment ECE/Brier over 8 fixed
      // groups while rows grow with the factor — ONE (group, bin) hash-agg
      // carrying the Brier residual, so calg_sec must track the scan
      // linearly (no second row pass, no window; a curve that beats the
      // global cal_sec axis by less than 2× is the one-pass evidence).
      System.gc()
      val cgt0 = System.nanoTime()
      val nCalGroups = graft.operators.Stats.calibrationSummaryByGroup(
        docs.select(pmod(col("doc_id"), lit(8L)).as("g"),
          (pmod(col("doc_id"), lit(1000L)).cast("double") / 1000.0).as("p"),
          (pmod(length(col("text")).cast("long"), lit(2L)) === 0L).as("y")),
        "g", "p", "y").count()
      val cgt1 = System.nanoTime()

      // BPE jobs axis: Spark jobs for 24 merges — the one word-count
      // collect, the merge loop runs on the driver (the vocab is
      // replication-invariant, so this axis measures the loop, not the
      // corpus).
      val jobCount = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      }
      def countJobs(body: => Unit): Int = {
        spark.sparkContext.addSparkListener(listener)
        jobCount.set(0)
        body
        Thread.sleep(500) // listener bus drains async; probe-grade precision
        spark.sparkContext.removeSparkListener(listener)
        jobCount.get()
      }
      val bpt0 = System.nanoTime()
      val bpeJobs = countJobs(Bpe.train(docs, "text", 24).count())
      val bpt1 = System.nanoTime()

      // explicit ROOT locale (ADVICE r6): f"" formats with the default JVM
      // locale; comma-decimal locales would emit invalid JSON
      def sec(a: Long, b: Long): String =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box((b - a) / 1e9))
      println(s"""{"factor":$factor,"docs":$n,"pairs":$nPairs,"folded":$comps,""" +
        s""""lsh_sec":${sec(t0, t1)},"cc_sec":${sec(t1, t2)},""" +
        s""""rep_rows":$nRep,"packed_rows":$nPacked,""" +
        s""""assembly_sec":${sec(t2, t3)},""" +
        s""""substr_pairs":$nSpanPairs,"substr_sec":${sec(t3, t4)},""" +
        s""""lm_docs":$nScored,"lm_sec":${sec(t4, t5)},""" +
        s""""cos_pairs":$nCosPairs,"cos_sec":${sec(t5, t6)},""" +
        s""""kll_sec":${sec(t6, t7)},"exact_pct_sec":${sec(t7, t8)},""" +
        s""""vecs":$nVecs,"emb_index_sec":${sec(t9, t10)},""" +
        s""""between_pairs":$nBetween,"between_sec":${sec(t10, t11)},""" +
        s""""bloom_keys":$nBk,"bloom_bytes":${bloomBytes.length},""" +
        s""""bloom_surv":$nBloomSurv,"bloom_build_sec":${sec(blt0, blt1)},""" +
        s""""bloom_probe_sec":${sec(blt1, blt2)},""" +
        s""""tri_nodes":$nTriNodes,"tri_sec":${sec(trt0, trt1)},""" +
        s""""kcore_nodes":$nCoreNodes,"kcore_sec":${sec(kct0, kct1)},""" +
        s""""fz_dict":$nFdict,"fz_sigs":$nSigs,"fz_matches":$nFzMatches,""" +
        s""""fz_build_sec":${sec(fzt0, fzt1)},"fz_probe_sec":${sec(fzt1, fzt2)},""" +
        s""""jw_high":$nJwHigh,"jw_sec":${sec(fzt2, fzt3)},""" +
        s""""bpe_jobs":$bpeJobs,"bpe_sec":${sec(bpt0, bpt1)},""" +
        s""""winnow_pairs":$nWinnowPairs,"winnow_sec":${sec(wnt0, wnt1)},""" +
        s""""cm_cells":$nCmCells,"cm_probed":$nCmProbed,""" +
        s""""cm_build_sec":${sec(cmt0, cmt1)},"cm_probe_sec":${sec(cmt1, cmt2)},""" +
        s""""cm_fold_rows":$nCmFold,"cm_fold_sec":${sec(cmt2, cmt3)},""" +
        s""""bm25_postings":$nBmPostings,"bm25_build_sec":${sec(bmt0, bmt1)},""" +
        s""""bm25_extended":$nBmExtended,"bm25_extend_sec":${sec(bmt1, bmt2)},""" +
        s""""ks_groups":$nKsGroups,"ks_sec":${sec(stt0, stt1)},""" +
        s""""conc_rows":$nConc,"conc_sec":${sec(stt1, stt2)},""" +
        s""""ug_vocab":$nUgVocab,"ug_train_sec":${sec(ugt0, ugt1)},""" +
        s""""ug_docs":$nUgDocs,"ug_encode_sec":${sec(ugt1, ugt2)},""" +
        s""""wp_merges":$nWpMerges,"wp_train_sec":${sec(wpt0, wpt1)},""" +
        s""""wp_docs":$nWpDocs,"wp_encode_sec":${sec(wpt1, wpt2)},""" +
        s""""mw_rows":$nMwRows,"mw_sec":${sec(rkt0, rkt1)},""" +
        s""""bfs_reached":$nBfsReached,"bfs_sec":${sec(bft0, bft1)},""" +
        s""""ewma_keys":$nEwmaKeys,"ewma_sec":${sec(ewt0, ewt1)},""" +
        s""""bk_pairs":$nBkPairs,"bk_sec":${sec(bkt0, bkt1)},""" +
        s""""med_rows":$nMedRows,"med_sec":${sec(rmt0, rmt1)},""" +
        s""""path_rows":$nPathRows,"paths_sec":${sec(tpt0, tpt1)},""" +
        s""""ret_cells":$nRet,"ret_sec":${sec(rtt0, rtt1)},""" +
        s""""bt_items":$nBt,"bt_sec":${sec(btt0, btt1)},""" +
        s""""bt_fold_rows":$nBtFold,"bt_fold_sec":${sec(bgt0, bgt1)},""" +
        s""""cal_rows":$calRows,"cal_sec":${sec(clt0, clt1)},""" +
        s""""cal_fold_rows":$nCalFold,"cal_fold_sec":${sec(cft0, cft1)},""" +
        s""""calg_groups":$nCalGroups,"calg_sec":${sec(cgt0, cgt1)},""" +
        s""""wz_groups":$nWz,"wz_sec":${sec(wzt0, wzt1)},""" +
        s""""tfidf_rows":$nTfShipped,"tfidf_sec":${sec(tft0, tft1)},""" +
        s""""tfidf_pin_rows":$nTfPinned,"tfidf_pin_sec":${sec(tft1, tft2)}""" +
        s"""$pqJson}""")
      docs.unpersist(blocking = false)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
