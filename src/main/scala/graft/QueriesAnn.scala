package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.operators.{Audit, Bpe, Classify, Dedup, Dsir, Graph, Grouping, Intervals, Joins, Layout, Lm, Ops, Pack, Profile, Search, Sequences, Similarity, Sketches, Stats}
import graft.functions.{Jsons, Multimodal, Pii, Quality, Repetition, Text}
import graft.streaming.Streams

/** [[SparkEntry]] registry slice — similarity search: brute/LSH/IVF/PQ ANN, BM25, hybrid retrieval, MMR.
  * Pure move from SparkEntry.scala (r10 registry split): every entry kept
  * verbatim next to its DuckDB oracle twin. First ids: q31_ann_bruteforce, q32_ann_bucketed, q50_ann_ivf, q33_embedding_neardup, q115_embedding_delta, q118_pq_topk, … */
private[graft] object QueriesAnn extends OracleSqlHelpers {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- ✚ similarity search (embeddings) --------------------------------
    "q31_ann_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // nTables/signBits/nCells/nprobe left at defaults: signBits and nCells
    // derive from count(*) (constant bucket occupancy / ⌈√N⌉ cells at ANY
    // corpus size — the VERDICT r1 scale fix), reproduced by the oracle
    "q32_ann_bucketed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bucketedTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    "q50_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    "q33_embedding_neardup" -> ((s, d) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    // delta↔corpus embedding near-dup ✚ (VERDICT r6 §missing-1, q72's
    // vector twin): hash-shard 0 plays the ingest batch, the rest is the
    // standing corpus whose EmbeddingIndex is built once — the delta is
    // bucketed with the CORPUS's plane parameters and band-joined against
    // the pinned corpus buckets; the corpus is never self-joined
    "q115_embedding_delta" -> ((s, d) => {
      val sharded = Ops.shardByHash(Tables.embeddings(s, d), "vec_id", 5)
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val ix = Dedup.embeddingIndex(corpus, "vec_id", "embedding", threshold = 0.3)
      val out = Dedup.embeddingNearDupPairsBetween(delta, ix, "vec_id", "embedding",
        threshold = 0.3)
      ix.release()
      out.orderBy("id_a", "id_b")
    }),
    // product-quantization two-stage top-k ✚ (the ANN memory-compression
    // leg: 64 dims → 16 integer codes + one stored norm; the ADC pass
    // ranks a shortlist from codes alone, then only shortlist rows' true
    // vectors are exactly re-scored — the production PQ search shape).
    // Deterministic
    // per-subspace integer Lloyd, so the whole chain — codebooks, codes,
    // ADC shortlist, exact rerank — hash-checks against the SQL replay;
    // `hit` flags membership in the exact top-5 so the gate also records
    // the two-stage recall against brute force, row by row.
    "q118_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(e, qs, "vec_id", "embedding", k = 5, rerank = 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
      pq.join(exact, Seq("query_id", "nbr_id"), "left")
        .select(col("query_id"), col("nbr_id"), col("cosine_micro"), col("rank"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // IVF-PQ composed ✚: the production billion-vector layout — coarse
    // cells prune the corpus to each query's probed slice, only that
    // slice's PQ codes are ADC-scored, the shortlist is exactly reranked.
    // Both halves' deterministic chains compose, so the whole thing
    // hash-checks; `hit` again records recall vs brute force row by row.
    "q119_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val pq = Similarity.ivfPqTopK(e, qs, "vec_id", "embedding", k = 5, rerank = 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
      pq.join(exact, Seq("query_id", "nbr_id"), "left")
        .select(col("query_id"), col("nbr_id"), col("cosine_micro"), col("rank"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // stored-index IVF-PQ search ✚ (VERDICT r7 §next-1): the q119 chain
    // run as a real vector store runs it — train once (ivfPqIndex),
    // PERSIST to parquet, LOAD, and answer the query batch from stored
    // cells/codes with ZERO retraining. The oracle is the q119 chain
    // itself: a stored-then-loaded index must answer bit-identically to
    // the one-call path (cents/books/codes are stored bytes)
    "q120_ivfpq_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val ix = Similarity.ivfPqIndex(e, "vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("graft_pqix").toString
      Similarity.saveIvfPqIndex(ix, path)
      ix.release()
      val loaded = Similarity.loadIvfPqIndex(s, path)
      val out = Similarity.ivfPqTopKIndexed(loaded, qs, "vec_id", "embedding",
        k = 5, rerank = 50)
      loaded.release()
      out.transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // residual IVF-PQ ✚ (VERDICT r7 §missing-2, Jégou et al. 2011 §IV-A):
    // codes quantize v − cell-centroid instead of v, concentrating the
    // code space on within-cell variation at the same 96-bit budget; the
    // residual subtraction and the q·centroid ADC base term are exact
    // integer math, so the whole extended chain hash-checks. `hit` again
    // records top-5 recall vs brute force row by row; `RecallFloorSpec`'s
    // residual ivfPqTopK row gates the operator's recall
    "q121_ivfpq_residual" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val pq = Similarity.ivfPqTopK(e, qs, "vec_id", "embedding", k = 5,
        rerank = 50, residual = true)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
      pq.join(exact, Seq("query_id", "nbr_id"), "left")
        .select(col("query_id"), col("nbr_id"), col("cosine_micro"), col("rank"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // no-retrain ingest assignment ✚ (the PQ store's write path, q115's
    // sibling): hash-shard 0 plays the ingest batch; the index is trained
    // on the REST (residual-encoded), and the batch gets its cell + m
    // codes from the STORED centroids/codebooks only — the oracle replays
    // corpus-restricted training, then the delta's pure-function argmin
    // assignment
    "q122_pq_ingest" -> ((s, d) => {
      val sharded = Ops.shardByHash(Tables.embeddings(s, d), "vec_id", 5)
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val ix = Similarity.ivfPqIndex(corpus, "vec_id", "embedding", residual = true)
      val out = Similarity.assignToIvfPqIndex(delta, ix, "vec_id", "embedding")
        .select(col("id"), col("cell"), col("sub").cast("long").as("sub"), col("code"))
        .localCheckpoint(true)
      ix.release()
      out.orderBy("id", "sub")
    }),
    // standing BM25 index ✚ (r8 — the lexical sibling of q120's stored
    // vector index): tokenize/aggregate the corpus ONCE into postings +
    // doc lengths + term dfs + exact corpus scalars, persist, LOAD, and
    // answer the q92 query from stored state — no tokenization on the
    // query path; bit-identical scores, so the oracle IS q92's chain
    "q123_bm25_indexed" -> ((s, d) => {
      val ix = Search.bm25Index(Tables.documents(s, d), "doc_id", "text")
      val path = java.nio.file.Files.createTempDirectory("graft_bm25ix").toString
      Search.saveBm25Index(ix, path)
      ix.release()
      val loaded = Search.loadBm25Index(s, path)
      val out = Search.bm25TopKIndexed(loaded, Seq("spark", "join", "window"), k = 20)
      loaded.release()
      out.transform(Ops.sortSmallT(col("rank")))
    }),
    // BM25 ingest fold ✚: hash-shard 0 plays the ingest batch; its
    // postings/lengths union in and dfs + corpus scalars ADD — all exact
    // long arithmetic, so the extended index is bit-indistinguishable
    // from a full rebuild and the oracle is again q92's full-corpus chain
    // (a STRONGER gate than the approximate indexes can offer)
    "q124_bm25_ingest" -> ((s, d) => {
      val sharded = Ops.shardByHash(Tables.documents(s, d), "doc_id", 5)
      val corpus = sharded.filter(col("shard") =!= 0).drop("shard")
      val delta = sharded.filter(col("shard") === 0).drop("shard")
      val ix = Search.bm25Index(corpus, "doc_id", "text")
      val ext = Search.extendBm25Index(ix, delta, "text")
      val out = Search.bm25TopKIndexed(ext, Seq("spark", "join", "window"), k = 20)
      ext.release(); ix.release()
      out.transform(Ops.sortSmallT(col("rank")))
    }),
    // filtered ANN ✚ (metadata predicate + top-k — table stakes for a
    // real vector store): the allowed-id set semi-joins the scored
    // probed-cell candidates before the ranking exchange; top-5 among
    // label<8 docs only
    "q125_ann_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val ix = Similarity.ivfPqIndex(e, "vec_id", "embedding")
      val out = Similarity.ivfPqTopKIndexed(ix, qs, "vec_id", "embedding",
        k = 5, rerank = 50,
        allowed = Some(e.filter(col("label") < 8).select("vec_id")))
      ix.release()
      out.transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // the deployed retrieval stack in one query ✚ (q108's standing-index
    // twin): BOTH stores built once — the BM25 postings index and the
    // IVF-PQ vector index — searched from stored state, RRF-fused. Each
    // half is bit-identical to its from-scratch sibling, so the oracle
    // composes the q92-style lexical chain with the q120 vector chain
    "q126_hybrid_indexed" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((0L, "spark"), (0L, "join"),
          (1L, "window"), (1L, "merge"), (1L, "sort"))
        .toDF("query_id", "term")
      val bIx = Search.bm25Index(Tables.documents(s, d), "doc_id", "text")
      val bm = Search.bm25PerQueryIndexed(bIx, qs, "query_id", "term", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank")).localCheckpoint(true)
      bIx.release()
      val e = Tables.embeddings(s, d)
      val vIx = Similarity.ivfPqIndex(e, "vec_id", "embedding")
      val ann = Similarity.ivfPqTopKIndexed(vIx, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerank = 50)
        .filter(col("query_id").isin(0L, 1L))
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
      vIx.release()
      Search.fuseRrf(Seq(bm, ann), "query_id", "doc_id", k = 10)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // MMR diversified re-rank ✚ of the q31 brute-force top-20 (λ=1/2,
    // k=5): nano-quantized relevances and pairwise sims, integer greedy
    // argmax each round — the selection SEQUENCE is engine-exact, and the
    // oracle replays all 5 rounds as unrolled CTEs (the q127 pattern)
    "q134_mmr_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cand = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("nbr_id"),
          round(col("cosine") * 1e9).cast(LongType).as("rel_nano"))
      Similarity.mmrRerank(cand, e, "vec_id", "embedding", k = 5)
        .transform(Ops.sortSmallT(col("query_id"), col("mmr_rank")))
    }),
    // retrieval eval ✚ (r9): MRR / recall@k / nDCG@k of a dim-truncated
    // retrieval run vs the exact top-10 — the scorecard grammar every ANN
    // dial is tuned by, with pre-rounded integer log discounts
    "q187_retrieval_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 10)
      def cut(df: DataFrame) =
        df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val sys = Similarity.bruteForceTopK(cut(emb), cut(qs), "vec_id", "embedding", k = 10)
      Similarity.rankingMetrics(sys, truth).orderBy(col("query_id"))
    }),
    // Jaro-Winkler fuzzy rerank ✚ (r9): the q132 FastSS candidate pairs
    // scored by the codegen'd exact-rational graft_jw_micro expression —
    // record-linkage ranking without a single float
    "q163_jw_rerank" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      Joins.fuzzySelfPairs(names, "name", "name", maxDist = 2)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("dist").cast(LongType).as("dist"),
          graft.expressions.Kernels.jwMicro(col("id_a"), col("id_b")).as("jw_micro"))
        .orderBy(col("name_a"), col("name_b"))
    }),
    // sparse cosine all-pairs ✚: inverted-index candidates over 3-word
    // shingles, df-capped (a boilerplate shingle's df² fan-out never joins);
    // exact integer dots/norms -> engine-identical cosine, micro-quantized
    "q83_sparse_cosine" -> ((s, d) => {
      Similarity.sparseCosinePairs(Tables.documents(s, d), "doc_id",
          Text.wordShingles(col("text"), 3), threshold = 0.6, maxDf = 10)
        .select(col("doc_a"), col("doc_b"),
          round(col("cosine") * 1e6).cast(LongType).as("cosine_micro"))
        .orderBy("doc_a", "doc_b")
    }),
    // pair-recall scorecard for the near-dup path (q52's sibling): LSH-found
    // pairs at the DEFAULT dial (24 tables at θ=0.3 < 0.4) vs an EXACT
    // quantized-cosine threshold join. The found side is the scale path
    // (full corpus). The exact side is a deliberate O(N²) nested-loop — the
    // measurement's oracle — gated to the 800 corpus rows with the smallest
    // md5(id), a deterministic, id-uniform subsample (TakeOrdered, a
    // per-partition heap, never a global sort), so recall on its pairs is
    // an unbiased estimate and the query stays verification-bounded at any
    // SF; at sf0.01 (N ≤ 800) it is a no-op and the scorecard is exact.
    // `RecallFloorSpec` gates this recall and the 16-table dial's.
    "q53_neardup_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val found = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.3)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val v = e.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
        .withColumn("nn", Similarity.qdot(col("q"), col("q")))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(800)
      val exact = v.as("x").join(v.as("y"), col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine",
          Similarity.qdot(col("x.q"), col("y.q")).cast("double") /
            (sqrt(col("x.nn").cast("double")) * sqrt(col("y.nn").cast("double"))))
        .filter(col("cosine") >= 0.3)
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      exact.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .select(col("n_exact"), col("n_found"),
          (col("n_found").cast("double") / col("n_exact").cast("double")).as("recall"))
    }),
    // recall scorecard: per query, how many of the exact top-5 the LSH and
    // IVF paths recovered — the honesty metric for the two ANN structures
    "q52_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
        .select("query_id", "nbr_id")
      val lsh = Similarity.bucketedTopK(e, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit_l"))
      val ivf = Similarity.ivfTopK(e, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit_i"))
      brute.join(lsh, Seq("query_id", "nbr_id"), "left")
        .join(ivf, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit_l"), lit(0L))).as("n_hit_lsh"),
          sum(coalesce(col("hit_i"), lit(0L))).as("n_hit_ivf"))
        .transform(Ops.sortSmallT(col("query_id")))
    }),
    // ----- ✚ vector analytics: exact per-label centroids via integer sums --
    "q42_label_centroids" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("label"), posexplode(Similarity.quantize(col("embedding")))
          .as(Seq("pos", "milli")))
        .select(col("label"), col("pos").cast(LongType).as("dim"), col("milli"))
      e.groupBy(col("label"), col("dim"))
        .agg((sum(col("milli")).cast("double") / count(lit(1)).cast("double")).as("centroid_milli"))
        .orderBy("label", "dim")
    }),
    // Okapi BM25 top-20 for a 3-term query over the corpus vocabulary
    "q92_bm25" -> ((s, d) => {
      Search.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Seq("spark", "join", "window"), k = 20)
        .transform(Ops.sortSmallT(col("rank")))
    }),
    // batch multi-query BM25 ✚: one corpus pass scores every query; top-10
    // per query via keyed window (scores bit-identical to q92's path)
    "q97_bm25_multi" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark"), ("q1", "join"),
          ("q2", "window"), ("q2", "merge"), ("q2", "sort"))
        .toDF("query_id", "term")
      Search.bm25PerQuery(Tables.documents(s, d), "doc_id", "text",
          qs, "query_id", "term", k = 10)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // hybrid retrieval fusion ✚ (VERDICT r5 §next-4): RRF-fuse the lexical
    // BM25 top-10 with the vector LSH top-5 for the same two queries
    // (query N's embedding is vec N — the shared id space). Rank-based
    // fusion, exact nano-unit integer arithmetic — fully oracle-able.
    "q108_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((0L, "spark"), (0L, "join"),
          (1L, "window"), (1L, "merge"), (1L, "sort"))
        .toDF("query_id", "term")
      val bm = Search.bm25PerQuery(Tables.documents(s, d), "doc_id", "text",
          qs, "query_id", "term", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, d)
      val ann = Similarity.bucketedTopK(e, e.filter(col("vec_id").isin(0L, 1L)),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
      Search.fuseRrf(Seq(bm, ann), "query_id", "doc_id", k = 10)
        .transform(Ops.sortSmallT(col("query_id"), col("rank")))
    }),
    // kNN majority-vote classification ✚: modal label of the 5 exact
    // nearest neighbors for the first 50 vectors, ties toward the smaller
    // label — the label-propagation end-use of the ANN stack
    "q102_knn_classify" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 50),
          "vec_id", "embedding", "label", k = 5)
        .transform(Ops.sortSmallT(col("query_id")))
    }),
    // embedding diversity ✚ (r11): mean pairwise cosine per label in O(N)
    // via the sum-of-vectors identity — no pair join anywhere
    "q220_embedding_diversity" -> ((s, d) => {
      Similarity.groupDiversity(Tables.embeddings(s, d), "label", "embedding")
        .transform(Ops.sortSmallT(col("label")))
    }),
    // tf-idf keyword extraction ✚ (r11): per-doc top-3 terms — the
    // doc-tagging primitive next to BM25's query-side ranking
    "q219_tfidf_terms" -> ((s, d) => {
      Search.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),
    // prototypicality ✚ (r11): the SSL-prototypes / D4 pruning score —
    // cosine of every vector to its own IVF centroid, ranked per cell;
    // rides the exact q50 quantizer (hash seeds, 4 integer Lloyd rounds)
    "q215_prototypicality" -> ((s, d) => {
      Similarity.prototypicality(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("cell"), col("cell_rank"))
    }),
    // centroid drift ✚ (r13): per-pseudo-domain cosine between the
    // hash-shard-0 "new snapshot" centroid and the rest — integer-sum
    // centroids, exact dots, one division; the embedding-space monitor
    "q237_centroid_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("grp", pmod(col("vec_id"), lit(8L)))
      val sh = Ops.shardByHash(e, "vec_id", 5)
      Similarity.centroidDrift(
          sh.filter(col("shard") =!= 0).drop("shard"),
          sh.filter(col("shard") === 0).drop("shard"),
          "embedding", "grp")
        .orderBy(col("grp"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q31_ann_bruteforce" ->
      """WITH v AS (SELECT vec_id,
                           [round(x::DOUBLE * 1000)::BIGINT for x in embedding] AS q,
                           list_sum([round(x::DOUBLE * 1000)::BIGINT * round(x::DOUBLE * 1000)::BIGINT for x in embedding]) AS nn
                    FROM embeddings)
         SELECT query_id, nbr_id, cosine, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
         FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                  list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                    / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) AS cosine
           FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t
         QUALIFY rank <= 5 ORDER BY query_id, rank""",
    "q32_ann_bucketed" ->
      s"""WITH $sqlVecs, ${sqlLshBuckets(16)}, $sqlLshProbes, $sqlLshTopK
         SELECT query_id, nbr_id, cosine, rank FROM lsh_k ORDER BY query_id, rank""",
    "q50_ann_ivf" ->
      s"""WITH $sqlVecs, $sqlIvfChain, $sqlIvfTopK
         SELECT query_id, nbr_id, cosine, rank FROM ivf_k ORDER BY query_id, rank""",
    "q33_embedding_neardup" ->
      s"""WITH $sqlVecs, ${sqlLshBuckets(24)}, $sqlLshProbesAll
         SELECT id_a, id_b, cosine FROM (
           SELECT cand.id_a, cand.id_b,
                  list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                    / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) AS cosine
           FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM pb a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id) cand
           JOIN v x ON x.vec_id = cand.id_a
           JOIN v y ON y.vec_id = cand.id_b) t
         WHERE cosine >= 0.3 ORDER BY id_a, id_b""",
    // q33's LSH chain split by the q72 hash-shard: bits sized from the
    // CORPUS count (shard <> 0), corpus buckets plain, DELTA side (shard 0)
    // multi-probed, join on a.vec_id <> b.vec_id (disjoint shards anyway)
    "q115_embedding_delta" ->
      s"""WITH $sqlEmbVv,
         ${sqlEmbBits("nb", "shard <> 0")},
         ${sqlEmbShardBuckets("bk", "shard <> 0", "nb")},
         ${sqlEmbShardBuckets("dk", "shard = 0", "nb")},
         ${sqlEmbProbes("pb", "dk", "nb")},
         ${sqlEmbPairs("pairs", "pb", "bk", "a.vec_id <> b.vec_id")}
         SELECT p.id_a, p.id_b,
                list_sum([z[1] * z[2] for z in list_zip(x.q, y.q)])::DOUBLE
                  / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) AS cosine
         FROM pairs p JOIN vv x ON x.vec_id = p.id_a
                      JOIN vv y ON y.vec_id = p.id_b
         ORDER BY id_a, id_b""",
    // PQ chain replayed: 16 sub-vectors per doc (dim 64 / m 16), one
    // hash-ordered 64-doc seed set for every subspace, 2 per-subspace
    // integer Lloyd rounds (assignment argmin ties to lowest cent_id,
    // per-dim rounded means), final codes, per-query dot lookup tables,
    // ADC shortlist of 50 with exact stored norms, exact rerank to
    // top-5, exact brute top-5 for `hit`
    "q118_pq_topk" ->
      s"""WITH $sqlVecs,
         ${sqlPqSubVecs("v", "q")},
         ${sqlPqTrainChain("embeddings")},
         qn AS (SELECT vec_id AS query_id, nn FROM v WHERE vec_id < 10),
         lut AS (SELECT sv.vec_id AS query_id, b.sub, b.cent_id AS code,
                        list_sum([p[1] * p[2] for p in list_zip(sv.svc, b.cv)]) AS dot
                 FROM sv JOIN b2 b ON b.sub = sv.sub WHERE sv.vec_id < 10),
         sc2 AS (SELECT l.query_id, a.vec_id AS nbr_id,
                        CAST(sum(l.dot) AS BIGINT) AS adc_dot
                 FROM af a JOIN lut l ON l.sub = a.sub AND l.code = a.code
                 WHERE l.query_id <> a.vec_id GROUP BY 1, 2),
         $sqlAdcTail,
         $sqlExactTop5
         $sqlPqHitSelect""",
    // IVF-PQ: the q50 ivf chain (cells + probed query cells) intersected
    // with the q118 PQ chain — candidates are probed-cell corpus rows,
    // ADC-scored from codes, shortlisted, exactly reranked
    "q119_ivfpq_topk" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         ${sqlPqSubVecs("v", "q")},
         ${sqlPqTrainChain("embeddings")},
         $sqlIvfPqFlatSearch,
         $sqlAdcTail,
         $sqlExactTop5
         $sqlPqHitSelect""",
    // stored-index search: train-once/persist/load answers BIT-IDENTICALLY
    // to the one-call chain (cents/books/codes are stored bytes), so the
    // oracle IS the q119 chain, minus the recall audit column
    "q120_ivfpq_indexed" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         ${sqlPqSubVecs("v", "q")},
         ${sqlPqTrainChain("embeddings")},
         $sqlIvfPqFlatSearch,
         $sqlAdcTail
         SELECT query_id, nbr_id, cosine_micro, rank FROM pq
         ORDER BY query_id, rank""",
    // residual IVF-PQ: the q119 chain with the PQ half rebound to
    // residual space — rv replaces v as the sub-vector source, and the
    // search adds the q·centroid base term per probed cell
    "q121_ivfpq_residual" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         $sqlPqResidualVecs,
         ${sqlPqSubVecs("rv", "rq")},
         ${sqlPqTrainChain("embeddings")},
         $sqlIvfPqResidualSearch,
         $sqlAdcTail,
         $sqlExactTop5
         $sqlPqHitSelect""",
    // no-retrain ingest: the whole training chain is RESTRICTED to the
    // shard<>0 corpus (v rebound, cells counted from it, seeds drawn from
    // it), then the shard-0 delta is assigned by pure argmin against the
    // trained c4 cells and b2 codebooks — cell first, then codes of its
    // residual against that cell's centroid
    "q122_pq_ingest" ->
      s"""WITH $sqlEmbVv,
         v AS (SELECT vec_id, q, nn FROM vv WHERE shard <> 0),
         d AS (SELECT vec_id, q, nn FROM vv WHERE shard = 0),
         ${sqlIvfChainOver("v")},
         $sqlPqResidualVecs,
         ${sqlPqSubVecs("rv", "rq")},
         ${sqlPqTrainChain("v")},
         dasg AS (SELECT vec_id, cell FROM (
            SELECT d.vec_id, c.cent_id AS cell,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY d.nn - 2 * list_sum([p[1] * p[2] for p in list_zip(d.q, c.cv)]) + c.cc,
                              c.cent_id) AS cr
            FROM d, c4 c) t WHERE cr = 1),
         drv AS (SELECT da.vec_id, da.cell,
                        [p[1] - p[2] for p in list_zip(d.q, c.cv)] AS rq
                 FROM dasg da JOIN d ON d.vec_id = da.vec_id
                      JOIN c4 c ON c.cent_id = da.cell),
         dsv AS (SELECT vec_id, cell, s AS sub,
                        [rq[i] for i in range(s * 4 + 1, s * 4 + 5)] AS svc,
                        list_sum([rq[i] * rq[i] for i in range(s * 4 + 1, s * 4 + 5)]) AS svv
                 FROM drv, range(0, 16) r(s)),
         dcode AS (SELECT vec_id, sub, code FROM (
            SELECT dsv.vec_id, dsv.sub, b.cent_id AS code,
                   row_number() OVER (PARTITION BY dsv.vec_id, dsv.sub
                     ORDER BY dsv.svv - 2 * list_sum([p[1] * p[2] for p in list_zip(dsv.svc, b.cv)]) + b.cc,
                              b.cent_id) AS cr
            FROM dsv JOIN b2 b ON b.sub = dsv.sub) t WHERE cr = 1)
         SELECT dc.vec_id AS id, da.cell, dc.sub, dc.code
         FROM dcode dc JOIN dasg da ON da.vec_id = dc.vec_id
         ORDER BY id, sub""",
    // the stored index answers bit-identically to the from-scratch path
    // (postings/dfs/lengths/scalars are exact stored aggregates), so the
    // oracle IS q92's chain — the q120 pattern for the lexical index
    "q123_bm25_indexed" -> sqlBm25TopK20,
    // extend folds EXACT integer statistics, so incremental ≡ full REBUILD
    // bit-for-bit and the full-corpus chain is again the oracle — a
    // stronger gate than the approximate indexes' same-bucket-space one
    "q124_bm25_ingest" -> sqlBm25TopK20,
    // filtered ANN: the q120 chain with candidates gated to label < 8
    // (the allowed-id semi-join replayed as an IN subquery)
    "q125_ann_filtered" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         ${sqlPqSubVecs("v", "q")},
         ${sqlPqTrainChain("embeddings")},
         ${sqlIvfPqFlatSearchWhere(
           "WHERE a.vec_id IN (SELECT vec_id FROM embeddings WHERE label < 8)")},
         $sqlAdcTail
         SELECT query_id, nbr_id, cosine_micro, rank FROM pq
         ORDER BY query_id, rank""",
    // hybrid through standing indexes: the q120 vector chain (pq, queries
    // 0/1 kept) RRF-fused with q108's lexical chain (bm25 CTEs prefixed
    // b*/qt to avoid colliding with the vector chain's names); the fusion
    // arithmetic is q108's exact integer tail
    "q126_hybrid_indexed" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         ${sqlPqSubVecs("v", "q")},
         ${sqlPqTrainChain("embeddings")},
         $sqlIvfPqFlatSearch,
         $sqlAdcTail,
         qt AS (SELECT CAST(qid AS BIGINT) AS query_id, token
                FROM (VALUES (0, 'spark'), (0, 'join'),
                             (1, 'window'), (1, 'merge'), (1, 'sort')) AS t(qid, token)),
         btoks AS (SELECT doc_id,
                unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS token
              FROM documents),
         bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY doc_id),
         bcorpus AS (SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS TT FROM bdl),
         btf AS (SELECT doc_id, token, count(*) AS tf FROM btoks
                WHERE token IN (SELECT token FROM qt) GROUP BY doc_id, token),
         bdfreq AS (SELECT token, count(*) AS df FROM btf GROUP BY token),
         bcontrib AS (SELECT btf.doc_id, btf.token,
                            CAST(round(ln(1.0 + (N - df + 0.5) / (df + 0.5)) * tf * 2.2
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / (TT::DOUBLE / N))) * 1000000) AS BIGINT) AS c_micro
                     FROM btf JOIN bdfreq USING (token) JOIN bdl USING (doc_id), bcorpus),
         bsel AS (SELECT qt.query_id, c.doc_id, CAST(sum(c.c_micro) AS BIGINT) AS score_micro
                 FROM bcontrib c JOIN qt USING (token) GROUP BY 1, 2),
         bm AS (SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY score_micro DESC, doc_id) AS rank
                  FROM bsel) t WHERE rank <= 10),
         ann AS (SELECT query_id, nbr_id AS doc_id, rank FROM pq
                 WHERE query_id IN (0, 1)),
         allc AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS rrf_nano FROM bm
                  UNION ALL
                  SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM ann),
         fused AS (SELECT query_id, doc_id, count(*) AS n_lists,
                          CAST(sum(rrf_nano) AS BIGINT) AS rrf_nano
                   FROM allc GROUP BY 1, 2)
         SELECT query_id, doc_id, n_lists, rrf_nano,
                CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rank
         FROM fused QUALIFY rank <= 10 ORDER BY query_id, rank""",
    // 5 greedy MMR rounds unrolled; round 1 is the pure relevance argmax,
    // each later round re-ranks by rel − max-sim-to-selected (λ=1/2 in
    // lDen-scaled integers) over the NOT-EXISTS remainder
    "q134_mmr_rerank" ->
      s"""WITH $sqlVecs,
         ${sqlMmrChain(5)}
         SELECT query_id, nbr_id, mmr_rank FROM mmr_sel5
         ORDER BY query_id, mmr_rank""",
    // two brute-force rankings (full dim, first-16-dim) + pre-rounded
    // integer log2 discounts; the only division is the final nDCG ratio
    "q187_retrieval_eval" ->
      s"""WITH $sqlVecs,
         v16 AS (SELECT vec_id, q[1:16] AS q,
                        list_sum([qq * qq for qq in q[1:16]]) AS nn FROM v),
         truth AS (SELECT query_id, nbr_id, rank FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                                 / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) DESC,
                               c.vec_id) AS rank
             FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id) t
           WHERE rank <= 10),
         sys AS (SELECT query_id, nbr_id, rank FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                                 / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) DESC,
                               c.vec_id) AS rank
             FROM v16 q JOIN v16 c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id) t
           WHERE rank <= 10),
         tagg AS (SELECT query_id, count(*) AS n_truth,
                CAST(sum(CAST(round(1e6 / (ln(rank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS idcg_micro
              FROM truth GROUP BY 1),
         hagg AS (SELECT s.query_id, count(*) AS n_hit,
                CAST(sum(CAST(round(1e6 / (ln(s.rank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS dcg_micro
              FROM sys s JOIN truth t
                ON s.query_id = t.query_id AND s.nbr_id = t.nbr_id GROUP BY 1),
         rr AS (SELECT t.query_id,
                COALESCE(CAST(round(1e6 / s.rank) AS BIGINT), 0) AS rr_micro
              FROM (SELECT query_id, nbr_id FROM truth WHERE rank = 1) t
              LEFT JOIN sys s ON s.query_id = t.query_id AND s.nbr_id = t.nbr_id)
         SELECT tagg.query_id, n_truth, COALESCE(n_hit, 0) AS n_hit, rr.rr_micro,
                COALESCE(dcg_micro, 0) AS dcg_micro, idcg_micro,
                CASE WHEN idcg_micro > 0
                     THEN CAST(round(COALESCE(dcg_micro, 0)::DOUBLE
                                     / idcg_micro::DOUBLE * 1e6) AS BIGINT)
                END AS ndcg_micro
         FROM tagg LEFT JOIN hagg ON tagg.query_id = hagg.query_id
              LEFT JOIN rr ON tagg.query_id = rr.query_id
         ORDER BY tagg.query_id""",
    // the same candidate pairs from the naive all-pairs filter, scored by
    // DuckDB's own jaro_winkler_similarity (micro-rounded; the Spark side's
    // exact-rational integer path agrees to the micro digit — verified on
    // 30k random pairs plus this vocabulary)
    "q163_jw_rerank" ->
      """WITH names AS (SELECT p_name AS name FROM part GROUP BY p_name),
         pairs AS (SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
               FROM names a JOIN names b ON a.name < b.name
               WHERE levenshtein(a.name, b.name) <= 2)
         SELECT name_a, name_b, dist,
                CAST(round(jaro_winkler_similarity(name_a, name_b) * 1e6) AS BIGINT) AS jw_micro
         FROM pairs ORDER BY name_a, name_b""",
    "q83_sparse_cosine" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         s AS (SELECT doc_id,
                      list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                     for i in range(1, len(w) - 1)]) AS sh
               FROM w),
         tf AS (SELECT doc_id AS doc, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(sh) AS term FROM s) GROUP BY 1, 2),
         kept AS (SELECT term FROM tf GROUP BY term HAVING count(*) <= 10),
         ktf AS (SELECT tf.* FROM tf JOIN kept USING (term)),
         n2 AS (SELECT doc, sum(tf * tf) AS n2 FROM ktf GROUP BY 1),
         dots AS (SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.tf * b.tf) AS dot
                  FROM ktf a JOIN ktf b USING (term)
                  WHERE a.doc < b.doc GROUP BY 1, 2),
         c AS (SELECT doc_a, doc_b,
                      dot::DOUBLE / NULLIF(sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE), 0) AS cosine
               FROM dots JOIN n2 na ON na.doc = doc_a JOIN n2 nb ON nb.doc = doc_b)
         SELECT doc_a, doc_b, CAST(round(cosine * 1e6) AS BIGINT) AS cosine_micro
         FROM c WHERE cosine >= 0.6 ORDER BY doc_a, doc_b""",
    "q53_neardup_recall" ->
      s"""WITH $sqlVecs, ${sqlLshBuckets(24)}, $sqlLshProbesAll,
         found AS (SELECT id_a, id_b FROM (
           SELECT cand.id_a, cand.id_b,
                  list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                    / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) AS cosine
           FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM pb a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id) cand
           JOIN v x ON x.vec_id = cand.id_a
           JOIN v y ON y.vec_id = cand.id_b) t
           WHERE cosine >= 0.3),
         vcap AS (SELECT vec_id, q, nn FROM (
                    SELECT vec_id, q, nn,
                           row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS sr
                    FROM v) t WHERE sr <= 800),
         exact AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
                   FROM vcap x JOIN vcap y ON x.vec_id < y.vec_id
                   WHERE list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                         / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) >= 0.3)
         SELECT count(*) AS n_exact,
                CAST(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
                CAST(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
                  / count(*)::DOUBLE AS recall
         FROM exact e LEFT JOIN found f ON e.id_a = f.id_a AND e.id_b = f.id_b""",
    "q52_ann_recall" ->
      s"""WITH $sqlVecs, ${sqlLshBuckets(16)}, $sqlLshProbes, $sqlIvfChain, $sqlLshTopK, $sqlIvfTopK,
         brute AS (
           SELECT query_id, nbr_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                                 / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) DESC,
                               c.vec_id) AS rank
             FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t
           WHERE rank <= 5)
         SELECT b.query_id, count(*) AS k,
                CAST(sum(CASE WHEN l.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_lsh,
                CAST(sum(CASE WHEN i.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_ivf
         FROM brute b
         LEFT JOIN lsh_k l ON l.query_id = b.query_id AND l.nbr_id = b.nbr_id
         LEFT JOIN ivf_k i ON i.query_id = b.query_id AND i.nbr_id = b.nbr_id
         GROUP BY b.query_id ORDER BY b.query_id""",
    "q42_label_centroids" ->
      """SELECT label, i - 1 AS dim,
                CAST(sum(round(embedding[i]::DOUBLE * 1000)::BIGINT) AS DOUBLE) / count(*) AS centroid_milli
         FROM embeddings, range(1, 65) r(i)
         GROUP BY label, i ORDER BY label, dim""",
    // BM25: the idf/tf expression is written with EXACTLY the Spark tree's
    // association (left-to-right * and /) so the one rounded double per
    // (doc, term) is bit-identical; per-doc sums are then exact BIGINTs
    "q92_bm25" -> sqlBm25TopK20,
    // same contribution tree as q92, fanned out per query via the q join;
    // top-10 per query by (score, doc id)
    "q97_bm25_multi" ->
      """WITH q AS (SELECT * FROM (VALUES ('q1', 'spark'), ('q1', 'join'),
                                          ('q2', 'window'), ('q2', 'merge'), ('q2', 'sort'))
                    AS t(query_id, token)),
         toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS token
              FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         corpus AS (SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS TT FROM dl),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                WHERE token IN (SELECT token FROM q) GROUP BY doc_id, token),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         contrib AS (SELECT tf.doc_id, tf.token,
                            CAST(round(ln(1.0 + (N - df + 0.5) / (df + 0.5)) * tf * 2.2
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / (TT::DOUBLE / N))) * 1000000) AS BIGINT) AS c_micro
                     FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), corpus),
         sel AS (SELECT q.query_id, c.doc_id, count(*) AS n_hit_terms,
                        CAST(sum(c.c_micro) AS BIGINT) AS score_micro
                 FROM contrib c JOIN q USING (token) GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, n_hit_terms, score_micro,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY score_micro DESC, doc_id) AS rank
               FROM sel)
         SELECT query_id, doc_id, n_hit_terms, score_micro, rank FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // RRF fusion: q97's BM25 tree (BIGINT query ids) + q32's LSH top-k
    // chain, fused with the same exact integer floor(1e9/(60+rank)) sums
    // as Search.fuseRrf; ties by ascending doc id
    "q108_hybrid_rrf" ->
      s"""WITH $sqlVecs, ${sqlLshBuckets(16)}, $sqlLshProbes, $sqlLshTopK,
         q AS (SELECT CAST(qid AS BIGINT) AS query_id, token
               FROM (VALUES (0, 'spark'), (0, 'join'),
                            (1, 'window'), (1, 'merge'), (1, 'sort')) AS t(qid, token)),
         toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS token
              FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         corpus AS (SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS TT FROM dl),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                WHERE token IN (SELECT token FROM q) GROUP BY doc_id, token),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         contrib AS (SELECT tf.doc_id, tf.token,
                            CAST(round(ln(1.0 + (N - df + 0.5) / (df + 0.5)) * tf * 2.2
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / (TT::DOUBLE / N))) * 1000000) AS BIGINT) AS c_micro
                     FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), corpus),
         sel AS (SELECT q.query_id, c.doc_id, CAST(sum(c.c_micro) AS BIGINT) AS score_micro
                 FROM contrib c JOIN q USING (token) GROUP BY 1, 2),
         bm AS (SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY score_micro DESC, doc_id) AS rank
                  FROM sel) t WHERE rank <= 10),
         ann AS (SELECT CAST(query_id AS BIGINT) AS query_id, nbr_id AS doc_id, rank
                 FROM lsh_k WHERE query_id IN (0, 1)),
         allc AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS rrf_nano FROM bm
                  UNION ALL
                  SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM ann),
         fused AS (SELECT query_id, doc_id, count(*) AS n_lists,
                          CAST(sum(rrf_nano) AS BIGINT) AS rrf_nano
                   FROM allc GROUP BY 1, 2)
         SELECT query_id, doc_id, n_lists, rrf_nano,
                CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rank
         FROM fused QUALIFY rank <= 10 ORDER BY query_id, rank""",
    // exact-kNN vote replay: same quantized cosine and (votes desc, label)
    // tie rule as Similarity.knnClassify
    "q102_knn_classify" ->
      """WITH v AS (SELECT vec_id,
                           [round(x::DOUBLE * 1000)::BIGINT for x in embedding] AS q,
                           list_sum([round(x::DOUBLE * 1000)::BIGINT * round(x::DOUBLE * 1000)::BIGINT for x in embedding]) AS nn
                    FROM embeddings),
         knn AS (SELECT query_id, nbr_id FROM (
                   SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                          row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                                       / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) DESC,
                                     c.vec_id) AS rank
                   FROM v q JOIN v c ON q.vec_id < 50 AND q.vec_id <> c.vec_id) t
                 WHERE rank <= 5),
         votes AS (SELECT query_id, label, count(*) AS n_votes
                   FROM knn JOIN embeddings ON nbr_id = vec_id GROUP BY 1, 2)
         SELECT query_id, label AS pred_label, n_votes FROM (
           SELECT query_id, label, n_votes,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, label) AS rk
           FROM votes) t WHERE rk = 1 ORDER BY query_id""",
    // mirrors Similarity.groupDiversity term for term: quantized vectors
    // (the sqlVecs convention), unit re-quantization off the exact
    // integer norm, component sums squared in HUGEINT, the shared
    // three-step double division tree
    "q220_embedding_diversity" ->
      s"""WITH $sqlVecs,
         u AS (SELECT label, vec_id,
                 [CAST(round(p::DOUBLE / sqrt(nn::DOUBLE) * 1000) AS BIGINT)
                  for p in q] AS u
               FROM v JOIN embeddings USING (vec_id) WHERE nn > 0),
         rows_ AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
                 sum(list_sum([x * x for x in u])::HUGEINT) AS selfsum
               FROM u GROUP BY label),
         comps AS (SELECT label, sum(s::HUGEINT * s::HUGEINT) AS ss FROM (
                 SELECT label, i, sum(u[i]) AS s
                 FROM u, range(1, 65) r(i) GROUP BY label, i) t GROUP BY label),
         z AS (SELECT label, CAST(count(*) AS BIGINT) AS n_zero
               FROM v JOIN embeddings USING (vec_id) WHERE nn = 0 GROUP BY label)
         SELECT rows_.label, n, coalesce(n_zero, CAST(0 AS BIGINT)) AS n_zero,
                CASE WHEN n >= 2 THEN CAST(round(
                  (ss - selfsum)::DOUBLE / (n * (n - 1))::DOUBLE
                    / 1000000.0 * 1e6) AS BIGINT) END AS mean_pair_cos_micro
         FROM rows_ JOIN comps USING (label) LEFT JOIN z USING (label)
         ORDER BY label""",
    "q219_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id,
              unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS term
             FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
                WHERE len(term) > 0 GROUP BY 1, 2),
         dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         nn AS (SELECT count(DISTINCT doc_id) AS N FROM tf),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
                  CAST(round(tf.tf::DOUBLE * ln(N::DOUBLE / dfr.df::DOUBLE) * 1e6) AS BIGINT) AS tfidf_micro
                FROM tf JOIN dfr USING (term), nn)
         SELECT doc_id, term, tf, df, tfidf_micro,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rank
         FROM sc QUALIFY rank <= 3 ORDER BY doc_id, rank""",
    // the q50 IVF chain verbatim (same centroids, same final assignment),
    // then cosine to the OWN cell's centroid, micro-quantized, ranked per
    // cell (desc, ties by vec_id — both engines put nulls last under DESC)
    "q215_prototypicality" ->
      s"""WITH $sqlVecs, $sqlIvfChain,
         sc AS (SELECT a.vec_id, a.cell,
                  CAST(round(
                    list_sum([p[1] * p[2] for p in list_zip(a.q, c.cv)])::DOUBLE
                      / NULLIF(sqrt(a.nn::DOUBLE) * sqrt(c.cc::DOUBLE), 0)
                      * 1e6) AS BIGINT) AS proto_micro
                FROM ivf_asg a JOIN c4 c ON a.cell = c.cent_id)
         SELECT vec_id, cell, proto_micro,
                CAST(row_number() OVER (PARTITION BY cell
                  ORDER BY proto_micro DESC, vec_id) AS BIGINT) AS cell_rank,
                CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
         FROM sc ORDER BY cell, cell_rank""",
    // same quantized per-dimension centroid SUMS per (grp, shard side),
    // exact integer dots, the one guarded double division — the q137
    // centroid idiom joined across the two snapshots
    "q237_centroid_drift" ->
      s"""WITH $sqlEmbVv,
         g AS (SELECT vec_id, vec_id % 8 AS grp, q, shard FROM vv),
         ea AS (SELECT grp, d, q[d] AS x
                FROM g, unnest(range(1, len(q) + 1)) AS t(d) WHERE shard <> 0),
         eb AS (SELECT grp, d, q[d] AS x
                FROM g, unnest(range(1, len(q) + 1)) AS t(d) WHERE shard = 0),
         ca AS (SELECT grp, list(x ORDER BY d) AS cs
                FROM (SELECT grp, d, CAST(sum(x) AS BIGINT) AS x
                      FROM ea GROUP BY 1, 2)
                GROUP BY grp),
         cb AS (SELECT grp, list(x ORDER BY d) AS cs
                FROM (SELECT grp, d, CAST(sum(x) AS BIGINT) AS x
                      FROM eb GROUP BY 1, 2)
                GROUP BY grp),
         na AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_a
                FROM g WHERE shard <> 0 GROUP BY grp),
         nb AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_b
                FROM g WHERE shard = 0 GROUP BY grp),
         sc AS (SELECT ca.grp, na.n_a, nb.n_b,
                 list_sum([p[1] * p[2] for p in list_zip(ca.cs, cb.cs)]) AS dt,
                 list_sum([y * y for y in ca.cs]) AS nna,
                 list_sum([y * y for y in cb.cs]) AS nnb
                FROM ca JOIN cb ON ca.grp = cb.grp
                        JOIN na ON na.grp = ca.grp
                        JOIN nb ON nb.grp = ca.grp)
         SELECT grp, n_a, n_b,
                CASE WHEN nna > 0 AND nnb > 0 THEN
                  CAST(round(dt::DOUBLE / (sqrt(nna::DOUBLE) * sqrt(nnb::DOUBLE))
                    * 1000000000) AS BIGINT)
                END AS cos_nano,
                1000000000 - CASE WHEN nna > 0 AND nnb > 0 THEN
                  CAST(round(dt::DOUBLE / (sqrt(nna::DOUBLE) * sqrt(nnb::DOUBLE))
                    * 1000000000) AS BIGINT)
                END AS drift_nano
         FROM sc ORDER BY grp""",
  )
}
