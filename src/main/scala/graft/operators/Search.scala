package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.Text

/** Keyword relevance scoring over a document corpus — Okapi BM25 (Robertson
  * & Zaragoza 2009), the standard lexical ranking function, as a pure
  * DataFrame computation (north-star extension: a curation pipeline uses
  * this to pull topic-targeted subsets out of a crawl, and it is the
  * lexical half of hybrid retrieval next to [[Similarity]]'s ANN).
  *
  * score(D,Q) = Σ_{t∈Q} idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1-b+b·|D|/avgdl))
  * with idf(t) = ln(1 + (N - df(t) + 0.5)/(df(t) + 0.5)).
  *
  * Determinism at scale: each (doc, term) contribution is computed by one
  * fixed-shape expression tree (identical on any engine) and quantized to
  * integer micro-units BEFORE the per-document sum, which is then an exact
  * long — partition-order independent, same contract as [[Lm.surprisal]].
  *
  * Scale shape: the exploded corpus is pruned to the query terms FIRST —
  * an `isin` literal filter ([[bm25TopK]]) or a broadcast semi-join
  * ([[bm25PerQuery]]) that runs ahead of every shuffle, so the shuffled
  * volume is only the matching postings, not the corpus; df/N/avgdl are
  * one map-side-combined agg each; the ≤|terms|-row stats frames join
  * broadcast. Top-k is TakeOrderedAndProject (single query) or a keyed
  * window (per query) — never a global sort. */
object Search {

  /** The BM25 (doc, term) contribution in integer micro-units — ONE
    * fixed-shape double expression rounded once, shared by both entry
    * points so their scores are bit-identical (and match the DuckDB
    * oracle's literal transcription of this tree). */
  private def contribMicro(tf: Column, df: Column, dl: Column,
      n: Column, tt: Column, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    val avgdl = tt.cast("double") / n
    round(idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))
      * lit(1000000L)).cast(LongType)
  }

  /** (doc, token, c_micro) contributions for every posting whose token
    * survives `prune` (applied BEFORE the tf shuffle). */
  private def contribs(df: DataFrame, idCol: String, textCol: String,
      prune: DataFrame => DataFrame, k1: Double, b: Double): DataFrame = {
    // the regex tokenize+normalize kernel is narrow — spread it when the
    // scan has fewer splits than the cluster has slots (no-op at scale)
    val toks = Par.spread(df)
      .select(col(idCol), explode(Text.tokens(Text.normalize(col(textCol)))).as("token"))
    // corpus stats: N docs, total tokens (for avgdl) — exact longs
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("N"), sum(col("dl")).as("TT"))
    val tf = prune(toks)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(corpus))
      .select(col(idCol), col("token"),
        contribMicro(col("tf"), col("df"), col("dl"), col("N"), col("TT"), k1, b)
          .as("c_micro"))
  }

  /** BM25 top-k: the `k` highest-scoring documents for `queryTerms`.
    * Output: idCol, n_hit_terms (long — distinct query terms present),
    * score_micro (long — 1e6 × BM25 score, exact), rank (long).
    * Ties break by ascending id. Terms are matched against
    * [[Text.normalize]]d tokens, so pass lowercase terms. */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    contribs(df, idCol, textCol, _.filter(col("token").isin(queryTerms: _*)), k1, b)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("c_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_micro").desc, col(idCol)))
          .cast(LongType))
  }

  /** Batch keyword search: BM25 top-k for MANY queries in one job.
    * `queries` is a (queryIdCol, termCol) table; [[bm25TopK]] is the
    * single-query special case (their scores are bit-identical — shared
    * contribution expression). Postings are pruned by a broadcast
    * semi-join on the distinct term set before any shuffle; per-(doc,term)
    * contributions are computed ONCE and fanned out to every query using
    * the term, so a thousand queries cost one corpus pass plus the
    * (postings × matching-queries) join. Top-k per query is a keyed
    * window — no global sort.
    * Output: queryIdCol, idCol, n_hit_terms, score_micro, rank (≤ k). */
  def bm25PerQuery(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queries
      .select(col(queryIdCol), col(termCol).as("token")).distinct()
    val terms = qterms.select("token").distinct()
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("score_micro").desc, col(idCol))
    contribs(df, idCol, textCol,
        _.join(broadcast(terms), Seq("token"), "left_semi"), k1, b)
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("c_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** A standing BM25 search index (r8 — the lexical sibling of
    * [[Similarity.IvfPqIndex]], completing the stored-index story for the
    * search path: [[bm25TopK]]/[[bm25PerQuery]] re-tokenize the corpus on
    * every call, which is the benchmark shape, not the deployed one).
    * Build once with [[bm25Index]], persist with [[saveBm25Index]], answer
    * queries with [[bm25TopKIndexed]]/[[bm25PerQueryIndexed]] (each reads
    * only the query terms' rows), and fold ingest batches in with
    * [[extendBm25Index]]. `release()` when done.
    *
    * Layout: an append-only list of immutable, pinned, reference-counted
    * [[Segment]]s (the LSM-tree layout, O'Neil et al. 1996). A segment's
    * frame holds one (id, token, tf, dl) row per distinct token of each of
    * its documents — the posting carries its document's length, so
    * scoring needs no length join — plus one document row
    * (id, token = null, tf = dl, dl) per document. Beside it sits the
    * segment's pinned (token, df, cf) frame, whose null-token row holds
    * the segment's document count and token total. [[bm25Index]] and
    * [[loadBm25Index]] pin one segment; [[extendBm25Index]] pins one for
    * the batch and shares the rest ([[Segment.append]]'s binary-counter
    * compaction keeps O(log N) segments). A query scans the union of the
    * segments' rows ([[Segment.union]]) for its terms and sums their df
    * across segments on the driver. `postings` (id, token, tf),
    * `docLens` (id, dl) and `termDf` (token, df) are derived views with
    * the four-table on-disk schemas; `nDocs`/`totalTokens` are the exact
    * corpus scalars. Every statistic is an exact long, so an extended
    * index scores BIT-IDENTICALLY to one rebuilt from scratch on the
    * union (the q124 gate). Ids are expected unique per row: a repeated
    * id indexes each row as its own document.
    *
    * `release()` drops this index's reference to each segment, so an
    * index and the one extended from it may be released in either
    * order. */
  final case class Bm25Index private[operators] (
      idCol: String, segments: Vector[Segment], nDocs: Long, totalTokens: Long)
      extends StandingIndex {
    /** Every segment's rows, document rows included. */
    private[operators] def rows: DataFrame = Segment.union(segments)
    def postings: DataFrame =
      rows.filter(col("token").isNotNull).select(col(idCol), col("token"), col("tf"))
    def docLens: DataFrame = rows.filter(col("token").isNull).select(col(idCol), col("dl"))
    def termDf: DataFrame = {
      val per = segments.map(_.side.head.filter(col("token").isNotNull))
      if (per.size == 1) per.head.select(col("token"), col("df"))
      else per.reduce(_ unionByName _).groupBy("token").agg(sum(col("df")).as("df"))
    }
    /** token → df of the query terms `prune` keeps (a prune drops the
      * null document-row key), as a plan-time map literal: the few matching
      * rows of each segment's frame are collected and summed on the driver,
      * so a query needs no df join and no aggregation exchange. */
    private[operators] def queryDf(prune: DataFrame => DataFrame): Column =
      typedLit(segments.map(s => prune(s.side.head).select(col("token"), col("df")))
        .reduce(_ unionByName _).collect().toSeq
        .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _))
  }

  /** The segment rows of a document frame: one tokenize feeding one
    * (id, dl, token) hash-agg, with dl = the document's token count and a
    * null token appended to each document's tokens — its document row
    * (tf = dl). Docs with null text contribute no rows and do not count
    * toward N — identical to [[bm25TopK]]'s semantics. A narrow input is
    * spread by id, which the hash-agg then reuses: one exchange either
    * way. */
  private def segmentRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spreadBy(df, col(idCol))
      .select(col(idCol), Text.tokens(Text.normalize(col(textCol))).as("toks"))
      .select(col(idCol), size(col("toks")).cast(LongType).as("dl"),
        explode(concat(col("toks"), array(lit(null).cast(StringType)))).as("token"))
      .groupBy(col(idCol), col("dl"), col("token")).agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("token"),
        when(col("token").isNull, col("dl")).otherwise(col("tf")).as("tf"), col("dl"))

  private val termDfSchema = StructType(Seq(StructField("token", StringType),
    StructField("df", LongType, nullable = false), StructField("cf", LongType)))

  /** Pin segment rows and their (token, df, cf) frame as one [[Segment]].
    * The (token, df, cf) rows are aggregated from the segment rows' cached
    * batches, so ONE job builds both caches — the segment rows' on its map
    * side, the frame's on its reduce side — and its fold reads the
    * segment's row count (Σ df), document count N and token total TT (the
    * latter two from the document rows' null-token group). Returns
    * (segment, N, TT). */
  private def seal(segRows: DataFrame): (Segment, Long, Long) = {
    segRows.persist(StorageLevel.MEMORY_AND_DISK)
    val (tok, tf) = (segRows.schema.fieldIndex("token"), segRows.schema.fieldIndex("tf"))
    val perToken = Pinned.cachedRows(segRows)
      .map(r => (if (r.isNullAt(tok)) null else r.getUTF8String(tok).toString, (1L, r.getLong(tf))))
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (t, (df, cf)) => Row(t, df, cf) }
    val dfs = segRows.sparkSession.createDataFrame(perToken, termDfSchema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (rows, n, tt) = Pinned.cachedRows(dfs)
        .map(r => if (r.isNullAt(0)) (r.getLong(1), r.getLong(1), r.getLong(2)) else (r.getLong(1), 0L, 0L))
        .fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
      (new Segment(segRows, rows, Pinned.batches(segRows).getNumPartitions, Seq(dfs)), n, tt)
    } catch { case e: Throwable => dfs.unpersist(false); segRows.unpersist(false); throw e }
  }

  /** Build a [[Bm25Index]] of one segment: one tokenize pass feeds one
    * hash-agg; one further hash-agg over the pinned rows gives the term
    * frequencies and the corpus scalars (never a second corpus pass). */
  def bm25Index(df: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val (seg, n, tt) = seal(segmentRows(df, idCol, textCol))
    Bm25Index(idCol, Vector(seg), n, tt)
  }

  /** The (doc, token, c_micro) contributions of an index's rows pruned to
    * the query terms (`prune`), against the terms' summed df — the
    * [[contribs]] tail over STORED statistics. Each row carries its
    * document's length and the df and corpus scalars enter as literals;
    * the expression tree is [[contribMicro]], so scores are bit-identical
    * to the from-scratch path. */
  private def indexContribs(ix: Bm25Index, prune: DataFrame => DataFrame,
      k1: Double, b: Double): DataFrame = {
    val dfs = ix.queryDf(prune)
    prune(ix.rows).select(col(ix.idCol), col("token"),
      contribMicro(col("tf"), element_at(dfs, col("token")), col("dl"),
        lit(ix.nDocs), lit(ix.totalTokens), k1, b).as("c_micro"))
  }

  /** The (id, token, tf) postings rows of a document frame — the rows a
    * standing index's `postings` view gains when those documents are
    * folded in, e.g. shipped per micro-batch to a store's postings table.
    * The in-memory fold is [[extendBm25Index]], which appends the batch as
    * one new segment and leaves the indexed segments untouched. */
  def bm25Postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    segmentRows(df, idCol, textCol)
      .filter(col("token").isNotNull).select(col(idCol), col("token"), col("tf"))

  /** [[bm25TopK]] against a prebuilt [[Bm25Index]] — no tokenization, no
    * corpus pass: only the query terms' rows are read and scored against
    * the stored statistics. Bit-identical output (q123's gate).
    * Eager: the ≤ k result rows are materialized (checkpointed) before
    * they are returned, so a caller that both collects the ranking and
    * fuses it with another list (hybrid search) scores the postings once,
    * and releasing or extending the index afterwards leaves it intact. */
  def bm25TopKIndexed(
      ix: Bm25Index, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    indexContribs(ix, _.filter(col("token").isin(queryTerms: _*)), k1, b)
      .groupBy(ix.idCol)
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("c_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col(ix.idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_micro").desc, col(ix.idCol)))
          .cast(LongType))
      .localCheckpoint(true)
  }

  /** [[bm25PerQuery]] against a prebuilt [[Bm25Index]] — one postings
    * lookup serves every query; contributions fan out to the queries using
    * each term exactly as in the from-scratch path. */
  def bm25PerQueryIndexed(
      ix: Bm25Index, queries: DataFrame, queryIdCol: String, termCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queries
      .select(col(queryIdCol), col(termCol).as("token")).distinct()
    val terms = qterms.select("token").distinct()
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("score_micro").desc, col(ix.idCol))
    indexContribs(ix, _.join(broadcast(terms), Seq("token"), "left_semi"), k1, b)
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col(queryIdCol), col(ix.idCol))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("c_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Fold an ingest batch INTO the index: the batch is tokenized into ONE
    * new segment (its rows and (token, df, cf) frame, pinned by one
    * fold) appended to the old segments, which the new index shares;
    * document count and token total add. Nothing else is copied unless
    * the append triggers a compaction ([[Segment.append]]: the newest two
    * segments merge while the newest is at least as large as its older
    * neighbour), so an ingest costs O(batch) amortized, not O(corpus).
    * Every statistic is EXACT integer arithmetic, so the extended index is
    * bit-indistinguishable from one rebuilt on the union (the q124 gate
    * asserts exactly this through the oracle). Batch ids must be disjoint
    * from indexed ids (the usual ingest contract). Returns a NEW index;
    * the caller may `release()` the old one afterwards, before or after
    * the new one. */
  def extendBm25Index(ix: Bm25Index, batch: DataFrame, textCol: String): Bm25Index = {
    val (seg, n, tt) = seal(segmentRows(batch, ix.idCol, textCol))
    val segs = Segment.append(ix.segments, seg)(
      (older, newest) => seal(Segment.union(Seq(older, newest)))._1)
    Bm25Index(ix.idCol, segs, ix.nDocs + n, ix.totalTokens + tt)
  }

  /** Persist a [[Bm25Index]] as four parquet tables — its `postings`,
    * `docLens` and `termDf` views; `params` (which also carries the corpus
    * scalars) is the commit marker ([[IndexFiles.save]]). */
  def saveBm25Index(ix: Bm25Index, path: String): Unit = {
    val spark = ix.rows.sparkSession
    import spark.implicits._
    IndexFiles.save(path, Seq("postings" -> ix.postings, "doclens" -> ix.docLens,
      "termdf" -> ix.termDf,
      "params" -> Seq((ix.idCol, ix.nDocs, ix.totalTokens))
        .toDF("id_col", "n_docs", "total_tokens")))
  }

  /** Load a stored [[Bm25Index]] as one segment: postings ⋈ doclens packs
    * each posting with its document's length, and doclens gives the
    * document rows. Postings and statistics are stored bytes, so a loaded
    * index scores bit-identically to the one saved. Fails fast with a
    * clear message on a partial save. */
  def loadBm25Index(spark: SparkSession, path: String): Bm25Index = {
    val part = IndexFiles.open(spark, path, "Bm25Index",
      Seq("postings", "doclens", "termdf", "params"))
    val p = part("params").head()
    val idCol = p.getAs[String]("id_col")
    val lens = part("doclens")
    val segRows = part("postings").join(lens, Seq(idCol))
      .select(col(idCol), col("token"), col("tf"), col("dl"))
      .unionByName(lens.select(col(idCol), lit(null).cast(StringType).as("token"),
        col("dl").as("tf"), col("dl")))
    Bm25Index(idCol, Vector(seal(segRows)._1),
      p.getAs[Long]("n_docs"), p.getAs[Long]("total_tokens"))
  }

  /** Per-document top-k keyword extraction by tf·idf (Spärck Jones 1972)
    * — the doc-tagging / topic-labeling primitive next to [[bm25TopK]]'s
    * query-side ranking: tf(t, D) · ln(N / df(t)) with N = documents
    * holding ≥ 1 token and df the document frequency. Counts are exact
    * longs; the score is ONE fixed double tree (the shared-`ln` contract
    * of [[Lm.surprisal]]), micro-quantized BEFORE ranking, ties by term.
    * Corpus-wide terms score ln(1) = 0 — ranked, never special-cased.
    *
    * Scale shape: TWO explode+hash-agg passes to (doc, term, tf) — one
    * feeding the |vocab|-sized df agg, one the scored join — plus a
    * no-explode scan of `docs` for the 1-row N (a doc counts iff any
    * token survives normalization — the exact countDistinct-over-tf
    * value, derived without a third tokenization pass), broadcast into
    * the score, and a doc-partitioned window for the top-k. Lazy: r12
    * pinned tf (persist + eager localCheckpoint) to run the explode
    * once; the r13 measurements (VERDICT r12 #2) found the two plans
    * within ~25% of each other on a 1–10× replication probe at every
    * factor (position-in-run biased), while the DE-NOISED instrument —
    * a per-query harness, median of 3 with GC between runs (both since
    * retired) — read this query at 1.09 s lazy vs 1.80 s pinned at sf0.1:
    * materialization + cache read-back costs more than the recompute, so
    * the recompute-twice plan shipped. Posting-list-shaped joins only,
    * no global sort, no driver state. Output: (id, `term`, `tf`, `df`,
    * `tfidf_micro`, `rank` ≤ k). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = Par.spread(docs).select(col(idCol),
        explode(Text.tokens(Text.normalize(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // N without touching tf: distinct docs holding >= 1 post-normalize
    // token — `exists` over the token array, no explode, no shuffle of
    // token rows (countDistinct guards duplicate-id inputs exactly like
    // the old countDistinct over tf)
    val n = docs
      .filter(exists(Text.tokens(Text.normalize(col(textCol))),
        t => length(t) > 0))
      .agg(countDistinct(col(idCol)).as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf_micro").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_micro",
        round(col("tf").cast("double")
          * log(col("__n").cast("double") / col("df").cast("double"))
          * 1e6).cast(LongType))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf_micro"), col("rank"))
  }

  /** Hybrid retrieval fusion — reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher, SIGIR 2009) of any number of per-query rankings, the
    * standard way to combine [[bm25PerQuery]]'s lexical top-k with
    * [[Similarity.bucketedTopK]]'s vector top-k (or any other ranked
    * lists over the same query/doc id space). RRF is RANK-based, so the
    * lists' scores never need normalizing against each other — exactly why
    * it is the default fusion in hybrid search engines.
    *
    * Each list contributes floor(1e9 / (rrfK + rank)) "nano-units" per
    * (query, doc) — an exact integer division, so the fused score is an
    * exact long sum: partition-order independent and bit-identical on any
    * engine (the same quantize-then-sum contract as [[contribMicro]]).
    * rrfK = 60 is the constant from the original paper.
    *
    * Every input must carry `queryIdCol`, `docIdCol`, and a `rank` column
    * (1-based, as both producers here emit); a doc absent from a list
    * simply contributes nothing for it. Scale shape: one union (no
    * shuffle) + one hash-agg + one keyed window over lists that are
    * already ≤ k·|queries| rows — negligible next to either producer.
    * Output: queryIdCol, docIdCol, n_lists (long — lists containing the
    * doc), rrf_nano (long), rank (long, ≤ k; ties by ascending doc id). */
  def fuseRrf(rankings: Seq[DataFrame], queryIdCol: String, docIdCol: String,
      k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k > 0, "k must be positive")
    require(rrfK >= 0, "rrfK must be non-negative")
    val contribs = rankings.map(_.select(col(queryIdCol), col(docIdCol),
      expr(s"CAST(1000000000 AS BIGINT) div " +
        s"(CAST($rrfK AS BIGINT) + CAST(rank AS BIGINT))").as("rrf_nano")))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("rrf_nano").desc, col(docIdCol))
    contribs.reduce(_ unionByName _)
      .groupBy(col(queryIdCol), col(docIdCol))
      .agg(count(lit(1)).as("n_lists"), sum(col("rrf_nano")).as("rrf_nano"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }
}
