package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{Dedup, Grouping, Ops, Search, Similarity}
import graft.streaming.Streams

/** vector_serve: a standing vector + lexical store taking reads beside
  * writes. Set-up builds the IVF-PQ index over the corpus embeddings, the
  * BM25 index over the documents and the embedding near-dup index the
  * ingest path checks against. Every cycle runs `reads` hybrid searches
  * and one ingest batch. */
final class VectorServe(ctx: Ctx, plan: JsonNode) extends Workload {
  private val reads = plan.get("reads").asInt
  private val nSearches = plan.get("searches").asInt
  private val nIngests = plan.get("ingests").asInt
  private val k = plan.get("k").asInt
  private val rerank = plan.get("rerank").asInt
  private val threshold = plan.get("dup_threshold").asDouble
  private val batchSize = plan.get("ingest_batch").asInt
  private val terms = plan.get("terms")

  private var vIx: Similarity.IvfPqIndex = _
  private var bIx: Search.Bm25Index = _
  private var eIx: Dedup.EmbeddingIndex = _
  private var indexBuildS = 0.0

  def warm(spark: SparkSession): Unit =
    Json.rows(Trace.df("Grouping", "agg")(
      Grouping.groupby(ctx.table("documents"), Seq("source")).agg(Seq("doc_id" -> "count"))))

  def setup(spark: SparkSession): Unit = {
    val corpus = ctx.table("corpus")
    val t0 = System.nanoTime()
    vIx = Trace("Similarity", "ivfPqIndex")(Similarity.ivfPqIndex(corpus, "vec_id", "embedding"))
    indexBuildS = (System.nanoTime() - t0) / 1e9
    bIx = Trace("Search", "bm25Index")(Search.bm25Index(ctx.table("documents"), "doc_id", "text"))
    eIx = Trace("Dedup", "embeddingIndex")(
      Dedup.embeddingIndex(corpus, "vec_id", "embedding", threshold = threshold))
  }

  override def facts: Map[String, Any] = Map("index_build_s" -> indexBuildS)

  def cycle(c: Int): Seq[Request] =
    (0 until reads).map { i =>
      val r = (c * reads + i) % nSearches
      Request("search", Map("req" -> r), () => search(r))
    } :+ {
      val b = c % nIngests
      Request("ingest", Map("batch" -> b), () => ingest(b))
    }

  /** One search, from the end of the pool. The ingest path is not warmed:
    * a warm-up ingest costs as much as the measured one. */
  def warmup: Seq[Request] =
    Seq(Request("search", Map("req" -> (nSearches - 1)), () => search(nSearches - 1)))

  private def search(r: Int): Map[String, Any] = {
    val q = Trace.df("Ops", "filters")(Ops.filters(ctx.table("queries"), ("req", "=", r)))
    val ann = Trace.df("Similarity", "ivfPqTopKIndexed")(
      Similarity.ivfPqTopKIndexed(vIx, q, "query_id", "embedding", k, rerank = rerank))
    val qTerms = Json.strs(terms.get(r))
    val bm = Trace.df("Search", "bm25TopKIndexed")(Search.bm25TopKIndexed(bIx, qTerms, k))
    // hybrid: the request's first query fused with its lexical ranking
    val q0 = r.toLong * 1000
    val fused = Trace.df("Search", "fuseRrf")(Search.fuseRrf(Seq(
        ann.filter(col("query_id") === q0).select(col("query_id"), col("nbr_id").as("doc_id"), col("rank")),
        bm.select(lit(q0).as("query_id"), col("doc_id"), col("rank"))),
      "query_id", "doc_id", k))
    val out = Map[String, Seq[Any]](
      "ann" -> Json.rows(ann.select("query_id", "nbr_id", "rank")),
      "bm25" -> Json.rows(bm.select("doc_id", "score_micro", "rank")),
      "fused" -> Json.rows(fused.select("doc_id", "rrf_nano", "rank")))
    // rows scored per neighbour returned: the scored rows come from the plan
    Trace.count("Similarity.shortlist_rows.den", out("ann").size.toDouble)
    out
  }

  private def ingest(b: Int): Map[String, Any] = {
    val batch = Trace.df("Ops", "filters")(Ops.filters(ctx.table("ingest_vectors"), ("batch", "=", b)))
    // the kept rows feed both the store and the caller: materialize once
    val kept = Trace("Streams", "dropEmbeddingNearDupsBatch")(
      Streams.dropEmbeddingNearDupsBatch(batch, "vec_id", "embedding", eIx, threshold)
        .localCheckpoint(true))
    val keptIds = Json.rows(kept.select("vec_id"))
    Trace.count("Streams.kept_ratio.num", keptIds.size.toDouble)
    Trace.count("Streams.kept_ratio.den", batchSize.toDouble)
    val nextV = Trace("Similarity", "extendIvfPqIndex")(
      Similarity.extendIvfPqIndex(vIx, kept, "vec_id", "embedding"))
    vIx.release()
    vIx = nextV
    val docs = Trace.df("Ops", "filters")(Ops.filters(ctx.table("ingest_docs"), ("batch", "=", b)))
    val nextB = Trace("Search", "extendBm25Index")(Search.extendBm25Index(bIx, docs, "text"))
    bIx.release()
    bIx = nextB
    Map("kept" -> keptIds, "n_docs" -> bIx.nDocs)
  }

  def release(): Unit = {
    if (vIx != null) vIx.release()
    if (bIx != null) bIx.release()
    if (eIx != null) eIx.release()
  }
}
