package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length}

import graft.functions.{Pii, Text}
import graft.operators.{Bpe, Dedup, Grouping}

/** curation_batch: an amplified document corpus with planted duplicates,
  * processed batch by batch against a standing MinHash index of the
  * earlier corpus. Set-up trains the BPE merges and builds the standing
  * index; every cycle processes one batch through annotate, exact dedup,
  * near-dup search, connected components, BPE encoding and per-source
  * token accounting. */
final class Curation(ctx: Ctx, plan: JsonNode) extends Workload {
  private val order = Json.longs(plan.get("order")).map(_.toInt)
  private val numMerges = plan.get("num_merges").asInt
  private var merges: Seq[(String, String)] = Nil
  private var standing: Dedup.MinhashIndex = _

  def warm(spark: SparkSession): Unit =
    Json.rows(Trace.df("Grouping", "agg")(
      Grouping.groupby(ctx.table("bpe_sample"), Seq("source")).agg(Seq("doc_id" -> "count"))))

  def setup(spark: SparkSession): Unit = {
    val learned = Trace.df("Bpe", "train")(Bpe.train(ctx.table("bpe_sample"), "text", numMerges))
    merges = learned.orderBy("rank").collect().toSeq.map(r => (r.getString(1), r.getString(2)))
    standing = Trace("Dedup", "minhashIndex")(Dedup.minhashIndex(ctx.table("standing"), "doc_id", "text"))
  }

  override def facts: Map[String, Any] = Map("merges" -> merges.map { case (a, b) => Seq(a, b) })

  private def batch(b: Int) = Request("batch", Map("batch" -> b), () => runBatch(b))

  /** Two measured batches a cycle, in the plan's seeded order; the plan's
    * last batch is the warm-up. */
  def cycle(c: Int): Seq[Request] =
    Seq(2 * c, 2 * c + 1).map(i => batch(order(i % (order.size - 1))))

  def warmup: Seq[Request] = Seq(batch(order.last))

  private def runBatch(b: Int): Map[String, Any] = {
    val docs = ctx.table(s"batch_$b")

    // 1. annotate: normalization, quality, language and PII counts
    val ann = Trace.df("Text", "annotate")(docs.select(col("doc_id"), col("source"),
      length(Text.normalize(col("text"))).as("norm_len"),
      Text.qualityScore(col("text")).as("quality"),
      Text.langId(col("text")).as("lang_id"),
      Pii.emailCount(col("text")).as("emails"),
      Pii.phoneCount(col("text")).as("phones")))
    val annotate = Json.rows(Trace.df("Grouping", "agg")(Grouping.groupby(ann, Seq("lang_id")).agg(Seq(
      "doc_id" -> "count", "norm_len" -> "sum", "quality" -> "sum", "emails" -> "sum",
      "phones" -> "sum"))))
    val nDocs = annotate.map(r => r.asInstanceOf[Seq[Any]](1).asInstanceOf[Long]).sum
    Trace.count("Text.rows", nDocs.toDouble)

    // 2. exact dedup on the normalized-text fingerprint
    val exact = Json.rows(Trace.df("Dedup", "exact")(Dedup.exact(docs, "doc_id", "text"))
      .filter(col("n_copies") > 1).select("keep_id", "n_copies"))
    val dropped = exact.map(r => r.asInstanceOf[Seq[Any]](1).asInstanceOf[Long] - 1).sum
    Trace.count("Dedup.kept_ratio.num", (nDocs - dropped).toDouble)
    Trace.count("Dedup.kept_ratio.den", nDocs.toDouble)

    // 3. MinHash-LSH near-dups: within the batch and against the standing index
    val ix = Trace("Dedup", "minhashIndex")(Dedup.minhashIndex(docs, "doc_id", "text"))
    val within = Trace.df("Dedup", "minhashLshPairsIndexed")(Dedup.minhashLshPairsIndexed(ix, 0.8))
    val across = Trace.df("Dedup", "minhashLshPairsBetweenIndexed")(
      Dedup.minhashLshPairsBetweenIndexed(ix, standing, 0.8))
    val pairs = within.unionByName(across)
    val pairRows = Json.rows(pairs)
    Trace.count("Dedup.pairs_out", pairRows.size.toDouble)

    // 4. connected components over the near-dup graph
    val cc = Json.rows(Trace.df("Dedup", "connectedComponents")(
      Dedup.connectedComponents(pairs, docs, "doc_id"))
      .filter(col("id") =!= col("component")))
    ix.release()

    // 5. BPE encoding of the batch vocabulary with the set-up merges
    val enc = Json.rows(Trace.df("Bpe", "encodeWords")(Bpe.encodeWords(docs, "text", merges)))

    // 6. per-source token accounting under the learned vocabulary
    val perDoc = Trace.df("Bpe", "docPieceCounts")(Bpe.docPieceCounts(docs, "doc_id", "text", merges))
    val perSource = Json.rows(Trace.df("Grouping", "agg")(Grouping.groupby(
      perDoc.join(docs.select("doc_id", "source"), "doc_id"), Seq("source"))
      .agg(Seq("n_tokens" -> "sum", "n_pieces" -> "sum", "doc_id" -> "count"))))

    Map("annotate" -> annotate, "exact" -> exact, "pairs" -> pairRows, "components" -> cc,
      "encode" -> enc, "per_source" -> perSource)
  }

  def release(): Unit = if (standing != null) standing.release()
}
