package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Text

/** Multinomial Naive Bayes text classification (McCallum & Nigam 1998) —
  * the workhorse shallow classifier of large-scale curation pipelines
  * (fastText-style language ID, domain routing, quality tiering run this
  * shape when a GPU model is too expensive for 100 TB). The reference
  * engine has no ML surface at all; this extends the [[graft.ml
  * .TableCleaner]] family to text labels.
  *
  * Determinism at scale (the [[Lm]] contract): every ln is quantized to
  * integer micro-nats ONCE, on a per-(label, token) / per-label scalar —
  * round(1e6·ln(c+1)) — before any order-dependent accumulation, so
  * document scores are exact long sums, identical on any engine, cluster
  * or partitioning, and the argmax label (ties → lexicographically first)
  * is engine-stable. Add-one smoothing: p(t|ℓ) = (c(ℓ,t)+1)/(T_ℓ+V) with
  * V the training vocabulary size; a token unseen for label ℓ contributes
  * ln(0+1) = 0 numerator micro-nats, so the left-join coalesce IS the
  * smoothing — no dense |labels|×|vocab| table is ever materialized.
  *
  * Scale shape: training is one explode + map-side-combined hash agg
  * (shuffled volume = per-label vocabulary, not the corpus); prediction
  * joins exploded test tokens to the likelihood table on the TOKEN key
  * (AQE broadcasts a small vocab, sort-merge otherwise), aggregates by
  * (doc, label), then cross-joins the label-cardinality stats frame
  * (broadcast — #labels is small by definition of classification). No
  * collect, no UDFs, no driver-side model object: the "model" is two
  * DataFrames a caller can persist as parquet like any graft index.
  */
object Classify {

  /** Trained multinomial NB model as two relational frames:
    *  - `classStats`: (label, prior_micro, denom_micro) — quantized
    *    ln-prior and the per-token denominator ln(T_label + V).
    *  - `tokenLik`: (label, token, lik_micro) — quantized ln(c+1)
    *    numerators, only for (label, token) pairs SEEN in training. */
  final case class NbModel(classStats: DataFrame, tokenLik: DataFrame)

  private def toks(df: DataFrame, idCols: Seq[String], textCol: String): DataFrame =
    Par.spread(df).select(idCols.map(col) :+
      explode(Text.tokens(Text.normalize(col(textCol)))).as("token"): _*)

  /** Fit a multinomial NB on `docs` (labelCol, textCol). One corpus pass:
    * (label, token) counts, per-label token totals, doc-count priors, and
    * the global vocabulary size, all as exact long aggregates quantized at
    * the end. */
  def nbTrain(docs0: DataFrame, labelCol: String, textCol: String): NbModel = {
    // a NULL label is not a class: dropping it here keeps the predict-side
    // (score DESC, label) tie-break engine-portable — Spark windows sort a
    // NULL label FIRST (asc nulls-first) while SQL engines defaulting to
    // nulls-last sort it LAST, so a NULL class could win ties on one
    // engine and lose them on the other (advisor r8)
    val docs = docs0.filter(col(labelCol).isNotNull)
    val t = toks(docs, Seq(labelCol), textCol)
    val counts = t.groupBy(col(labelCol).as("label"), col("token"))
      .agg(count(lit(1)).as("c"))
    val perLabel = counts.groupBy("label").agg(sum(col("c")).as("t_label"))
    val vocab = counts.select(col("token")).distinct()
      .agg(count(lit(1)).as("v_size"))
    val nDocs = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val nTotal = docs.agg(count(lit(1)).as("n_total"))
    // prior_micro = round(ln(n_docs)·1e6) − round(ln(N)·1e6): each ln
    // quantized separately (the one-rounding-per-scalar contract)
    val classStats = nDocs.crossJoin(broadcast(nTotal)).join(perLabel, Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("label"),
        (round(log(col("n_docs")) * 1e6).cast(LongType) -
          round(log(col("n_total")) * 1e6).cast(LongType)).as("prior_micro"),
        round(log(col("t_label") + col("v_size")) * 1e6).cast(LongType)
          .as("denom_micro"))
    val tokenLik = counts.select(col("label"), col("token"),
      round(log(col("c") + lit(1)) * 1e6).cast(LongType).as("lik_micro"))
    NbModel(classStats, tokenLik)
  }

  /** Score every `docs` row against every model label and keep the argmax:
    * output (idCol, pred_label, score_micro) — score_micro = prior +
    * Σ_t lik − n_tok·denom, an exact long. Docs with zero tokens after
    * normalization still classify (prior-only evidence). Ties break to the
    * lexicographically smallest label. */
  def nbPredict(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    rankedLabels(model, docs, idCol, textCol)
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("pred_label"), col("score_micro"))

  /** Every (doc, label) score with its rank `rn` among the doc's labels,
    * by (score_micro DESC, label ASC). */
  private def rankedLabels(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = toks(docs, Seq(idCol), textCol)
    // per-(doc, label) numerator over tokens SEEN for that label —
    // token-keyed join, never a dense doc×label×vocab expansion
    val overlap = t.join(model.tokenLik, Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("lik_micro")).as("num_micro"))
    val nTok = docs.select(col(idCol), col(textCol))
      .withColumn("n_tok", size(Text.tokens(Text.normalize(col(textCol)))))
      .select(col(idCol), when(col("n_tok") > 0, col("n_tok")).otherwise(lit(0))
        .cast(LongType).as("n_tok"))
    val scored = nTok.crossJoin(broadcast(model.classStats))
      .join(overlap, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior_micro") + coalesce(col("num_micro"), lit(0L)) -
          col("n_tok") * col("denom_micro")).as("score_micro"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_micro").desc, col("label"))
    scored.withColumn("rn", row_number().over(w))
  }

  /** [[nbPredict]] plus the DECISION MARGIN — the exact micro-nat gap
    * between the best and runner-up class scores, the confidence proxy a
    * calibration report or an abstain threshold keys on (a posterior
    * would need an exp/normalize tree; the margin is the same ordering in
    * exact integers). Single-class models emit a null margin. Output:
    * (id, pred_label, score_micro, margin_micro). Same scale shape as
    * [[nbPredict]] — the window keeps two rows per doc instead of one. */
  def nbPredictTop2(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    rankedLabels(model, docs, idCol, textCol)
      .filter(col("rn") <= 2)
      .groupBy(col(idCol))
      .agg(
        max(when(col("rn") === 1, col("label"))).as("pred_label"),
        max(when(col("rn") === 1, col("score_micro"))).as("score_micro"),
        max(when(col("rn") === 2, col("score_micro"))).as("second_micro"))
      .select(col(idCol), col("pred_label"), col("score_micro"),
        (col("score_micro") - col("second_micro")).as("margin_micro"))

  /** Parquet persistence for the standing-classifier shape (train once,
    * classify every ingest batch): two tables, `token_lik` and
    * `class_stats`, under `path` — the [[IndexFiles]] protocol every stored
    * index uses, with `class_stats` as the commit marker. The marker is
    * deleted before `token_lik` is written and written last, so a save or
    * re-save interrupted anywhere leaves no `class_stats`, which
    * [[loadNbModel]] rejects fail-fast — never new likelihoods beside
    * stale stats. */
  def saveNbModel(m: NbModel, path: String): Unit =
    IndexFiles.save(path, Seq("token_lik" -> m.tokenLik, "class_stats" -> m.classStats))

  def loadNbModel(spark: SparkSession, path: String): NbModel = {
    val part = IndexFiles.open(spark, path, "NbModel", Seq("token_lik", "class_stats"))
    NbModel(part("class_stats"), part("token_lik"))
  }
}
