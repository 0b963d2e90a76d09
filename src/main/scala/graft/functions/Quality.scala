package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The full Gopher document-quality rule set (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher",
  * table A1) as engine-portable column expressions — the standard pre-filter
  * battery a training-data pipeline runs before dedup. Complements
  * [[Text.qualityScore]] (a scalar blend) with the paper's individual
  * HARD gates, each reported separately so a curation job can log WHY a
  * document was dropped (per-rule drop rates are the first thing one audits
  * when a filter eats too much of a crawl).
  *
  * The two Gopher repetition rules (duplicate line/paragraph fraction,
  * top-n-gram share) live in [[Repetition]] — they need an explode+agg
  * shape, not a per-row scalar. Everything here is built-ins only (splits,
  * `filter`/`aggregate` higher-order functions, `replace` counting): a
  * stateless projection, linear in bytes, nothing to tune at 100 TB. The
  * higher-order functions are `CodegenFallback` expressions, so those rules
  * run interpreted inside the generated projection.
  *
  * Cross-engine: every rule is reproduced bit-for-bit by the q81 DuckDB
  * twin (same splits, same trim semantics, same integer thresholds).
  * Null text yields null rule columns and a null verdict (SQL semantics);
  * empty/whitespace-only text fails the word-count gate and so fails
  * `pass`, never NaN (the q49-era lesson — see `qualityScore`'s guard).
  */
object Quality {

  /** Gopher defaults (table A1). Exposed so callers can tighten/loosen. */
  case class GopherThresholds(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopwordHits: Int = 2)

  /** The paper's 8 required stopwords (§A.1.1). */
  val RequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Count of non-overlapping occurrences of literal `sub` in `c` —
    * (len - len(replace)) / len(sub), the trick both engines evaluate
    * identically. */
  private def occurrences(c: Column, sub: String): Column =
    (length(c) - length(replace(c, lit(sub), lit("")))) / lit(sub.length)

  /** All Gopher rules as one struct-per-document projection. Fields:
    * `n_words`, the seven `ok_*` booleans, and `pass` (AND of all).
    * Divisions are guarded by the word/line counts, which are >= 1 for any
    * non-null text (split of "" yields one empty token, which then fails
    * the alpha/word-count gates — never a 0/0). */
  def gopherRules(c: Column, t: GopherThresholds = GopherThresholds()): Column = {
    val toks = Text.tokens(c)
    val nWords = size(toks).cast("long")
    // empty-after-trim text: split yields [""], a token of length 0 —
    // treat as 0 words so the word-count gate reads honestly
    val isBlank = length(trim(c)) === 0
    val n = when(isBlank, lit(0L)).otherwise(nWords)
    val nD = n.cast("double")

    val meanLen = when(n > 0,
      aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") / nD)
    val symbolRatio = when(n > 0,
      (occurrences(c, "#") + occurrences(c, "...")).cast("double") / nD)

    val lines = split(c, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac =
      size(filter(lines, l => trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("\u2022"))).cast("double") / nLines
    val ellipsisFrac =
      size(filter(lines, l => rtrim(l).endsWith("..."))).cast("double") / nLines

    val alphaFrac = when(n > 0,
      size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("double") / nD)

    val lowToks = Text.tokens(lower(c))
    val stopHits = RequiredStopwords
      .map(w => when(array_contains(lowToks, w), 1).otherwise(0))
      .reduce(_ + _)

    val okWordCount = n >= t.minWords && n <= t.maxWords
    val okMeanLen = coalesce(
      meanLen >= t.minMeanWordLen && meanLen <= t.maxMeanWordLen, lit(false))
    val okSymbol = coalesce(symbolRatio <= t.maxSymbolRatio, lit(false))
    val okBullet = bulletFrac < t.maxBulletLineFrac
    val okEllipsis = ellipsisFrac < t.maxEllipsisLineFrac
    val okAlpha = coalesce(alphaFrac > t.minAlphaWordFrac, lit(false))
    val okStopwords = stopHits >= t.minStopwordHits

    when(c.isNotNull, struct(
      n.as("n_words"),
      okWordCount.as("ok_word_count"),
      okMeanLen.as("ok_mean_word_len"),
      okSymbol.as("ok_symbol_ratio"),
      okBullet.as("ok_bullet_lines"),
      okEllipsis.as("ok_ellipsis_lines"),
      okAlpha.as("ok_alpha_words"),
      okStopwords.as("ok_stopwords"),
      (okWordCount && okMeanLen && okSymbol && okBullet && okEllipsis &&
        okAlpha && okStopwords).as("pass")))
  }
}
