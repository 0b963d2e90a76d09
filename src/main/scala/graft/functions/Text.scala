package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for training-data pipelines (north-star
  * extension beyond the reference surface — SURVEY §2.1 ✚): tokenization,
  * language-ID, quality scoring, fingerprinting, shingling, SimHash.
  *
  * Everything here is built from built-in functions (`md5`, regexes,
  * higher-order array functions) and graft's own Catalyst kernels — no
  * UDFs, so it scales linearly with executors. The higher-order functions
  * are the one part Spark runs interpreted (CodegenFallback). Hashes are
  * md5-based so the DuckDB oracle can reproduce them bit-for-bit.
  */
object Text {

  /** Whitespace tokenizer. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Unicode normalization (UAX #15) — codegen'd native expression; see
    * [[graft.expressions.UnicodeNormalize]]. Works on any session. Run it
    * before [[fingerprint]]/[[wordShingles]] when a corpus may mix
    * composed and decomposed encodings — byte-different, render-identical
    * text otherwise defeats exact dedup. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    graft.expressions.Kernels.normalize(c, form)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-style subword pre-tokenization (the GPT-2-family pattern shape,
    * ASCII-only so Java and RE2 regex engines agree): letter runs, digit
    * runs, and punctuation runs each form a token, with an optional leading
    * space attached. The realistic token-count proxy for LLM data budgeting
    * (whitespace counting underestimates ~30% on punctuated text).
    *
    * A real learned BPE exists since r8 — [[graft.operators.Bpe]] trains
    * merge tables with one collect and a driver-side merge loop, and
    * applies them with one codegen'd kernel (`BpeEncodeLong`, a left
    * fold per merge), retiring the r4 claim that it needed thousands of
    * driver-synced iterations. This proxy REMAINS the budget yardstick
    * because it is model-agnostic: any fixed learned vocab misstates
    * budgets for every model whose vocab differs, while each pre-token
    * below tokenizes to ≥ 1 real subword tokens in ALL BPE-family models,
    * so its count is a deterministic LOWER bound (tight for common words,
    * which tokenize whole), reproducible on every engine — and the
    * q51/q63/q66 budget numbers are defined against it explicitly rather
    * than against any one model's vocab. Use [[graft.operators.Bpe]] when
    * the vocabulary itself is the deliverable. */
  val bpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpeishTokens(c: Column): Column = regexp_extract_all(c, lit(bpeishPattern), lit(0))

  def bpeishTokenCount(c: Column): Column = size(bpeishTokens(c))

  /** Normalize: lowercase, collapse non-alphanumeric runs to single spaces. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Deterministic 128-bit document fingerprint: md5 over normalized text.
    * (The reference has no fingerprinting; rolling-hash analog chosen as md5
    * so the oracle matches exactly.) */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Markup stripper — the first pass a crawled corpus takes before any
    * quality/dedup signal (raw HTML inflates length counts, poisons
    * shingles, and scores as "high punctuation" garbage): drop `<...>`
    * tags, decode the five ubiquitous HTML entities plus `&nbsp;`, and
    * collapse runs of whitespace. `&amp;` decodes LAST so `&amp;lt;`
    * correctly yields the literal `&lt;` (single-pass entity semantics).
    * NOT a full HTML parser — no script/style content removal, no charset
    * sniffing; it is the cheap codegen'd projection that handles the
    * overwhelming bulk of markup residue, engine-portable (plain
    * regex/replace on both sides of the q174 oracle). */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Distinct n-word shingles, built with `transform` over an index sequence
    * (no explode — stays one row per document until the caller decides to
    * shuffle). Empty array when the document has fewer than n tokens. */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Fixed order = deterministic tie-break (first wins). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "los"),
    "fr" -> Seq("le", "la", "et", "un", "une", "est", "dans", "les"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不"))

  /** #tokens of `c` that appear in `profile`. */
  private def profileHits(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(profile.map(lit): _*), t)))

  /** Language-ID: argmax of stopword-profile hit counts over lowercased
    * tokens; "und" (undetermined) when no profile scores > 0. */
  def langId(c: Column): Column = {
    val toks = tokens(lower(c))
    val scores = langProfiles.map { case (l, p) => (l, profileHits(toks, p)) }
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** Heuristic quality score in [0,1]:
    *   0.3 * min(tokens/100, 1)            — enough content
    * + 0.4 * min(5 * stopword_ratio, 1)    — natural-language-ness
    * + 0.3 * alnum_chars / chars           — low punctuation/noise
    * Pure double arithmetic, evaluated in a fixed order so the DuckDB oracle
    * reproduces it bit-for-bit.
    *
    * Empty and whitespace-only documents score 0.0 (VERDICT r4 §wrong-5: the
    * unguarded alnum/chars ratio made an EMPTY doc NaN, and NaN sorts above
    * every double on both engines, so a `quality >= t` gate KEPT empty docs
    * — the opposite of its intent). Null input stays null (SQL semantics). */
  def qualityScore(c: Column): Column = {
    val toks = tokens(lower(c))
    val nTok = size(toks).cast("double")
    val stopHits = profileHits(toks, langProfiles.head._2).cast("double")
    val alnum = length(regexp_replace(c, "[^A-Za-z0-9]", "")).cast("double")
    val chars = length(c).cast("double")
    when(c.isNull, lit(null).cast("double"))
      .when(length(trim(c)) > 0,
        lit(0.3) * least(nTok / lit(100.0), lit(1.0)) +
          lit(0.4) * least(lit(5.0) * (stopHits / nTok), lit(1.0)) +
          lit(0.3) * (alnum / chars))
      .otherwise(lit(0.0))
  }

  /** 32-bit word from hex chars [from, from+8) of an md5 digest, as a long.
    * Cross-engine: Spark `conv(hex,16,10)`; DuckDB nibble-sum arithmetic. */
  def md5Word32(s: Column, from: Int): Column =
    conv(substring(md5(s), from, 8), 16, 10).cast("long")

  /** 64-bit SimHash over whitespace tokens of the normalized text.
    * The token hash is the first two 32-bit md5 words: bits 0–31 of the
    * simhash vote on w1 (hex chars 9–16), bits 32–63 on w0 (hex chars 1–8) —
    * per-word extraction keeps every intermediate inside BIGINT range on
    * both engines (a materialized 64-bit hash would overflow the oracle's
    * signed arithmetic). Bit j of the result is 1 iff the (+1/−1) vote sum
    * over tokens is positive. ONE pass over the tokens with a 64-counter
    * array accumulator — md5 once per token, not once per bit.
    * 64 bits (vs the classic 32) keeps Hamming-band buckets selective at
    * web-corpus scale: 4×16-bit bands ⇒ 65,536 buckets per band, still
    * pigeonhole-complete for maxHamming ≤ 3. */
  def simhash(c: Column): Column = {
    val toks = tokens(normalize(c))
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val w0 = md5Word32(t, 1)
        val w1 = md5Word32(t, 9)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, j) => {
            val word = when(j < 32, w1).otherwise(w0)
            val sh = when(j < 32, j).otherwise(j - 32)
            a + lit(2) * pmod(floor(word / pow(lit(2.0), sh)), lit(2)).cast("long") - lit(1)
          })
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        // shiftleft's public overload takes an Int literal; inside a lambda
        // the shift amount is a Column, so call the SQL builtin directly
        (v, j) => when(v > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }
}
