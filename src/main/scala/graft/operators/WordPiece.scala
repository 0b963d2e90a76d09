package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Text

/** WordPiece subword tokenizer training and encoding (Schuster & Nakajima
  * 2012; the BERT vocabulary family), distributed — the third production
  * tokenizer family next to [[Bpe]] (merge by raw pair count) and
  * [[Unigram]] (EM-pruned LM): WordPiece merges by LIKELIHOOD score
  *   score(a, b) = count(ab) / (count(a) · count(b)),
  * and — the real difference at encode time — segments with greedy
  * longest-match-first (maximal munch) against the FINAL vocabulary, not
  * by replaying merges. Continuation pieces carry the conventional `##`
  * prefix ("lower" → `l ##o ##w ##e ##r`), which [[Text.normalize]]'s
  * `[a-z0-9]` alphabet can never collide with.
  *
  * Scale shape: all statistics live on the unique-word-frequency table
  * ([[Bpe.wordCounts]], ONE corpus-wide hash-agg), each merge round is a
  * couple of vocab-sized jobs, and encoding is a join-free codegen'd
  * expression over DISTINCT words. Score-based merges are sequential:
  * merging (a, b) SHRINKS the remaining counts of a and b, which can
  * RAISE the score of every other pair touching them above any
  * still-unmerged candidate — so one merge per round, exactly how
  * reference WordPiece trainers iterate, and `numMerges` should stay in
  * the 10²–10⁴ regime a scheduler round-trip per merge can afford
  * ([[Bpe.train]] runs its merge loop on the driver instead).
  *
  * Determinism: pair and symbol counts are exact long sums; the argmax
  * score is ONE double division of two exactly-representable integers
  * (count product in Decimal(38,0) — past 2⁶³ at fleet scale), tie-broken
  * (score DESC, a ASC, b ASC) — bit-identical on any engine replaying the
  * same tree, which the q202 oracle does. */
object WordPiece {

  /** Hard cap on the vocab membership map attached as a broadcast column
    * (the [[Unigram.MaxVocab]] policy: fail loudly, never collect an
    * unbounded vocabulary). */
  val MaxVocab = 1 << 20

  /** A word as its initial WordPiece symbols: first character bare, every
    * later character `##`-prefixed ("low" → "l ##o ##w"). */
  def wpSymbols(word: Column): Column =
    regexp_replace(trim(regexp_replace(word, "(.)", "$1 ")), " ", " ##")

  /** Strip a continuation marker: "##ow" → "ow", "ow" → "ow". */
  private def stripCont(p: Column): Column =
    when(p.startsWith("##"), p.substr(lit(3), length(p) - 2)).otherwise(p)

  /** One greedy merge of pair (a, b) over a space-joined symbol string —
    * BPE's merge fold ([[Bpe]]) with the WordPiece fusion rule: `b` fuses
    * onto an accumulator that equals `a` or ends with " " + `a`, and the
    * fused symbol is a + b-without-`##` (the right side inside a word is
    * always a continuation), so the result keeps a's word-position
    * status. */
  def applyMerge(symsStr: Column, a: Column, b: Column): Column = {
    val sy = split(symsStr, " ")
    aggregate(
      slice(sy, lit(2), size(sy) - 1), element_at(sy, 1),
      (acc, x) =>
        when(x === b && (acc === a || acc.endsWith(concat(lit(" "), a))),
          concat(acc, stripCont(b)))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** Per-symbol weighted frequency of a (word, cnt, syms) state frame:
    * (piece, sc) — the score denominators. */
  private def symbolCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(split(col("syms"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("sc"))

  /** Train `numMerges` WordPiece merges. Returns the ordered merge table
    * (rank, sym_a, sym_b, merged, pair_count, score_nano) — one row per
    * merge, a driver-safe model artifact. Stops early when no adjacent
    * pair remains. `score_nano` is the informational 10⁹-quantized
    * likelihood score; ordering is decided on the full double. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    var words = Bpe.wordCounts(docs, textCol)
      .select(col("word"), col("cnt"), wpSymbols(col("word")).as("syms"))
      .localCheckpoint(true) // eager per-round pin: the Bpe.train discipline
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long)]
    var done = false
    while (merges.size < numMerges && !done) {
      val sc = symbolCounts(words)
      val scored = Bpe.pairCounts(words)
        .join(sc.select(col("piece").as("a"), col("sc").as("sa")), Seq("a"))
        .join(sc.select(col("piece").as("b"), col("sc").as("sb")), Seq("b"))
        .withColumn("score", col("pc").cast("double")
          / (col("sa").cast(dec) * col("sb").cast(dec)).cast("double"))
      val top = scored.orderBy(col("score").desc, col("a"), col("b"))
        .limit(1).select("a", "b", "pc", "score").collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, pc, s) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2), top(0).getDouble(3))
        val merged = a + (if (b.startsWith("##")) b.substring(2) else b)
        merges += ((merges.size + 1, a, b, merged, pc, math.round(s * 1e9)))
        words = words.select(col("word"), col("cnt"),
            applyMerge(col("syms"), lit(a), lit(b)).as("syms"))
          .localCheckpoint(true)
      }
    }
    merges.toSeq.toDF("rank", "sym_a", "sym_b", "merged", "pair_count",
      "score_nano")
  }

  /** The encoding vocabulary a merge table implies: every initial symbol
    * of the corpus alphabet (bare + `##` forms, from the corpus itself —
    * cheap: |alphabet| ≤ 36 under [[Text.normalize]]) plus every merged
    * piece. Output: (piece). */
  def vocabPieces(docs: DataFrame, textCol: String,
      merges: DataFrame): DataFrame = {
    val chars = Bpe.wordCounts(docs, textCol)
      .select(explode(split(wpSymbols(col("word")), " ")).as("piece"))
      .distinct()
    chars.unionByName(merges.select(col("merged").as("piece"))).distinct()
  }

  /** Greedy longest-match-first segmentation of `word` against a vocab
    * membership map (map<piece, 1>): the WordPiece MaxMatch algorithm.
    * Returns the space-joined pieces, or null when some position matches
    * nothing (the whole word becomes `[UNK]` — the production
    * convention, unlike [[Unigram]]'s per-char fallback). One
    * codegen-friendly higher-order fold over positions (each step
    * consumes ≥ 1 character, so `length(word)` steps suffice) with an
    * inner first-hit fold over candidate lengths `maxPieceLen`..1 —
    * join-free, shuffle-free, evaluated wherever the word row lives. */
  def maxMatchPieces(word: Column, vocabMap: Column,
      maxPieceLen: Int): Column = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    val accT = "struct<p:int,s:string,u:boolean>"
    // DDL cast: nullable fields (the HOF-literal nullability gotcha)
    val res = aggregate(
      sequence(lit(1), greatest(length(word), lit(1))),
      struct(lit(1).as("p"), lit("").as("s"), lit(false).as("u")).cast(accT),
      (acc, _) => {
        val pos = acc.getField("p")
        val idle = acc.getField("u") || pos > length(word)
        val best = aggregate(
          sequence(lit(maxPieceLen), lit(1), lit(-1)),
          lit(null).cast("struct<l:int,pc:string>"),
          (b, l) => {
            val raw = word.substr(pos, l)
            val cand = when(pos === 1, raw)
              .otherwise(concat(lit("##"), raw))
            when(b.isNotNull, b)
              .when(pos + l <= length(word) + 1
                  && element_at(vocabMap, cand).isNotNull,
                struct(l.as("l"), cand.as("pc")))
          })
        when(idle, acc).otherwise(coalesce(
          when(best.isNotNull,
            struct((pos + best.getField("l")).as("p"),
              concat(acc.getField("s"),
                when(acc.getField("s") === "", lit(""))
                  .otherwise(lit(" ")),
              best.getField("pc")).as("s"),
              lit(false).as("u")).cast(accT)),
          struct((length(word) + 1).as("p"), acc.getField("s").as("s"),
            lit(true).as("u")).cast(accT)))
      })
    when(res.getField("u") || length(word) === 0,
      lit(null).cast("string")).otherwise(res.getField("s"))
  }

  /** One broadcastable single-row frame holding the vocab as a membership
    * map `__wpv` (≤ [[MaxVocab]], asserted at plan build). Also asserts
    * every piece is REACHABLE under `maxPieceLen` (ADVICE r10): merges can
    * mint pieces longer than the encoder's probe window (piece length
    * roughly doubles per merge chain), and an over-long piece would make
    * MaxMatch segmentation silently diverge from what the trained vocab
    * implies. Raw length excludes the `##` continuation prefix — that is
    * what the substr probe compares against. The check is one extra agg
    * column on a frame this function already aggregates: free. */
  private def vocabMapRow(vocab: DataFrame, maxPieceLen: Int): DataFrame =
    vocab.agg(map_from_entries(collect_list(struct(col("piece"), lit(1))))
        .as("__wpv"), count(lit(1)).as("__nv"),
        max(length(col("piece")) -
          when(col("piece").startsWith("##"), 2).otherwise(0)).as("__ml"))
      .select(when(col("__nv") > MaxVocab, raise_error(lit(
          s"WordPiece: vocabulary exceeds MaxVocab=$MaxVocab pieces")))
        .when(col("__ml") > maxPieceLen, raise_error(concat(lit(
          "WordPiece: vocabulary holds a piece of raw length "),
          col("__ml"), lit(s" > maxPieceLen=$maxPieceLen - unreachable at" +
            " MaxMatch time; raise maxPieceLen or retrain"))))
        .otherwise(col("__wpv")).as("__wpv"))

  /** MaxMatch-segment every word of a (word, …) frame under a (piece)
    * vocab: appends `s` (space-joined pieces; null = `[UNK]` word). */
  def segmentWords(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame =
    words.crossJoin(broadcast(vocabMapRow(vocab, maxPieceLen)))
      .withColumn("s", maxMatchPieces(col("word"), col("__wpv"), maxPieceLen))
      .drop("__wpv")

  /** Encode a corpus under a trained vocab: per document, word count and
    * total piece count, an `[UNK]` word costing exactly 1 piece (the
    * production single-UNK-token convention). One hash-agg to
    * (doc, word) counts, one MaxMatch pass over DISTINCT words, one join
    * back. Output: (docCol, n_words, n_pieces). */
  def encodeCounts(docs: DataFrame, docCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 8): DataFrame = {
    val dw = Par.spread(docs).select(col(docCol),
        explode(Text.tokens(Text.normalize(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(docCol), col("word")).agg(count(lit(1)).as("n"))
    val np = segmentWords(dw.select(col("word")).distinct(), vocab, maxPieceLen)
      .select(col("word"),
        coalesce(size(split(col("s"), " ")).cast(LongType), lit(1L)).as("np"))
    dw.join(np, Seq("word"))
      .groupBy(col(docCol))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("np")).as("n_pieces"))
  }

  /** Persist the encoding vocabulary (one (piece) parquet table — the
    * [[Unigram.saveVocab]] single-table contract). */
  def saveVocab(vocab: DataFrame, path: String): Unit =
    vocab.select(col("piece")).write.mode("overwrite").parquet(path)

  /** Reload a [[saveVocab]] vocabulary, schema-checked fail-fast. */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val v = try spark.read.parquet(path)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"wordpiece vocab at $path is unreadable - not a saved vocab?", e) }
    require(v.columns.contains("piece"),
      s"wordpiece vocab at $path lacks a piece column")
    v
  }
}
