package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Text

/** Unigram-language-model subword tokenizer training and encoding
  * (Kudo 2018, "Subword Regularization", arXiv:1804.10959 — the
  * SentencePiece vocabulary family), distributed. Together with [[Bpe]]
  * this covers both production tokenizer families: BPE grows a vocab by
  * merging, the unigram LM starts from a large seed vocabulary and
  * shrinks it by EM + pruning.
  *
  * Deliberate simplifications, chosen so two independent engines can
  * replay training bit-for-bit (the q196 oracle contract):
  *  - HARD EM (Viterbi counts) instead of full forward–backward expected
  *    counts: each E-step assigns every word its single best segmentation
  *    under the current piece costs and counts pieces along it. Viterbi-EM
  *    is the standard tractable variant; the final vocabularies differ
  *    from soft-EM only in low-count tail pieces.
  *  - Count-rank pruning (keep the `vocabSize` highest-count pieces, all
  *    single characters always survive) instead of the likelihood-loss
  *    prune; same shrink schedule shape, engine-exact ordering.
  *  - Integer micro costs: cost(p) = round(−1e6·ln(cnt_p / total)), summed
  *    as exact longs inside the DP, so segmentation argmins compare
  *    integers, never accumulated floats.
  *
  * Determinism: the Viterbi argmin compares struct(cost, seg) — cost
  * first, then the space-joined segmentation string (binary collation,
  * ASCII corpus by [[Text.normalize]]) — a total order both Spark and
  * DuckDB implement identically, so ties cannot diverge.
  *
  * Scale shape — the same trick as [[Bpe]]: ALL statistics live on the
  * unique-word-frequency table ([[Bpe.wordCounts]], one corpus-wide
  * hash-agg), so 100 TB of text costs one shuffle; each EM round is then
  * one job over the vocab-sized word table. The Viterbi DP itself is a
  * single codegen'd higher-order `aggregate` expression per word
  * ([[viterbiBest]]) with the piece-cost table attached as one broadcast
  * map column — segmenting a word never joins, shuffles, or leaves the
  * executor. Encoding a corpus therefore costs one hash-agg to distinct
  * words, one map-side DP pass, one join back. */
object Unigram {

  /** Hard cap on the piece-cost map attached as a broadcast column (the
    * [[graft.ml.TableCleaner]] fit-cap policy: fail loudly rather than
    * silently collecting an unbounded vocabulary). Real unigram vocabs
    * are 32k–256k pieces; the map column is a few MB at the cap. */
  val MaxVocab = 1 << 20

  /** Seed vocabulary: every substring of length 1..`maxPieceLen` of every
    * distinct word (weighted by word count), keeping the `seedSize`
    * heaviest by (count DESC, piece ASC) plus ALWAYS every single
    * character — the alphabet keeps all words segmentable through every
    * prune. Input `wc`: (word, cnt) from [[Bpe.wordCounts]]. Output:
    * (piece, cnt). */
  def seedVocab(wc: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    require(maxPieceLen >= 1 && seedSize >= 1, "need maxPieceLen, seedSize >= 1")
    val subs = wc
      .select(col("cnt"), col("word"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("i"))
      .select(col("cnt"), col("word"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("i") + col("l") <= length(col("word")))
      .select(col("word").substr(col("i") + 1, col("l")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
    // top-seedSize via orderBy+limit = TakeOrdered (per-partition heaps,
    // never a global sort): the substring candidate table is
    // |distinct words|·maxWordLen·maxPieceLen rows — at fleet scale a
    // rank window over it would serialize exactly the way the r10 Ranks
    // ports exist to avoid. Same rows as rank ≤ seedSize by the
    // (cnt DESC, piece) total order; single chars union in afterwards
    // (max-dedup: a char inside the top-K keeps its identical count).
    val top = subs.orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
    top.unionByName(subs.filter(length(col("piece")) === 1))
      .groupBy("piece").agg(max(col("cnt")).as("cnt"))
  }

  /** Attach integer micro costs to a (piece, cnt) vocabulary:
    * cost_micro = round(−1e6·ln(cnt/total)) with total = Σ cnt over the
    * vocabulary. Output: (piece, cnt, cost_micro). */
  def withCosts(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("__total"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        round(-log(col("cnt").cast("double") / col("__total").cast("double"))
          * 1e6).cast(LongType).as("cost_micro"))
  }

  /** The Viterbi DP as ONE codegen-friendly higher-order expression:
    * best segmentation of `word` under `costMap` (map<piece, cost_micro>;
    * pieces longer than `maxPieceLen` are never probed). Returns
    * struct(c: total cost, s: space-joined pieces), or null when the word
    * cannot be segmented (some character missing from the vocabulary, or
    * the word is empty — the [[WordPiece.maxMatchPieces]] convention).
    *
    * State: the array best[0..j] of struct(c, s) per prefix length
    * (null = unreachable), folded left over positions; each step takes
    * the min over the ≤ `maxPieceLen` candidate back-pointers by
    * struct(cost, seg) order — the deterministic tie-break documented in
    * the header. No joins, no shuffle: a scalar expression evaluated
    * wherever the word row already is. */
  def viterbiBest(word: Column, costMap: Column, maxPieceLen: Int): Column = {
    val stT = "struct<c:bigint,s:string>"
    // the DDL cast makes the accumulator's element type NULLABLE — built
    // from the literal init alone it would be containsNull=false, and the
    // first unsegmentable prefix (null best) would NPE the unsafe writer
    // greatest(…, 1) guards the length-0 word: sequence(1, 0) would run
    // DESCENDING (Spark auto-negates the step) and its j=0 step would
    // evaluate element_at(acc, 0) — a runtime error (SQL arrays are
    // 1-based). Mirrors maxMatchPieces; the final when() nulls the result.
    val dp = aggregate(
      sequence(lit(1), greatest(length(word), lit(1))),
      array(struct(lit(0L).as("c"), lit("").as("s"))).cast(s"array<$stT>"),
      (acc, j) => {
        val best = aggregate(
          sequence(greatest(j - maxPieceLen, lit(0)), j - 1),
          lit(null).cast(stT),
          (b, i) => {
            val piece = word.substr(i + 1, j - i)
            val prev = element_at(acc, i + 1)
            val pc = element_at(costMap, piece)
            val cand = when(prev.isNotNull && pc.isNotNull,
              struct((prev.getField("c") + pc).as("c"),
                concat(prev.getField("s"),
                  when(prev.getField("s") === "", lit(""))
                    .otherwise(lit(" ")), piece).as("s")))
            when(b.isNull, cand).when(cand.isNull, b)
              .when(cand < b, cand).otherwise(b)
          })
        concat(acc, array(best))
      })
    when(length(word) === 0, lit(null).cast(stT))
      .otherwise(element_at(dp, length(word) + 1))
  }

  /** One broadcastable single-row frame holding the whole cost table as a
    * map column `__pcost` (≤ [[MaxVocab]] pieces, asserted at plan build
    * from the caller-supplied bound — the vocab frame itself is never
    * collected). */
  private def costMapRow(vocab: DataFrame, maxPieceLen: Int): DataFrame =
    vocab.agg(map_from_entries(collect_list(struct(col("piece"),
      col("cost_micro")))).as("__pcost"),
      count(lit(1)).as("__nv"),
      max(length(col("piece"))).as("__ml"))
    .select(when(col("__nv") > MaxVocab, raise_error(lit(
        s"Unigram: vocabulary exceeds MaxVocab=$MaxVocab pieces")))
      // a piece longer than the Viterbi probe window would never be
      // matched — the train/encode maxPieceLen desync ADVICE r10 flags
      .when(col("__ml") > maxPieceLen, raise_error(concat(lit(
        "Unigram: vocabulary holds a piece of length "), col("__ml"),
        lit(s" > maxPieceLen=$maxPieceLen - unreachable at Viterbi time;" +
          " raise maxPieceLen or retrain"))))
      .otherwise(col("__pcost")).as("__pcost"))

  /** Viterbi-segment every word of a (word, cnt, …) frame under `vocab`
    * ((piece, cnt, cost_micro)): appends `c` (total micro cost) and `s`
    * (space-joined pieces), null for unsegmentable words. */
  def segmentWords(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val best = viterbiBest(col("word"), col("__pcost"), maxPieceLen)
    words.crossJoin(broadcast(costMapRow(vocab, maxPieceLen)))
      .withColumn("__b", best)
      .withColumn("c", col("__b").getField("c"))
      .withColumn("s", col("__b").getField("s"))
      .drop("__pcost", "__b")
  }

  /** One hard-EM round: Viterbi-count pieces over the weighted word table,
    * keep every single character alive (count floor 1), prune to the
    * `vocabSize` heaviest (count DESC, piece ASC; single chars always
    * survive), re-derive costs. `chars`: the alphabet frame (piece) fixed
    * at seeding. Output: (piece, cnt, cost_micro). */
  def emRound(words: DataFrame, vocab: DataFrame, chars: DataFrame,
      maxPieceLen: Int, vocabSize: Int): DataFrame = {
    val counts = segmentWords(words, vocab, maxPieceLen)
      .filter(col("s").isNotNull)
      .select(col("cnt"), explode(split(col("s"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
    val floored = counts.join(chars.select(col("piece")), Seq("piece"), "full_outer")
      .select(col("piece"),
        when(length(col("piece")) === 1,
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)))
          .otherwise(col("cnt")).as("cnt"))
      .filter(col("cnt").isNotNull)
    val pruned = floored.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece").asc)))
      .filter(col("rk") <= vocabSize || length(col("piece")) === 1)
      .select(col("piece"), col("cnt"))
    withCosts(pruned)
  }

  /** Train a unigram-LM vocabulary: seed from substrings, run `emRounds`
    * hard-EM shrink rounds. Words longer than `maxWordLen` are excluded
    * from training (they would dominate seed substrings without bounding
    * the oracle's unrolled DP; encoding has no such cap). Returns the
    * final (piece, cnt, cost_micro) vocabulary. */
  def train(docs: DataFrame, textCol: String, maxWordLen: Int = 8,
      maxPieceLen: Int = 4, seedSize: Int = 64, vocabSize: Int = 48,
      emRounds: Int = 2): DataFrame = {
    require(maxWordLen >= 1 && emRounds >= 1, "need maxWordLen, emRounds >= 1")
    val words = Bpe.wordCounts(docs, textCol)
      .filter(length(col("word")) <= maxWordLen)
      .localCheckpoint(true)
    val seed = seedVocab(words, maxPieceLen, seedSize)
    val chars = seed.filter(length(col("piece")) === 1)
      .select(col("piece")).localCheckpoint(true)
    var vocab = withCosts(seed).localCheckpoint(true)
    for (_ <- 1 to emRounds)
      // eager per-round pin: the [[Graph.pageRank]] lineage discipline
      vocab = emRound(words, vocab, chars, maxPieceLen, vocabSize)
        .localCheckpoint(true)
    vocab
  }

  /** Persist a trained vocabulary: ONE parquet table — (piece, cnt,
    * cost_micro) IS the whole model, so the single atomic-enough table
    * write needs no multi-table commit marker (a crash mid-write leaves a
    * directory [[loadVocab]] rejects fail-fast, never a mixed model —
    * the single-table degenerate of the [[IndexFiles]] commit-marker
    * contract). Train once, [[encodeCounts]] every ingest
    * batch forever. */
  def saveVocab(vocab: DataFrame, path: String): Unit =
    vocab.select(col("piece"), col("cnt"), col("cost_micro"))
      .write.mode("overwrite").parquet(path)

  /** Reload a [[saveVocab]] vocabulary, schema-checked fail-fast. */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val v = try spark.read.parquet(path)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"unigram vocab at $path is unreadable - not a saved vocab?", e) }
    val need = Seq("piece", "cnt", "cost_micro")
    require(need.forall(v.columns.contains),
      s"unigram vocab at $path lacks ${need.filterNot(v.columns.contains).mkString(",")}")
    v
  }

  /** Encode a corpus under a trained vocabulary: per document, the word
    * count and total piece count, with the conventional char fallback
    * (an unsegmentable word costs length(word) pieces — how production
    * tokenizers spend byte fallbacks). One hash-agg to (doc, word)
    * counts, one DP pass over DISTINCT words, one join back — the word
    * table is vocabulary-sized, so encoding never runs the DP twice for
    * the same word. Output: (docCol, n_words, n_pieces). */
  def encodeCounts(docs: DataFrame, docCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val dw = Par.spread(docs).select(col(docCol),
        explode(Text.tokens(Text.normalize(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(docCol), col("word")).agg(count(lit(1)).as("n"))
    val words = dw.select(col("word")).distinct()
    val np = segmentWords(words, vocab, maxPieceLen)
      .select(col("word"),
        coalesce(size(split(col("s"), " ")).cast(LongType),
          length(col("word")).cast(LongType)).as("np"))
    dw.join(np, Seq("word"))
      .groupBy(col(docCol))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("np")).as("n_pieces"))
  }
}
