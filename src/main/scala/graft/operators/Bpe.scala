package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{BpeMerges, Kernels}
import graft.functions.Text

/** Learned byte-pair-encoding vocabulary training and subword encoding
  * (Sennrich, Haddow & Birch 2016), distributed (north-star extension: the
  * tokenizer-training half of an LLM data pipeline — the reference has no
  * tokenizer surface; [[graft.functions.Text.bpeishTokens]] remains the
  * model-agnostic budget proxy, this is the real learned vocabulary).
  *
  * Scale shape — the textbook trick that makes BPE training a Spark
  * problem: ALL pair statistics live on the unique-word-frequency table
  * ([[wordCounts]] — ONE corpus-wide hash-agg shuffle, map-side combined),
  * weighted by word count. That table is bounded by the language's
  * vocabulary, not the token count, so it is collected ONCE — with each
  * word's initial symbols from [[charSymbols]], still computed in Spark so
  * the regex semantics stay Spark's — and the whole merge loop runs on
  * the driver ([[learnMerges]]): 100 TB of text costs one shuffle and one
  * collect, whatever `numMerges` is. Pair counts are kept incrementally,
  * as in Sennrich et al.'s reference trainer: a merge re-counts only the
  * words that contain the merged pair, so a 30k-merge vocabulary never
  * rescans the whole vocabulary per merge. Encoding never shuffles at all.
  *
  * Greedy merge application is a left fold per merge, in merge order:
  * walking the word's symbols, merging pair (a,b) fuses a symbol `b` onto
  * the symbol emitted last when that symbol is exactly `a`, and emits
  * every other symbol as is. Non-overlap falls out naturally: a fused "ab"
  * is not `a`, so "a a a a" under (a,a) folds to "aa aa", not "aaa a" —
  * the exact greedy left-to-right semantics of the reference algorithm.
  * DuckDB's `list_reduce` replays the identical fold over the space-joined
  * symbol string for the oracle. Encoding runs it in one codegen'd kernel,
  * [[graft.expressions.BpeEncodeLong]]: the merge list is interned once on
  * the driver ([[graft.expressions.BpeMerges]]), and a merge is one pass
  * of int compares.
  *
  * Determinism: pair counts are exact long sums; the argmax tie-breaks by
  * (count DESC, left ASC, right ASC), strings compared as UTF-8 bytes
  * (Spark's and DuckDB's order — `String.compareTo`'s UTF-16 order differs
  * above the BMP) — bit-identical on any engine.
  * Applying the learned merges in order to a training word reproduces that
  * word's final training segmentation (each encode step performs the same
  * transformation training performed), which q128 exploits as a
  * two-code-paths-one-answer gate. */
object Bpe {

  /** Unique-word frequency table of a corpus: (word, cnt). Tokenization is
    * [[Text.normalize]] + whitespace split — the same contract as
    * [[Search]]'s BM25, so the two share vocabularies. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    Par.spread(docs).select(explode(Text.tokens(Text.normalize(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A word as its initial symbol sequence: single characters joined by
    * single spaces ("low" → "l o w"). No end-of-word marker — segmentation
    * quality is not the point of this operator's tests; add one by
    * appending a sentinel token to the string before training if needed. */
  def charSymbols(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** The adjacent-pair frequency table of a (word, cnt, syms) state frame:
    * (a, b, pc) with pc = Σ cnt over every adjacent occurrence. Shared
    * with [[WordPiece]], whose training differs only in the pair SCORE. */
  private[operators] def pairCounts(words: DataFrame): DataFrame = {
    val sy = split(col("syms"), " ")
    words
      .select(col("cnt"),
        explode(arrays_zip(
          slice(sy, lit(1), size(sy) - 1).as("a"),
          slice(sy, lit(2), size(sy) - 1).as("b"))).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** Train `numMerges` BPE merges on a corpus. Returns the ordered merge
    * table (rank, sym_a, sym_b, pair_count) — vocab-sized by construction
    * (one row per merge), so it is a driver-safe model artifact: persist
    * it with a plain parquet write, reload and `.collect()` it for
    * [[encodePieces]]. Stops early (fewer rows) when no adjacent pair
    * remains. Jobs: the one collect of the word-count table. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = wordCounts(docs, textCol)
      .select(charSymbols(col("word")), col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    learnMerges(vocab, numMerges).zipWithIndex
      .map { case ((a, b, pc), i) => (i + 1, a, b, pc) }
      .toDF("rank", "sym_a", "sym_b", "pair_count")
  }

  /** Sequential greedy BPE over a (space-joined symbols, count) vocabulary:
    * up to `numMerges` merges (a, b, pair_count), in order. Each merge is
    * the argmax of the count-weighted adjacent-pair counts by (count DESC,
    * a ASC, b ASC) — strings compared as UTF-8 bytes, Spark's order — and
    * is applied to every word with the encoder's exact fold: left to
    * right, `b` fuses onto a preceding symbol equal to `a`, so a fused
    * "ab" never re-merges ("a a a" under (a, a) becomes "aa a").
    *
    * Pair counts are maintained incrementally (Sennrich et al.'s
    * `update_pair_statistics`): an index from each pair to the words that
    * may contain it names the only words a merge can change, and only
    * their pairs are re-counted. The argmax is a priority queue whose stale
    * entries are skipped when they surface. */
  private[operators] def learnMerges(vocab: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val symIds = mutable.HashMap.empty[String, Int]
    val names = mutable.ArrayBuffer.empty[String]
    val keys = mutable.ArrayBuffer.empty[UTF8String] // the UTF-8 sort keys
    def intern(s: String): Int = symIds.getOrElseUpdate(s, {
      names += s; keys += UTF8String.fromString(s); names.size - 1 })
    def pairOf(a: Int, b: Int): Long = (a.toLong << 32) | (b & 0xffffffffL)
    val words = vocab.map(_._1.split(" ", -1).map(intern)).toArray
    val cnts = vocab.map(_._2).toArray
    val counts = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val holders = mutable.HashMap.empty[Long, mutable.Set[Int]]
    // (count, a, b), best first; an entry is stale once `counts` moved on
    val queue = new java.util.PriorityQueue[(Long, Int, Int)](
      (x: (Long, Int, Int), y: (Long, Int, Int)) => {
        val byCount = java.lang.Long.compare(y._1, x._1)
        if (byCount != 0) byCount
        else {
          val byA = keys(x._2).compareTo(keys(y._2))
          if (byA != 0) byA else keys(x._3).compareTo(keys(y._3))
        }
      })
    def count(w: Int, sign: Long, touched: mutable.Set[Long]): Unit = {
      val sy = words(w)
      var i = 0
      while (i + 1 < sy.length) {
        val p = pairOf(sy(i), sy(i + 1))
        counts(p) += sign * cnts(w)
        if (sign > 0) holders.getOrElseUpdate(p, mutable.Set.empty[Int]) += w
        touched += p
        i += 1
      }
    }
    def requeue(touched: Iterable[Long]): Unit = touched.foreach { p =>
      val c = counts(p)
      if (c > 0) queue.add((c, (p >>> 32).toInt, p.toInt)) else counts.remove(p)
    }
    val all = mutable.Set.empty[Long]
    words.indices.foreach(count(_, 1L, all))
    requeue(all)
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    while (merges.size < numMerges && !queue.isEmpty) {
      val (c, a, b) = queue.poll()
      if (counts.get(pairOf(a, b)).contains(c)) {
        merges += ((names(a), names(b), c))
        val ab = intern(names(a) + names(b))
        val touched = mutable.Set.empty[Long]
        for (w <- holders.remove(pairOf(a, b)).getOrElse(Nil)) {
          val merged = fuse(words(w), a, b, ab)
          if (merged.length != words(w).length) {
            count(w, -1L, touched)
            words(w) = merged
            count(w, 1L, touched)
          }
        }
        requeue(touched)
      }
    }
    merges.toSeq
  }

  /** The merge fold over symbol ids ([[graft.expressions.BpeMerges]]
    * runs the same one at encode time): `b` fuses into `ab` when the
    * symbol emitted last is exactly `a`, else it is emitted as is. */
  private def fuse(sy: Array[Int], a: Int, b: Int, ab: Int): Array[Int] = {
    val out = new Array[Int](sy.length)
    out(0) = sy(0)
    var n = 1
    var i = 1
    while (i < sy.length) {
      if (sy(i) == b && out(n - 1) == a) out(n - 1) = ab
      else { out(n) = sy(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Persist a trained merge table ([[train]]'s output) as parquet — the
    * model artifact a tokenizer ships. One file of `numMerges` rows. */
  def saveBpe(merges: DataFrame, path: String): Unit =
    merges.select("rank", "sym_a", "sym_b", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted merge table back into the ordered driver-side list
    * [[encodePieces]] consumes. Fails fast on a missing/renamed column
    * rather than mis-encoding with a scrambled merge order. */
  def loadBpe(spark: org.apache.spark.sql.SparkSession, path: String): Seq[(String, String)] = {
    val df = spark.read.parquet(path)
    require(Seq("rank", "sym_a", "sym_b").forall(df.columns.contains),
      s"not a BPE merge table at $path (need rank/sym_a/sym_b, got ${df.columns.mkString(",")})")
    df.orderBy("rank").collect().map(r =>
      (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
  }

  /** Encode one token column into its subword pieces (array of strings)
    * under an ordered merge list — a pure projection of the
    * [[graft.expressions.BpeEncodeLong]] kernel, the merge list riding in
    * the plan as one driver-built object. No shuffle, no state. A null
    * token encodes to null. */
  def encodePieces(token: Column, merges: Seq[(String, String)]): Column =
    Kernels.bpeEncode(token, BpeMerges(merges))

  /** Encode the corpus dictionary: unique words with counts and their
    * piece arrays — the scale shape for whole-corpus tokenization (encode
    * each unique word ONCE; the encode cost is vocab-sized, not
    * corpus-sized). Jobs with a collect on a one-file input: 3 (the
    * spread's and the word-count's exchanges, then the result). */
  def encodeWords(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    wordCounts(docs, textCol)
      .select(col("word"), col("cnt"), encodePieces(col("word"), merges).as("pieces"))

  /** Corpus-wide subword piece frequencies: (piece, total) — the vocab
    * histogram a tokenizer report prints, and the q128 oracle surface. */
  def pieceCounts(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encodeWords(docs, textCol, merges)
      .select(explode(col("pieces")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("total"))

  /** Per-document token budget under the LEARNED vocab: (id, n_tokens,
    * n_pieces) — the number a packing/budgeting pipeline actually needs
    * (vs [[graft.functions.Text.bpeishTokenCount]]'s model-agnostic
    * bound). One projection per document after [[Par.spreadBy]] on the id:
    * its [[Search]]-contract tokens and, from the
    * [[graft.expressions.BpePieceCountLong]] kernel, their count and the
    * sum of their piece counts, each distinct word encoded once per task;
    * then a sum per id that needs no exchange of its own. Rows sharing an
    * id are summed; a doc with no token (empty or null text) is absent.
    * Jobs with a collect on a one-file input: 2 (the spread's exchange,
    * then the result). */
  def docPieceCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val counted =
      Kernels.bpePieceCount(Text.tokens(Text.normalize(col(textCol))), BpeMerges(merges))
    // the filter sits above the sum: below it, it would be pushed under
    // the projection with the kernel inlined, running it twice a row
    Par.spreadBy(docs, col(idCol))
      .select(col(idCol), counted.as("k"))
      .groupBy(idCol)
      .agg(sum(col("k.n_tokens")).as("n_tokens"), sum(col("k.n_pieces")).as("n_pieces"))
      .filter(col("n_tokens") > 0)
  }
}
