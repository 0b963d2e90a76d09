package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks._
import graft.SparkTestBase

/** Learned BPE: merge selection, greedy fold semantics, encode ≡ training
  * segmentation, and the lossless-concatenation invariant. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest")).toDF("doc_id", "text")

  test("train: reproduces the hand-computed Sennrich example merge sequence") {
    // word counts: low:5 lower:2 newest:6 widest:3
    // pair counts round 1: (e,s)=9 (newest+widest), (s,t)=9, (l,o)=7, ...
    // argmax ties (e,s) vs (s,t) at 9 → lexicographic picks (e,s)
    val merges = Bpe.train(corpus, "text", 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges(0) == ((1, "e", "s", 9L)))   // n e w e s t → n e w es t
    assert(merges(1) == ((2, "es", "t", 9L)))  // → n e w est
    // round 3: (l,o)=7 (low+lower) beats (n,e)=6, (w,est)=6...
    assert(merges(2) == ((3, "l", "o", 7L)))
    // round 4: (lo,w)=7 — "lo w" in low and lower
    assert(merges(3) == ((4, "lo", "w", 7L)))
  }

  /** One greedy merge of (a, b) over a space-joined symbol string as a
    * higher-order-function fold — the definition the encode kernel
    * replaced (`Bpe.applyMerge`), and the fold DuckDB's `list_reduce`
    * replays for the oracle. */
  private def hofMerge(symsStr: Column, a: Column, b: Column): Column = {
    val sy = split(symsStr, " ")
    aggregate(
      slice(sy, lit(2), size(sy) - 1), element_at(sy, 1),
      (acc, x) =>
        when(x === b && (acc === a || acc.endsWith(concat(lit(" "), a))),
          concat(acc, b))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** The former `Bpe.encodePieces`: an outer fold over the merge list as
    * an array-of-structs literal, [[hofMerge]] per merge. */
  private def hofPieces(token: Column, merges: Seq[(String, String)]): Column = {
    val mArr = array(merges.map { case (a, b) => struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    split(aggregate(mArr, Bpe.charSymbols(token),
      (s, m) => hofMerge(s, m.getField("a"), m.getField("b"))), " ")
  }

  /** The former `Bpe.docPieceCounts`: pieces per unique word, joined back
    * to the (doc, word) rows and summed per doc. */
  private def joinBackDocPieceCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val dt = docs.select(col("doc_id"),
        explode(graft.functions.Text.tokens(graft.functions.Text.normalize(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val wp = Bpe.wordCounts(docs, "text").select(col("word"), size(hofPieces(col("word"), merges)).as("n_p"))
    dt.join(wp, "word").groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_p").cast("long")).as("n_pieces"))
  }

  /** `f`'s rows with whole-stage codegen on, then fully interpreted. */
  private def bothModes(f: => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val gen = rowSet(f)
    var interp = Set.empty[Seq[Any]]
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { interp = rowSet(f) }
    (gen, interp)
  }

  private def encoded(words: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    words.toDF("w").select(concat_ws(" ", Bpe.encodePieces(col("w"), merges)))
      .collect().map(_.getString(0)).toSeq

  test("applyMerge: greedy left-to-right non-overlap (the a-a-a case)") {
    val rows = Seq("a a a a a a", "x a b a b", "a", "b a a b")
      .toDF("syms")
      .select(hofMerge(col("syms"), lit("a"), lit("a")).as("m"))
      .collect().map(_.getString(0)).toSeq
    // matches DuckDB list_reduce of the identical fold
    assert(rows == Seq("aa aa aa", "x a b a b", "a", "b aa b"))
    // the encode kernel folds the same words the same way
    assert(encoded(Seq("aaaaaa", "xabab", "a", "baab"), Seq(("a", "a"))) == rows)
  }

  test("applyMerge: fused tail never re-merges, multi-char symbols delimit exactly") {
    // symbol "xa" must not satisfy an ends-with-"a" check: delimiter makes it exact
    val out = Seq("xa b c", "a b a b").toDF("syms")
      .select(hofMerge(col("syms"), lit("a"), lit("b")).as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("xa b c", "ab ab"))
    // in the kernel "xa" is a fused symbol: (x, a) runs first
    assert(encoded(Seq("xabc", "abab"), Seq(("x", "a"), ("a", "b"))) == out)
  }

  test("graft_bpe_encode ≡ the higher-order-function fold, codegen and interpreted") {
    val tricky = corpus.unionByName(Seq(
      (5L, "aaaa aaaa banana banana banana"),
      (6L, "abcabc abcabc xyxyxy")).toDF("doc_id", "text"))
    val trained = Bpe.train(tricky, "text", 12).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Bpe.wordCounts(tricky, "text").collect().map(_.getString(0)).toSeq
    // the a-a-a and fused-tail cases, multi-character and supplementary-
    // plane symbols, 1-char and empty words, and what charSymbols does
    // with spaces, tabs and line terminators inside a word
    val edge = Seq("aaaaaa", "aaaaaaa", "xabab", "xabc", "abab", "a", "", "low", "lowest",
      "😀😀x", "𐐀a𐐀a", "éé", "ａx",
      "a b", " ab ", "a\tb", "a\nb", "ab\n", "\r\na", "a b", "  ")
    val extra = Seq(("a", "a"), ("x", "a"), ("a", "b"), ("ab", "ab"), ("zz", "q"),
      ("😀", "😀"), ("𐐀", "a"), ("é", "é"), ("", "b"),
      ("a", ""), ("x y", "z"), ("q", "r s"))
    val words = (vocab ++ edge).map(Option(_)) :+ None
    val df = words.toDF("w").repartition(3) // executed, not folded on the driver
    for (merges <- Seq(trained, extra, trained ++ extra, Seq(("zz", "q")))) {
      val (gen, interp) = bothModes(df.select(col("w"), Bpe.encodePieces(col("w"), merges),
        graft.expressions.Kernels.bpeEncode(col("w"), graft.expressions.BpeMerges(merges))))
      assert(gen == interp, s"codegen and interpreted evaluation differ under $merges")
      val want = rowSet(df.select(col("w"), hofPieces(col("w"), merges), hofPieces(col("w"), merges)))
      assert(gen == want, s"kernel and fold differ under $merges")
    }
    // the cases really are cases: a never-occurring merge changes nothing,
    // the null word encodes to null, the empty word to one empty piece
    val none = df.select(col("w"), Bpe.encodePieces(col("w"), Seq(("zz", "q"))).as("p")).collect()
      .map(r => Option(r.getString(0)) -> Option(r.getSeq[String](1))).toMap
    assert(none(Some("low")).contains(Seq("l", "o", "w")))
    assert(none(None).isEmpty && none(Some("")).contains(Seq("")))
  }

  test("docPieceCounts ≡ the dictionary join-back; repeated ids sum, token-less docs are absent") {
    val merges = Bpe.train(corpus, "text", 6).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val docs = corpus.unionByName(Seq(
      (1L, "slowest lower"), // a repeated id: its rows are summed
      (7L, "!!! ... ???"), // no token after normalization
      (8L, "")).toDF("doc_id", "text"))
      .unionByName(Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    val (gen, interp) = bothModes(Bpe.docPieceCounts(docs, "doc_id", "text", merges))
    assert(gen == interp)
    assert(gen == rowSet(joinBackDocPieceCounts(docs, merges)))
    assert(gen.map(_.head) == Set(1L, 2L, 3L, 4L))
    assert(gen.collectFirst { case Seq(1L, n, _) => n }.contains(7L))
    // pieceCounts (q128) over the kernel ≡ over the fold
    val pieces = docs.select(explode(graft.functions.Text.tokens(
      graft.functions.Text.normalize(col("text")))).as("word")).filter(length(col("word")) > 0)
      .select(explode(hofPieces(col("word"), merges)).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("total"))
    assert(rowSet(Bpe.pieceCounts(docs, "text", merges)) == rowSet(pieces))
  }

  test("encodePieces ≡ final training segmentation; concat of pieces restores the word") {
    val merges = Bpe.train(corpus, "text", 6).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Bpe.encodeWords(corpus, "text", merges)
    // lossless: pieces concatenate back to the word, for every word
    assert(enc.filter(concat_ws("", col("pieces")) =!= col("word")).count() == 0L)
    // the trained segmentation re-derived by sequential encode: "newest"
    // after (e,s),(es,t),(l,o),(lo,w),... begins n e w est → further merges
    val newest = enc.filter(col("word") === "newest")
      .select(col("pieces")).head().getSeq[String](0)
    assert(newest.mkString(" ").endsWith("est") || newest.contains("est"))
    // encoding an UNSEEN word applies the same merges: "slowest"
    val unseen = Seq("slowest").toDF("w")
      .select(Bpe.encodePieces(col("w"), merges).as("p"))
      .head().getSeq[String](0)
    assert(unseen.mkString("") == "slowest")
  }

  test("pieceCounts: totals are word-count weighted and cover every character") {
    val merges = Bpe.train(corpus, "text", 2).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq // (e,s),(es,t)
    val pc = Bpe.pieceCounts(corpus, "text", merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "est" appears once in newest (6) and widest (3) → 9; a raw e survives
    // in lower (2) and as newest's FIRST e (6) — only the second e merged
    assert(pc("est") == 9L && pc("e") == 8L)
    // total characters conserved: sum(len(piece)*total) == sum(len(word)*cnt)
    val lhs = pc.map { case (p, n) => p.length * n }.sum
    val rhs = Bpe.wordCounts(corpus, "text")
      .select(sum(length(col("word")) * col("cnt"))).head().getLong(0)
    assert(lhs == rhs)
  }

  test("docPieceCounts: per-doc sums via the dictionary join-back") {
    val merges = Bpe.train(corpus, "text", 2).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq // (e,s),(es,t)
    val out = Bpe.docPieceCounts(corpus, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 3: "newest"×6 → 6 tokens, newest = n e w est → 4 pieces each
    assert(out(3L) == ((6L, 24L)))
    // doc 1: "low"×5 → untouched by (e,s)/(es,t): 3 chars each
    assert(out(1L) == ((5L, 15L)))
  }

  test("saveBpe/loadBpe round-trip preserves merge order; wrong table fails fast") {
    val merges = Bpe.train(corpus, "text", 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    Bpe.saveBpe(merges, dir)
    val loaded = Bpe.loadBpe(spark, dir)
    assert(loaded == merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)
    val bad = java.nio.file.Files.createTempDirectory("graft_bpe_bad").toString
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite").parquet(bad)
    intercept[IllegalArgumentException] { Bpe.loadBpe(spark, bad) }
  }

  test("train stops early when no adjacent pairs remain") {
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    // one merge (a,b) exhausts the corpus: every word becomes one symbol
    val merges = Bpe.train(tiny, "text", 10).collect()
    assert(merges.length == 1)
  }

  /** The relational round loop `train` ran before its merge loop moved to
    * the driver, at one merge a round: per round, the (pc DESC, a, b)
    * argmax of the Spark pair counts, then one [[hofMerge]] projection. */
  private def sparkRounds(words: DataFrame, numMerges: Int): Seq[(Int, String, String, Long)] = {
    var state = words.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (merges.size < numMerges && !done) {
      val top = Bpe.pairCounts(state).orderBy(col("pc").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.size + 1, a, b, pc))
        state = state.select(col("word"), col("cnt"),
          hofMerge(col("syms"), lit(a), lit(b)).as("syms")).localCheckpoint(true)
      }
    }
    merges.toSeq
  }

  test("driver merge loop ≡ the Spark round loop (maxBatch=1), ranks and counts") {
    // a corpus with count ties, self-pairs, and overlapping-symbol pairs
    val tricky = corpus.unionByName(Seq(
      (5L, "aaaa aaaa banana banana banana"),
      (6L, "abcabc abcabc xyxyxy")).toDF("doc_id", "text"))
    val words = Bpe.wordCounts(tricky, "text")
      .select(col("word"), col("cnt"), Bpe.charSymbols(col("word")).as("syms"))
    val driver = Bpe.train(tricky, "text", 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(driver == sparkRounds(words, 12))
    // Text.normalize keeps train's alphabet to [a-z0-9], so the UTF-8 tie
    // order is checked on the merge loop itself: a seeded vocabulary over
    // BMP and supplementary-plane symbols with many count ties, plus a
    // planted top tie — (U+FF41, x) and (U+1F600, x) at count 1000, where
    // UTF-8 byte order puts U+FF41 first and UTF-16 order the other way
    val alphabet = Seq("a", "b", "\u00e9", "\uff41", "\ud83d\ude00", "\ud801\udc00")
    val rnd = new scala.util.Random(11)
    val seeded = Seq(("\uff41x", 1000L), ("\ud83d\ude00x", 1000L)) ++ Seq.fill(40) {
      (Seq.fill(2 + rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.size))).mkString, 1L + rnd.nextInt(3))
    }.distinctBy(_._1)
    val seededWords = seeded.toDF("word", "cnt")
      .select(col("word"), col("cnt"), Bpe.charSymbols(col("word")).as("syms"))
    val vocab = seededWords.collect().map(r => (r.getString(2), r.getLong(1))).toSeq
    val learned = Bpe.learnMerges(vocab, 30).zipWithIndex
      .map { case ((a, b, pc), i) => (i + 1, a, b, pc) }
    assert(learned.take(2).map(_._2) == Seq("\uff41", "\ud83d\ude00"))
    assert(learned == sparkRounds(seededWords, 30))
  }
}
