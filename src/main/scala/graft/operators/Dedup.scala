package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.expressions.{Kernels, LshProbeTable, MinhashProbeTable, PlaneMatrix}
import graft.functions.Text

/** Deduplication for large-scale text corpora (north-star extension,
  * SURVEY §2.1 ✚): exact, n-gram Jaccard, MinHash+LSH banding, SimHash,
  * and near-dup-pair → group resolution.
  *
  * Algorithms are the published standards: MinHash (Broder, "On the
  * resemblance and containment of documents", 1997) with banding LSH
  * (Leskovec/Rajaraman/Ullman, MMDS ch. 3) and Kirsch–Mitzenmacher double
  * hashing ("Less hashing, same performance", 2006); SimHash (Charikar,
  * "Similarity estimation techniques from rounding algorithms", 2002);
  * prefix filtering for exact set-similarity joins (Chaudhuri et al. 2006;
  * Xiao et al., PPJoin, 2008).
  *
  * Scale design: every variant avoids the O(N²) cross join. Candidate pairs
  * come either from an inverted index on shingle prefixes (docs sharing ≥1
  * indexed shingle) or from LSH band buckets; both are plain shuffles on a
  * key, so they partition across executors and survive a 1000× scale-up.
  * All hashing is md5-based (codegen'd, no UDF) so the DuckDB oracle
  * reproduces results exactly.
  *
  * Cache discipline ([[Pinned]] states the rule): a [[MinhashIndex]] is ONE
  * pinned segment, one row per document (id, sh, nsh, band_keys), built by
  * a single projection of the [[graft.expressions.MinhashLong]] kernel; its
  * shingle-set and band-key views derive from it, so the index holds one
  * cache, not one per view. The pair operators pin their intermediates for
  * the call and EAGERLY materialize the small pair result via
  * `localCheckpoint(true)`. That checkpoint holds its (small,
  * final-output-sized) blocks until the returned DataFrame is garbage
  * collected: `unpersist` on a locally checkpointed frame releases
  * nothing. Eager evaluation is a deliberate semantic: a
  * near-dup-pairs result is consumed in full by any caller, and
  * materializing it once is what lets the self-joined signature pipeline
  * run ONCE instead of once per join side. On a multi-node cluster you'd
  * swap the final `localCheckpoint` for a table write (localCheckpoint
  * blocks are not fault-tolerant); single-JVM here. The delta probes
  * ([[minhashLshPairsBetweenIndexed]], [[embeddingNearDupPairsBetween]])
  * pin nothing: they collect their pairs and return a driver-local frame.
  */
object Dedup {

  /** Exact dedup on a fingerprint of normalized text — one hash-agg shuffle
    * (map-side combine), the 100-TB-safe baseline. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = Par.spread(df)
      .select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
    fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** (id, h) rows: one 60-bit hash per distinct shingle STRING of each doc
    * ([[Text.wordShingles]] array_distincts inside the row, before any
    * shuffle), the per-shingle stream the inverted-index operators join on.
    * Shingles are hashed to longs immediately (md5 → first 15 hex chars →
    * long): join keys are then 8-byte fixed-width instead of ~50-char
    * strings. A within-pair collision would alter a count, but at 2^60 the
    * probability is ~10^-13 per corpus — and the DuckDB oracle applies the
    * SAME hash, so results always agree bit-for-bit. Distinctness at the
    * HASH level is NOT guaranteed here — two shingles colliding in 60 bits
    * yield two equal h rows (callers that promise the oracle hash-set
    * semantics dedup hashes downstream: countDistinct in
    * [[contaminationPairs]]). Hashing happens OUTSIDE any array lambda so
    * md5/conv run in WholeStageCodegen. */
  private def shingleHashed(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Par.spread(df)
      .select(col(idCol).as("id"), explode(Text.wordShingles(col(textCol), n)).as("s"))
      .select(col("id"), conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))

  /** (id, sh, nsh, mh): one row per input row — its sorted distinct 60-bit
    * shingle hashes (the same hash as [[shingleHashed]], deduped per doc),
    * their count, and `numHashes` Kirsch–Mitzenmacher MinHash minima. One
    * projection of the [[graft.expressions.MinhashLong]] kernel at scan
    * parallelism: no explode, no shuffle. Rows sharing an id are NOT
    * merged: each row is indexed on its own text. Docs with no shingle (nsh = 0, or null text)
    * are NOT filtered here: a filter above this projection is pushed below
    * it (and below [[Par.spread]]'s exchange) with the kernel inlined, so
    * the kernel would run twice a row, the first time unspread. Callers
    * pin this frame and filter the cached rows. */
  private def minhashed(df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int): DataFrame = {
    Par.spread(df)
      .select(col(idCol).as("id"), Kernels.minhash(col(textCol), n, numHashes).as("k"))
      .select(col("id"), col("k.sh").as("sh"), size(col("k.sh")).as("nsh"), col("k.mh").as("mh"))
  }

  /** Exact near-dup pairs with PPJoin-style prefix filtering (lossless):
    * with each doc's shingles in a fixed total order (lexicographic), any
    * pair with Jaccard ≥ t must share an element within the first
    * |d| − ceil(t·|d|) + 1 shingles of each side — so only the PREFIX is
    * exploded into the inverted index (~(1−t)·|d| entries per doc instead
    * of |d|, cutting index self-join volume ~(1−t)² at scale). Candidates
    * are then verified with the exact Jaccard over the full sets.
    *
    * Ids are expected unique per row. Each row is matched on its own text
    * (rows sharing an id are not merged into one shingle set), so a
    * repeated id can report the same (id_a, id_b) once per matching row. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    requireJaccard(threshold)
    // already sorted; a doc without shingles (nsh 0 or null) has an empty
    // prefix, so it never reaches the candidate or verify joins
    Pinned.scoped { pin =>
      val s = pin(minhashed(df, idCol, textCol, n, numHashes = 0).drop("mh"))
      // epsilon guards float rounding UP only (a longer prefix is still lossless)
      val prefLen = (col("nsh") - ceil(col("nsh") * (threshold - 1e-9)) + 1).cast("int")
      val ex = s.select(col("id"), col("nsh"), explode(slice(col("sh"), lit(1), prefLen)).as("shingle"))
      // PPJoin LENGTH filter (lossless): J(a,b) >= t forces
      // min(|A|,|B|) >= t * max(|A|,|B|) — kill size-incompatible candidates
      // at the index join, before the distinct and the full-set verify.
      // Epsilon loosens only (a spared candidate is re-checked exactly).
      val cand = ex.as("x").join(ex.as("y"),
          col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id") &&
            least(col("x.nsh"), col("y.nsh")).cast("double") >=
              greatest(col("x.nsh"), col("y.nsh")) * lit(threshold - 1e-9))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
      verifyJaccard(cand, s, threshold).localCheckpoint(true)
    }
  }

  /** A Jaccard threshold keeps the pairs with J in [threshold, 1]; checked
    * before a call builds or pins anything. */
  private def requireJaccard(threshold: Double): Unit =
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0, 1], got $threshold")

  /** Join candidate (id_a,id_b) pairs back to shingle sets and keep those
    * with exact Jaccard ≥ threshold. Size-incompatible candidates
    * (J ≥ t forces min(|A|,|B|) ≥ t·max — the PPJoin length filter, lossless)
    * are dropped BEFORE the O(|A|+|B|) array_intersect, which matters for
    * LSH-banding candidates that never went through a prefix index. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("nsh").as("nsh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("nsh").as("nsh_b")), Seq("id_b"))
      .filter(least(col("nsh_a"), col("nsh_b")).cast("double") >=
        greatest(col("nsh_a"), col("nsh_b")) * lit(threshold - 1e-9))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact-substring duplicate pairs — the duplication mode Jaccard-based
    * dedup MISSES (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022): a long page embedding one verbatim k-token
    * boilerplate block sits below any global-Jaccard threshold yet is the
    * most common real-world duplication. Flags (id_a, id_b, n_shared) pairs
    * sharing ≥ `minShared` distinct k-token consecutive runs.
    *
    * Relational shape ([[contaminationPairs]]' inverted index, corpus ↔
    * corpus): every k-token window (stride 1, deduped per doc) hashes to a
    * 60-bit long; the self-join on the window hash IS the exact criterion —
    * two docs share a window hash iff they share a verbatim k-token run
    * (up to the documented ~1e-13 60-bit collision odds), so no verify pass
    * exists. Both sides are keyed equi-joins; never a cross join.
    *
    * Scale notes: the index is one row per (doc, distinct window) ≈ one row
    * per token — the same order as every shingle path here; the window
    * STRINGS expand the projection ~k× transiently (inside one codegen'd
    * stage, never shuffled — the shuffle carries 8-byte hashes). Stride
    * must stay 1 on both sides of a self-join (strided windows sample
    * different phases of the same run in different documents and would miss
    * aligned copies). Pair volume is bounded by the duplication actually
    * present: a window shared by m docs contributes m(m−1)/2 pairs — that
    * quadratic IS the signal (a thousand-way boilerplate block is a
    * thousand-way dup family); cap with a per-hash doc-frequency filter
    * upstream if a corpus is known to carry degenerate mega-clusters. */
  def substringDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, minShared: Long = 1L): DataFrame = {
    require(k >= 2, s"k must be >= 2 tokens, got $k")
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    Pinned.scoped { pin =>
      val e = pin(shingleHashed(df, idCol, textCol, k))
      e.as("x").join(e.as("y"),
          col("x.h") === col("y.h") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .localCheckpoint(true)
    }
  }

  /** Longest shared verbatim SPAN per document pair — the exact quantity
    * Lee et al. 2022 threshold on (~50 consecutive tokens), where
    * [[substringDupPairs]] only counts shared windows of a fixed k. Windows
    * of a SMALL k are matched WITH their positions; on each (pair,
    * pa−pb diagonal), maximal chains of consecutive matches are
    * reassembled with the islands trick (pa − row_number is constant
    * within a chain): two documents share a run of exactly L ≥ k equal
    * consecutive tokens iff some diagonal carries L−k+1 consecutive window
    * matches, so `longest_run_tokens = max_chain + k − 1` is EXACT (up to
    * the documented 60-bit hash odds). k trades index size against the
    * shortest detectable run (k=10 detects any run ≥ 10 yet thresholds at
    * `minRunTokens` ≥ 50 precisely — a k=50 window index cannot tell 50
    * from 59). Same scale shape as [[substringDupPairs]]: the shuffle
    * carries (8-byte hash, int position) rows; the diagonal windows
    * partition by (pair, diagonal) so chain assembly spreads across
    * executors; match volume is bounded by the true shared-window count. */
  def substringDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minRunTokens: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2 tokens, got $k")
    require(minRunTokens >= k, s"minRunTokens ($minRunTokens) must be >= k ($k)")
    Pinned.scoped { pin =>
      val e = pin(positionalWindowHashes(df, idCol, textCol, k))
      spansFromMatches(
        e.as("x").join(e.as("y"),
          col("x.h") === col("y.h") && col("x.id") < col("y.id")),
        k, minRunTokens)
    }
  }

  /** Span-based DECONTAMINATION: for each (train, eval) pair, the longest
    * verbatim token run the train document shares with the eval document —
    * the length-thresholded overlap criterion evaluation hygiene actually
    * uses (a train page quoting ≥ L consecutive tokens of a benchmark item
    * is contaminated regardless of its global Jaccard). Same diagonal-
    * islands machinery as [[substringDupSpans]] over two frames; the
    * measured length lets callers pick the threshold per eval set rather
    * than bake it into the index. [[contaminationPairs]] remains the
    * set-containment (fraction) criterion; this is the span (run-length)
    * one. Output: (train_id, eval_id, longest_run_tokens). */
  def substringSpansBetween(
      corpus: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minRunTokens: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2 tokens, got $k")
    require(minRunTokens >= k, s"minRunTokens ($minRunTokens) must be >= k ($k)")
    Pinned.scoped { pin =>
      val eT = pin(positionalWindowHashes(corpus, idCol, textCol, k))
      val eE = pin(positionalWindowHashes(evalSet, idCol, textCol, k))
      spansFromMatches(
        eT.as("x").join(eE.as("y"),
          col("x.h") === col("y.h") && col("x.id") =!= col("y.id")),
        k, minRunTokens)
        .withColumnRenamed("id_a", "train_id").withColumnRenamed("id_b", "eval_id")
    }
  }

  /** (id, p, h) rows: one 60-bit hash per k-token window WITH its position
    * (stride 1, NOT deduped — chain reassembly needs every occurrence). */
  private def positionalWindowHashes(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val wins = when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
      .otherwise(array().cast("array<string>"))
    Par.spread(df).select(col(idCol).as("id"), posexplode(wins).as(Seq("p", "s")))
      .select(col("id"), col("p"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
  }

  /** Diagonal islands over an x↔y window-hash match join → per-pair longest
    * run (eager; see [[substringDupSpans]] for the argument). */
  private def spansFromMatches(matches: DataFrame, k: Int, minRunTokens: Int): DataFrame = {
    val m = matches.select(col("x.id").as("id_a"), col("y.id").as("id_b"),
      col("x.p").as("pa"), col("y.p").as("pb"))
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("pa"))
    val runs = m.withColumn("d", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(byDiag))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("grp"))
      .agg(count(lit(1)).as("rw"))
    runs.groupBy("id_a", "id_b")
      .agg((max(col("rw")) + lit(k - 1)).as("longest_run_tokens"))
      .filter(col("longest_run_tokens") >= minRunTokens)
      .localCheckpoint(true)
  }

  /** Cross-corpus decontamination: (train doc, eval doc) pairs where the
    * TRAIN document contains at least `threshold` of the EVAL document's
    * n-gram shingles — containment |A∩B| / |B|, the standard test for a
    * benchmark item leaking into a training corpus (eval-side containment,
    * not symmetric Jaccard: a long train doc that embeds a whole eval item
    * must flag even though its Jaccard is tiny).
    *
    * Scale shape: the eval set (a benchmark suite — tiny next to a 100 TB
    * corpus) is fully exploded into a BROADCAST inverted shingle index; the
    * corpus side streams its shingles map-side through the broadcast join,
    * so the only shuffle is the per-(train,eval) hit-count agg, whose volume
    * is the number of matching shingle occurrences — not the corpus. Counting
    * distinct shared shingles directly (shingle sets are distinct per doc)
    * makes the containment exact with no verify pass. */
  def contaminationPairs(
      corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // the corpus side is NEVER shuffled wholesale: its shingle rows stream
    // map-side through the broadcast eval index, and the only shuffle is
    // the per-(train, eval) overlap agg, whose volume is the MATCHING
    // occurrences — tiny next to the corpus when the eval set is a
    // benchmark suite. countDistinct(h) there (not a plain count) keeps
    // the result exact under duplicate corpus rows and 60-bit hash
    // collisions — the same hash-set semantics the oracle computes.
    // The eval side (small, broadcast) is deduped up front so the index
    // is a set and per-doc sizes are a plain count.
    val tr = shingleHashed(corpus, idCol, textCol, n)
      .select(col("id").as("train_id"), col("h"))
    val evD = shingleHashed(evalSet, idCol, textCol, n)
      .select(col("id").as("eval_id"), col("h")).distinct()
    val evN = evD.groupBy(col("eval_id")).agg(count(lit(1)).as("eval_nsh"))
    tr.join(broadcast(evD), Seq("h"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("h")).as("n_common"))
      .join(broadcast(evN), Seq("eval_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("eval_nsh").cast("double"))
      .filter(col("containment") >= threshold)
      .select("train_id", "eval_id", "n_common", "containment")
  }

  /** Cross-document boilerplate removal at LINE granularity — the curation
    * stage between whole-doc dedup and span dedup (CCNet / RefinedWeb style:
    * navigation chrome, cookie banners, copyright footers repeat across
    * pages of a site without making the pages near-duplicates). Every line
    * whose trimmed form appears in ≥ `minDocFreq` DISTINCT documents is
    * dropped from every document; survivors are reassembled in original
    * order, joined by "\n". Blank lines are dropped (reassembly is
    * whitespace-normalizing); a document whose every line was boilerplate
    * survives with `outCol` = "" and `nKeptCol` = 0 (callers gate on it);
    * null text stays null.
    *
    * Scale shape: explode lines (linear) → doc-frequency hash-agg on the
    * line hash (one map-side-combined shuffle of 8-byte hashes) →
    * anti-join lines against the boilerplate hashes (keyed equi-join) →
    * per-doc reassembly agg. No driver-side set, no cross join; the
    * boilerplate table lives distributed and is only as large as the
    * repeated-line vocabulary. Line matching is md5-based so the DuckDB
    * oracle reproduces the decision bit-for-bit. */
  def stripBoilerplateLines(
      df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int = 2,
      outCol: String = "clean_text", nKeptCol: String = "n_lines_kept"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2 (got $minDocFreq)")
    Ops.requireUnreserved("stripBoilerplateLines",
      Seq("__bid", "__pos", "__line", "__tl", "__lh", outCol, nKeptCol), df.columns)
    val lines = Par.spread(df)
      .select(col(idCol).as("__bid"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__tl", trim(col("__line")))
      .filter(col("__tl") =!= "")
      .withColumn("__lh", md5(col("__tl")))
    // doc frequency over DISTINCT (doc, line): repetition WITHIN one doc is
    // Repetition.lineRepetition's signal, not boilerplate
    val boiler = lines.select(col("__bid"), col("__lh")).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__lh")
    val rebuilt = lines.join(boiler, Seq("__lh"), "left_anti")
      .groupBy(col("__bid"))
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("__pos"), col("__tl")))),
            e => e.getField("__tl"))).as(outCol),
        count(lit(1)).as(nKeptCol))
    df.join(rebuilt, df(idCol) === rebuilt("__bid"), "left")
      .withColumn(outCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col(outCol), lit(""))))
      .withColumn(nKeptCol,
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(coalesce(col(nKeptCol), lit(0L))))
      .drop("__bid")
  }

  /** A reusable MinHash-LSH index over one corpus: THIS is the state a
    * standing-corpus pipeline stores — signatures depend only on each doc's
    * text, so an index built once serves the corpus self-join, every
    * delta's band-join against it, and the incremental-components fold,
    * without re-shingling the big side.
    *
    * One pinned [[Segment]] of `packed` (id, sh, nsh, band_keys) rows, one
    * per document: the sorted shingle-hash set (exact-verify side) and the
    * `bands` band keys (candidate-generation side) side by side.
    * [[shingles]] and [[bandedKeys]] are derived views of it with the
    * stored two-table layout's schemas — (id, sh, nsh) and (id, band,
    * band_key) — so the index holds one cache (in a real deployment: two
    * tables keyed by id / (band, band_key)). `release()` when done. */
  final case class MinhashIndex private[operators] (segments: Vector[Segment])
      extends StandingIndex {
    def packed: DataFrame = Segment.union(segments)
    // docs without a shingle stay in the pinned rows (see [[minhashed]]);
    // the views drop them: they would all share the empty signature's keys
    private def indexed = packed.filter(col("nsh") > 0)
    def shingles: DataFrame = indexed.select(col("id"), col("sh"), col("nsh"))
    def bandedKeys: DataFrame = indexed.select(col("id"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))
  }

  /** Build a [[MinhashIndex]] in one pass over the docs: one projection of
    * the [[graft.expressions.MinhashLong]] kernel (shingle-hash set and
    * `bands · rowsPerBand` Kirsch–Mitzenmacher minima per doc), band keys
    * md5(concat_ws("|", band slice)) in the same projection, pinned once.
    * No explode and no shuffle beyond [[Par.spread]]'s; the values are
    * bit-identical to the former explode → hash → two-aggregate pipeline
    * (the kernel's parity test keeps that pipeline as its reference).
    * Ids are expected unique per row: a repeated id is indexed once per
    * row, on that row's text (see [[ngramJaccardPairs]]). */
  def minhashIndex(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): MinhashIndex =
    MinhashIndex(Vector(Segment.pin(packedRows(df, idCol, textCol, n, bands, rowsPerBand))))

  /** The (id, sh, nsh, band_keys) rows of a [[MinhashIndex]], unpinned. */
  private def packedRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(n > 0 && bands > 0 && rowsPerBand > 0,
      s"need n, bands and rowsPerBand > 0, got n=$n bands=$bands rowsPerBand=$rowsPerBand")
    val bandKeys = (0 until bands).map(bi =>
      md5(concat_ws("|", slice(col("mh"), bi * rowsPerBand + 1, rowsPerBand).cast("array<string>"))))
    minhashed(df, idCol, textCol, n, bands * rowsPerBand)
      .select(col("id"), col("sh"), col("nsh"), array(bandKeys: _*).as("band_keys"))
  }

  /** MinHash + LSH near-dup pairs.
    * numHashes = bands * rowsPerBand; a pair is a candidate iff all rows of
    * some band agree (band key = md5 of the joined band slice). Candidates
    * are verified with exact Jaccard over the shingle sets. The only
    * shuffles are the band-bucket self-join and the verify joins — never a
    * cross join, so this is the scale path for corpus dedup. Ids are
    * expected unique per row; a repeated id is matched once per row and
    * can report the same (id_a, id_b) more than once (see
    * [[ngramJaccardPairs]]). */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    requireJaccard(threshold)
    val ix = minhashIndex(df, idCol, textCol, n, bands, rowsPerBand)
    try minhashLshPairsIndexed(ix, threshold) finally ix.release()
  }

  /** Persist a [[MinhashIndex]] as two parquet tables (`shingles`,
    * `banded`) — the literal standing-corpus layout the index scaladoc
    * describes: build the signatures once, store them, and band every
    * later delta against the stored table instead of re-shingling the
    * corpus. `banded` is the commit marker ([[IndexFiles.save]]). Pair
    * with [[loadMinhashIndex]]. */
  def saveMinhashIndex(ix: MinhashIndex, path: String): Unit =
    IndexFiles.save(path, Seq("shingles" -> ix.shingles, "banded" -> ix.bandedKeys))

  /** Load a stored [[MinhashIndex]] ([[minhashIndex]] contract: the two
    * tables are re-packed by id into one pinned segment, band keys back
    * in band order). Signatures are a pure function of each doc's text, so
    * a loaded index is interchangeable with a freshly built one. Fails fast
    * with a clear message on a partial save. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): MinhashIndex = {
    val part = IndexFiles.open(spark, path, "MinhashIndex", Seq("shingles", "banded"))
    val keys = part("banded")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("band"), col("band_key")))).as("bk"))
      .select(col("id"), col("bk.band_key").as("band_keys"))
    MinhashIndex(Vector(Segment.pin(part("shingles").join(keys, "id")
      .select(col("id"), col("sh"), col("nsh"), col("band_keys")))))
  }

  /** Persist dedup component labels (r14 ✚, VERDICT r13 "what's wrong"
    * #2) — the (id, component) table [[connectedComponents]] emits,
    * materialized as a one-table parquet store. This is the
    * real-pipeline shape for leakage-safe splitting: the LSH pair graph
    * + star contraction runs ONCE, and every consumer — train/holdout
    * split, leakage audit, k-fold assignment — reads the label table
    * instead of re-deriving ~85%-shared work per query (q223/q228/q231
    * each pay it standalone; q246 is the store-readout ≡ recompute
    * gate). Labels are a pure function of the pair graph, so a loaded
    * table is interchangeable with a fresh contraction; fold new docs in
    * with [[connectedComponentsIncremental]] and re-save. Pair with
    * [[loadComponentLabels]]. */
  def saveComponentLabels(labels: DataFrame, path: String): Unit =
    IndexFiles.save(path, Seq("labels" -> labels.select(col("id"), col("component"))))

  /** Load a stored component-label table, as a lazy frame over the stored
    * parquet (nothing is pinned: a consumer that reads it several times
    * pins it itself). Fails fast with a clear message when the store dir
    * is missing. */
  def loadComponentLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    IndexFiles.open(spark, path, "ComponentLabels", Seq("labels"))("labels")

  /** [[minhashLshPairs]] over a prebuilt [[MinhashIndex]] — the index is
    * NOT released (the caller owns it and may reuse it, q109-style). */
  def minhashLshPairsIndexed(ix: MinhashIndex, threshold: Double): DataFrame = {
    requireJaccard(threshold)
    val banded = ix.bandedKeys
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    verifyJaccard(cand, ix.shingles, threshold).localCheckpoint(true)
  }

  /** Incremental (delta ↔ corpus) MinHash-LSH near-dup pairs: the daily-
    * ingest shape of corpus dedup at 100 TB — probe the standing corpus
    * with the NEW batch instead of self-joining the whole corpus again.
    * Output: (id_a = left/delta id, id_b = right/corpus id, jaccard). The
    * MinHash family depends only on shingle values, so signatures computed
    * here for the corpus side are bit-identical to any previous run's — in
    * a real pipeline the corpus index is built ONCE and each delta probes
    * it ([[minhashLshPairsBetweenIndexed]]); this method builds it from the
    * raw frame for the oracle's sake, which changes cost, not results. The
    * delta's rows are computed and collected once, never pinned. Contract
    * and output as [[minhashLshPairsBetweenIndexed]]; the corpus index is
    * released before this returns. */
  def minhashLshPairsBetween(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    requireJaccard(threshold)
    val ixR = minhashIndex(right, idCol, textCol, n, bands, rowsPerBand)
    try pairsBetween(packedRows(left, idCol, textCol, n, bands, rowsPerBand), ixR, threshold)
    finally ixR.release()
  }

  /** [[minhashLshPairsBetween]] over prebuilt indexes — the standing-corpus
    * shape made literal, as an index probe plus an exact verify (the
    * MinHash twin of [[embeddingNearDupPairsBetween]]). The left (delta)
    * index — by contract the SMALL, batch-sized side — is collected from
    * its cache, and its (band, band_key) → delta-row probe table is
    * broadcast. ONE scan of the right index's pinned `packed` frame then
    * looks each row's band keys up, drops the duplicates across bands
    * inside the row and verifies each candidate with the exact Jaccard of
    * the relational verify (the PPJoin length filter, then
    * common / (|A| + |B| − common) as a double) — the right index is never
    * joined or shuffled, and nothing is pinned. Docs without a shingle
    * match nothing. Ids are expected unique per row: a repeated id is
    * matched on each of its own rows. Output: (id_a = left id, id_b =
    * right id, jaccard ≥ threshold), each pair once; same-id and null-id
    * pairs excluded (overlapping id spaces). Eager: the pairs are computed
    * before this returns, as a driver-local frame; neither index is
    * released. Two Spark jobs: the delta collect and the corpus scan. */
  def minhashLshPairsBetweenIndexed(
      left: MinhashIndex, right: MinhashIndex, threshold: Double): DataFrame =
    pairsBetween(left.packed, right, threshold)

  /** [[minhashLshPairsBetweenIndexed]] with the delta as its unpinned or
    * pinned (id, sh, nsh, band_keys) rows. */
  private def pairsBetween(delta: DataFrame, corpus: MinhashIndex,
      threshold: Double): DataFrame = {
    requireJaccard(threshold)
    val spark = delta.sparkSession
    val schema = StructType(Seq(StructField("id_a", delta.schema("id").dataType),
      StructField("id_b", corpus.packed.schema("id").dataType), StructField("jaccard", DoubleType)))
    // docs without a shingle are dropped here, not by a filter in the plan
    // (see [[minhashed]])
    val probes = delta.select("id", "sh", "band_keys").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getSeq[Long](1).nonEmpty)
    if (probes.isEmpty) return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val table = spark.sparkContext.broadcast(MinhashProbeTable(threshold,
      probes.map(_.getSeq[Long](1).toArray), probes.map(_.getSeq[String](2).toArray)))
    try {
      val probe = Kernels.minhashProbe(col("band_keys"), col("sh"), table)
      val hits = corpus.packed
        .select(col("id"), explode(probe).as("c"))
        .select(col("c.a"), col("id"), col("c.jaccard"))
        .collect()
      val pairs = hits.flatMap { h =>
        val (idA, idB) = (probes(h.getInt(0)).get(0), h.get(1))
        if (idB == null || idA == idB) None else Some(Row(idA, idB, h.getDouble(2)))
      }
      spark.createDataFrame(java.util.Arrays.asList(pairs: _*), schema)
    } finally table.destroy()
  }

  /** Relational 64-bit SimHash: explode tokens, hash each ONCE (codegen'd
    * md5+conv), then 64 per-bit vote sums in one hash-agg — same values as
    * `Text.simhash` but the hot path stays inside WholeStageCodegen.
    * Bits 0–31 vote on the token's second md5 word, 32–63 on the first
    * (see `Text.simhash` for why per-word extraction, not a fused hash).
    * Output: (id, sh64). Docs with zero tokens are absent from the output. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = Par.spread(df).select(col(idCol).as("id"),
        explode(Text.tokens(Text.normalize(col(textCol)))).as("t"))
      .select(col("id"), Text.md5Word32(col("t"), 1).as("w0"), Text.md5Word32(col("t"), 9).as("w1"))
    val votes = (0 until 64).map { j =>
      val bit =
        if (j < 32) shiftright(col("w1"), j).bitwiseAND(lit(1L))
        else shiftright(col("w0"), j - 32).bitwiseAND(lit(1L))
      sum(bit * lit(2) - lit(1)).as(s"v$j")
    }
    ex.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        // distinct powers of two: the sum never carries, so it is exactly a
        // bitwise OR (1L << 63 = Long.MinValue is the sign bit, no overflow)
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh64"))
  }

  /** Explode a `(id, sh64)` simhash table into its 4×16-bit band index:
    * (id, sh64, band, bandval). Any equal (band, bandval) between two hashes
    * is a near-dup candidate — complete for Hamming distance ≤ 3 by
    * pigeonhole. This is also the STATIC side of streaming ingest dedup
    * ([[graft.streaming.Streams.dropNearDupsStream]]): build it once per
    * corpus snapshot, then stream-static join against it. */
  def simhashBandIndex(h: DataFrame): DataFrame =
    h.select(col("id"), col("sh64"), posexplode(
        array((0 until 4).map(bi =>
          shiftright(col("sh64"), bi * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band", "bandval")))

  /** SimHash near-dups = pairs within `maxHamming`. Candidates via banding
    * the 64-bit hash into 4×16-bit bands (any equal band ⇒ candidate —
    * guaranteed complete for maxHamming ≤ 3 by pigeonhole), so again no
    * cross join at scale; hamming distance is codegen'd `bit_count(xor)`.
    * Scale note (VERDICT r1): 16-bit bands give 65,536 buckets per band —
    * candidate volume per band is O(N²/65,536) instead of the 32-bit
    * version's O(N²/256), which is the difference between a web-scale
    * corpus deduping and quadratic blow-up. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "16-bit banding is only complete for maxHamming <= 3")
    Pinned.scoped { pin =>
      val h = pin(simhashTable(df, idCol, textCol))
      val banded = simhashBandIndex(h)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bandval") === col("y.bandval") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("x.sh64").as("h_a"),
          col("y.id").as("id_b"), col("y.sh64").as("h_b"))
        .distinct()
      // popcount(xor): two codegen'd integer instructions per pair
      val ham = bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
      cand.withColumn("hamming", ham)
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
        .localCheckpoint(true)
    }
  }

  /** Near-dup pairs → dedup groups: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", ACM SoCC 2014), short-cut by a local union-find pass when
    * the graph fits one partition.
    *
    * Local pass: after the oriented edges (u > v, no self-loops) are made
    * distinct, a graph whose edges sit in ONE partition — always the case
    * for a batch-sized graph once AQE has coalesced the distinct — goes
    * through one `mapPartitions` union-find ([[StarForest]]) that emits its
    * star forest, a (member, component min) row per non-root node. That
    * forest IS the contraction's fixed point, so the round loop runs zero
    * rounds. The pass holds primitive arrays proportional to the edges
    * (~48 bytes an edge for integral ids). A graph over several partitions,
    * or with an id type other than int, long or string, runs the round
    * loop over the distinct edges.
    *
    * Each contraction round over the current edge set (every edge kept
    * oriented u > v, no self-loops):
    *
    *   - large-star: each node u links every LARGER neighbor to
    *     m = min(Γ(u) ∪ {u}) — collapses downhill chains from above;
    *   - small-star: each node u links its smaller neighbors AND ITSELF to
    *     its minimum neighbor — collapses what remains from below.
    *
    * The fixed point is one star per component rooted at the component's
    * minimum id, reached in O(log N) rounds even on path graphs — vs the
    * O(diameter) rounds of the min-label propagation this replaced (q43 at
    * sf0.1: propagation needed a driver-synced shuffle round per hop of the
    * longest chain; see BENCH history r2 → r3).
    *
    * Scale design: both phases are keyed shuffles over the CURRENT edges
    * only (a groupBy-min plus an equi-join back, then distinct) — never a
    * cross join, no per-node state table, and intermediate volume is
    * bounded by 2|E| rows per phase. Convergence = edge set unchanged,
    * detected by an order-insensitive checksum (count + bit_xor of
    * xxhash64(u,v)) computed by the same agg job that materializes the
    * round. Round state is plan-truncated through an RDD (Catalyst plans
    * never compound across rounds) and the previous round is unpersisted
    * as soon as the next is materialized — held storage is one round of
    * edges, not O(rounds).
    * Output: (id, component) where component = min id in the cluster;
    * singletons (nodes outside `nodes` ∩ pairs) keep themselves. */
  def connectedComponents(
      pairs: DataFrame, nodes: DataFrame, idCol: String,
      maxIter: Int = 50): DataFrame =
    foldComponents(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")), nodes, idCol, maxIter)

  /** INCREMENTAL [[connectedComponents]]: fold a delta batch's pairs into
    * standing labels WITHOUT re-contracting the full corpus (VERDICT r5
    * §next-5 — the missing half of the [[minhashLshPairsBetween]] story:
    * banding gives delta↔corpus edges, but recomputing labels from the full
    * edge set made every batch pay the whole history).
    *
    * `priorLabels` is a previous run's (id, component) output. Each label
    * row IS an edge to the component root, and a labeling is by definition
    * a fully-contracted star forest — so seeding the star contraction with
    * (labels-as-edges ∪ delta pairs) reaches the same fixed point as
    * re-running over (all historical pairs ∪ delta pairs): the label edges
    * connect exactly the same components the historical pairs did.
    * The same local union-find pass runs over (labels ∪ delta) edges, so
    * a one-partition fold needs no round at all; a larger one runs only
    * the rounds to fold the DELTA in — O(log of the largest newly-merged
    * chain), independent of corpus history. Output contract
    * is identical to [[connectedComponents]] over the union
    * ([[graft.operators]] ComponentsSpec asserts equality with the full
    * recompute; q109's oracle checks it against a recursive-CTE closure).
    * Roots can only DECREASE across batches (a merge relabels to the
    * union's min id) — stable keys for a standing dedup store. */
  def connectedComponentsIncremental(
      priorLabels: DataFrame, deltaPairs: DataFrame,
      nodes: DataFrame, idCol: String, maxIter: Int = 50): DataFrame =
    foldComponents(
      priorLabels.select(col("id").as("u"), col("component").as("v"))
        .union(deltaPairs.select(col("id_a").as("u"), col("id_b").as("v"))),
      nodes, idCol, maxIter)

  private def foldComponents(
      rawEdges: DataFrame, nodes: DataFrame, idCol: String,
      maxIter: Int): DataFrame = {
    val spark = rawEdges.sparkSession

    // large-star(u): m = min over u's full neighborhood (symmetrized) and u
    // itself; every neighbor v > u re-links to m. Emitted edges keep u > v
    // (v > u ≥ m), so orientation is an invariant, not a per-round sort.
    // Both phases need their edge frame partitioned on u TWICE — once as
    // the min-agg input, once as the join's probe side. An explicit
    // repartition(u) makes the two subtrees identical, so ReuseExchange
    // materializes ONE shuffle per phase that both consumers read (the
    // former spelling exchanged the frame separately for the agg and the
    // join — two edge-cardinality shuffles per phase; guide §2.4 "two
    // operations keyed the same way can share one exchange").
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val m = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      nbrs.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star(u): with edges oriented u > v, m = min smaller neighbor;
    // u and each other smaller neighbor re-link to m (all ≥ m ⇒ oriented).
    def smallStar(e: DataFrame): DataFrame = {
      val e2 = e.repartition(col("u"))
      val m = e2.groupBy("u").agg(min(col("v")).as("m"))
      e2.join(m, "u")
        .select(col("v").as("n"), col("m"))
        .union(m.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    // one agg job both materializes the round's cache and fingerprints the
    // edge SET (rows are distinct, so count + xor-of-hashes identifies it).
    // The 64-bit fingerprint is a cheap SCREEN only: a match triggers an
    // exact set-equality confirmation below, so a hash collision can cost
    // one extra round but can never stop iteration early.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("c"), expr("bit_xor(xxhash64(u, v))").as("x")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val init = rawEdges.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // under AQE this runs the distinct's shuffle and fixes the (coalesced)
    // partition count
    val initRdd = init.rdd
    StarForest.pass(init.schema("u").dataType) match {
      case Some(localPass) if initRdd.getNumPartitions <= 1 =>
        // one partition holds every edge: its star forest IS the fixed point.
        // It has one row per non-root node and fit one task, so it is
        // collected, and the labels join the nodes as a relation of known
        // size (a broadcast)
        val forest = initRdd.mapPartitions(localPass).collect()
        val labels = spark.createDataFrame(java.util.Arrays.asList(forest: _*), init.schema)
        return withSingletons(
          labels.select(col("u").as("id"), col("v").as("component")), nodes, idCol)
      case _ =>
    }
    var cur = initRdd.persist(StorageLevel.MEMORY_AND_DISK)
    var edges = spark.createDataFrame(cur, init.schema)
    var (cnt, chk) = checksum(edges)
    var converged = cnt == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // one LS∘SS pair per materialization. Measured and rejected (r15):
      // folding TWO pairs per materialization to halve the round-boundary
      // overhead ran 1.3-1.5× SLOWER on every CC composite — the inner
      // pair's un-materialized subtree is referenced several times by the
      // outer pair (only its exchanges get reused), so its aggregates
      // re-evaluate and the doubled plan re-plans per AQE stage.
      val round = smallStar(largeStar(edges))
      val next = round.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val nextDf = spark.createDataFrame(next, round.schema)
      val (c2, k2) = checksum(nextDf)
      // checksum match → confirm exactly while BOTH rounds are still
      // pinned: equal counts + distinct rows ⇒ one-sided exceptAll-empty
      // proves set equality. Runs once at the (suspected) fixed point, so
      // the exact check adds one job total, not one per round.
      converged = c2 == cnt && k2 == chk && nextDf.exceptAll(edges).isEmpty
      cnt = c2; chk = k2
      cur.unpersist(blocking = false)
      cur = next
      edges = nextDf
      i += 1
    }
    if (!converged && cnt > 0L)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped at maxIter=$maxIter before the edge set " +
          "stabilized — components may be split; raise maxIter")
    // at the fixed point every edge is (member, root): labels fall straight
    // out; re-root the (small) result so the loop RDD can be released
    val finalLabels = edges.select(col("u").as("id"), col("v").as("component"))
      .localCheckpoint(true)
    cur.unpersist(blocking = false)
    withSingletons(finalLabels, nodes, idCol)
  }

  /** (id, component) over every node: roots have no outgoing edge and
    * singletons never appear in `labels`, so both keep themselves via the
    * coalesce. */
  private def withSingletons(labels: DataFrame, nodes: DataFrame, idCol: String): DataFrame = {
    val allNodes = nodes.select(col(idCol).as("id"))
    allNodes.join(labels.withColumnRenamed("id", "__lid"),
        allNodes("id") === col("__lid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** One-call corpus dedup: MinHash-LSH near-dup pairs → connected
    * components → one representative per cluster (plus every document never
    * seen in a pair). This is the operator a curation pipeline actually
    * invokes (q49 composes it with quality/language gates).
    *
    * Representative rule: with `keepBy` empty (default), each cluster keeps
    * its minimum-id member via an anti-join of the folded ids — the cheap
    * path (no window). With `keepBy` given (e.g. `Seq(col("quality").desc,
    * col(idCol))` — what a real curation run wants: keep each dup family's
    * BEST member, not its accidental first), each cluster keeps its first
    * row under that ordering; append a unique tie-breaker for deterministic
    * output. Cost: one extra keyed window over the component label — the
    * same single-shuffle shape as the anti-join it replaces.
    *
    * Ids are expected unique per row. Rows sharing an id are matched on
    * their own texts (see [[ngramJaccardPairs]]) but share one component
    * label; with `keepBy` empty they are kept or dropped together. */
  def dedupedCorpus(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      threshold: Double = 0.8, keepBy: Seq[Column] = Nil): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, bands, rowsPerBand, threshold)
    keepRepresentatives(df, idCol, pairs, keepBy)
  }

  /** Shared representative-selection tail of [[dedupedCorpus]] /
    * [[dedupedCorpusByEmbedding]]: fold `pairs` into components, keep one
    * row per cluster. `keepBy` empty = min-id member via a cheap anti-join
    * of the folded ids; `keepBy` given = each cluster's first row under
    * that ordering via one keyed window over the component label. */
  private def keepRepresentatives(
      df: DataFrame, idCol: String, pairs: DataFrame,
      keepBy: Seq[Column]): DataFrame = {
    if (keepBy.isEmpty) {
      val folded = connectedComponents(pairs, df, idCol)
        .filter(col("id") =!= col("component"))
        .select(col("id").as(idCol))
      Joins.join(df, folded, Seq(idCol), "anti")
    } else {
      Ops.requireUnreserved("dedupedCorpus(keepBy)",
        Seq("__graft_comp", "__graft_rk"), df.columns)
      // labels cover EVERY doc (singletons label themselves), so the window
      // ranks each cluster once and keeps singletons trivially
      val labels = connectedComponents(pairs, df, idCol)
        .select(col("id").as(idCol), col("component").as("__graft_comp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__graft_comp")).orderBy(keepBy: _*)
      df.join(labels, Seq(idCol))
        .withColumn("__graft_rk", row_number().over(w))
        .filter(col("__graft_rk") === 1)
        .drop("__graft_rk", "__graft_comp")
    }
  }

  /** Embedding near-dup: multi-table random-hyperplane LSH candidates
    * (shared with [[Similarity.bucketedTopK]] — `nTables` seeded Rademacher
    * hyperplane tables, `signBits` sized to the corpus by default so bucket
    * occupancy is constant at any scale), exact quantized cosine verify.
    * `multiProbe` additionally joins each row's Hamming-1 bucket
    * perturbations against the other side's exact buckets — COMPLETE for
    * bucket pairs one sign-bit apart (a pair differing in exactly bit j has
    * the lower id's perturbation j land in the higher id's bucket), which
    * is where most LSH misses live. Measured on q53's scorecard (pairs at
    * cosine 0.3–0.5, the hardest band for hyperplane LSH): 8 tables/no
    * probing = 0.34 pair recall; 16 tables + probing = 0.99 at sf0.01
    * (6 sign bits) and 0.86 at sf0.1 (8 bits; 24 tables measure 0.95 there
    * at ~2× found-side cost — `RecallFloorSpec` gates both dials on seeded
    * 2000-vector corpora, and q53 pins the default's recall at sf0.01).
    * The decay with corpus size is inherent: sized sign bits cut per-table
    * collision probability ~0.63^bits at this θ, so holding recall at a
    * FIXED low threshold needs tables growing exponentially in bits —
    * whereas at realistic near-dup cosines (≥ 0.7, per-table collision
    * ≥ 0.12 at 8 bits before probing) the default holds ≥ 0.99 at any
    * tested size. Probing costs ×(bits+1) probe-side rows — still a keyed
    * equi-join (never a cross join); `nTables` is the dial when a low
    * detection threshold matters more than index size at 100 TB, so the
    * DEFAULT (`nTables = 0` = auto) adapts to the requested threshold:
    * 16 tables at θ ≥ 0.4, 24 below (VERDICT r5 §next-2 — the 16-table
    * dial measured 0.856 pair recall at θ=0.3/sf0.1 where 24 measures
    * 0.946 at ~2× candidate cost; `RecallFloorSpec` sees 0.856–0.868 and
    * 0.945–0.953 on its seeded corpora and gates both). Deterministic and
    * oracle-reproducible; precision = 1 via the exact verify. Eager
    * (result checkpointed, caches released). */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      nTables: Int = 0, signBits: Int = 0, threshold: Double = 0.4,
      multiProbe: Boolean = true, seed: Long = 42L): DataFrame = {
    val ix = embeddingIndex(df, idCol, vecCol, nTables, signBits, threshold,
      seed = seed)
    try embeddingNearDupPairsIndexed(ix, threshold, multiProbe) finally ix.release()
  }

  /** A reusable embedding near-dup index — the vector sibling of
    * [[MinhashIndex]]: ONE pinned [[Segment]] of `packed` (id, v, nn, bk)
    * rows, with each corpus vector quantized (`v`), its exact integer norm
    * (`nn`) and its sign-LSH signature in every table (`bk`,
    * `array<bigint>` indexed by table), plus the hyperplane parameters
    * (`nTables`, `bits`, `dim`, `scale`, `seed`) that a DELTA batch must
    * share to land in the same bucket space. A bucket is the low `bits`
    * bits of a signature: a plane depends only on (seed, t, j, pos), so a
    * build whose bits are sized to the corpus computes the signatures at
    * the widest width before it knows the corpus size, and every reader
    * masks them. `vecs` (id, v, nn) and `buckets` (id, t, bucket) are
    * derived views with the stored tables' schemas. Hyperplanes are a pure function
    * of the parameters (seeded md5), so they are re-derived, not stored:
    * `planes` is built once per index, as one primitive long array.
    * `release()` when done. */
  final case class EmbeddingIndex private[operators] (
      segments: Vector[Segment], nTables: Int, bits: Int, dim: Int, scale: Int, seed: Long)
      extends StandingIndex {
    def packed: DataFrame = Segment.union(segments)
    def vecs: DataFrame = packed.select("id", "v", "nn")
    def buckets: DataFrame = packed
      .select(col("id"), posexplode(transform(col("bk"), _.bitwiseAND(lit((1L << bits) - 1))))
        .as(Seq("t", "bucket")))
      .select(col("id"), col("t").cast("long").as("t"), col("bucket"))
    private[operators] lazy val planes: PlaneMatrix = PlaneMatrix.seeded(nTables, bits, dim, seed)
  }

  /** Build an [[EmbeddingIndex]]: one pinned projection quantizes each
    * vector, takes its norm and buckets it in every table
    * ([[Similarity.lshBucketsOf]]), after a one-row probe of the input for
    * the dimension. Sign bits are sized to THIS corpus
    * ([[Similarity.sizedSignBits]] — constant bucket occupancy at any
    * scale) from the pin's own row count. `nTables = 0` = threshold-adaptive
    * default (16 at θ ≥ 0.4, 24 below — the r6-measured dial); the
    * `threshold` argument is used ONLY for that auto-dial. A corpus without
    * a vector yields an empty index (dim = 0) that every downstream join
    * handles as zero pairs. A vector whose dimension differs from the
    * first one fails the build with `graft_qdot`'s dimension error, and
    * leaves nothing pinned. */
  def embeddingIndex(
      df: DataFrame, idCol: String, vecCol: String,
      nTables: Int = 0, signBits: Int = 0, threshold: Double = 0.4,
      scale: Int = 1000, seed: Long = 42L): EmbeddingIndex = {
    val tables = if (nTables > 0) nTables else if (threshold >= 0.4) 16 else 24
    val rows = Par.spread(df).select(col(idCol).as("id"),
        Similarity.quantize(col(vecCol), scale).as("v"))
      .withColumn("nn", Similarity.qdot(col("v"), col("v")))
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).head(1).headOption match {
      case None => // nothing to pin: one segment of typed empty rows
        val empty = new Segment(rows.withColumn("bk", lit(null).cast("array<bigint>")).limit(0),
          0L, 0, Nil)
        EmbeddingIndex(Vector(empty), tables, bits = 4, dim = 0, scale = scale, seed = seed)
      case Some(first) =>
        val dim = first.getInt(0)
        val wide = PlaneMatrix.seeded(tables,
          if (signBits > 0) signBits else Similarity.maxSignBits, dim, seed)
        val seg = Segment.pin(rows.withColumn("bk", Similarity.lshBucketsOf("v", wide)))
        EmbeddingIndex(Vector(seg), tables,
          if (signBits > 0) signBits else Similarity.sizedSignBits(seg.rows), dim, scale, seed)
    }
  }

  /** Persist an [[EmbeddingIndex]] as three parquet tables (`vecs`,
    * `buckets`, `params`) — the standing-vector-store layout made literal:
    * quantize + bucket the corpus once, store, and every later ingest
    * batch ([[embeddingNearDupPairsBetween]], the streaming bulk gate)
    * is matched against the stored index. `params` carries the hyperplane
    * parameters a delta must share to land in the same bucket space, and
    * is the commit marker ([[IndexFiles.save]]). */
  def saveEmbeddingIndex(ix: EmbeddingIndex, path: String): Unit = {
    val spark = ix.packed.sparkSession
    import spark.implicits._
    IndexFiles.save(path, Seq("vecs" -> ix.vecs, "buckets" -> ix.buckets,
      "params" -> Seq((ix.nTables, ix.bits, ix.dim, ix.scale, ix.seed))
        .toDF("n_tables", "bits", "dim", "scale", "seed")))
  }

  /** Load a stored [[EmbeddingIndex]] (pinned, [[embeddingIndex]]
    * contract) from its `vecs` and `params`: the buckets are re-derived
    * from the stored vectors with the hyperplanes of the stored parameters
    * (seeded md5 — a pure function), so a loaded index holds the stored
    * `buckets` rows exactly and produces bit-identical pairs to the one
    * that was saved. Fails fast with a clear message on a partial save. */
  def loadEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): EmbeddingIndex = {
    val part = IndexFiles.open(spark, path, "EmbeddingIndex", Seq("vecs", "buckets", "params"))
    val p = part("params").head()
    val (nT, bits, dim, seed) =
      (p.getAs[Int]("n_tables"), p.getAs[Int]("bits"), p.getAs[Int]("dim"), p.getAs[Long]("seed"))
    val bk = if (dim == 0) lit(null).cast("array<bigint>")
      else Similarity.lshBucketsOf("v", PlaneMatrix.seeded(nT, bits, dim, seed))
    EmbeddingIndex(Vector(Segment.pin(part("vecs").withColumn("bk", bk))),
      nT, bits, dim, p.getAs[Int]("scale"), seed)
  }

  /** [[embeddingNearDupPairs]] over a prebuilt [[EmbeddingIndex]] — the
    * index is NOT released (the caller owns it and may reuse it for delta
    * joins, [[minhashLshPairsIndexed]]-style). */
  def embeddingNearDupPairsIndexed(
      ix: EmbeddingIndex, threshold: Double,
      multiProbe: Boolean = true): DataFrame = {
    val probed =
      if (multiProbe) Similarity.multiProbe(ix.buckets, "id", ix.bits) else ix.buckets
    val cand = probed.as("x").join(ix.buckets.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    cosineVerify(cand, ix.vecs, ix.vecs, threshold).localCheckpoint(true)
  }

  /** Incremental (delta ↔ corpus) embedding near-dup pairs — the vector
    * twin of [[minhashLshPairsBetweenIndexed]] and the missing half of the
    * standing-vector-store story (VERDICT r6 §missing-1), as an index
    * probe plus an exact verify. The delta — by contract the SMALL side —
    * is quantized, normed and bucketed with the CORPUS index's own planes
    * (same tables/bits/seed ⇒ same bucket space) in one projection, and
    * collected; its (table, bucket) probe keys, Hamming-1-complete with
    * `multiProbe` exactly like the self-join path, are broadcast. ONE scan
    * of the corpus's pinned `packed` frame then looks each row's buckets up
    * among the probe keys, drops the duplicates across tables inside the
    * row and verifies each candidate with the exact quantized cosine — the
    * corpus is never joined, shuffled or re-bucketed, and nothing is
    * pinned. Output: (id_a = delta id, id_b = corpus id, cosine ≥
    * threshold), each pair once; same-id and null-id pairs excluded
    * (overlapping id spaces). Ids are expected unique per row: a repeated
    * id is matched on each of its own vectors. A delta vector of another
    * dimension fails with `graft_qdot`'s dimension error. Eager: the pairs
    * are computed before this returns, as a driver-local frame; the corpus
    * index is NOT released. Two Spark jobs: the delta collect and the
    * corpus scan. */
  def embeddingNearDupPairsBetween(
      delta: DataFrame, corpus: EmbeddingIndex,
      idCol: String, vecCol: String, threshold: Double = 0.4,
      multiProbe: Boolean = true): DataFrame = {
    val (idType, pairs) =
      nearDupPairsBetween(delta, corpus, idCol, vecCol, threshold, multiProbe)
    delta.sparkSession.createDataFrame(java.util.Arrays.asList(pairs: _*), StructType(Seq(
      StructField("id_a", idType), StructField("id_b", corpus.packed.schema("id").dataType),
      StructField("cosine", DoubleType))))
  }

  /** The (id_a, id_b, cosine) rows of [[embeddingNearDupPairsBetween]] on
    * the driver, with the type of the delta's id. */
  private[graft] def nearDupPairsBetween(
      delta: DataFrame, corpus: EmbeddingIndex, idCol: String, vecCol: String,
      threshold: Double, multiProbe: Boolean = true): (DataType, Array[Row]) = {
    val spark = delta.sparkSession
    val q = delta.select(col(idCol).as("id"), Similarity.quantize(col(vecCol), corpus.scale).as("v"))
    val idType = q.schema("id").dataType
    if (corpus.dim == 0) return (idType, Array.empty) // an empty corpus matches nothing
    val probes = q.filter(col("v").isNotNull)
      .select(col("id"), col("v"), Similarity.qdot(col("v"), col("v")),
        Similarity.lshBucketsOf("v", corpus.planes))
      .collect()
    if (probes.isEmpty) return (idType, Array.empty)
    val table = spark.sparkContext.broadcast(LshProbeTable(corpus.bits, multiProbe,
      probes.map(_.getSeq[Long](1).toArray), probes.map(_.getLong(2)),
      probes.map(_.getSeq[Long](3).toArray)))
    try {
      val probe = Kernels.lshProbe(col("bk"), col("v"), table)
      val hits = corpus.packed
        .select(col("id"), col("nn"), explode(probe).as("c"))
        .select(col("c.a"), col("id"),
          Similarity.cosineOf(col("c.dot"), col("c.na"), col("nn")).as("cosine"))
        .filter(col("cosine") >= threshold)
        .collect()
      (idType, hits.flatMap { h =>
        val (idA, idB) = (probes(h.getInt(0)).get(0), h.get(1))
        if (idA == null || idB == null || idA == idB) None else Some(Row(idA, idB, h.getDouble(2)))
      })
    } finally table.destroy()
  }

  /** Exact quantized-cosine verification of candidate pairs: id_a rows come
    * from `va`, id_b rows from `vb` (both `(id, v, nn)` frames); one
    * codegen'd integer dot per candidate, one double division — engine-
    * identical (the [[Similarity]] determinism contract). */
  private def cosineVerify(
      cand: DataFrame, va: DataFrame, vb: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(va.select(col("id").as("id_a"), col("v").as("va"), col("nn").as("na")), Seq("id_a"))
      .join(vb.select(col("id").as("id_b"), col("v").as("vb"), col("nn").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        Similarity.cosineOf(Similarity.qdot(col("va"), col("vb")),
          col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** SemDeDup-style one-call semantic dedup (Abbas et al. 2023 in spirit —
    * embedding near-dups, graph-folded, one kept representative per
    * cluster; VERDICT r6 §missing-2): [[embeddingNearDupPairs]] →
    * [[connectedComponents]] → the same representative rule as
    * [[dedupedCorpus]] (min-id anti-join with `keepBy` empty; best-row
    * keyed window with `keepBy` given — a real curation run keeps each
    * semantic family's highest-quality member, not its accidental first).
    * Same scale shape end to end: keyed equi-joins and O(log N) star
    * contraction, never all-pairs. */
  def dedupedCorpusByEmbedding(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4, nTables: Int = 0, signBits: Int = 0,
      keepBy: Seq[Column] = Nil, seed: Long = 42L): DataFrame = {
    val pairs = embeddingNearDupPairs(df, idCol, vecCol, nTables, signBits,
      threshold, seed = seed)
    keepRepresentatives(df, idCol, pairs, keepBy)
  }

  /** Benchmark decontamination screen (the GPT-3 appendix-C / PaLM
    * n-gram-collision shape): flag every training document sharing at
    * least one word n-gram with the evaluation corpus — eval answers
    * leaking into training data inflate benchmark scores silently, so
    * curation pipelines run this screen before every training dump.
    * Returns (train_id, n_hits) for CONTAMINATED docs only, n_hits = how
    * many distinct benchmark n-grams the doc contains (the triage
    * severity: 1 hit ≈ idiom collision, 50 hits ≈ a verbatim copy).
    * Drop or quarantine via an anti-join on the result.
    *
    * Scale shape: both sides explode to distinct n-gram rows; ONE keyed
    * equi-join — the benchmark side (thousands of docs) is tiny next to
    * the training corpus, so Spark broadcasts it and the 100 TB side
    * never shuffles; then one map-side-combined count. Raise `n` to
    * sharpen precision (13 is the published choice for web-scale dumps;
    * short-doc corpora want 5–8). */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchText: String, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val tSh = Par.spread(train).select(col(trainId).as("train_id"),
      explode(graft.functions.Text.wordShingles(col(trainText), n)).as("sh"))
    val bSh = bench
      .select(explode(graft.functions.Text.wordShingles(col(benchText), n)).as("sh"))
      .distinct()
    // wordShingles is already per-doc distinct, so count(*) after the
    // join is the distinct-collision count
    tSh.join(bSh, Seq("sh"))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Asymmetric (containment) near-dup pairs — the quote/excerpt detector
    * Jaccard misses: a 50-shingle snippet fully embedded in a 5000-shingle
    * article has Jaccard ≈ 0.01 but containment 1.0 on the snippet side.
    * Over the df-capped shingle vocabulary (a boilerplate shingle shared
    * by half the corpus generates df² candidate pairs AND carries no
    * evidence — the [[Similarity.sparseCosinePairs]] cap, mirrored by the
    * oracle), emits each pair with the intersection size, both (capped)
    * set sizes, and both containment directions, kept when the LARGER
    * direction clears `thrNum/thrDen` — an exact integer test
    * (inter·thrDen ≥ thrNum·min(n_a, n_b)), micro-quantized only for
    * display. Output: (id_a, id_b, inter, n_a, n_b, cont_a_micro,
    * cont_b_micro), id_a < id_b.
    *
    * Scale shape: inverted-index candidate generation (one keyed
    * equi-join on the shingle), never all-pairs; two map-side-combined
    * aggs; the df cap bounds any shingle's fan-out at maxDf². */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, thrNum: Long, thrDen: Long, maxDf: Long): DataFrame = {
    require(n >= 1 && maxDf >= 2 && thrDen > 0 && thrNum >= 0,
      "need n >= 1, maxDf >= 2, 0 <= thrNum/thrDen")
    // pin the exploded shingle rows: they feed the df table, both sides of
    // the candidate join AND the size agg — recomputing the regex/explode
    // four times dominated the wall clock before this (9.3 s -> measured
    // drop at sf0.1); eager localCheckpoint is the Bpe/kCore discipline
    val sh = Par.spread(df).select(col(idCol).as("id"),
      explode(graft.functions.Text.wordShingles(col(textCol), n)).as("sh"))
      .localCheckpoint(true)
    val kept = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("sh"), Seq("sh"))
      .localCheckpoint(true)
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("nsh"))
    val inter = kept.select(col("id").as("id_a"), col("sh"))
      .join(kept.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("nsh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nsh").as("n_b")), Seq("id_b"))
      .filter(col("inter") * thrDen >= lit(thrNum) * least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        round(col("inter").cast("double") / col("n_a").cast("double") * 1e6)
          .cast("long").as("cont_a_micro"),
        round(col("inter").cast("double") / col("n_b").cast("double") * 1e6)
          .cast("long").as("cont_b_micro"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS local fingerprinting scheme): hash every character `k`-gram of
    * the normalized text, slide a `w`-gram window, and keep each window's
    * minimum hash with ties broken to the RIGHTMOST position — the
    * selection whose guarantee is positional: any shared substring of
    * length ≥ k+w−1 yields at least one shared fingerprint, while
    * expected density stays ~2/(w+1) of the grams. Hashes are the repo
    * md5 fold (15 hex → 60-bit long), so fingerprints are engine-exact.
    * Documents shorter than k+w−1 normalized chars have no full window
    * and yield no rows (the scheme is defined on full windows only).
    * Output: distinct (`idCol`, `p` — 1-based gram position, `h`).
    *
    * Scale shape: one projection explodes positions (codegen'd substring/
    * md5, no UDF), then ONE per-document window min — partitioned by doc,
    * ordered by position, a (w)-row moving frame; the argmin-with-
    * rightmost-tie is a lexicographic struct min (h, −p), no self-join.
    * Shuffle volume is the gram stream keyed by doc. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    // slice k-char grams INSIDE the array builder so the exploded rows
    // carry 8-char grams, not the whole document text (carrying __t per
    // gram row multiplies the shuffled bytes by ~n_chars/k); md5 runs
    // AFTER the explode, codegen'd on a plain string column
    val grams = Par.spread(df)
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.Text.normalize(col(textCol)).as("__t"))
      .filter(length(col("__t")) >= k + w - 1)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), length(col("__t")) - (k - 1)),
        p => col("__t").substr(p, lit(k)))))
      .select(col("id"), (col("pos") + 1).as("p"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long").as("h"))
    val fr = Window.partitionBy(col("id")).orderBy(col("p"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("__sel",
        min(struct(col("h").as("mh"), (-col("p")).as("np"))).over(fr))
      .filter(col("p") >= w) // full frames only
      .select(col("id"),
        (-col("__sel").getField("np")).as("p"),
        col("__sel").getField("mh").as("h"))
      .distinct()
  }

  /** Cross-document shared-fingerprint pairs over [[winnowFingerprints]]
    * — the plagiarism/quote detector that LOCALIZES: a shared fingerprint
    * pins a shared ≥k-char span, so `n_shared` measures copied material
    * directly. Fingerprints in more than `maxDf` documents are dropped
    * before pairing (boilerplate — the [[containmentPairs]] df-cap
    * discipline; set sizes are counted over the SAME capped set so the
    * Jaccard is internally consistent). Output per pair (id_a < id_b):
    * `n_shared`, `n_a`, `n_b`, `jac_micro`.
    *
    * Scale shape: inverted-index equi-join on the fingerprint hash —
    * never all-pairs; the df-cap bounds each hash's pair fan-out at
    * maxDf², and the fingerprint stream is ~2/(w+1) of the gram stream.
    * The capped set is pinned once and feeds sizes + both join sides. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDf: Long = 50): DataFrame = {
    require(maxDf >= 2, "maxDf must be >= 2 to ever produce a pair")
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
      .localCheckpoint(true)
    val kept = fp.join(
      fp.groupBy("h").agg(count(lit(1)).as("dfh"))
        .filter(col("dfh") <= maxDf).select("h"), Seq("h"))
      .localCheckpoint(true)
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("nf"))
    kept.select(col("id").as("id_a"), col("h"))
      .join(kept.select(col("id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("nf").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("nf").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double") * 1e6)
          .cast("long").as("jac_micro"))
  }
}
