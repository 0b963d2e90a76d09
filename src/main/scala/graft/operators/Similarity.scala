package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.expressions.{CellMatrix, CodeMatrix, Kernels, PlaneMatrix, PqMatrix}

/** Approximate-nearest-neighbor similarity search over embedding columns
  * (north-star extension, SURVEY §2.1 ✚).
  *
  * Three paths:
  *  - brute-force cosine top-k: the exact baseline. The query set is small
  *    and broadcast, so the "cross join" is a broadcast-nested-loop over the
  *    corpus — embarrassingly parallel, no shuffle of the big side.
  *  - multi-table random-hyperplane LSH top-k (`bucketedTopK`): the scale
  *    path. `nTables` independent seeded hyperplane tables, each hashing to
  *    `signBits` sign bits; a corpus row is a candidate if it shares a
  *    bucket with the query in ANY table (Charikar 2002; Indyk–Motwani
  *    multi-table construction). Collision prob per table is
  *    (1 − θ/π)^signBits, recall = 1 − (1 − p)^nTables — tables buy recall,
  *    bits buy selectivity.
  *  - IVF top-k (`ivfTopK`): coarse k-means quantizer (fixed-count Lloyd
  *    rounds, deterministic hash-sampled init), search the query's `nprobe`
  *    nearest cells.
  *
  * Training (IVF centroids, PQ codebooks): the models are tiny, so they
  * train on the driver. One TakeOrdered job collects a hash-prefix sample
  * of the pinned, quantized corpus (256 vectors per centroid), and every
  * integer Lloyd round runs over it as plain Scala ([[Lloyd]]); only the
  * final assignment/encoding pass touches the whole corpus.
  *
  * Scale-parameterization (VERDICT r1): `signBits` defaults to the smallest
  * b with 2^b · 8 ≥ |corpus| (bucket occupancy ≈ 8 at ANY corpus size, so
  * per-bucket candidate volume stays constant as N grows), and `nCells`
  * defaults to ⌈√N⌉ (balances cells scanned per probe against cell size —
  * the standard IVF sizing). Both derivations are integer-exact so the
  * DuckDB oracle computes the identical values from `count(*)`.
  *
  * Determinism: embeddings are quantized to integer milli-units before the
  * dot product (`quantize`). Integer sums are associative — the result is
  * independent of partitioning/evaluation order, so results are reproducible
  * across cluster sizes AND bit-identical to the DuckDB oracle (float
  * summation order would not be). Quantized int8/int16 embeddings are also
  * the standard memory/bandwidth optimization for ANN at scale. Hyperplane
  * weights and centroid seeds derive from md5, which both engines share.
  *
  * Storage discipline ([[Pinned]] states the rule): an eager operator pins
  * what it reads more than once for the span of the call and checkpoints
  * its result; a standing [[IvfPqIndex]] owns its pins as [[Segment]]s.
  */
object Similarity {

  /** Quantize a float/double vector to integer units of 1/scale. */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v.cast("array<double>"), x => round(x * scale).cast("long"))

  /** Exact integer dot product of two `array<bigint>` (order-independent):
    * the codegen'd native kernel [[graft.expressions.QDotLong]]. Vectors of
    * different dimensions raise its dimension error. */
  def qdot(a: Column, b: Column): Column = Kernels.qdot(a, b)

  /** dot/(√na·√nb) with a zero-norm guard: a zero vector has no direction,
    * so its cosine is NULL — it never passes a `>= threshold` filter and
    * ranks LAST under `desc` ordering (Spark's desc is nulls-last). The
    * guard matters under ANSI mode, where the unguarded 0/0 aborts the
    * whole job on one degenerate row (found by the
    * dedupedCorpusByEmbedding property shrink). For nonzero norms the
    * `when` branch evaluates the IDENTICAL division, so every oracle's
    * unguarded expression still matches bit-for-bit. */
  private[operators] def cosineOf(dot: Column, na: Column, nb: Column): Column =
    when(na > lit(0L) && nb > lit(0L),
      dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))

  /** Cosine over quantized vectors: one double division of exact integer
    * dots — bit-identical on any engine. NULL for zero-norm inputs. */
  def qcosine(a: Column, b: Column): Column =
    cosineOf(qdot(a, b), qdot(a, a), qdot(b, b))

  /** Double-precision cosine (library use; order-sensitive last-ulp).
    * NULL for zero-norm inputs. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    when(dot(a, a) > lit(0.0) && dot(b, b) > lit(0.0),
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))))
  }

  /** The widest sized signature: [[sizedSignBits]]' default cap. */
  private[operators] val maxSignBits = 24

  /** Smallest b in [minBits, maxBits] with 2^b · targetOccupancy ≥ n:
    * bucket count grows WITH the corpus so per-bucket occupancy — and with
    * it per-bucket candidate-pair volume — stays ~constant at any scale.
    * Integer-exact (no float log2) so the SQL oracle derives the same b. */
  def sizedSignBits(n: Long, targetOccupancy: Int = 8, minBits: Int = 4,
      maxBits: Int = maxSignBits): Int = {
    var b = minBits
    while (b < maxBits && (1L << b) * targetOccupancy < n) b += 1
    b
  }

  /** Deterministic seeded ±1 random hyperplanes, one row per
    * (table `t`, bit `j`, dimension `pos`): w = +1 iff the first md5 nibble
    * of "seed|t|j|pos" is even ([[graft.expressions.PlaneMatrix.seeded]],
    * bit-identical to SQL's `md5(concat_ws('|', …))` spelling). Tiny
    * (nTables·bits·dim rows), so the planes are computed on the driver and
    * returned as a local relation: collecting or broadcasting them runs no
    * Spark job. */
  def hyperplanes(spark: SparkSession, nTables: Int, bits: Int, dim: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val m = PlaneMatrix.seeded(nTables, bits, dim, seed)
    (for (t <- 0L until nTables; j <- 0L until bits; pos <- 0L until dim)
      yield (t, j, pos, m.flat((((t * bits) + j) * dim + pos).toInt))).toDF("t", "j", "pos", "w")
  }

  /** Each table's sign-LSH bucket of the quantized vector column `vecCol`
    * against the plane matrix `planes`, as `array<bigint>` indexed by
    * table: ONE codegen'd projection ([[graft.expressions.LshBucketsLong]] — r15: this
    * replaces a dim-explode + broadcast plane join whose ×nTables·bits
    * fan-out dominated every index build, plus its two hash-agg exchanges;
    * guide §2.4). The matrix travels in the plan as primitive longs. A
    * vector of another dimension fails the query with `graft_qdot`'s
    * dimension error. */
  private[operators] def lshBucketsOf(vecCol: String, planes: PlaneMatrix): Column =
    Kernels.lshBuckets(col(vecCol), planes)

  /** (id, t, bucket) for each row of `v` (id + quantized vector): bit j of
    * table t's bucket = [v · r_tj ≥ 0] ([[lshBucketsOf]], exploded by
    * table). Bucket values are the identical exact-integer signs
    * (SimilaritySpec asserts equality with the relational spelling). */
  private[operators] def lshBuckets(
      v: DataFrame, idCol: String, vecCol: String, planes: PlaneMatrix): DataFrame =
    v.select(col(idCol), posexplode(lshBucketsOf(vecCol, planes)).as(Seq("t", "bucket")))
      .select(col(idCol), col("t").cast("long").as("t"), col("bucket"))

  /** Multi-probe expansion (Lv et al., "Multi-Probe LSH", VLDB 2007): each
    * (id, t, bucket) row fans out to the bucket itself plus its `bits`
    * Hamming-1 perturbations. A near neighbor that lands one sign-bit away
    * from the query — by far the most likely miss — is then still found, so
    * probing buys most of the recall extra tables would, at ZERO extra index
    * size; the candidate volume stays bucket-bounded (×(bits+1)).
    * `bucketedTopK` applies it to the small query side (probe cost
    * negligible); `Dedup.embeddingNearDupPairs` probes ONE side of its
    * self-join — ×(bits+1) rows on that side, the documented trade there. */
  private[operators] def multiProbe(qb: DataFrame, idName: String, bits: Int): DataFrame =
    qb.select(col(idName), col("t"),
      explode(concat(array(col("bucket")),
        transform(sequence(lit(0), lit(bits - 1)),
          j => col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), j.cast("int"))))))
        .as("bucket"))

  /** Exact cosine top-k neighbors for each row of `queries` against `corpus`.
    * `queries` is broadcast (small side); ranking is a window partitioned by
    * query id, so the per-query top-k never concentrates on one executor.
    * Self-matches excluded; ties broken by neighbor id. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, scale: Int = 1000): DataFrame = {
    // norms precomputed once per row, not once per pair
    val c = Par.spread(corpus)
      .select(col(idCol).as("nbr_id"), quantize(col(vecCol), scale).as("nv"))
      .withColumn("nn", qdot(col("nv"), col("nv")))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol), scale).as("qv"))
      .withColumn("qn", qdot(col("qv"), col("qv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cosine",
        cosineOf(qdot(col("qv"), col("nv")), col("qn"), col("nn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "nbr_id", "cosine", "rank")
  }

  /** Multi-table random-hyperplane LSH approximate top-k: a corpus row is a
    * candidate for a query iff its bucket is within Hamming-1 of the query's
    * bucket in ANY of the `nTables` hyperplane tables (union of per-table
    * equi-joins against the multi-probed query buckets — never a cross
    * join). `signBits = 0` (default) derives bucket width from the corpus
    * size so occupancy stays constant at any scale; tables and probes buy
    * recall at linear candidate cost (measured at sf0.01: 8 tables/no
    * probing = 0.44 of the exact top-5; 16 tables + Hamming-1 multi-probe
    * ≥ 0.9 — the q52 scorecard tracks it every round). Eager (result
    * checkpointed, caches released). */
  def bucketedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nTables: Int = 16, signBits: Int = 0,
      scale: Int = 1000, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nTables >= 1 && signBits >= 0,
      s"need nTables >= 1 and signBits >= 0 (0 derives it), got nTables=$nTables signBits=$signBits")
    Pinned.scoped { pin =>
      val (c, n) = pin.counted(Par.spread(corpus)
        .select(col(idCol).as("nbr_id"), quantize(col(vecCol), scale).as("nv"))
        .withColumn("nn", qdot(col("nv"), col("nv"))))
      if (n == 0L) { // empty corpus: typed empty result, no dim probe to throw
        c.select(col("nbr_id").as("query_id"), col("nbr_id"),
          lit(0.0).as("cosine"), lit(0L).as("rank")).limit(0).localCheckpoint(true)
      } else {
        val bits = if (signBits > 0) signBits else sizedSignBits(n)
        val dim = c.select(size(col("nv")).as("d")).head().getInt(0)
        val planes = PlaneMatrix.seeded(nTables, bits, dim, seed)
        val q = pin(queries.select(col(idCol).as("query_id"), quantize(col(vecCol), scale).as("qv"))
          .withColumn("qn", qdot(col("qv"), col("qv"))))
        val cb = lshBuckets(c, "nbr_id", "nv", planes)
        val qb = multiProbe(lshBuckets(q, "query_id", "qv", planes), "query_id", bits)
        val cand = cb.join(broadcast(qb), Seq("t", "bucket"))
          .filter(col("query_id") =!= col("nbr_id"))
          .select("query_id", "nbr_id").distinct()
        val scored = cand.join(c, Seq("nbr_id")).join(broadcast(q), Seq("query_id"))
          .withColumn("cosine",
            cosineOf(qdot(col("qv"), col("nv")), col("qn"), col("nn")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k)
          .select("query_id", "nbr_id", "cosine", "rank")
          .localCheckpoint(true)
      }
    }
  }

  /** The derived IVF probe count (see the rationale at [[ivfTopK]]'s call
    * site): 2·√cells with a floor of min(cells, 32). */
  private[operators] def ivfProbes(cells: Int, nprobe: Int): Int =
    if (nprobe > 0) nprobe
    else math.max(math.min(cells, 32), 2 * math.ceil(math.sqrt(cells.toDouble)).toInt)

  private val centsSchema = StructType(Seq(StructField("cent_id", LongType),
    StructField("cv", ArrayType(LongType)), StructField("cc", LongType)))

  /** The `(id, vector, self-dot)` rows of a centroid matrix. */
  private def centRows(m: CellMatrix): Seq[(Long, Seq[Long], Long)] =
    m.ids.indices.map(k => (m.ids(k), m.flat.slice(k * m.dim, (k + 1) * m.dim).toSeq, m.ccs(k)))

  /** A centroid matrix as the driver-local `(cent_id, cv, cc)` frame — or,
    * keyed by subspace, codebooks as `(sub, cent_id, cv, cc)`. Building
    * them runs no Spark job. */
  private def centsFrame(spark: SparkSession, cents: Option[CellMatrix]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(cents.toSeq.flatMap(centRows).map {
      case (id, cv, cc) => Row(id, cv, cc) }: _*), centsSchema)

  private def booksFrame(spark: SparkSession, books: Option[CodeMatrix]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList((for {
      b <- books.toSeq
      (sub, s) <- b.subs.zipWithIndex
      (id, cv, cc) <- centRows(sub)
    } yield Row(s, id, cv, cc)): _*),
      StructType(StructField("sub", IntegerType) +: centsSchema.fields))

  /** `v` + a `cell` column: exact-integer argmin assignment (d² = v·v −
    * 2·v·c + c·c over longs; ties to the lowest cell id) as ONE codegen'd
    * projection against the plan-time centroid matrix
    * ([[graft.expressions.CellArgminLong]]). r15: this replaces a
    * broadcast join + corpus-wide hash-agg EXCHANGE per assignment pass
    * with zero shuffle — and it carries `v`'s other columns along, so the
    * join back to the corpus frame the agg forced is gone too (guide
    * §2.4). Bit-identical to the min(struct) form (SimilaritySpec asserts
    * it, ties included). */
  private def withCell(v: DataFrame, vec: String, norm: String, cents: CellMatrix): DataFrame =
    v.withColumn("cell", Kernels.cellArgmin(col(vec), col(norm), cents))

  /** The training set of the IVF and PQ models over a pinned `(nbr_id, nv,
    * vv)` corpus: its first 256·`k` non-null vectors in md5(id) order, `k`
    * the largest centroid count trained on it, collected by ONE
    * TakeOrdered job (no global sort). 256 points per centroid is FAISS's
    * training rule — the hash-prefix sample Jégou et al. 2011 train on —
    * and at ⌈√N⌉ cells it covers the whole corpus up to N = 65,536, so
    * every oracle-checked query trains on the full corpus. Being a prefix
    * of the md5 order, its first `cells` rows are the IVF seeds and its
    * first `kCents` rows the PQ seed documents, exactly the hash-ordered
    * seeds the SQL oracles pick. Every vector must share one dimension. */
  private def trainingSet(c: DataFrame, k: Int): Array[Array[Long]] = {
    val xs = c.filter(col("nv").isNotNull)
      .orderBy(md5(col("nbr_id").cast("string")))
      .limit(math.min(256L * k, Int.MaxValue).toInt)
      .select(col("nv")).collect().map(_.getSeq[Long](0).toArray)
    require(xs.nonEmpty, "no non-null vector to train on")
    val dim = xs.head.length
    xs.find(_.length != dim).foreach(x => throw new IllegalArgumentException(
      s"vector dimensions differ in the training set: ${x.length} vs $dim"))
    xs
  }

  /** The deterministic IVF coarse quantizer of a [[trainingSet]]: the
    * `cells` hash-ordered seeds, refined by `lloydIters` integer-exact
    * Lloyd rounds on the driver ([[Lloyd.train]]); empty cells vanish
    * (identically on the oracle side). */
  private def trainIvfCents(xs: Array[Array[Long]], cells: Int, lloydIters: Int): CellMatrix =
    Lloyd.train(xs, 0, xs.head.length, cells, lloydIters)

  /** IVF-structured approximate top-k: a coarse k-means quantizer splits the
    * corpus into `nCells` Voronoi cells; each query searches its `nprobe`
    * nearest cells. Centroids: deterministic hash-ordered sample of the
    * corpus (smallest md5(id) — id-type-agnostic, uniform, replayable in
    * SQL), refined by a FIXED number of Lloyd rounds with integer-exact
    * arithmetic (per-dim mean = round(sum/count) of quantized components) so
    * every engine replays the identical centroids. Cell assignment is an
    * exact integer distance argmin (d² = v·v − 2·v·c + c·c) against the
    * plan-time centroid matrix — ties break to the lowest cell id.
    * `nCells = 0` derives ⌈√N⌉.
    *
    * Scale shape: one pin of the quantized corpus, one TakeOrdered collect
    * of the hash-prefix training set (256 vectors per cell, see
    * [[trainingSet]]) whose Lloyd rounds run on the driver, then the
    * full-corpus pass for the final assignment and the search. Eager
    * (result checkpointed, caches released — also when a step throws). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 0, nprobe: Int = 0, lloydIters: Int = 4,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nCells >= 0 && nprobe >= 0,
      s"need nCells >= 0 and nprobe >= 0 (0 derives them), got nCells=$nCells nprobe=$nprobe")
    Pinned.scoped { pin =>
      val (c, n) = pin.counted(Par.spread(corpus)
        .select(col(idCol).as("nbr_id"), quantize(col(vecCol), scale).as("nv"))
        .withColumn("vv", qdot(col("nv"), col("nv"))))
      if (n == 0L) { // empty corpus: typed empty result, no dim probe to throw
        c.select(col("nbr_id").as("query_id"), col("nbr_id"),
          lit(0.0).as("cosine"), lit(0L).as("rank")).limit(0).localCheckpoint(true)
      } else {
        val cells = if (nCells > 0) nCells else math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
        // probes scale with the index: 2·√cells = 2·N^(1/4) keeps the scanned
        // corpus FRACTION shrinking as N grows (2/√cells ≈ 1% at N = 10⁹), and
        // a floor of min(cells, 32) keeps small indexes (cells ≲ 256) from
        // probing too thin a slice to rank k neighbors. Recall is data-dependent
        // — uniform random embeddings (no cluster structure, the IVF worst case)
        // necessarily track the scanned fraction, so any sublinear probe count
        // caps recall there; real clustered embeddings are what IVF's cell
        // locality is FOR. The old min(cells, 16) floor measured 0.76 of the
        // exact top-5 at sf0.1 (2000 uniform vecs, 45 cells → 36% scanned) —
        // VERDICT r4 §wrong-3; 32 probes (71% scanned at that toy size) measure
        // ≥ 0.98, while at any serious index size the 2·√cells term dominates
        // and the floor is irrelevant. `RecallFloorSpec`'s ivfTopK row gates
        // the recall (0.940–0.985 on seeded 2000-vector corpora); `nprobe`
        // stays the caller's dial.
        val probes = ivfProbes(cells, nprobe)
        val cents = trainIvfCents(trainingSet(c, cells), cells, lloydIters)
        // queries probe their nprobe nearest cells, [[ivfPqSearch]]'s probe
        val qAsg = queries.select(col(idCol).as("query_id"), quantize(col(vecCol), scale).as("qv"))
          .withColumn("qn", qdot(col("qv"), col("qv")))
          .withColumn("cell", explode(Kernels.ivfProbe(col("qv"), col("qn"), cents, probes)))
        // corpus-side assignment is the argmin projection over the pinned
        // cache — the old agg-exchange + join-back pair is gone (r15)
        val scored = withCell(c, "nv", "vv", cents).join(broadcast(qAsg), Seq("cell"))
          .filter(col("query_id") =!= col("nbr_id"))
          .withColumn("cosine",
            cosineOf(qdot(col("qv"), col("nv")), col("qn"), col("vv")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k)
          .select("query_id", "nbr_id", "cosine", "rank")
          .localCheckpoint(true)
      }
    }
  }

  /** Prototypicality scores — the cluster-centroid data-pruning metric
    * (Sorscher, Geirhos, Shekhar et al. 2022, "Beyond neural scaling
    * laws": self-supervised prototypes; the same score D4-style curation
    * ranks on): train the SAME deterministic IVF coarse quantizer as
    * [[ivfTopK]] (hash-ordered seeds, `lloydIters` integer-exact Lloyd
    * rounds), assign every vector to its nearest cell, and score it by
    * cosine to its OWN centroid. High scores = prototypical (near the
    * cluster core — redundant, prune first under dedup-flavored pruning);
    * low scores = outliers (hard/rare — prune first under noise-flavored
    * pruning). The per-cell rank and size let a caller cut either tail at
    * any rate without re-scoring.
    *
    * Determinism: centroids and assignment are the integer-exact
    * [[ivfTopK]] machinery; the score is ONE double division of exact
    * integer dots, micro-quantized; ranks tie-break by id. Zero vectors
    * have no direction: null score, ranked last in their cell.
    *
    * Scale shape: [[ivfTopK]]'s training — one pin, one TakeOrdered
    * collect of the hash-prefix training set, Lloyd on the driver — then
    * ONE assignment pass over the pinned corpus and ONE cell-partitioned
    * window (cells ≈ √N ⟹ ~√N rows per cell — parallel across cells,
    * spillable within; never a global sort). Output: (id, `cell`,
    * `proto_micro`, `cell_rank`, `cell_n`). */
  def prototypicality(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 0, lloydIters: Int = 4, scale: Int = 1000): DataFrame = {
    val spark = corpus.sparkSession
    Pinned.scoped { pin =>
      val (c, n) = pin.counted(Par.spread(corpus)
        .select(col(idCol).as("nbr_id"), quantize(col(vecCol), scale).as("nv"))
        .withColumn("vv", qdot(col("nv"), col("nv"))))
      if (n == 0L) {
        c.select(col("nbr_id").as(idCol), lit(0L).as("cell"),
          lit(0L).as("proto_micro"), lit(0L).as("cell_rank"),
          lit(0L).as("cell_n")).limit(0).localCheckpoint(true)
      } else {
        val cells = if (nCells > 0) nCells
          else math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
        val cents = trainIvfCents(trainingSet(c, cells), cells, lloydIters)
        val scored = withCell(c, "nv", "vv", cents)
          .join(broadcast(centsFrame(spark, Some(cents))), col("cell") === col("cent_id"))
          .withColumn("proto_micro",
            round(cosineOf(qdot(col("nv"), col("cv")), col("vv"), col("cc"))
              * 1e6).cast("long"))
        val w = Window.partitionBy(col("cell"))
          .orderBy(col("proto_micro").desc, col("nbr_id"))
        scored
          .withColumn("cell_rank", row_number().over(w).cast("long"))
          .withColumn("cell_n",
            count(lit(1)).over(Window.partitionBy(col("cell"))).cast("long"))
          .select(col("nbr_id").as(idCol), col("cell"), col("proto_micro"),
            col("cell_rank"), col("cell_n"))
          .localCheckpoint(true)
      }
    }
  }

  /** Deterministic per-subspace codebooks of a [[trainingSet]]: over the
    * raw vectors, or over their residuals v − cent(cell) against the
    * trained coarse centroids (exact elementwise subtraction, the cell
    * being the argmin cell). Subspace `s` slices dimensions s·dsub ..
    * (s+1)·dsub − 1; ONE hash-ordered seed-document set — the first
    * `kCents` rows, same md5 ordering as the IVF seeds — supplies every
    * subspace's initial centroids 1..kCents, then `lloydIters` integer
    * Lloyd rounds per subspace on the driver ([[Lloyd.train]]). */
  private def trainPqBooks(xs: Array[Array[Long]], cents: CellMatrix, residual: Boolean,
      m: Int, dsub: Int, kCents: Int, lloydIters: Int): CodeMatrix = {
    val enc = if (!residual) xs else xs.map { x =>
      val off = cents.indexOf(cents.argminAt(x, 0, Lloyd.dot(x, 0, x.length))) * cents.dim
      Array.tabulate(x.length)(i => Math.subtractExact(x(i), cents.flat(off + i)))
    }
    new CodeMatrix(Array.tabulate(m)(s => Lloyd.train(enc, s * dsub, dsub, kCents, lloydIters)))
  }

  /** Product-quantization ADC top-k (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the memory-
    * compression leg of ANN at 100 TB: the corpus is stored as `m` small
    * integer CODES per vector plus one stored norm instead of `dim`
    * floats — a 64-dim float vector (256 bytes) becomes 16 six-bit codes
    * + an 8-byte norm at the defaults, ~13× compression — and queries
    * score candidates with Asymmetric Distance Computation: per-subspace
    * lookup tables of exact integer dots against each query, summed per
    * candidate. The search is exhaustive: it is the ONE-CELL IVF-PQ
    * search, [[ivfPqTopK]] with `nCells = 1`, `nprobe = 1`,
    * `ivfLloydIters = 0` and raw (non-residual) codes — exhaustive ADC is
    * IVFADC with a single inverted list (Jégou et al. 2011), so the flat
    * store has no index type or search path of its own. A flat standing
    * index is `ivfPqIndex(nCells = 1, ivfLloydIters = 0)`; a flat index
    * saved in the old four-table layout (`vecs`/`codes`/`books`/`params`,
    * no `cents`/`cells`) no longer loads — [[loadIvfPqIndex]] names the
    * missing parts.
    *
    * Training is [[ivfPqIndex]]'s deterministic integer Lloyd per
    * SUBSPACE: the same hash-ordered seed documents provide every
    * subspace's initial centroids, assignment is an exact-integer d²
    * argmin (ties to the lowest centroid id), updates are per-dimension
    * rounded means — every engine replays identical codebooks, codes, and
    * ADC scores (the q118 oracle re-derives all of it in SQL). The ADC
    * cosine divides by the EXACT stored norm (one long per vector next to
    * the m codes — the norm-augmented layout cosine/inner-product PQ
    * systems use), so only the dot carries quantization distortion;
    * scoring still never touches a raw corpus vector.
    *
    * `rerank > 0` enables the standard two-stage search every production
    * PQ system runs (Jégou et al. §V): ADC ranks a SHORTLIST of `rerank`
    * candidates per query from codes alone, then only those rows' TRUE
    * vectors are exactly re-scored. This matters because ADC ordering
    * degrades on unstructured embeddings (quantization distortion
    * reorders a crowded cosine band — measured on this suite's
    * deliberately-uniform test vectors at sf0.1: coarse 32-bit codes rank
    * the exact top-5 at only 0.20 recall, while the default 96-bit codes +
    * a shortlist-50 rerank measure **0.90** — 0.920–0.960 on the seeded
    * 2000-vector corpora of `RecallFloorSpec`'s pqTopK row, which gates it,
    * and 1.0 in q118's `hit` column at sf0.01; clustered real embeddings
    * are the favorable case). With rerank the output cosine is EXACT
    * (micro-rounded); with `rerank = 0` it is the pure-ADC approximation.
    *
    * Scale shape: [[ivfPqTopKIndexed]]'s — the query side carries one
    * lookup table per query (m·(kCents+1)+1 longs) into a broadcast join,
    * so the path serves interactive batches of up to a few hundred
    * queries; bulk batches of 10⁴+ queries need a store-shuffling path
    * that does not exist yet. Output: (query_id, nbr_id, cosine_micro,
    * rank), self-matches excluded, ties by neighbor id. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 16, kCents: Int = 64, lloydIters: Int = 2,
      rerank: Int = 0, scale: Int = 1000): DataFrame =
    ivfPqTopK(corpus, queries, idCol, vecCol, k, nCells = 1, nprobe = 1,
      ivfLloydIters = 0, m = m, kCents = kCents, pqLloydIters = lloydIters,
      rerank = rerank, scale = scale)

  /** IVF-PQ: the production 100-TB vector-store layout in one call —
    * [[ivfTopK]]'s coarse quantizer prunes the corpus to each query's
    * `nprobe` nearest cells, and only the probed cells' PQ CODES are
    * ADC-scored ([[pqTopK]]'s scoring rule, over the packed store of
    * [[IvfPqIndex]]), followed by the exact rerank of the shortlist.
    * Scored bytes per query ≈ (probed fraction) × (m codes + 1 norm per
    * row) — the two compressions compose multiplicatively, which is why
    * IVF-PQ is the standard layout for billion-vector indexes. (With
    * `rerank > 0` the one-pass search also reads each probed row's raw
    * vector for its exact cosine, trading scan bytes for the rerank join
    * back to the vectors; with `rerank = 0` the cached store's column
    * pruning skips the vectors.) Training,
    * assignment, scoring and rerank all inherit the deterministic integer
    * contracts of the two parents, so the full chain is SQL-replayable
    * (q119). Output: (query_id, nbr_id, cosine_micro, rank); with
    * `rerank > 0` the cosine is exact. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 0, nprobe: Int = 0, ivfLloydIters: Int = 4,
      m: Int = 16, kCents: Int = 64, pqLloydIters: Int = 2,
      rerank: Int = 0, scale: Int = 1000, residual: Boolean = false): DataFrame = {
    requireRerank(rerank, k) // before the build pins anything
    val ix = ivfPqIndex(corpus, idCol, vecCol, nCells, ivfLloydIters,
      m, kCents, pqLloydIters, residual, scale)
    try ivfPqTopKIndexed(ix, queries, idCol, vecCol, k, nprobe, rerank)
    finally ix.release()
  }

  /** A trained, reusable IVF-PQ store — the production billion-vector
    * layout as a standing index (VERDICT r7 §next-1), packed ONE ROW PER
    * VECTOR the way inverted-file PQ stores lay out their lists (Jégou et
    * al. 2011; FAISS): `store` = (nbr_id, cell, codes: array<int>, nv, vv)
    * — the vector's coarse cell, its m PQ codes, and its raw quantized
    * vector + exact norm (the rerank side). A search reads each
    * candidate's codes, norm and vector from its one row, so the only join
    * is the probed-cell lookup.
    *
    * The trained state is held as the matrices the kernels run on, built
    * once by training or [[loadIvfPqIndex]]: `centroids`, the coarse
    * quantizer, and `pq`, the per-subspace codebooks (with the centroids
    * when the codes quantize residuals). An empty index (dim = 0) holds
    * neither. `cents` (cent_id, cv, cc) and `books` (sub, cent_id, cv, cc)
    * are driver-local frame views of them.
    *
    * The store is append-only and log-structured (the LSM-tree layout,
    * O'Neil et al. 1996): `store` is the union of immutable, pinned,
    * reference-counted [[Segment]]s. [[ivfPqIndex]] and [[loadIvfPqIndex]]
    * pin one segment; [[extendIvfPqIndex]] pins one more holding only the
    * batch's rows and shares the older ones, merging the newest two while
    * the newest is at least as large as its older neighbour
    * ([[Segment.append]]'s binary-counter rule — O(log N) segments). With
    * `residual = true` the books/codes live in RESIDUAL space (v − cell
    * centroid, Jégou et al. 2011 §IV-A); searches and ingest assignments
    * must — and do — apply the same transform.
    *
    * `cells` (nbr_id, cell), `codes` (nbr_id, sub, code) and `vecs`
    * (nbr_id, nv, vv) are derived views of the store with the long
    * m-rows-per-vector schemas — the six-table on-disk format
    * ([[saveIvfPqIndex]]) and the SQL oracles speak them. Train once with
    * [[ivfPqIndex]], persist with [[saveIvfPqIndex]], search with
    * [[ivfPqTopKIndexed]], ingest with
    * [[assignToIvfPqIndex]]/[[extendIvfPqIndex]]. `release()` when done:
    * it drops this index's reference to each segment, so an index and the
    * one extended from it may be released in either order. */
  final case class IvfPqIndex private[operators] (
      segments: Vector[Segment], centroids: Option[CellMatrix], pq: Option[PqMatrix],
      m: Int, dim: Int, kCents: Int, nCells: Int,
      residual: Boolean, scale: Int) extends StandingIndex {
    def dsub: Int = pq.fold(0)(_.dsub)
    def store: DataFrame = Segment.union(segments)
    def cents: DataFrame = centsFrame(store.sparkSession, centroids)
    def books: DataFrame = booksFrame(store.sparkSession, pq.map(_.books))
    def cells: DataFrame = store.select(col("nbr_id"), col("cell"))
    def codes: DataFrame = store
      .select(col("nbr_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("nbr_id"), col("sub"), col("code").cast("long"))
    def vecs: DataFrame = store.select(col("nbr_id"), col("nv"), col("vv"))
  }

  /** The trained state of a non-empty [[IvfPqIndex]]: its centroids and
    * the PQ matrix of its codebooks. */
  private def trained(ix: IvfPqIndex): (CellMatrix, PqMatrix) = (ix.centroids.get, ix.pq.get)

  /** The shortlist of a reranked search must hold the top `k`. */
  private def requireRerank(rerank: Int, k: Int): Unit =
    require(rerank == 0 || rerank >= k, s"rerank ($rerank) must be 0 or >= k ($k)")

  /** Store rows `(id, cell, codes, nv, vv)` of an `(id, nv, vv)` frame:
    * the cell argmin ([[withCell]]) and the m-code encoding
    * ([[graft.expressions.PqEncodeLong]], over the residual when
    * `residual`) as one projection against the stored centroids and
    * codebooks — no exchange. Codes are the per-subspace argmin that
    * training assigns ([[Lloyd.train]] runs the same [[graft.expressions
    * .CellMatrix]] code). */
  private def storeRows(v: DataFrame, id: String, cents: CellMatrix, pq: PqMatrix): DataFrame =
    withCell(v, "nv", "vv", cents).select(col(id), col("cell"),
      Kernels.pqEncode(col("nv"), col("cell"), pq).as("codes"), col("nv"), col("vv"))

  /** Train an [[IvfPqIndex]] over `corpus`: [[trainIvfCents]]'s coarse
    * quantizer (the IVF half), then [[trainPqBooks]]'s per-subspace
    * integer Lloyd over either the raw vectors (`residual = false` — the
    * r7 chain, q119's oracle) or the per-cell residuals (`residual = true`
    * — Jégou §IV-A, q121's oracle), and one encoding pass that pins the
    * packed store. Every step keeps the deterministic integer contracts,
    * so the whole trained state is SQL-replayable. An empty corpus yields
    * an empty index (dim = 0) whose searches return typed empty results.
    *
    * Jobs: the corpus pin, ONE TakeOrdered collect of the hash-prefix
    * [[trainingSet]] (256 vectors per centroid of the larger of the two
    * models), whose Lloyd rounds all run on the driver, and the store
    * pin. The corpus pin is released however the call ends; a vector of
    * the wrong dimension fails the training set on the driver, or — past
    * the training prefix — the store pin.
    *
    * Measured tradeoff (r8, sf0.1, same 96-bit budget + shortlist-50
    * rerank): flat 0.96 top-5 recall, residual 0.90 — on this suite's
    * DELIBERATELY-UNIFORM test vectors cells carve an unclustered ball,
    * so residuals are no more concentrated than raw vectors and the extra
    * rotation only adds noise. Residual encoding is the production
    * default for real CLUSTERED embeddings, where ‖v − c‖ ≪ ‖v‖ makes
    * the same code budget cover a much smaller space (Jégou §IV-A);
    * `RecallFloorSpec` gates both (its ivfPqTopK rows: 0.895–0.920 flat,
    * 0.875–0.935 residual on seeded 2000-vector corpora; q119 and q121 pin
    * the sf0.01 hits), so the dial stays a measured choice. */
  def ivfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 0, ivfLloydIters: Int = 4,
      m: Int = 16, kCents: Int = 64, pqLloydIters: Int = 2,
      residual: Boolean = false, scale: Int = 1000): IvfPqIndex = {
    require(m > 0 && kCents > 1, s"need m > 0 subspaces and kCents > 1, got m=$m kCents=$kCents")
    Pinned.scoped { pin =>
      val (c, n) = pin.counted(Par.spread(corpus)
        .select(col(idCol).as("nbr_id"), quantize(col(vecCol), scale).as("nv"))
        .withColumn("vv", qdot(col("nv"), col("nv"))))
      if (n == 0L) { // empty corpus: typed empty index, no dim probe to throw
        val store = Segment.pin(c.select(col("nbr_id"), lit(0L).as("cell"),
          array().cast("array<int>").as("codes"), col("nv"), col("vv")).limit(0))
        IvfPqIndex(Vector(store), None, None, m, dim = 0, kCents, nCells = 0, residual, scale)
      } else {
        val cells = if (nCells > 0) nCells else math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
        val xs = trainingSet(c, math.max(cells, kCents))
        val dim = xs.head.length
        require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
        val dsub = dim / m
        // coarse quantizer (the IVF half), then the codebooks (the PQ half)
        val cents = trainIvfCents(xs, cells, ivfLloydIters)
        val pq = new PqMatrix(trainPqBooks(xs, cents, residual, m, dsub, kCents, pqLloydIters),
          if (residual) cents else null)
        // the stored representation: one row per vector, pinned once
        val store = Segment.pin(storeRows(c, "nbr_id", cents, pq))
        IvfPqIndex(Vector(store), Some(cents), Some(pq), m, dim, kCents, cells, residual, scale)
      }
    }
  }

  /** [[ivfPqTopK]]'s search half over a prebuilt [[IvfPqIndex]]: probe
    * cells against the STORED centroid set, ADC-score the probed cells'
    * STORED codes, exactly rerank the shortlist; nothing is retrained (this
    * is what converts q119's training-dominated benchmark shape into the
    * stored-index query a real vector store runs — q120). Eager: the
    * result is materialized (checkpointed) before it is returned, so
    * collecting it, joining it or releasing the index afterwards never
    * re-runs the search.
    *
    * One pass over the packed store ([[ivfPqSearch]]): each query carries
    * its probed cells ([[graft.expressions.IvfProbeLong]]) and one ADC
    * lookup table per probed cell ([[graft.expressions.AdcLutLong]]) —
    * m·(kCents+1)+1 longs — into a broadcast join on `cell` alone; one
    * projection then scores every candidate's ADC cosine (its code array
    * read against the table in place, [[graft.expressions.AdcDotLong]])
    * and its exact cosine from the in-row vector, and one window stage
    * (one exchange, keyed by query) keeps the ADC top-`rerank`, then the
    * exact top-`k`. The broadcast side holds probes tables per query
    * (~270 KB a query at the defaults: 32 probes × 1,041 longs), so the
    * path serves interactive batches of up to a few hundred queries.
    *
    * Residual ADC keys the table by (query, PROBED CELL): entries are dots
    * of the query's residual q − c against the codebook entries, and the
    * table's base term is q·c, so a candidate's ADC dot is
    * q·c + (q − c)·r̂ — integer-exact, and what q121's oracle computes.
    * (The inner product q·(c + r̂) = q·c + q·r̂ would differ by −c·r̂ per
    * candidate.)
    *
    * Filtered (pre-rank) search: `allowed` is a one-column frame of
    * permitted corpus ids (the caller's metadata predicate, already
    * evaluated — e.g. meta.filter($"label" < 8).select("id")). The
    * semi-join drops disallowed candidates right after scoring, before
    * the exchange and ranking. Probing is unchanged: top-k is taken among
    * allowed members of the probed cells, so a highly selective filter
    * may warrant a higher `nprobe` (caller's dial). */
  def ivfPqTopKIndexed(
      ix: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int = 0, rerank: Int = 0,
      allowed: Option[DataFrame] = None): DataFrame = {
    requireRerank(rerank, k)
    if (ix.dim == 0) { // empty index: typed empty result
      return ix.vecs.select(col("nbr_id").as("query_id"), col("nbr_id"),
        lit(0L).as("cosine_micro"), lit(0L).as("rank")).limit(0).localCheckpoint(true)
    }
    ivfPqSearch(ix, queries, idCol, vecCol, k, nprobe, rerank, allowed)
      .localCheckpoint(true)
  }

  /** The lazy plan of [[ivfPqTopKIndexed]] over a non-empty index. */
  private[operators] def ivfPqSearch(
      ix: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobe: Int, rerank: Int, allowed: Option[DataFrame]): DataFrame = {
    val (cents, pq) = trained(ix)
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol), ix.scale).as("qv"))
      .withColumn("qn", qdot(col("qv"), col("qv")))
      .withColumn("cell", explode(
        Kernels.ivfProbe(col("qv"), col("qn"), cents, ivfProbes(ix.nCells, nprobe))))
      .withColumn("lut", Kernels.adcLut(col("qv"), col("cell"), pq))
    val scored = ix.store.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineOf(Kernels.adcDot(col("codes"), col("lut")),
          col("qn"), col("vv")).as("adc_cos"),
        cosineOf(qdot(col("qv"), col("nv")), col("qn"), col("vv")).as("cosine"))
    val cand = allowed match {
      case None => scored
      // no broadcast hint: the allowed set can be any fraction of the
      // corpus — AQE picks broadcast vs shuffled semi-join by its size
      case Some(a) => scored.join(
        a.select(col(a.columns.head).as("nbr_id")), Seq("nbr_id"), "left_semi")
    }
    val byAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("nbr_id"))
    val ranked =
      if (rerank == 0) {
        // pure ADC: the approximate cosine IS the output
        cand.withColumn("rank", row_number().over(byAdc).cast("long"))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("nbr_id"), col("adc_cos").as("cosine"), col("rank"))
      } else {
        // two-stage: ADC shortlist → final top-k by the exact cosine
        // (both windows share the query-keyed exchange)
        val byExact = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        cand.withColumn("__sr", row_number().over(byAdc))
          .filter(col("__sr") <= rerank)
          .withColumn("rank", row_number().over(byExact).cast("long"))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
      }
    ranked.select(col("query_id"), col("nbr_id"),
      round(col("cosine") * 1e6).cast(org.apache.spark.sql.types.LongType)
        .as("cosine_micro"), col("rank"))
  }

  /** Assign an ingest batch to an [[IvfPqIndex]]'s STORED centroids and
    * codebooks — the no-retrain write path of the vector store (VERDICT r7
    * §next-1): each batch vector gets its cell by exact-integer argmin
    * against the stored cents, then its m codes against the stored books
    * (over its residual when the index is residual-encoded). Output:
    * (id, cell, sub, code), m rows per vector — pure function of (batch,
    * stored index), replayed in SQL by the q122 oracle. The trained state
    * is read only, so per micro-batch it is stateless; the rows are ready
    * to append to the store's cells/codes tables. */
  def assignToIvfPqIndex(
      batch: DataFrame, ix: IvfPqIndex, idCol: String, vecCol: String): DataFrame = {
    require(ix.dim > 0, "cannot assign into an empty IvfPqIndex (dim = 0)")
    val v = batch.select(col(idCol).as("id"), quantize(col(vecCol), ix.scale).as("nv"))
      .withColumn("vv", qdot(col("nv"), col("nv")))
    val (cents, pq) = trained(ix)
    storeRows(v, "id", cents, pq)
      .select(col("id"), col("cell"), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("id"), col("cell"), col("sub"), col("code").cast("long"))
  }

  /** Fold an ingest batch INTO the index: the batch's store rows (cell +
    * codes against the stored centroids/codebooks, as
    * [[assignToIvfPqIndex]] assigns them) are pinned as ONE new segment
    * and appended to the store; cents/books — the trained state — are
    * untouched, exactly like the standing LSH indexes never re-bucket
    * their corpus. Nothing else is copied unless the append triggers a
    * compaction ([[Segment.append]]: the newest two segments merge while
    * the newest is at least as large as its older neighbour), so an
    * ingest costs O(batch) amortized, not O(store). Returns a NEW index
    * sharing the old segments; the caller may `release()` the old one
    * afterwards, before or after the new one. Batch ids must be disjoint
    * from corpus ids (the usual ingest contract). */
  def extendIvfPqIndex(
      ix: IvfPqIndex, batch: DataFrame, idCol: String, vecCol: String): IvfPqIndex = {
    require(ix.dim > 0, "cannot extend an empty IvfPqIndex (dim = 0)")
    val v = batch.select(col(idCol).as("nbr_id"), quantize(col(vecCol), ix.scale).as("nv"))
      .withColumn("vv", qdot(col("nv"), col("nv")))
    val (cents, pq) = trained(ix)
    val batchSeg = Segment.pin(storeRows(v, "nbr_id", cents, pq))
    ix.copy(segments = Segment.append(ix.segments, batchSeg)(
      (older, newest) => Segment.pin(Segment.union(Seq(older, newest)))))
  }

  /** Persist an [[IvfPqIndex]] as six parquet tables — the store's
    * `vecs`/`cells`/`codes` views next to `cents`/`books`; `params` is the
    * commit marker ([[IndexFiles.save]]). */
  def saveIvfPqIndex(ix: IvfPqIndex, path: String): Unit = {
    val spark = ix.store.sparkSession
    import spark.implicits._
    IndexFiles.save(path, Seq("vecs" -> ix.vecs, "cents" -> ix.cents,
      "cells" -> ix.cells, "books" -> ix.books, "codes" -> ix.codes,
      "params" -> Seq((ix.m, ix.dsub, ix.dim, ix.kCents, ix.nCells, ix.residual, ix.scale))
        .toDF("m", "dsub", "dim", "k_cents", "n_cells", "residual", "scale")))
  }

  /** Load a stored [[IvfPqIndex]]: the three per-vector tables are packed
    * back into the one-row-per-vector store (codes ordered by subspace)
    * and pinned as one segment; cents/books are collected back into the
    * matrices the kernels run on — the [[ivfPqIndex]] contract. All
    * trained state is stored bytes, so a loaded index answers queries
    * bit-identically to the one saved (q120's gate). Fails fast on a
    * partial save. */
  def loadIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex = {
    val part = IndexFiles.open(spark, path, "IvfPqIndex",
      Seq("vecs", "cents", "cells", "books", "codes", "params"))
    val p = part("params").head()
    val residual = p.getAs[Boolean]("residual")
    val cents = part("cents").select("cent_id", "cv", "cc").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))).toSeq
    val books = part("books").select("sub", "cent_id", "cv", "cc").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3))).toSeq
    val centroids = if (cents.isEmpty) None else Some(CellMatrix.of(cents))
    val pq = if (books.isEmpty) None
      else Some(new PqMatrix(CodeMatrix.of(books), if (residual) centroids.get else null))
    val packed = part("codes").groupBy(col("nbr_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code").cast("int")).as("codes"))
    val store = Segment.pin(part("vecs")
      .join(part("cells"), Seq("nbr_id"))
      .join(packed, Seq("nbr_id"))
      .select(col("nbr_id"), col("cell"), col("codes"), col("nv"), col("vv")))
    IvfPqIndex(Vector(store), centroids, pq, p.getAs[Int]("m"), p.getAs[Int]("dim"),
      p.getAs[Int]("k_cents"), p.getAs[Int]("n_cells"), residual, p.getAs[Int]("scale"))
  }

  /** Sparse cosine all-pairs via a term inverted index — the sparse-text
    * analog of the dense ANN paths above (Bayardo et al., "Scaling Up All
    * Pairs Similarity Search", WWW 2007). `termsCol` is a caller-supplied
    * array column (raw tokens → tf cosine; distinct shingles → set cosine),
    * so the same operator serves bag-of-words and shingle spaces.
    *
    * The vector space is the df-capped vocabulary: terms occurring in more
    * than `maxDf` documents are dropped BEFORE pairing. A term's candidate
    * fan-out is df² (every co-occurring pair meets on it), so the cap turns
    * the worst case from |corpus|² into maxDf²·|vocab| — the stop-term
    * guard every sparse all-pairs system ships; at 100 TB a single
    * boilerplate term would otherwise recreate the cross join.
    *
    * Candidate generation is THRESHOLD-AWARE (Bayardo's prefix filter,
    * lossless — VERDICT r5 §next-3): with every vector's terms in one
    * global order (df ascending, term lexicographic — rarest first), only
    * the PREFIX whose inclusive suffix norm can still reach `threshold` is
    * indexed. Proof of completeness: if a pair (a,b) shares NO indexed
    * term of b, every shared term t sits in b's unindexed tail, where by
    * construction ‖b̂_tail‖ < threshold; then cos(a,b) = ⟨â, b̂_tail∩a⟩ ≤
    * ‖â‖·‖b̂_tail‖ < threshold (Cauchy–Schwarz). So every qualifying pair
    * is caught by joining FULL postings (probe side, lower doc id) against
    * PREFIX postings (index side, higher doc id) on the term. Because the
    * global order puts FREQUENT terms in the unindexed tail, the df²
    * fan-out of common terms disappears from the join entirely — the
    * volume win grows with the threshold and with term-frequency skew
    * (at θ=0 the prefix is the whole vector and this degrades gracefully
    * to the plain inverted-index join). Candidates are then verified with
    * the EXACT integer dot over the full vectors (PPJoin's verify shape,
    * [[Dedup.ngramJaccardPairs]]).
    *
    * Term strings are 64-bit-hashed (xxhash64) immediately after the
    * explode, so no shuffle, group key, or per-doc vector ever carries a
    * term string — the postings pipeline moves 8-byte longs (measured ~2×
    * on the tf build alone at sf0.1 for 3-word shingle terms). A hash
    * collision within one compared pair could inflate its dot — the same
    * documented ~1e-13-per-corpus odds as the 60-bit window hashes of
    * [[Dedup.substringDupPairs]]; the DuckDB oracle computes over raw
    * strings and hash-matches, confirming zero collisions at test SFs.
    * Each doc's verify vector is its postings as one interleaved
    * `[hash, tf, …]` long array sorted by hash; the per-candidate dot is
    * the codegen'd two-pointer merge [[graft.expressions.SparseDotLong]]
    * (`graft_sdot`) — O(|a|+|b|) primitive-long work per candidate inside
    * WholeStageCodegen (the interpreted `aggregate`-over-map formulation
    * measured 10 s at sf0.1 where this is negligible). Dots and squared
    * norms are exact integer sums (order-independent, engine-exact); the
    * one double division per pair is correctly rounded, so results are
    * bit-identical on any engine. The raw postings table is pinned (the
    * tokenize+hash+tf pass — the most expensive stage — runs ONCE and
    * feeds both the df gate and the join's probe side), and the kept
    * postings are pinned with n2 and the suffix norm attached by two
    * window passes over one doc-keyed exchange; shuffles: the
    * prefix-index join, the candidate distinct, and the two vector
    * lookups — all keyed equi-joins. Eager (result checkpointed, caches
    * released). */
  def sparseCosinePairs(docs: DataFrame, idCol: String, termsCol: Column,
      threshold: Double, maxDf: Long): DataFrame = {
    require(maxDf > 0, "maxDf must be positive")
    require(threshold >= 0, "threshold must be non-negative")
    // The term explode is the one CPU-heavy NARROW stage (regex shingling
    // runs before any exchange, so it inherits the INPUT's parallelism) —
    // a small corpus read as one parquet split would shingle on one core.
    // Spread it only when the input has fewer splits than the cluster has
    // slots; at 100 TB the scan already has thousands of splits and this
    // is a no-op (never shuffle full text at scale for free).
    val slots = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < slots) docs.repartition(slots) else docs
    Pinned.scoped { pin =>
      val tf = pin(spread.select(col(idCol).as("doc"), explode(termsCol).as("term"))
        .select(col("doc"), xxhash64(col("term")).as("h"))
        .groupBy("doc", "h").agg(count(lit(1)).as("tf")))
      // df gate: one extra hash-agg over the (already-shuffled) postings;
      // rare terms survive, boilerplate dies here instead of in the join.
      // df rides along — it is also the prefix filter's global term order.
      val kept = tf.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
      // Bayardo prefix: inclusive suffix norm² in (df asc, h asc) order;
      // a term is indexed iff the suffix from it could still reach the
      // threshold against a unit vector: suf2 ≥ t²·n2. The 1e-9 slack loosens
      // only (a spared posting adds a candidate that exact verify re-checks).
      // n2 and suf2 share one exchange on doc (two window specs, same key).
      val wDoc = Window.partitionBy(col("doc"))
      val wSuf = Window.partitionBy(col("doc"))
        .orderBy(col("df").asc, col("h").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val ktf = pin(tf.join(kept, Seq("h"))
        .withColumn("n2", sum(col("tf") * col("tf")).over(wDoc))
        .withColumn("suf2", sum(col("tf") * col("tf")).over(wSuf)))
      pin.release(tf)
      val prefix = ktf
        .filter(col("suf2").cast("double") >=
          col("n2").cast("double") * lit(threshold * threshold - 1e-9))
        .select(col("h"), col("doc"))
      val cand = ktf.select(col("h"), col("doc").as("doc_a"))
        .join(prefix.select(col("h"), col("doc").as("doc_b")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // exact verify on full vectors: sort_array orders struct(h, tf) by h
      // (h is unique per doc — it is the tf group key), flatten interleaves;
      // n2 rides in the same frame so the verify needs only two joins
      val vecs = ktf.groupBy("doc")
        .agg(flatten(transform(
          sort_array(collect_list(struct(col("h"), col("tf")))),
          e => array(e.getField("h"), e.getField("tf")))).as("vec"),
          max(col("n2")).as("n2"))
      cand
        .join(vecs.select(col("doc").as("doc_a"), col("vec").as("vec_a"),
          col("n2").as("n2_a")), Seq("doc_a"))
        .join(vecs.select(col("doc").as("doc_b"), col("vec").as("vec_b"),
          col("n2").as("n2_b")), Seq("doc_b"))
        .withColumn("dot", Kernels.sdot(col("vec_a"), col("vec_b")))
        .withColumn("cosine", cosineOf(col("dot"), col("n2_a"), col("n2_b")))
        .filter(col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
        .localCheckpoint(true)
    }
  }

  /** k-NN majority-vote classification — the standard end-use of the ANN
    * stack (label propagation onto unlabeled embeddings: weak supervision,
    * eval-set label audits, cluster naming). Each query takes the modal
    * label of its k nearest corpus neighbors; vote ties break toward the
    * smallest label (a total rule, like [[Grouping.modeExact]]).
    *
    * `method` picks the neighbor engine: "brute" (exact, for verification
    * scales) or "lsh" ([[bucketedTopK]] — the 100-TB path; same output
    * schema, approximate neighbor set). The vote itself is one hash-agg +
    * one k-row-per-query window, both keyed by query — negligible next to
    * neighbor generation.
    * Output: query_id, pred_label, n_votes (long). */
  def knnClassify(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      method: String = "brute"): DataFrame = {
    val knn = method match {
      case "brute" => bruteForceTopK(corpus, queries, idCol, vecCol, k)
      case "lsh"   => bucketedTopK(corpus, queries, idCol, vecCol, k)
      case other   => throw new IllegalArgumentException(
        s"unknown method '$other' (expected brute or lsh)")
    }
    val lbl = corpus.select(col(idCol).as("nbr_id"), col(labelCol))
    val votes = knn.join(lbl, Seq("nbr_id"))
      .groupBy(col("query_id"), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col(labelCol))
    votes.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(col("query_id"), col(labelCol).as("pred_label"), col("n_votes"))
  }

  /** Maximal Marginal Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) — the RAG-serving step after any topK search: from
    * each query's candidate list, greedily pick k results trading
    * relevance against redundancy with what's already picked,
    * argmax_c [ λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s) ].
    *
    * `cand` is (query_id, nbr_id, rel_nano) — rel_nano a LONG (e.g.
    * round(cosine·1e9), the caller quantizes its searcher's score once per
    * value); `vecs` supplies candidate vectors for the pairwise sims,
    * which are nano-quantized the same way. λ = lNum/lDen rational, so the
    * per-step argmax compares exact longs — lNum·rel − (lDen−lNum)·maxsim
    * is the MMR objective scaled by lDen — and ties break to the smallest
    * nbr_id: the selection sequence is engine- and partition-exact.
    *
    * Scale shape: pairwise sims are computed once, WITHIN each query's
    * candidate list (fetch² per query for fetch ≲ 10² — the serving-time
    * regime; never corpus×corpus), keyed equi-joins on (query, candidate).
    * The greedy loop is k fixed rounds, each one join + keyed window over
    * the pinned candidate frame — the [[Graph.pageRank]] eager-iteration
    * discipline, k small jobs with no driver data traffic. Queries with
    * fewer than k candidates simply stop early (their ranks end at the
    * candidate count). Output: (query_id, nbr_id, mmr_rank). */
  def mmrRerank(cand: DataFrame, vecs: DataFrame, idCol: String,
      vecCol: String, k: Int, lNum: Int = 1, lDen: Int = 2,
      scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lDen > 0 && lNum >= 0 && lNum <= lDen, "need 0 <= lNum/lDen <= 1")
    val qv = Par.spread(vecs)
      .select(col(idCol).as("mv_id"), quantize(col(vecCol), scale).as("mv"))
      .withColumn("mn", qdot(col("mv"), col("mv")))
    val ids = cand.select(col("query_id"), col("nbr_id"))
    // LEFT joins to vecs: a candidate id absent from `vecs` keeps its pair
    // rows with sim 0 (no redundancy evidence) instead of silently
    // truncating the whole query's ranks 2..k — an inner join here would
    // empty the `ms`/`next` joins the first time a vector-less candidate
    // is selected (advisor r8).
    Pinned.scoped { pin =>
      val pairs = pin(ids
        .join(ids.select(col("query_id"), col("nbr_id").as("other_id")), Seq("query_id"))
        .filter(col("nbr_id") =!= col("other_id"))
        .join(qv.select(col("mv_id").as("nbr_id"), col("mv").as("va"), col("mn").as("na")), Seq("nbr_id"), "left")
        .join(qv.select(col("mv_id").as("other_id"), col("mv").as("vb"), col("mn").as("nb")), Seq("other_id"), "left")
        .select(col("query_id"), col("nbr_id"), col("other_id"),
          coalesce(round(cosineOf(qdot(col("va"), col("vb")), col("na"), col("nb")) * 1e9)
            .cast("long"), lit(0L)).as("sim_nano")))
      val c = pin(cand.select(col("query_id"), col("nbr_id"), col("rel_nano")))
      // round 1: pure relevance argmax
      var selected = c.withColumn("rn", row_number().over(Window
          .partitionBy(col("query_id")).orderBy(col("rel_nano").desc, col("nbr_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("mmr_rank"))
        .localCheckpoint(true)
      for (i <- 2 to k) {
        val ms = pairs
          .join(selected.select(col("query_id"), col("nbr_id").as("other_id")),
            Seq("query_id", "other_id"))
          .groupBy(col("query_id"), col("nbr_id"))
          .agg(max(col("sim_nano")).as("max_sim"))
        val next = c
          .join(selected.select("query_id", "nbr_id"), Seq("query_id", "nbr_id"), "left_anti")
          .join(ms, Seq("query_id", "nbr_id"))
          .withColumn("score", lit(lNum.toLong) * col("rel_nano") -
            lit((lDen - lNum).toLong) * col("max_sim"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("query_id")).orderBy(col("score").desc, col("nbr_id"))))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("nbr_id"), lit(i.toLong).as("mmr_rank"))
        selected = selected.union(next).localCheckpoint(true)
      }
      selected
    }
  }

  /** Per-group semantic outlier scoring (r9 ✚ — the curation stage that
    * prunes documents far from their domain's embedding centroid, the
    * group-wise complement of SemDeDup's near-dup folding: SemDeDup removes
    * what is too SIMILAR, this flags what is too DIFFERENT to belong).
    * For each group: the centroid of its quantized vectors, then each
    * member's cosine to that centroid, ranked ascending — the bottom `k`
    * per group are the outlier candidates.
    *
    * Exactness without floating-point averaging: cosine is scale-invariant,
    * so cos(v, Σw/n) = cos(v, Σw) — the centroid enters as the per-dimension
    * integer SUM (exact long hash-agg, partition-order independent), never
    * a divided mean; the one double rounding is the final nano-quantized
    * cosine, the engine-portable contract shared with [[qcosine]].
    *
    * Scale shape: one posexplode → (group, dim) hash-agg (map-side
    * combined; output is |groups|·dims rows — tiny), centroid arrays
    * rebuilt with a sorted collect per group, joined back on the group key
    * (a broadcast at any real group count), then a per-group top-k window.
    * No pairwise anything: linear in vectors at 100 TB. */
  /** Per-group centroids in integer-SUM form: (grpCol, cs, cnn) — `cs` the
    * per-dimension sum of the group's `scale`-quantized vectors (cosine is
    * scale-invariant, so the sum IS the centroid for every cosine
    * purpose), `cnn` its exact self-dot. THIS is the standing state a
    * semantic-outlier ingest gate stores and reloads
    * ([[graft.streaming.Streams.centroidGateBatch]]); groups-cardinality,
    * a plain parquet write away from persistent. */
  def groupCentroids(df: DataFrame, vecCol: String, grpCol: String,
      scale: Int = 1000): DataFrame = {
    Par.spread(df)
      .select(col(grpCol).as("co_grp"), quantize(col(vecCol), scale).as("qv"))
      .select(col("co_grp"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("co_grp"), col("dim")).agg(sum(col("x")).as("sx"))
      .groupBy(col("co_grp"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("sx")))),
        e => e.getField("sx")).as("cs"))
      .withColumn("cnn", qdot(col("cs"), col("cs")))
      .withColumnRenamed("co_grp", grpCol)
  }

  /** Embedding-space drift between two corpus snapshots (r13 ✚) — the
    * vector-side sibling of [[graft.operators.Stats.psi]]/ksTest feature
    * drift: per group, the cosine between snapshot A's and snapshot B's
    * centroids. Centroids enter as per-dimension integer SUMS of the
    * quantized vectors ([[groupCentroids]] — cosine is scale-invariant,
    * so the sum IS the centroid), making both dots exact longs and the
    * cosine ONE double division — engine-exact, the [[centroidOutliers]]
    * arithmetic. The embedding-pipeline monitoring readout: a group whose
    * `cos_nano` sags below ~0.95·10⁹ has semantically moved (new topic
    * mix, encoder change, ingest bug) even when every scalar feature
    * looks stable. Groups present in only one snapshot are dropped
    * (inner join — no drift is defined for them); zero-norm centroids
    * yield null cosine (no direction, the [[qcosine]] guard).
    *
    * Scale shape: two [[groupCentroids]] passes (explode + two hash-aggs
    * each, linear in vectors) and a |groups|-sized join — no pairwise
    * anything, no window. Output per group: `n_a`, `n_b` (vector
    * counts), `cos_nano`, `drift_nano` = 10⁹ − cos_nano. */
  def centroidDrift(a: DataFrame, b: DataFrame, vecCol: String,
      grpCol: String, scale: Int = 1000): DataFrame = {
    def side(df: DataFrame, suf: String) = {
      val n = df.filter(col(grpCol).isNotNull)
        .groupBy(col(grpCol)).agg(count(lit(1)).as(s"n_$suf"))
      groupCentroids(df.filter(col(grpCol).isNotNull), vecCol, grpCol, scale)
        .select(col(grpCol), col("cs").as(s"cs_$suf"), col("cnn").as(s"nn_$suf"))
        .join(n, Seq(grpCol))
    }
    side(a, "a").join(side(b, "b"), Seq(grpCol))
      .select(col(grpCol), col("n_a"), col("n_b"),
        round(cosineOf(qdot(col("cs_a"), col("cs_b")),
          col("nn_a"), col("nn_b")) * 1e9).cast("long").as("cos_nano"))
      .withColumn("drift_nano", lit(1000000000L) - col("cos_nano"))
  }

  /** Per-group embedding diversity — the mean pairwise cosine of a
    * group's vectors, computed in O(N) per group via the sum-of-vectors
    * identity instead of the O(N²) pair join:
    *   Σ_{i≠j} u_i·u_j  =  (Σu)·(Σu) − Σ u_i·u_i,
    * over UNIT-quantized vectors u = round(q/‖q‖ · scale) (each
    * component one engine-identical double op on exact integers, so
    * u_i·u_j / scale² is the quantized cosine and every sum is an exact
    * integer). High mean cosine = redundant/near-duplicate group (prune
    * or downsample its mixture weight); low = diverse — the data-mix
    * curation readout next to [[Dedup]]'s pair-level view, cheap enough
    * to run over every domain of a 100 TB corpus because NOTHING here is
    * pairwise: one explode to (group, dim) component sums (|groups|·dim
    * rows), one map-side-combined agg per group, exact Decimal(38,0)
    * squares. Zero vectors have no direction and are excluded (counted
    * in `n_zero`); single-vector groups have no pairs → null mean; a
    * group whose EVERY vector is zero emits no row (no direction exists).
    * Output per group: `n`, `n_zero`, `mean_pair_cos_micro`. */
  def groupDiversity(df: DataFrame, grpCol: String, vecCol: String,
      scale: Int = 1000): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // pin (grp, q, nn) BEFORE deriving u: CollapseProject would otherwise
    // inline quantize() and qdot() into EVERY element of the
    // unit-quantization transform (the lambda references nn 64×/row), an
    // O(dim²) re-evaluation measured at ~10× the whole operator's cost.
    // pin (not localCheckpoint) so the blocks are RELEASED on return;
    // the result is eager.
    Pinned.scoped { pin =>
      val q = pin(Par.spread(df)
        .select(col(grpCol).as("gd_grp"), quantize(col(vecCol), scale).as("q"))
        .withColumn("nn", qdot(col("q"), col("q"))))
      val zeros = q.filter(col("nn") === 0L).groupBy(col("gd_grp"))
        .agg(count(lit(1)).as("n_zero"))
      // greatest(nn, 1): rows with nn = 0 are filtered out, but ANSI mode
      // aborts on a zero divisor WHEREVER the optimizer evaluates the
      // projection — total expressions over the filtered domain only
      // (the WordPiece greatest-guard discipline); nn > 0 ⟹ value unchanged
      val u = q.filter(col("nn") > 0L)
        .withColumn("u", transform(col("q"), x =>
          round(x.cast("double")
            / sqrt(greatest(col("nn"), lit(1L)).cast("double")) * scale)
            .cast("long")))
        .withColumn("self", qdot(col("u"), col("u")))
      val rows = u.groupBy(col("gd_grp"))
        .agg(count(lit(1)).as("n"), sum(col("self").cast(dec)).as("__selfsum"))
      val comps = u.select(col("gd_grp"), posexplode(col("u")).as(Seq("pos", "x")))
        .groupBy(col("gd_grp"), col("pos"))
        .agg(sum(col("x")).as("s"))
        .groupBy(col("gd_grp"))
        .agg(sum(col("s").cast(dec) * col("s").cast(dec)).as("__ss"))
      rows.join(comps, Seq("gd_grp"))
        .join(zeros, Seq("gd_grp"), "left")
        .select(col("gd_grp").as(grpCol), col("n"),
          coalesce(col("n_zero"), lit(0L)).as("n_zero"),
          when(col("n") >= 2,
            round((col("__ss") - col("__selfsum")).cast("double")
              / (col("n") * (col("n") - 1)).cast("double")
              / lit(scale.toDouble * scale) * 1e6).cast("long"))
            .as("mean_pair_cos_micro"))
        .localCheckpoint(true)
    }
  }

  /** The nano-quantized cosine of a quantized vector against a stored
    * integer-SUM centroid row — the single rounding shared by
    * [[centroidOutliers]] and the streaming gate; zero-norm pinned to
    * −2e9 (below any real cosine) on every engine. */
  private[graft] def centroidCosNano(qv: Column, cs: Column, cnn: Column): Column =
    coalesce(round(cosineOf(qdot(qv, cs), qdot(qv, qv), cnn) * 1e9)
      .cast("long"), lit(-2000000000L))

  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      grpCol: String, k: Int, scale: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val qv = Par.spread(df).select(col(grpCol).as("co_grp"), col(idCol).as("co_id"),
      quantize(col(vecCol), scale).as("qv"))
    val sums = groupCentroids(df, vecCol, grpCol, scale)
      .withColumnRenamed(grpCol, "co_grp")
    qv.join(sums, Seq("co_grp"))
      .select(col("co_grp").as(grpCol), col("co_id").as(idCol),
        // a zero-norm vector has no direction: it is maximally "not of this
        // group", pinned BELOW -1e9 so both engines rank it first without
        // relying on their (divergent) NULL orderings
        centroidCosNano(col("qv"), col("cs"), col("cnn")).as("cos_nano"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(grpCol)).orderBy(col("cos_nano").asc, col(idCol)))
        .cast("long"))
      .filter(col("rank") <= k)
  }

  /** Offline IR evaluation of a ranked retrieval run against an exact
    * ground-truth ranking — the scorecard every ANN/retrieval dial
    * ([[bucketedTopK]] tables, IVF probes, PQ bits, dim truncation) is
    * tuned by. Both inputs are the standard (query_id, nbr_id, rank)
    * shape ([[bruteForceTopK]] et al.), already cut to their top-k.
    * Per query: `n_truth`, `n_hit` (overlap — recall@k·k), `rr_micro`
    * (reciprocal rank of the TRUE top-1 inside the system list; 0 when
    * missed), `dcg_micro`/`idcg_micro`/`ndcg_micro` (binary relevance =
    * membership in the truth set). Log-discount weights are pre-rounded
    * micro integers (round(1e6/log2(r+1)) — the [[Lm.mutualInfo]]
    * pre-rounded-term discipline), so DCG sums are exact longs and the
    * one final ratio is a fixed double tree — engine-exact.
    *
    * Scale shape: three keyed joins + per-query hash aggs over lists that
    * are k rows per query; cost is O(queries·k), independent of corpus
    * size. */
  def rankingMetrics(sys: DataFrame, truth: DataFrame): DataFrame = {
    val wt = (r: Column) =>
      round(lit(1e6) / (log(r + 1) / log(lit(2.0)))).cast("long")
    val t = truth.select(col("query_id"), col("nbr_id"), col("rank").as("rt"))
    val sy = sys.select(col("query_id"), col("nbr_id"), col("rank").as("rs"))
    val tagg = t.groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), sum(wt(col("rt"))).as("idcg_micro"))
    val hagg = sy.join(t.select("query_id", "nbr_id"), Seq("query_id", "nbr_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hit"), sum(wt(col("rs"))).as("dcg_micro"))
    val rr = t.filter(col("rt") === 1).select("query_id", "nbr_id")
      .join(sy, Seq("query_id", "nbr_id"), "left")
      .select(col("query_id"),
        coalesce(round(lit(1e6) / col("rs")).cast("long"), lit(0L)).as("rr_micro"))
    tagg.join(hagg, Seq("query_id"), "left").join(rr, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("rr_micro"), lit(0L)).as("rr_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        when(col("idcg_micro") > 0,
          round(coalesce(col("dcg_micro"), lit(0L)).cast("double")
            / col("idcg_micro").cast("double") * 1e6).cast("long"))
          .as("ndcg_micro"))
  }

  /** Truncated rank-biased overlap weights for (k = 10, p = 0.9): entry
    * m−1 is a shared item's contribution (micro) when its WORSE rank is m,
    *   w_m = round((1−p) · Σ_{d=m..k} p^{d−1}/d · 10⁶)
    * — precomputed literals shared verbatim with the SQL oracle (the
    * [[graft.operators.Stats]] Poisson-threshold discipline: never
    * recomputed with runtime float pow). A perfect overlap sums to
    * 651319 ≈ 1 − pᵏ: truncated RBO has no extrapolation residual. */
  val rboWeights10: Seq[Long] = Seq(235416L, 135416L, 90416L, 63416L,
    45191L, 32069L, 22228L, 14636L, 8657L, 3874L)

  /** Truncated rank-biased overlap (Webber et al. 2010) between two
    * ranked runs in the (query_id, nbr_id, rank) shape — the top-weighted
    * list-similarity that, unlike [[rankingMetrics]], needs NO ground
    * truth side: it compares any two rankings symmetrically (yesterday's
    * index vs today's, exact vs ANN). Per shared item the closed form
    * collapses to one weight lookup at max(rank_a, rank_b), so the score
    * is an exact integer sum of pre-rounded terms. Output per query id
    * present in either run: `n_shared`, `rbo_micro` (0 when disjoint;
    * upper bound Σw = 651319 for the default weights).
    *
    * Scale shape: one (query, item)-keyed equi-join + a per-query hash
    * agg over ≤ k rows per query — O(queries·k). */
  def rboOverlap(a: DataFrame, b: DataFrame,
      weightsMicro: Seq[Long] = rboWeights10): DataFrame = {
    val k = weightsMicro.length
    val wArr = array(weightsMicro.map(lit): _*)
    val ra = a.select(col("query_id"), col("nbr_id"), col("rank").as("ra"))
      .filter(col("ra") <= k)
    val rb = b.select(col("query_id"), col("nbr_id"), col("rank").as("rb"))
      .filter(col("rb") <= k)
    val shared = ra.join(rb, Seq("query_id", "nbr_id"))
      .select(col("query_id"),
        element_at(wArr, greatest(col("ra"), col("rb")).cast("int")).as("w"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_shared"), sum(col("w")).as("rbo_micro"))
    ra.select("query_id").union(rb.select("query_id")).distinct()
      .join(shared, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("rbo_micro"), lit(0L)).as("rbo_micro"))
  }
}
