package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

import GraftColumns.{expr, of}

/** The Column constructor of every graft kernel: how library code builds
  * one. Each wraps the kernel's Catalyst expression around its argument
  * columns and its plan-time state (a size, a centroid matrix, a merge
  * list, a broadcast probe table) with [[GraftColumns.of]], so a kernel
  * needs nothing registered in the session first. Sketch aggregates are
  * wrapped as aggregate expressions. The SQL names of the kernels whose
  * arguments are columns and plain literals are [[GraftFunctions]]. */
object Kernels {

  private def agg(f: AggregateFunction): Column = of(f.toAggregateExpression())

  /** Exact integer dot of two `array<bigint>` ([[QDotLong]]). */
  def qdot(a: Column, b: Column): Column = of(QDotLong(expr(a), expr(b)))

  /** Exact integer dot of two sparse `[hash, tf, …]` vectors ([[SparseDotLong]]). */
  def sdot(a: Column, b: Column): Column = of(SparseDotLong(expr(a), expr(b)))

  /** Unicode normalization to `form` ([[UnicodeNormalize]]). */
  def normalize(s: Column, form: String): Column = of(UnicodeNormalize(expr(s), form))

  /** Exact-rational Jaro–Winkler similarity in micro units ([[JaroWinklerMicro]]). */
  def jwMicro(a: Column, b: Column): Column = of(JaroWinklerMicro(expr(a), expr(b)))

  /** A document's shingle-hash set and MinHash signature ([[MinhashLong]]). */
  def minhash(text: Column, n: Int, numHashes: Int): Column =
    of(MinhashLong(expr(text), n, numHashes))

  /** The delta rows a corpus row's bands hit in `table` ([[MinhashProbeLong]]). */
  def minhashProbe(bandKeys: Column, sh: Column, table: Broadcast[MinhashProbeTable]): Column =
    of(MinhashProbeLong(expr(bandKeys), expr(sh), table))

  /** Every table's sign-LSH bucket of a quantized vector ([[LshBucketsLong]]). */
  def lshBuckets(v: Column, planes: PlaneMatrix): Column = of(LshBucketsLong(expr(v), planes))

  /** The delta rows a corpus row's buckets hit in `table` ([[LshProbeLong]]). */
  def lshProbe(buckets: Column, v: Column, table: Broadcast[LshProbeTable]): Column =
    of(LshProbeLong(expr(buckets), expr(v), table))

  /** The nearest centroid id of a quantized vector with self-dot `vv` ([[CellArgminLong]]). */
  def cellArgmin(v: Column, vv: Column, cents: CellMatrix): Column =
    of(CellArgminLong(expr(v), expr(vv), cents))

  /** The `probes` nearest centroid ids, nearest first ([[IvfProbeLong]]). */
  def ivfProbe(v: Column, vv: Column, cents: CellMatrix, probes: Int): Column =
    of(IvfProbeLong(expr(v), expr(vv), cents, probes))

  /** The PQ codes of a quantized vector in `cell` ([[PqEncodeLong]]). */
  def pqEncode(v: Column, cell: Column, pq: PqMatrix): Column =
    of(PqEncodeLong(expr(v), expr(cell), pq))

  /** The ADC lookup table of a quantized query against `cell` ([[AdcLutLong]]). */
  def adcLut(v: Column, cell: Column, pq: PqMatrix): Column =
    of(AdcLutLong(expr(v), expr(cell), pq))

  /** The ADC dot of stored codes against a lookup table ([[AdcDotLong]]). */
  def adcDot(codes: Column, lut: Column): Column = of(AdcDotLong(expr(codes), expr(lut)))

  /** A word's BPE pieces under `merges` ([[BpeEncodeLong]]). */
  def bpeEncode(word: Column, merges: BpeMerges): Column = of(BpeEncodeLong(expr(word), merges))

  /** A token array's (n_tokens, n_pieces) under `merges` ([[BpePieceCountLong]]). */
  def bpePieceCount(tokens: Column, merges: BpeMerges): Column =
    of(BpePieceCountLong(expr(tokens), merges))

  /** KLL quantile sketch aggregate of a BIGINT column ([[KllSketchAgg]]). */
  def kllAgg(v: Column, k: Int): Column = agg(KllSketchAgg(expr(v), k))

  /** Merge aggregate of serialized KLL sketches ([[KllMergeAgg]]). */
  def kllMerge(sketch: Column): Column = agg(KllMergeAgg(expr(sketch)))

  /** The rank-`p` quantile estimate of a KLL sketch ([[KllQuantileLong]]). */
  def kllQuantile(sketch: Column, p: Double): Column =
    of(KllQuantileLong(expr(sketch), Literal(p)))

  /** Frequent-items sketch aggregate of a BIGINT column ([[FreqSketchAgg]]). */
  def freqAgg(v: Column, maxMapSize: Int): Column = agg(FreqSketchAgg(expr(v), maxMapSize))

  /** Merge aggregate of serialized frequency sketches ([[FreqMergeAgg]]). */
  def freqMerge(sketch: Column): Column = agg(FreqMergeAgg(expr(sketch)))

  /** `[estimate, lower, upper]` of one item in a frequency sketch ([[FreqBoundsLong]]). */
  def freqBounds(sketch: Column, item: Column): Column =
    of(FreqBoundsLong(expr(sketch), expr(item)))

  /** Theta sketch aggregate of a BIGINT column ([[ThetaSketchAgg]]). */
  def thetaAgg(v: Column, lgK: Int): Column = agg(ThetaSketchAgg(expr(v), lgK))

  /** Merge aggregate of serialized theta sketches ([[ThetaMergeAgg]]). */
  def thetaMerge(sketch: Column): Column = agg(ThetaMergeAgg(expr(sketch)))

  /** `[estimate, lower, upper]` of intersect / diff / union of two theta
    * sketches ([[ThetaSetEstimate]]). */
  def thetaSet(a: Column, b: Column, op: String): Column = {
    require(ThetaSetEstimate.Ops.contains(op),
      s"unknown theta set op '$op' (expected ${ThetaSetEstimate.Ops.mkString("/")})")
    of(ThetaSetEstimate(expr(a), expr(b), op))
  }

  /** Bloom filter aggregate of a BIGINT column ([[BloomFilterAgg]]). */
  def bloomAgg(v: Column, expectedItems: Long, fpp: Double): Column =
    agg(BloomFilterAgg(expr(v), expectedItems, fpp))

  /** Whether a BIGINT value might be in a serialized bloom filter
    * ([[BloomMightContainLong]]). */
  def bloomMightContain(bloom: Array[Byte], v: Column): Column =
    of(BloomMightContainLong(Literal(bloom), expr(v)))
}
