package graft.operators

import graft.expressions.CellMatrix

/** Integer-exact k-means (Lloyd) over driver-local quantized vectors — the
  * trainer of [[Similarity]]'s IVF coarse quantizer and PQ codebooks.
  *
  * The training set is collected once (a hash-ordered prefix of the corpus,
  * see [[Similarity]]), so every round is plain Scala over primitive arrays
  * instead of a Spark aggregate plus a collect. The arithmetic is the
  * relational chain the SQL oracles replay, step for step:
  *  - assignment is [[CellMatrix.argminAt]], the code the executor kernels
  *    run: d² = x·x − 2·x·c + c·c over wrapping longs, ties to the lowest id;
  *  - a centroid's new component is round(Σx / count) with Spark's `round`
  *    (HALF_UP on the double quotient: −2.5 → −3, where `Math.round` gives
  *    −2), the sums overflow-checked as Spark's ANSI `sum` is;
  *  - a centroid no vector chose vanishes, the others keep their ids. */
private[operators] object Lloyd {

  /** The wrapping dot of `len` longs of `x` at `off` with themselves. */
  def dot(x: Array[Long], off: Int, len: Int): Long = {
    var s = 0L
    var i = 0
    while (i < len) { s += x(off + i) * x(off + i); i += 1 }
    s
  }

  /** Spark's `round(s / cnt)` cast to long: HALF_UP on the double quotient. */
  def roundedMean(s: Long, cnt: Long): Long =
    BigDecimal(s.toDouble / cnt.toDouble).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** The centroid matrix of `ids` (ascending) and their vectors. */
  private def matrix(ids: Array[Long], cvs: Array[Array[Long]], dim: Int): CellMatrix =
    new CellMatrix(ids, cvs.flatten, cvs.map(dot(_, 0, dim)), dim)

  /** Train over the `len`-long slices at `off` of `xs`: the first `k`
    * slices seed centroids 1..k, then `rounds` Lloyd rounds. */
  def train(xs: Array[Array[Long]], off: Int, len: Int, k: Int, rounds: Int): CellMatrix = {
    val norms = xs.map(dot(_, off, len))
    val seeds = math.min(k, xs.length)
    var cents = matrix(Array.tabulate(seeds)(i => i + 1L),
      Array.tabulate(seeds)(i => xs(i).slice(off, off + len)), len)
    for (_ <- 1 to rounds) {
      val sums = Array.ofDim[Long](cents.ids.length, len)
      val cnt = new Array[Long](cents.ids.length)
      var p = 0
      while (p < xs.length) {
        val c = cents.indexOf(cents.argminAt(xs(p), off, norms(p)))
        val s = sums(c)
        var i = 0
        while (i < len) { s(i) = Math.addExact(s(i), xs(p)(off + i)); i += 1 }
        cnt(c) += 1
        p += 1
      }
      val kept = cents.ids.indices.filter(cnt(_) > 0)
      cents = matrix(kept.map(cents.ids(_)).toArray,
        kept.map(c => sums(c).map(roundedMean(_, cnt(c)))).toArray, len)
    }
    cents
  }
}
