package graft.operators

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The local pass of [[Dedup.connectedComponents]]: a union-find over ONE
  * partition's (u, v) edge rows, emitting its star forest — one (member,
  * component min) row per non-root node, each node once. When that
  * partition holds every edge, the forest IS the large-star/small-star
  * fixed point. Work is O(m log m) for m edges
  * (sort + binary-search dictionary, near-linear union-find); memory is
  * primitive arrays proportional to m — ~48 bytes per edge for integral
  * ids — with no boxed map. Ids are ordered as Spark orders them (integral
  * ids numerically, strings by UTF-8 bytes), so a component's min is the
  * one `least`/`min` would pick. Int, long and string ids take the pass. */
private[operators] object StarForest {

  /** The per-partition pass for an id column of type `dt`, or None for id
    * types it does not encode (the caller then contracts the raw edges). */
  def pass(dt: DataType): Option[Iterator[Row] => Iterator[Row]] = dt match {
    case IntegerType => Some(integral(_, _.toInt))
    case LongType => Some(integral(_, x => x))
    case StringType => Some(strings)
    case _ => None
  }

  private def integral(rows: Iterator[Row], back: Long => Any): Iterator[Row] = {
    val ub = new ArrayBuilder.ofLong
    val vb = new ArrayBuilder.ofLong
    rows.foreach { r =>
      ub += r.getAs[Number](0).longValue
      vb += r.getAs[Number](1).longValue
    }
    val (us, vs) = (ub.result(), vb.result())
    val m = us.length
    val ids = new Array[Long](2 * m)
    System.arraycopy(us, 0, ids, 0, m)
    System.arraycopy(vs, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < ids.length) {
      if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    val root = roots(
      us.map(java.util.Arrays.binarySearch(ids, 0, k, _)),
      vs.map(java.util.Arrays.binarySearch(ids, 0, k, _)), k)
    Iterator.range(0, k).filter(j => root(j) != j)
      .map(j => Row(back(ids(j)), back(ids(root(j)))))
  }

  private def strings(rows: Iterator[Row]): Iterator[Row] = {
    val us = ArrayBuffer.empty[UTF8String]
    val vs = ArrayBuffer.empty[UTF8String]
    rows.foreach { r =>
      us += UTF8String.fromString(r.getString(0))
      vs += UTF8String.fromString(r.getString(1))
    }
    val ids = (us ++ vs).toArray[AnyRef]
    java.util.Arrays.sort(ids) // UTF8String orders by its UTF-8 bytes
    var k = 0
    var i = 0
    while (i < ids.length) {
      if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    val idx = (s: UTF8String) => java.util.Arrays.binarySearch(ids, 0, k, s)
    val root = roots(us.iterator.map(idx).toArray, vs.iterator.map(idx).toArray, k)
    Iterator.range(0, k).filter(j => root(j) != j)
      .map(j => Row(ids(j).toString, ids(root(j)).toString))
  }

  /** Component root of each of `k` dense node indexes under the edges
    * (a(i), b(i)). Indexes follow id order and a union always links the
    * larger root under the smaller, so parent(x) ≤ x holds throughout and
    * every root is its component's smallest index — the component min. */
  private[operators] def roots(a: Array[Int], b: Array[Int], k: Int): Array[Int] = {
    val parent = Array.range(0, k)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < a.length) {
      val ra = find(a(i))
      val rb = find(b(i))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    // parent(x) ≤ x: one ascending sweep flattens every path to its root
    i = 0
    while (i < k) { parent(i) = parent(parent(i)); i += 1 }
    parent
  }
}
