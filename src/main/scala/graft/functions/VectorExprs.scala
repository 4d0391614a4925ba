package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native vector kernels for the similarity path. The builtin
  * formulation (`aggregate(zip_with(...))` per measure, per hyperplane)
  * re-traverses the embedding array once per reduction with a per-element
  * expression tree; these fold dot + both norms (or all hyperplane signs)
  * in ONE pass of tight JVM arithmetic, inside whole-stage codegen.
  *
  * Bit-parity: additions run in index order from 0.0 in double — exactly
  * the left-fold the builtin `aggregate` performed — so cosine values are
  * bit-identical to the previous formulation (and to DuckDB's
  * list_dot_product oracle in q40).
  */
object VectorKernels {

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      val dim = math.min(cent.length, v.numElements())
      while (i < dim) {
        val diff = v.getFloat(i).toDouble - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Integer sparse dot product of two (sorted-index, value) pair-array
    * representations: Σ tf[i]·w[j] over matching indices, by two-pointer
    * merge. Returns -1 when the index sets are disjoint — values are
    * products of non-negatives so a true score is never negative, and
    * the caller needs "no shared term" (drop the pair) to stay distinct
    * from "shared terms, zero weight" (keep, score 0).
    */
  def sparseDotLong(di: ArrayData, dt: ArrayData, qi: ArrayData, qw: ArrayData): Long = {
    val nd = di.numElements(); val nq = qi.numElements()
    var i = 0; var j = 0; var acc = 0L; var hit = false
    while (i < nd && j < nq) {
      val a = di.getInt(i); val b = qi.getInt(j)
      if (a == b) { acc += dt.getLong(i) * qw.getLong(j); hit = true; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    if (hit) acc else -1L
  }

  def srpBucket(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var out = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var d = 0.0
      var i = 0
      val dim = math.min(pl.length, v.numElements())
      while (i < dim) { d += v.getFloat(i).toDouble * pl(i); i += 1 }
      if (d >= 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

object VectorExprs {
  /** Cosine similarity of two `array<float>` columns, computed in double. */
  def cosineSim(a: Column, b: Column): Column = Kernels.cosineSim(a, b)

  /** Signed-random-projection bucket id: one sign bit per hyperplane,
    * packed into a long. The plane matrix is one literal, compared by
    * reference. */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 63, "1..63 hyperplanes")
    Kernels.srpBucket(vec, planes)
  }

  /** Index of the nearest centroid (squared L2) — the IVF coarse-quantizer
    * assignment as one narrow expression. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "at least one centroid")
    Kernels.nearestCentroid(vec, centroids)
  }

  /** Integer sparse dot over (doc idx[], doc tf[], query idx[], query w[]),
    * -1 for disjoint index sets (see [[VectorKernels.sparseDotLong]]) — the
    * scoring kernel of [[graft.similarity.LexicalProbe]]'s dense tier. */
  def sparseDotLong(docIdx: Column, docTf: Column, qIdx: Column, qW: Column): Column =
    Kernels.sparseDotLong(docIdx, docTf, qIdx, qW)
}
