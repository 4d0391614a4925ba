package graft.functions

import org.apache.spark.sql.Column

/** Exact integer −log₂ for fixed-point probabilities — the piece that
  * lets perplexity-style LM scoring stay float-free end to end. A
  * transcendental log would reintroduce the cross-engine last-ulp drift
  * the fixed-point Kneser–Ney model ([[graft.text.KneserNey]]) designed
  * out; this is the classical square-and-shift binary logarithm instead:
  * every step is an integer multiply, compare, and shift, so any engine
  * (DuckDB mirrors it with a 16-step recursive CTE) reproduces the
  * identical bit pattern.
  */
object FixedLogKernel {

  /** floor(log₂(p / 2^scaleBits) · 2^fracBits) for 0 < p ≤ 2^scaleBits —
    * a non-positive integer (0 when p == scale, i.e. probability 1).
    * Non-positive inputs clamp to p = 1 (the maximum-surprise floor,
    * −scaleBits · 2^fracBits), so a fixed-point prob that floored to 0
    * scores finite, never throws.
    *
    * Overflow bound: normalization keeps the mantissa m < 2^(scaleBits+1),
    * so the squaring step needs 2·(scaleBits+1) ≤ 63 — scaleBits ≤ 30.
    */
  def log2fix(p0: Long, scaleBits: Int, fracBits: Int): Long = {
    val one = 1L << scaleBits
    val two = one << 1
    var m = if (p0 <= 0) 1L else if (p0 > one) one else p0
    var k = 0L
    while (m < one) { m <<= 1; k += 1 }
    var acc = 0L
    var i = 0
    while (i < fracBits) {
      m = (m * m) >> scaleBits
      if (m >= two) { m >>= 1; acc = (acc << 1) | 1L }
      else acc = acc << 1
      i += 1
    }
    -(k << fracBits) + acc
  }

  /** Bit factors for [[pow2NegFix]]: `POW2_FRAC(i) = ⌊2^(−2^(i−16)) · 2³¹⌋`
    * — the contribution of fraction bit i of a 16.16 exponent. Fixed
    * literals (here and in every SQL mirror) so the two engines can
    * never drift by a regenerated constant.
    */
  val POW2_FRAC: Array[Long] = Array(
    2147460935L, 2147438222L, 2147392797L, 2147301951L,
    2147120269L, 2146756953L, 2146030504L, 2144578345L,
    2141676972L, 2135885998L, 2124350982L, 2101467501L,
    2056437386L, 1969251187L, 1805811301L, 1518500249L)

  /** ⌊2^(−y/2¹⁶) · 2³¹⌋-ish for y ≥ 0 — the deterministic INVERSE of
    * [[log2fix]]: binary exponentiation over the fraction bits (applied
    * high→low, each product floored at 2³¹ — the order is part of the
    * spec, floors make multiplication non-commutative) followed by the
    * integer-part right shift. Composing the two gives exact-integer
    * p^α (`pow2NegFix((−log2fix(p)·αnum) div αden)`) — the temperature
    * scaling (mT5/XLM-R `p^0.3`) that float `pow` could never
    * hash-gate across engines. ~1e-8 relative error vs true 2^−x;
    * negative y clamps to 0 (= probability above 1 never happens by
    * construction), y ≥ 63·2¹⁶ underflows to 0.
    */
  def pow2NegFix(y0: Long): Long = {
    val y = if (y0 < 0) 0L else y0
    val k = (y >> 16).toInt
    if (k >= 63) return 0L
    val f = (y & 0xffffL).toInt
    var r = 1L << 31
    var i = 15
    while (i >= 0) {
      if (((f >> i) & 1) == 1) r = (r * POW2_FRAC(i)) >> 31
      i -= 1
    }
    r >> k
  }
}

object FixedLogExprs {
  /** Exact fixed-point binary log (see [[FixedLogKernel.log2fix]]). */
  def log2fix(p: Column, scaleBits: Int, fracBits: Int): Column = {
    require(scaleBits >= 1 && scaleBits <= 30, "scaleBits must be in [1, 30]")
    require(fracBits >= 0 && fracBits <= 32, "fracBits must be in [0, 32]")
    Kernels.log2fix(p, scaleBits, fracBits)
  }

  /** Fixed-point 2^(−y/2¹⁶) at scale 2³¹ (see [[FixedLogKernel.pow2NegFix]]). */
  def pow2NegFix(y: Column): Column = Kernels.pow2NegFix(y)
}
