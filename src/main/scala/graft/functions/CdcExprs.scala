package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (Rabin-style): cut a document into chunks
  * at positions where a window fingerprint satisfies the boundary
  * predicate, so an insertion early in a document shifts ONE chunk's
  * boundary instead of re-aligning every fixed-size block — the
  * property block-level dedup and delta storage depend on.
  *
  * Window fingerprint: h(i) = Σ_{j<8} cp(c_{i+j})·31^j over the 8-CODEPOINT
  * window starting at i (exact int64 — max codepoint 0x10FFFF · 31⁷ · 8
  * ≈ 2.4e17, no overflow, no modular reduction an engine could round
  * differently). Boundary after the window when h ≡ 0 (mod 64) →
  * ~64-char expected chunks. Positions, windows, and cuts are all
  * CODEPOINT-indexed — not UTF-16 code units — so boundaries agree with
  * any engine whose string positions are character-based (DuckDB's
  * substr/ord/length all are) and an emoji or other supplementary-plane
  * character cannot shift them. Deterministic and position-local, so a
  * SQL oracle can recompute every boundary independently.
  */
object CdcKernels {

  /** Chunk texts for a document; empty input → empty array. */
  def chunks(text: UTF8String): ArrayData = {
    val s = text.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    // one O(n) decode to codepoints; surrogate pairs collapse to one slot
    val cps = s.codePoints().toArray
    val n = cps.length
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 8 <= n) {
      var h = 0L
      var p = 1L
      var j = 0
      while (j < 8) { h += cps(i + j).toLong * p; p *= 31; j += 1 }
      // cut AFTER the window's last char; a cut at the very end is a no-op
      if (h % 64 == 0 && i + 8 < n) cuts += (i + 8)
      i += 1
    }
    val bounds = (0 +: cuts) :+ n
    val out = new Array[Any](bounds.length - 1)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromString(
        new String(cps, bounds(k), bounds(k + 1) - bounds(k)))
      k += 1
    }
    new GenericArrayData(out)
  }
}

object CdcExprs {
  /** `cdc_chunks(text)`: content-defined chunk array. */
  def cdcChunks(text: Column): Column = Kernels.cdcChunks(text)
}
