package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass span-corruption kernel: given a token array and a per-token
  * mask array, emit (input tokens with each masked RUN replaced by an
  * ordered `<extra_id_k>` sentinel, target tokens as sentinel-framed
  * masked runs, run count). The builtin-HOF formulation (`aggregate`
  * with array accumulators) expresses the same fold but copies both
  * accumulator arrays on every step — O(n²) per document; this kernel
  * is the linear imperative pass (measured ~3× on the sf0.1 corpus).
  */
object SpanCorruptKernel {

  def corrupt(toks: ArrayData, flags: ArrayData): InternalRow = {
    val n = toks.numElements()
    val inp = new java.util.ArrayList[UTF8String](n)
    val tgt = new java.util.ArrayList[UTF8String](n / 4 + 4)
    var k = 0
    var prev = false
    var i = 0
    while (i < n) {
      val m = !flags.isNullAt(i) && flags.getBoolean(i)
      if (!m) {
        // clone: the UTF8String may point into a reused row buffer
        inp.add(toks.getUTF8String(i).clone())
      } else {
        if (!prev) {
          val s = UTF8String.fromString("<extra_id_" + k + ">")
          inp.add(s)
          tgt.add(s)
          k += 1
        }
        tgt.add(toks.getUTF8String(i).clone())
      }
      prev = m
      i += 1
    }
    InternalRow(
      new GenericArrayData(inp.toArray.asInstanceOf[Array[AnyRef]]),
      new GenericArrayData(tgt.toArray.asInstanceOf[Array[AnyRef]]),
      k)
  }
}

object SpanCorruptExpr {
  /** `span_corrupt(tokens, flags)` → struct(inp, tgt, k); see
    * [[SpanCorruptKernel]]. */
  def spanCorrupt(tokens: Column, flags: Column): Column = Kernels.spanCorrupt(tokens, flags)
}
