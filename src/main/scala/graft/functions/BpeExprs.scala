package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** O(n) greedy-leftmost BPE merge over a token array — the `bpe_merge`
  * kernel behind [[graft.text.Bpe.applyMerge]]. A builtin `aggregate`
  * fold expresses the same scan but copies the accumulator array per
  * element (quadratic) and runs interpreted; this is one linear pass.
  */
object BpeKernels {

  def merge(arr: ArrayData, l: UTF8String, r: UTF8String,
      merged: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var o = 0
    var i = 0
    while (i < n) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (t != null && i + 1 < n && !arr.isNullAt(i + 1) &&
        t.equals(l) && arr.getUTF8String(i + 1).equals(r)) {
        out(o) = merged
        i += 2
      } else {
        out(o) = t
        i += 1
      }
      o += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, o))
  }
}

/** A trained BPE merge table prepared for the encode kernel: rank lookup
  * as nested UTF8String maps (zero-allocation probes) plus per-rank
  * left/right/merged token strings. Built once per JVM from a
  * [[BpeMerges]] value — the table is a bounded tokenizer artifact (~50k
  * rules).
  */
final class BpeTable(merges: Seq[(String, String)], sep: String)
    extends Serializable {
  val size: Int = merges.length
  val lTok = new Array[UTF8String](size)
  val rTok = new Array[UTF8String](size)
  val mergedTok = new Array[UTF8String](size)
  val ranks =
    new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Integer]]()
  locally {
    var i = 0
    for ((l, r) <- merges) {
      lTok(i) = UTF8String.fromString(l)
      rTok(i) = UTF8String.fromString(r)
      mergedTok(i) = UTF8String.fromString(l + sep + r)
      var inner = ranks.get(lTok(i))
      if (inner == null) {
        inner = new java.util.HashMap[UTF8String, Integer]()
        ranks.put(lTok(i), inner)
      }
      if (inner.get(rTok(i)) == null) inner.put(rTok(i), Integer.valueOf(i))
      i += 1
    }
  }
}

object BpeEncodeKernel {

  /** Full BPE encode of one word against a trained table: start from
    * codepoints (surrogate-safe — the CDC codepoint lesson), then
    * repeatedly merge every occurrence of the lowest-ranked adjacent
    * pair, greedy leftmost, until no pair is in the table. This is the
    * standard priority-queue encode; applying rules in rank order is
    * equivalent because a pair involving a merged token always ranks
    * AFTER the merge that created the token.
    */
  def encode(word: UTF8String, t: BpeTable): ArrayData = {
    val s = word.toString
    val toks = new java.util.ArrayList[AnyRef](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      toks.add(UTF8String.fromString(new String(Character.toChars(cp))))
      i += Character.charCount(cp)
    }
    run(toks, t)
  }

  /** Same priority-queue loop over an EXISTING token array — the entry
    * point for word-level BPE (the q89 training granularity, where the
    * initial alphabet is whole words, not characters).
    */
  def encodeTokens(arr: ArrayData, t: BpeTable): ArrayData = {
    val n = arr.numElements()
    val toks = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      toks.add(if (arr.isNullAt(i)) null else arr.getUTF8String(i))
      i += 1
    }
    run(toks, t)
  }

  /** The `bpe_encode` entry. */
  def encodeWord(word: UTF8String, m: BpeMerges): ArrayData = encode(word, m.table)

  /** The `bpe_encode_tokens` entry. */
  def encodeArray(arr: ArrayData, m: BpeMerges): ArrayData = encodeTokens(arr, m.table)

  private def run(toks0: java.util.ArrayList[AnyRef],
      t: BpeTable): ArrayData = {
    var toks = toks0
    var done = toks.size < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var j = 0
      while (j < toks.size - 1) {
        val inner = t.ranks.get(toks.get(j))
        if (inner != null) {
          val r = inner.get(toks.get(j + 1))
          if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        }
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val l = t.lTok(bestRank); val r = t.rTok(bestRank)
        val m = t.mergedTok(bestRank)
        val out = new java.util.ArrayList[AnyRef](toks.size)
        var k = 0
        while (k < toks.size) {
          if (k + 1 < toks.size && l.equals(toks.get(k)) &&
            r.equals(toks.get(k + 1))) {
            out.add(m); k += 2
          } else { out.add(toks.get(k)); k += 1 }
        }
        toks = out
        if (toks.size < 2) done = true
      }
    }
    new GenericArrayData(toks.toArray)
  }
}

/** What a `bpe_encode` call is compared by: the merge list and the
  * separator. The kernel reads its [[BpeTable]], built once per JVM.
  */
final case class BpeMerges(merges: Seq[(String, String)], sep: String) {
  @transient lazy val table: BpeTable = KernelTables(this)(m => new BpeTable(m.merges, m.sep))
}

object BpeExprs {
  /** Greedy leftmost single-rule BPE rewrite. */
  def bpeMerge(tokens: Column, l: String, r: String, sep: String): Column =
    Kernels.bpeMerge(tokens, l, r, sep)

  /** Tokenize one word with a trained merge table. */
  def bpeEncode(word: Column, merges: Seq[(String, String)], sep: String): Column =
    Kernels.bpeEncode(word, BpeMerges(merges, sep))

  /** The word-level variant: apply a trained table to an existing token
    * array (q89's granularity, where the alphabet is whole words). */
  def bpeEncodeTokens(tokens: Column, merges: Seq[(String, String)], sep: String): Column =
    Kernels.bpeEncodeTokens(tokens, BpeMerges(merges, sep))
}
