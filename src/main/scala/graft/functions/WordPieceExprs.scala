package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece (BERT-style) tokenization: greedy LONGEST-match-first
  * segmentation with `##` continuation pieces — the fourth tokenizer
  * family next to BPE encode (merge replay), unigram-LM Viterbi
  * (global min-cost), and the vocab/integer encoder. Greedy is the
  * defining semantic: where Viterbi optimizes the whole cover,
  * WordPiece commits to the longest prefix at each step (UnigramSpec
  * pins a case where the two differ) — and a word that cannot be
  * covered at some position becomes ONE `[UNK]`, whole, the BERT rule
  * (not a per-character fallback).
  *
  * Exact semantics (mirrored by q132's recursive-CTE oracle):
  *  - positions are CODEPOINTS (surrogate-safe);
  *  - at position p, try lengths maxLen..1; the lookup key is the raw
  *    substring at word start (p = 0) and `"##" + substring` inside;
  *  - first (longest) hit is consumed; no hit at any p → `["[UNK]"]`.
  *
  * Scale: the vocabulary is built once per JVM from its entry list
  * (the BPE-merge-table pattern); encode is a narrow per-row kernel — no shuffle, no join, O(len · maxLen) set probes
  * per word.
  */
object WordPieceKernel {

  val Unk: UTF8String = UTF8String.fromString("[UNK]")

  def encode(word: UTF8String, v: WordPieceVocab): ArrayData = {
    val s = word.toString
    val n = s.codePointCount(0, s.length)
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val off = new Array[Int](n + 1)
    var u = 0; var ci = 0
    while (ci < n) { off(ci) = u; u += Character.charCount(s.codePointAt(u)); ci += 1 }
    off(n) = s.length

    val out = new java.util.ArrayList[AnyRef](n)
    var p = 0
    while (p < n) {
      var chosen = -1
      var l = math.min(v.maxLen, n - p)
      var tok: UTF8String = null
      while (l >= 1 && chosen < 0) {
        val sub = s.substring(off(p), off(p + l))
        val key = if (p == 0) sub else "##" + sub
        val k = UTF8String.fromString(key)
        if (v.pieces.contains(k)) { chosen = l; tok = k }
        l -= 1
      }
      if (chosen < 0)
        return new GenericArrayData(Array[AnyRef](Unk))
      out.add(tok)
      p += chosen
    }
    new GenericArrayData(out.toArray)
  }

  /** The `wordpiece_encode` entry. */
  def encodeWord(word: UTF8String, e: WordPieceEntries): ArrayData = encode(word, e.vocab)
}

/** A WordPiece vocabulary prepared for the greedy kernel: a UTF8String
  * set (continuation entries carry their `##` prefix) + the max piece
  * length in codepoints NOT counting the marker. Built once per JVM
  * from a [[WordPieceEntries]] value.
  */
final class WordPieceVocab(entries: Seq[String]) extends Serializable {
  val pieces = new java.util.HashSet[UTF8String]()
  var maxLen: Int = 1
  locally {
    for (e <- entries) {
      require(e.nonEmpty && e != "##", s"bad vocab entry '$e'")
      pieces.add(UTF8String.fromString(e))
      val body = if (e.startsWith("##")) e.substring(2) else e
      val l = body.codePointCount(0, body.length)
      if (l > maxLen) maxLen = l
    }
  }
}

/** What a `wordpiece_encode` call is compared by: the vocabulary entries. */
final case class WordPieceEntries(entries: Seq[String]) {
  @transient lazy val vocab: WordPieceVocab = KernelTables(this)(e => new WordPieceVocab(e.entries))
}

object WordPieceExprs {
  /** `wordpiece_encode(word)`: greedy longest-match segmentation of one
    * word against a fixed vocabulary (see [[WordPieceKernel]]). A bad
    * vocabulary entry fails here, when the plan is built. */
  def wordpieceEncode(word: Column, entries: Seq[String]): Column = {
    val e = WordPieceEntries(entries)
    e.vocab
    Kernels.wordpieceEncode(word, e)
  }
}
