package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) Viterbi tokenization: segment a
  * word into the vocabulary pieces minimizing total integer cost
  * (fixed-point −log₂ p — [[FixedLogExprs]] produces exactly this
  * scale), the inference half of the unigram tokenizer family and the
  * BPE alternative every large-model pipeline fields. Where BPE encode
  * replays merge history, Viterbi finds the GLOBAL min-cost cover of
  * the word — greedy longest-match (WordPiece-style) is not optimal
  * and the spec pins a case where they differ.
  *
  * Exact semantics (mirrored by q123's recursive-CTE oracle):
  *  - DP over CODEPOINT positions (surrogate-safe — the CDC lesson):
  *    best(0) = 0; best(i) = min over vocab pieces p that equal the
  *    codepoints (i−|p|, i] of best(i−|p|) + cost(p), plus the
  *    single-codepoint fallback at cost `unkCost` when that ONE
  *    codepoint is not itself a vocab piece — so every word segments.
  *  - Reconstruction runs BACKWARD taking at each position the LONGEST
  *    piece whose cost equation holds (at most one piece per length can
  *    match — the substring determines the piece — so the tie-break is
  *    total and the segmentation unique).
  * All arithmetic is int64 adds and compares: identical output on any
  * engine, run, or partitioning.
  *
  * Scale: the vocab (a trained artifact, ~10⁴–10⁵ pieces like the BPE
  * merge table) is built ONCE per JVM from its piece list; the encode
  * itself is a narrow per-row kernel — no shuffle, no join,
  * O(len · maxPieceLen) hash probes per word.
  */
object UnigramKernel {

  /** INF guard: far above any reachable path cost, far below overflow. */
  val Inf: Long = Long.MaxValue / 4

  def encode(word: UTF8String, v: UnigramVocab): ArrayData = {
    val s = word.toString
    val n = s.codePointCount(0, s.length)
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    // UTF-16 offset of codepoint i, for O(1) codepoint slicing
    val off = new Array[Int](n + 1)
    var u = 0; var ci = 0
    while (ci < n) { off(ci) = u; u += Character.charCount(s.codePointAt(u)); ci += 1 }
    off(n) = s.length

    // cost of covering (pos-l, pos] with one piece; -1 = not coverable
    def pieceCost(pos: Int, l: Int): Long = {
      val c = v.costs.get(UTF8String.fromString(s.substring(off(pos - l), off(pos))))
      if (c != null) c.longValue()
      else if (l == 1) v.unkCost
      else -1L
    }

    val best = new Array[Long](n + 1)
    java.util.Arrays.fill(best, Inf)
    best(0) = 0L
    var pos = 1
    while (pos <= n) {
      val maxL = math.min(v.maxLen, pos)
      var l = 1
      while (l <= maxL) {
        if (best(pos - l) < Inf) {
          val c = pieceCost(pos, l)
          if (c >= 0 && best(pos - l) + c < best(pos)) best(pos) = best(pos - l) + c
        }
        l += 1
      }
      pos += 1
    }

    val out = new Array[AnyRef](n) // ≤ n pieces
    var k = n
    var p = n
    while (p > 0) {
      var chosen = -1
      var l = math.min(v.maxLen, p)
      while (l >= 1 && chosen < 0) {
        val c = pieceCost(p, l)
        if (c >= 0 && best(p - l) < Inf && best(p - l) + c == best(p)) chosen = l
        l -= 1
      }
      // the single-codepoint fallback guarantees a path, so chosen ≥ 1
      k -= 1
      out(k) = UTF8String.fromString(s.substring(off(p - chosen), off(p)))
      p -= chosen
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(out, k, n))
  }

  /** The `unigram_encode` entry. */
  def encodeWord(word: UTF8String, p: UnigramPieces): ArrayData = encode(word, p.vocab)
}

/** A unigram vocabulary prepared for the Viterbi kernel: piece → cost
  * probes as a UTF8String hash map + the max piece length bounding the
  * DP window. Built once per JVM from a [[UnigramPieces]] value.
  * Costs must be ≥ 0 (fixed-point −log₂ p is); duplicate pieces keep
  * the first cost.
  */
final class UnigramVocab(pieces: Seq[(String, Long)], val unkCost: Long)
    extends Serializable {
  require(unkCost >= 0, "unkCost must be non-negative")
  val costs = new java.util.HashMap[UTF8String, java.lang.Long]()
  var maxLen: Int = 1
  locally {
    for ((p, c) <- pieces) {
      require(p.nonEmpty && c >= 0, s"bad vocab entry ($p, $c)")
      val key = UTF8String.fromString(p)
      if (costs.get(key) == null) costs.put(key, java.lang.Long.valueOf(c))
      val l = p.codePointCount(0, p.length)
      if (l > maxLen) maxLen = l
    }
  }
}

/** What a `unigram_encode` call is compared by: the pieces and the
  * unknown-codepoint cost. */
final case class UnigramPieces(pieces: Seq[(String, Long)], unkCost: Long) {
  @transient lazy val vocab: UnigramVocab = KernelTables(this)(p => new UnigramVocab(p.pieces, p.unkCost))
}

object UnigramExprs {
  /** `unigram_encode(word)`: min-cost Viterbi segmentation of one word
    * against a fixed vocabulary (see [[UnigramKernel]]). A bad piece or
    * cost fails here, when the plan is built. */
  def unigramEncode(word: Column, pieces: Seq[(String, Long)], unkCost: Long): Column = {
    val p = UnigramPieces(pieces, unkCost)
    p.vocab
    Kernels.unigramEncode(word, p)
  }
}
