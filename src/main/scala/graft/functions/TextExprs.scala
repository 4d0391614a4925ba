package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Text-quality kernels that need byte-level work no builtin expresses. */
object TextKernels {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** Distinct hashes of word n-grams after inline normalization (trim,
    * lowercase, whitespace runs → one space) — ONE pass, no gram strings,
    * no per-position array slicing. The builtin formulation
    * (`transform(sequence, i => array_join(slice(split(text)), ' '))`)
    * measured 12 µs per gram at sf0.1 (2.8 of q48's 3.6 s); this kernel
    * is the word-level sibling of `HashKernels.shingleHash64`. Returns
    * empty for texts shorter than n words. Same polynomial+splitmix hash
    * as the shingle kernel, computed over the normalized gram substring
    * (single-space joints included), so it equals hashing the exact gram
    * string the SQL-path builds.
    */
  /** Shared normalization pass: lowercase, whitespace runs → one space,
    * trim; returns (buffer, word start offsets, effective length).
    */
  private def normalizeWords(
      input: UTF8String): (java.lang.StringBuilder, Array[Int], Int) = {
    val raw = input.toString
    val sb = new java.lang.StringBuilder(raw.length)
    var prevWs = true // leading whitespace is trimmed
    var r = 0
    while (r < raw.length) {
      val c = raw.charAt(r)
      if (Character.isWhitespace(c)) {
        if (!prevWs) sb.append(' ')
        prevWs = true
      } else {
        sb.append(Character.toLowerCase(c))
        prevWs = false
      }
      r += 1
    }
    var len = sb.length()
    if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    val starts = new scala.collection.mutable.ArrayBuffer[Int](len / 5 + 1)
    var i = 0
    while (i < len) {
      if (sb.charAt(i) != ' ' && (i == 0 || sb.charAt(i - 1) == ' ')) starts += i
      i += 1
    }
    (sb, starts.toArray, len)
  }

  /** All word n-gram STRINGS in document order, non-distinct — the exact
    * counterpart of [[wordGramHash64]] for tf-weighted consumers
    * ([[graft.similarity.SparseCosine]]): one normalization pass and one
    * substring per gram, vs ~8 µs/gram for the builtin
    * `transform(sequence, i => array_join(slice(split(…)), ' '))` chain
    * (measured: 90% of q62's runtime before this kernel). Texts shorter
    * than n words yield an empty array.
    */
  def wordGrams(input: UTF8String, n: Int): ArrayData = {
    val (sb, starts, len) = normalizeWords(input)
    val m = starts.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var g = 0
    while (g <= m - n) {
      val from = starts(g)
      val until = if (g + n < m) starts(g + n) - 1 else len
      out(g) = UTF8String.fromString(sb.substring(from, until))
      g += 1
    }
    new GenericArrayData(out)
  }

  def wordGramHash64(input: UTF8String, n: Int): ArrayData = {
    val (sb, starts, len) = normalizeWords(input)
    if (len == 0) return new GenericArrayData(Array.empty[Long])
    val m = starts.length
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    var g = 0
    while (g <= m - n) {
      val from = starts(g)
      val until = if (g + n < m) starts(g + n) - 1 else len
      var h = 1125899906842597L
      var j = from
      while (j < until) { h = h * 31 + sb.charAt(j); j += 1 }
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      out(g) = h ^ (h >>> 31)
      g += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    var i = 1
    while (i < out.length) {
      if (out(i) != out(i - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  // Deflater is stateful and ~µs to construct; one per executor thread,
  // reset() per row. raw mode (nowrap): no zlib header bytes skewing
  // short documents.
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
  }

  /** Deflate-compressed size / raw size of the UTF-8 bytes — the
    * Gopher-style redundancy signal: boilerplate and looped generations
    * compress far below natural prose (natural text ~0.4–0.7 at
    * BEST_SPEED; pathological repetition < 0.1). Empty input → 1.0.
    */
  def compressionRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var out = 0L
    while (!d.finished()) out += d.deflate(buf)
    out.toDouble / bytes.length
  }

  /** Per-codepoint Shannon entropy in 16.16 fixed-point bits, exact
    * integers end to end — the gibberish/boilerplate gate that, unlike
    * [[compressionRatio]], every engine can replay bit-for-bit (no zlib,
    * no floats): codepoint histogram → probabilities floored at 2⁻³⁰ →
    * surprisal via the square-and-shift binary log
    * ([[FixedLogKernel.log2fix]], the q102 machinery) → count-weighted
    * mean, one floor division. H = 0 for empty or single-symbol text,
    * log₂(alphabet) for uniform text; natural prose sits ≈ 4–4.7
    * bits/char, `aaaa…` runs near 0, random base64/binary near 6.
    *
    * Overflow bound: c ≤ n so c·2³⁰ needs n < 2³³ (an 8-billion-char
    * doc); per-symbol surprisal ≤ 31·2¹⁶, so the weighted sum stays
    * under n·2²¹ ≪ 2⁶³.
    */
  def charEntropyFix(s: UTF8String): Long = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, java.lang.Long]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      val prev = counts.get(cp)
      counts.put(cp, if (prev == null) 1L else prev + 1L)
      n += 1
    }
    if (n == 0L) return 0L
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c: Long = it.next()
      val pFix = (c << 30) / n
      acc += c * (-FixedLogKernel.log2fix(pFix, 30, 16))
    }
    acc / n
  }

  /** All n-gram substrings over the normalized buffer, in document
    * order (non-distinct), each spanning `starts(g) until starts(g+n)-1`
    * — i.e. internal single spaces included, exactly the string
    * `array_to_string(words[g:g+n-1], ' ')` the SQL replay builds.
    */
  private def gramSpans(sb: java.lang.StringBuilder, starts: Array[Int],
      len: Int, n: Int): Array[String] = {
    val m = starts.length
    if (m < n) return Array.empty
    val out = new Array[String](m - n + 1)
    var g = 0
    while (g <= m - n) {
      val from = starts(g)
      val until = if (g + n < m) starts(g + n) - 1 else len
      out(g) = sb.substring(from, until)
      g += 1
    }
    out
  }

  /** Gopher repetition profile (Rae et al. 2021 §A1.1) in ONE
    * normalization pass, all-integer output — the self-repetition gate
    * the per-document dup-line ratio ([[graft.text.QualityRules]]) and
    * the corpus-level signals (paragraph dedup, boilerplate) don't
    * cover: looped generations and listicles repeat *n-grams inside one
    * document*. Returns a 10-long array over the normalized text
    * (lowercase, whitespace runs → one space, trim):
    *
    *   [0]    normalized char length (the fraction denominators)
    *   [1..3] n ∈ {2,3,4}: max over distinct word n-grams of
    *          occurrences × gram char length — the "fraction of chars
    *          in the most frequent n-gram" numerator. Taking the max of
    *          the coverage PRODUCT (not argmax count, then product)
    *          makes the statistic deterministic under count ties and
    *          upper-bounds Gopher's phrasing.
    *   [4..9] n ∈ {5..10}: chars covered by ≥2-occurrence n-grams,
    *          counting each char once (interval union over occurrence
    *          spans) — the "fraction of chars in duplicated n-grams"
    *          numerator.
    *
    * All values are exact integers, so thresholds gate via
    * cross-multiplied compares and the whole profile hash-gates
    * cross-engine. The SQL replay computes coverage as a window-based
    * interval union (running max of span ends) — a genuinely different
    * algorithm from this kernel's ordered-walk end pointer. Char
    * positions are UTF-16 units vs the replay's codepoints: identical
    * for BMP text (the corpus; non-BMP only shifts both numerator and
    * denominator of a ratio gate).
    *
    * Per-row cost: 9 gram passes over ≤ m words each, one HashMap per
    * n; zero shuffles at any corpus size — this is a pure map-stage
    * statistic like [[charEntropyFix]].
    */
  def repetitionProfile(s: UTF8String): ArrayData = {
    val (sb, starts, len) = normalizeWords(s)
    val out = new Array[Long](10)
    out(0) = len.toLong
    var slot = 1
    var n = 2
    while (n <= 4) {
      val gs = gramSpans(sb, starts, len, n)
      if (gs.nonEmpty) {
        val counts = new java.util.HashMap[String, Integer](gs.length * 2)
        var g = 0
        while (g < gs.length) {
          val prev = counts.get(gs(g))
          counts.put(gs(g), if (prev == null) 1 else prev + 1)
          g += 1
        }
        var best = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue.toLong * e.getKey.length
          if (v > best) best = v
        }
        out(slot) = best
      }
      slot += 1
      n += 1
    }
    n = 5
    while (n <= 10) {
      val gs = gramSpans(sb, starts, len, n)
      if (gs.nonEmpty) {
        val counts = new java.util.HashMap[String, Integer](gs.length * 2)
        var g = 0
        while (g < gs.length) {
          val prev = counts.get(gs(g))
          counts.put(gs(g), if (prev == null) 1 else prev + 1)
          g += 1
        }
        // occurrences are in start order, so the union is one walk with
        // an end pointer: extend coverage only past what's already counted
        var covEnd = 0
        var covered = 0L
        g = 0
        while (g < gs.length) {
          if (counts.get(gs(g)) >= 2) {
            val s0 = starts(g)
            val e0 = s0 + gs(g).length
            if (e0 > covEnd) {
              covered += e0 - math.max(s0, covEnd)
              covEnd = e0
            }
          }
          g += 1
        }
        out(slot) = covered
      }
      slot += 1
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Threshold Levenshtein distance over CODEPOINTS, or −1 when above
    * `maxDist` — value-identical to the classical full-matrix DP (and
    * to DuckDB's `levenshtein`, which q128's oracle uses as the
    * independent replay), but costed for the near-dup-verify workload:
    *   1. common prefix/suffix stripping — template near-dups differ in
    *      a short span, so the DP shrinks from |doc|² to |edit-span|²
    *      (affix stripping never changes the distance);
    *   2. Ukkonen band — only cells within `maxDist` of the diagonal
    *      can matter for a result ≤ maxDist, so each row costs
    *      O(maxDist), not O(|doc|);
    *   3. row-minimum early exit — once a whole band row exceeds the
    *      threshold the distance can only grow.
    * Spark's builtin 3-arg `levenshtein` does none of these; at sf1
    * (where 90% of the corpus is near-dup by construction) the builtin
    * verify tier measured 255 s, this kernel ~seconds.
    */
  def levBounded(a: UTF8String, b: UTF8String, maxDist: Int): Int = {
    val s = a.toString.codePoints().toArray
    val t = b.toString.codePoints().toArray
    var lo = 0
    while (lo < s.length && lo < t.length && s(lo) == t(lo)) lo += 1
    var e1 = s.length
    var e2 = t.length
    while (e1 > lo && e2 > lo && s(e1 - 1) == t(e2 - 1)) { e1 -= 1; e2 -= 1 }
    val m = e1 - lo
    val n = e2 - lo
    if (math.abs(m - n) > maxDist) return -1
    if (m == 0) return n // n ≤ maxDist by the length gate above
    if (n == 0) return m
    val INF = Int.MaxValue / 2 // +1 must not overflow
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= maxDist) j else INF; j += 1 }
    var i = 1
    while (i <= m) {
      val jLo = math.max(1, i - maxDist)
      val jHi = math.min(n, i + maxDist)
      cur(jLo - 1) = if (jLo == 1) i else INF
      if (jHi < n) cur(jHi + 1) = INF // next row's band edge reads it
      var rowMin = cur(jLo - 1)
      j = jLo
      while (j <= jHi) {
        val sub = prev(j - 1) +
          (if (s(lo + i - 1) == t(lo + j - 1)) 0 else 1)
        var v = math.min(prev(j) + 1, cur(j - 1) + 1)
        if (sub < v) v = sub
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > maxDist) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) > maxDist) -1 else prev(n)
  }
}

object TextExprs {
  def compressionRatio(text: Column): Column = Kernels.compressionRatio(text)

  def charEntropyFix(text: Column): Column = Kernels.charEntropyFix(text)

  /** Threshold Levenshtein (−1 above `maxDist`), the near-dup verify kernel. */
  def levBounded(l: Column, r: Column, maxDist: Int): Column = {
    require(maxDist >= 0)
    Kernels.levBounded(l, r, maxDist)
  }

  def wordGramHash64(text: Column, n: Int): Column = Kernels.wordGramHash64(text, n)

  def wordGrams(text: Column, n: Int): Column = Kernels.wordGrams(text, n)

  /** Gopher repetition profile: [den, top2..top4, dup5..dup10]. */
  def repetitionProfile(text: Column): Column = Kernels.repetitionProfile(text)
}
