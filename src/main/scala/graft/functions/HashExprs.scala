package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Kernels for the dedup hot path. Each is a static method that a
  * [[Kernels]] entry calls, so the call sits inside whole-stage codegen
  * with no interpreted-eval glue and no per-row boxing, while the kernel
  * itself is one pass of tight JVM arithmetic. The builtin-only
  * formulation needs 64 (simhash) / k (minhash) separate array traversals
  * with per-element expression trees, and materializes every shingle as a
  * UTF8String. At 100 TB of documents this is the difference between a
  * scan-bound and a CPU-bound dedup stage.
  */
object HashKernels {

  /** Distinct char-n-gram hashes of `s` after inline normalization
    * (lowercase, runs of whitespace → one space) — the fused form of
    * `regexp_replace(lower(text), "\\s+", " ")` + shingling, one pass,
    * no intermediate string. Sorted + deduped; consumers are
    * order-insensitive.
    */
  def shingleHash64(input: UTF8String, n: Int): ArrayData = {
    val raw = input.toString
    // inline normalization: toLowerCase + collapse \s+ to single space
    val sb = new java.lang.StringBuilder(raw.length)
    var prevWs = false
    var r = 0
    while (r < raw.length) {
      val c = raw.charAt(r)
      if (Character.isWhitespace(c)) {
        if (!prevWs && sb.length() > 0) sb.append(' ')
        prevWs = true
      } else {
        sb.append(Character.toLowerCase(c))
        prevWs = false
      }
      r += 1
    }
    // strip a trailing space left by terminal whitespace
    var len = sb.length()
    if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    if (len == 0) return new GenericArrayData(Array.empty[Long])
    val m = math.max(1, len - n + 1)
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 1125899906842597L
      var j = i
      val end = math.min(i + n, len)
      while (j < end) { h = h * 31 + sb.charAt(j); j += 1 }
      // splitmix finalizer spreads the weak polynomial bits
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      hashes(i) = h ^ (h >>> 31)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var w = 1
    i = 1
    while (i < m) {
      if (hashes(i) != hashes(i - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, w))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the
    * MOSS scheme): the distinct window-minimum k-gram hashes — for
    * every window of `w` consecutive positional n-gram hashes, the
    * UNSIGNED minimum is selected. Guarantee: any match of length
    * ≥ w+n−1 chars shares at least one fingerprint; density is
    * ~2/(w+1) fingerprints per position, so the index is a bounded
    * fraction of the corpus regardless of document length — the local
    * fingerprinting tier between exact shingles (all positions) and
    * MinHash (global sketch). Same normalization and polynomial+
    * splitmix hash as [[shingleHash64]], so the SQL mirror reuses the
    * q32 hash stack; output is sorted + deduped like the shingle
    * kernel. Texts shorter than n chars hash their single truncated
    * gram; fewer than w positions form one window.
    */
  def winnowHash64(input: UTF8String, n: Int, w: Int): ArrayData = {
    val raw = input.toString
    val sb = new java.lang.StringBuilder(raw.length)
    var prevWs = false
    var r = 0
    while (r < raw.length) {
      val c = raw.charAt(r)
      if (Character.isWhitespace(c)) {
        if (!prevWs && sb.length() > 0) sb.append(' ')
        prevWs = true
      } else {
        sb.append(Character.toLowerCase(c))
        prevWs = false
      }
      r += 1
    }
    var len = sb.length()
    if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    if (len == 0) return new GenericArrayData(Array.empty[Long])
    val m = math.max(1, len - n + 1)
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 1125899906842597L
      var j = i
      val end = math.min(i + n, len)
      while (j < end) { h = h * 31 + sb.charAt(j); j += 1 }
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      hashes(i) = h ^ (h >>> 31)
      i += 1
    }
    val nw = math.max(1, m - w + 1)
    val sel = new Array[Long](nw)
    var jw = 0
    while (jw < nw) {
      var mn = hashes(jw)
      var t = jw + 1
      val end = math.min(jw + w, m)
      while (t < end) {
        if (java.lang.Long.compareUnsigned(hashes(t), mn) < 0) mn = hashes(t)
        t += 1
      }
      sel(jw) = mn
      jw += 1
    }
    java.util.Arrays.sort(sel)
    var wr = 1
    i = 1
    while (i < nw) {
      if (sel(i) != sel(i - 1)) { sel(wr) = sel(i); wr += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, wr))
  }

  /** MinHash signature; slot j = min over hashes of mix_j(h). Caller
    * guarantees non-empty input.
    */
  def minhashSig(arr: ArrayData, mults: Array[Long], adds: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val k = mults.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        var m = h * mults(j) + adds(j)
        m ^= (m >>> 29)
        if (m < mins(j)) mins(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** One-permutation-hashing MinHash signature with rotation
    * densification (Shrivastava & Li, ICML 2014): each shingle hash is
    * assigned to ONE of k bins by its top bits and the bin keeps the
    * minimum of a single remix — O(n + k) total versus O(n·k) for the
    * classic k-mix signature, with the same pairwise collision estimator
    * E[slot_a == slot_b] ≈ Jaccard. Empty bins borrow the next non-empty
    * bin's value (wrapping, offset-tagged so borrowed slots still
    * discriminate). k must be a power of two.
    *
    * Slots are 32-bit: the estimator only tests slot EQUALITY, so
    * truncating the mixed 64-bit min to its low int costs 2^-32 false
    * agreement per slot and halves the signature payload through every
    * signature join/shuffle.
    */
  def minhashSigOph(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val shift = 64 - Integer.numberOfTrailingZeros(k) // top log2(k) bits pick the bin
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      val bin = (h >>> shift).toInt
      // remix so the bin-selector bits don't correlate with the value
      var m = h * 0xBF58476D1CE4E5B9L
      m ^= (m >>> 29)
      if (m < mins(bin)) mins(bin) = m
      i += 1
    }
    // rotation densification: an empty bin takes the value of the next
    // non-empty bin (cyclically), mixed with the distance so two docs
    // agreeing only via borrowed slots must share the SOURCE bin too
    var j = 0
    while (j < k) {
      if (mins(j) == Long.MaxValue) {
        var d = 1
        while (d < k && mins((j + d) & (k - 1)) == Long.MaxValue) d += 1
        if (d < k) {
          val src = mins((j + d) & (k - 1))
          var m = src + d.toLong * 0x9E3779B97F4A7C15L
          m = (m ^ (m >>> 30)) * 0x94D049BB133111EBL
          mins(j) = m ^ (m >>> 31)
        } else mins(j) = 0L // no non-empty bin at all (can't happen: n > 0)
      }
      j += 1
    }
    val out = new Array[Int](k)
    j = 0
    while (j < k) { out(j) = mins(j).toInt; j += 1 }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash: bit b set iff ≥ half the hashes have bit b set.
    * Caller guarantees non-empty input.
    */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 >= n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Intersection size of two SORTED long arrays by merge walk — O(n+m),
    * zero allocation; `array_intersect` builds a hash set per row.
    * [[shingleHash64]] output is sorted by construction, so the exact-Jaccard
    * verify tier runs on this.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Fingerprint normalization in one char scan, replacing
    * `regexp_replace(regexp_replace(lower(s), "[^a-z0-9֐-׿؀-ۿ ]", ""), " +", " ")`:
    * lowercase; keep [a-z0-9], Hebrew (U+0590–05FF), Arabic (U+0600–06FF)
    * and spaces; collapse runs of KEPT spaces to one (no trim — regex
    * parity). Stripped chars do not break a space run, exactly like the
    * strip-then-collapse regex order.
    */
  def fingerprintNormalize(input: UTF8String): UTF8String = {
    val s = input.toString
    val sb = new java.lang.StringBuilder(s.length)
    var lastWasSpace = false
    var i = 0
    while (i < s.length) {
      val lc = Character.toLowerCase(s.charAt(i))
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') ||
          (lc >= '֐' && lc <= '׿') || (lc >= '؀' && lc <= 'ۿ')) {
        sb.append(lc)
        lastWasSpace = false
      } else if (lc == ' ') {
        if (!lastWasSpace) { sb.append(' '); lastWasSpace = true }
      } // else: stripped — does NOT reset the space run
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Fraction of tokens equal to the most frequent token, in ONE pass
    * with a hashmap — the builtin formulation
    * `transform(array_distinct(toks), t => size(filter(toks, _ === t)))`
    * is O(distinct × n) per document, i.e. quadratic exactly on the
    * repetitive documents this scorer exists to flag.
    *
    * Token semantics replicate `split(lower(trim(text)), "\\s+")`
    * precisely: trim strips SPACES only (Spark trim), split keeps a
    * leading empty token after other whitespace and a trailing empty
    * token (limit -1), and the empty string yields one empty token
    * (fraction 1.0).
    */
  def topTokenFraction(input: UTF8String): Double = {
    val t = input.trim().toLowerCase.toString // Spark trim = spaces only
    if (t.isEmpty) return 1.0
    def isWs(c: Char): Boolean = // java regex \s
      c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'
    val counts = new java.util.HashMap[String, Integer]()
    var n = 0
    def add(tok: String): Unit = {
      counts.merge(tok, 1, (a: Integer, b: Integer) => a + b)
      n += 1
    }
    if (isWs(t.charAt(0))) add("") // leading empty token, as split(-1) emits
    var i = 0
    while (i < t.length) {
      while (i < t.length && isWs(t.charAt(i))) i += 1
      if (i < t.length) {
        val start = i
        while (i < t.length && !isWs(t.charAt(i))) i += 1
        add(t.substring(start, i))
      }
    }
    if (isWs(t.charAt(t.length - 1))) add("") // trailing empty token
    var mx = 0
    val it = counts.values().iterator()
    while (it.hasNext) { val v: Int = it.next(); if (v > mx) mx = v }
    mx.toDouble / n
  }

  /** The `simhash64` entry: NULL for an empty hash array. */
  def simhash64OrNull(arr: ArrayData): java.lang.Long =
    if (arr.numElements() == 0) null else java.lang.Long.valueOf(simhash64(arr))

  /** The `minhash_sig` entry: NULL for an empty hash array. Slot j mixes
    * with a distinct 64-bit multiply-add-xorshift (splitmix-style) — k
    * cheap mixes of one base hash instead of k full string hashes; the
    * seed constants are derived once per JVM per k.
    */
  def minhashSigOrNull(arr: ArrayData, k: Int): ArrayData =
    if (arr.numElements() == 0) null
    else {
      val seeds = KernelTables(("minhash_sig", Integer.valueOf(k)))(_ => Array(
        Array.tabulate(k)(j => splitmix(j * 2 + 1) | 1L),
        Array.tabulate(k)(j => splitmix(j * 2 + 2))))
      minhashSig(arr, seeds(0), seeds(1))
    }

  /** The `minhash_sig_oph` entry: NULL for an empty hash array. A SQL
    * caller's k is checked here, since any other k gives a wrong
    * signature rather than an error. */
  def minhashSigOphOrNull(arr: ArrayData, k: Int): ArrayData = {
    require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")
    if (arr.numElements() == 0) null else minhashSigOph(arr, k)
  }

  def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** Column wrappers; argument checks run when the plan is built. */
object HashExprs {
  def simhash64(hashes: Column): Column = Kernels.simhash64(hashes)

  def minhashSig(hashes: Column, k: Int): Column = Kernels.minhashSig(hashes, k)

  def minhashSigOph(hashes: Column, k: Int): Column = {
    require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")
    Kernels.minhashSigOph(hashes, k)
  }

  /** Shingle hashes of RAW text — normalization is fused inside. */
  def shingleHash64(text: Column, n: Int): Column = Kernels.shingleHash64(text, n)

  /** Winnowing fingerprints of RAW text — normalization fused inside. */
  def winnowHash64(text: Column, n: Int, w: Int): Column = {
    require(n > 0 && w > 0, s"need n > 0 and w > 0, got n=$n w=$w")
    Kernels.winnowHash64(text, n, w)
  }

  /** Merge-walk intersection size of two sorted array<bigint> columns. */
  def sortedIntersectCount(a: Column, b: Column): Column = Kernels.sortedIntersectCount(a, b)

  /** One-pass fingerprint normalization (lower, keep word chars, collapse spaces). */
  def fingerprintNormalize(text: Column): Column = Kernels.fingerprintNormalize(text)

  /** One-pass most-frequent-token fraction. */
  def topTokenFraction(text: Column): Column = Kernels.topTokenFraction(text)
}
