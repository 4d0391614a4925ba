package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern blocklist scrub: replace every occurrence of any of N
  * terms in one pass — the curation step that removes profanity /
  * boilerplate-phrase / denylisted-entity strings at corpus scale.
  *
  * Semantics (deterministic, engine-replayable): scan left to right; at
  * each position, if one or more terms start there, replace the LONGEST
  * one and continue after it (non-overlapping). This is exactly what a
  * single `regexp_replace` with the terms alternated longest-first
  * computes (leftmost scan, first-listed alternative wins, 'g' resumes
  * after the match) — q117's DuckDB oracle uses that formulation, and
  * the property spec asserts kernel == regex on random corpora.
  *
  * Why a kernel and not that regex: alternation cost is O(terms) per
  * position (every pattern re-tried at every character), so a 10k-term
  * blocklist makes regexp_replace quadratic-ish in practice. This is an
  * Aho–Corasick automaton instead — O(text + matches) independent of
  * term count — built ONCE per JVM from the term list (a
  * [[MultiReplaceTerms]] literal, compared by value) and read by every
  * row without a lookup. Matching is on exact character sequences
  * (caller normalizes case); terms may contain spaces (phrases).
  */
object MultiReplaceKernel {

  /** Aho–Corasick automaton over chars; goto as per-node HashMap (term
    * alphabets are tiny relative to text), fail links BFS, per-node
    * longest-term-ending-here after fail-closure.
    */
  final class Automaton(terms: Array[String]) {
    // BOXED key/value types: a primitive-typed java.util.HashMap would
    // silently unbox get()'s null miss to 0 = the root state (the
    // FreqSummary lesson)
    private val gotoMaps = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    private val termLen = scala.collection.mutable.ArrayBuffer(0)

    terms.foreach { t =>
      var s = 0
      var i = 0
      while (i < t.length) {
        val key = Character.valueOf(t.charAt(i))
        val nxt = gotoMaps(s).get(key)
        if (nxt == null) {
          gotoMaps += new java.util.HashMap[Character, Integer]()
          termLen += 0
          gotoMaps(s).put(key, Integer.valueOf(gotoMaps.size - 1))
          s = gotoMaps.size - 1
        } else s = nxt.intValue
        i += 1
      }
      if (t.length > termLen(s)) termLen(s) = t.length
    }

    private val fail = new Array[Int](gotoMaps.size)
    // dictLink(s) = nearest fail-ancestor that IS a term end (0 = none):
    // a position can end SEVERAL terms of different lengths (hence
    // different starts), and recording only the longest loses the
    // shorter one's start — walk the dictionary chain instead (the
    // property spec's "cab"/"b" case caught exactly this)
    private val dictLink = new Array[Int](gotoMaps.size)
    locally {
      val queue = new java.util.ArrayDeque[Integer]()
      gotoMaps(0).values().forEach(v => queue.add(v))
      while (!queue.isEmpty) {
        val s = queue.poll().intValue
        gotoMaps(s).forEach { (c: Character, t: Integer) =>
          queue.add(t)
          var f = fail(s)
          while (f != 0 && gotoMaps(f).get(c) == null) f = fail(f)
          val ft = gotoMaps(f).get(c)
          val fv = if (ft != null && ft.intValue != t.intValue) ft.intValue else 0
          fail(t.intValue) = fv
          dictLink(t.intValue) = if (termLen(fv) > 0) fv else dictLink(fv)
        }
      }
    }

    def step(state: Int, c: Char): Int = {
      val key = Character.valueOf(c)
      var s = state
      var n = gotoMaps(s).get(key)
      while (s != 0 && n == null) { s = fail(s); n = gotoMaps(s).get(key) }
      if (n == null) 0 else n.intValue
    }

    /** Visit the length of EVERY term ending at this state (exact node
      * term, then the dictionary-suffix chain).
      */
    def foreachMatchLen(state: Int)(f: Int => Unit): Unit = {
      if (termLen(state) > 0) f(termLen(state))
      var d = dictLink(state)
      while (d != 0) { f(termLen(d)); d = dictLink(d) }
    }
  }

  def replaceAll(text: String, terms: Seq[String], repl: String): String =
    replaceAll(text, MultiReplaceTerms(terms).automaton, repl)

  /** Leftmost-longest non-overlapping replace. Two phases: AC collects
    * END-anchored longest matches, then a reverse greedy pass selects
    * the leftmost-longest non-overlapping set (identical to the
    * longest-first-alternation regex scan).
    */
  private def replaceAll(text: String, ac: Automaton, repl: String): String = {
    val n = text.length
    // best[i] = length of the longest term STARTING at i (0 = none)
    val best = new Array[Int](n)
    var s = 0
    var i = 0
    while (i < n) {
      s = ac.step(s, text.charAt(i))
      val pos = i // stable binding for the closure
      ac.foreachMatchLen(s) { ml =>
        val start = pos - ml + 1
        if (ml > best(start)) best(start) = ml
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      if (best(i) > 0) { sb.append(repl); i += best(i) }
      else { sb.append(text.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** The `multi_replace` entry. */
  def replace(text: UTF8String, terms: MultiReplaceTerms, repl: UTF8String): UTF8String =
    UTF8String.fromString(replaceAll(text.toString, terms.automaton, repl.toString))
}

/** What a `multi_replace` call is compared by: the term list. The kernel
  * reads the automaton, built once per JVM per distinct list, from a
  * field of the deserialized literal, so no row hashes the terms.
  */
final case class MultiReplaceTerms(terms: Seq[String]) {
  @transient lazy val automaton: MultiReplaceKernel.Automaton =
    KernelTables(this)(t => new MultiReplaceKernel.Automaton(t.terms.toArray))
}

object MultiReplaceExpr {
  /** `multi_replace(text)` for a fixed term list + replacement. */
  def multiReplace(text: Column, terms: Seq[String], repl: String): Column = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty), "multi_replace: terms must be non-empty")
    Kernels.multiReplace(text, MultiReplaceTerms(terms), repl)
  }
}
