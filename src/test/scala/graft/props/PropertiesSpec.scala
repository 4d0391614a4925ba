package graft.props

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.i18n.Fuzzy

/** ScalaCheck properties for the fiddly pure functions (SURVEY §5:
  * unpivot regex, year expansion, dedup suffixing, fuzzy-match
  * monotonicity).
  */
class PropertiesSpec extends AnyFunSuite {

  /** Run a ScalaCheck property, failing the test with the counterexample. */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // --- Fuzzy -----------------------------------------------------------

  test("ratio is bounded [0,1]; 1 iff equal for nonempty strings") {
    // NOTE deliberately not asserting symmetry: difflib's SequenceMatcher
    // (which we reproduce) is itself asymmetric on some inputs
    check(Prop.forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      val r = Fuzzy.ratio(a, b)
      r >= 0.0 && r <= 1.0
    })
    check(Prop.forAll(Gen.alphaStr.suchThat(_.nonEmpty)) { a =>
      Fuzzy.ratio(a, a) == 1.0
    })
  }

  test("identical strings score qratio 100; disjoint alphabets score 0") {
    check(Prop.forAll(Gen.alphaStr.suchThat(_.nonEmpty)) { s =>
      Fuzzy.qratio(s, s) == 100
    })
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.numChar).map(_.mkString)) { digits =>
      Fuzzy.qratio(digits, "xyz") == 0
    })
  }

  test("extract cutoff monotonicity: raising cutoff never adds results") {
    val gen = for {
      q <- Gen.alphaStr.suchThat(_.nonEmpty)
      choices <- Gen.listOfN(5, Gen.alphaStr.suchThat(_.nonEmpty))
      c1 <- Gen.choose(0, 100)
      c2 <- Gen.choose(0, 100)
    } yield (q, choices, math.min(c1, c2), math.max(c1, c2))
    check(Prop.forAll(gen) { case (q, choices, lo, hi) =>
      val loSet = Fuzzy.extract(q, choices, limit = 10, cutoff = lo).map(_._1).toSet
      val hiSet = Fuzzy.extract(q, choices, limit = 10, cutoff = hi).map(_._1).toSet
      hiSet.subsetOf(loSet)
    })
  }

  test("extract's DP short-circuit bounds are lossless vs brute force") {
    // extractPrepared skips the Ratcliff/Obershelp DP when the length or
    // character-multiset bound proves the cutoff unreachable — results
    // must be IDENTICAL to scoring every candidate
    val gen = for {
      q <- Gen.alphaStr
      choices <- Gen.listOf(Gen.alphaStr)
      cutoff <- Gen.choose(1, 100)
      limit <- Gen.choose(1, 4)
    } yield (q, choices, cutoff, limit)
    check(Prop.forAll(gen) { case (q, choices, cutoff, limit) =>
      val brute = choices.map(c => (c, Fuzzy.qratio(q, c)))
        .filter(_._2 >= cutoff).sortBy(-_._2).take(limit)
      Fuzzy.extract(q, choices, limit, cutoff) == brute
    })
  }

  // --- parseCvEvents ---------------------------------------------------

  test("event count never exceeds CV line count; all events carry the judge id") {
    val lineGen = Gen.oneOf(
      Gen.const("מונה לשופט בשנת 1995"),
      Gen.const("שורה בלי שנה"),
      Gen.const("פרש לגימלאות 2012"),
      Gen.alphaStr)
    check(Prop.forAll(Gen.listOf(lineGen)) { lines =>
      val cv = lines.mkString("\n")
      val events = graft.pipelines.Judges.parseCvEvents(
        graft.pipelines.Judges.JudgeRow("J", "f", "l", cv))
      events.length <= lines.count(_.trim.nonEmpty) &&
        events.forall(_.Judge_ID == "J") &&
        events.zipWithIndex.forall { case (e, i) => e.event_order == i.toLong }
    })
  }

  // --- Unidecode -------------------------------------------------------

  test("unidecode strips accents from printable Latin-1") {
    val latin1 = Gen.listOf(Gen.frequency(
      9 -> Gen.choose(0x20.toChar, 0x7E.toChar),
      3 -> Gen.choose(0xC0.toChar, 0xFF.toChar))).map(_.mkString)
    check(Prop.forAll(latin1) { s =>
      val t = graft.functions.Unidecode.transliterate(s)
      // no combining marks survive; accented letters fold to < 0x180
      t.forall(c => Character.getType(c) != Character.NON_SPACING_MARK && c < 0x180)
    })
  }

  // --- shingleHash64 model check --------------------------------------

  test("topTokenFraction kernel == split/count model (incl. empty-token edges)") {
    import org.apache.spark.unsafe.types.UTF8String
    val gen = Gen.listOf(Gen.oneOf(
      Gen.oneOf("a", "b", "bb", "C"), Gen.oneOf(" ", "\t", "\n", "  ")))
      .map(_.mkString)
    check(Prop.forAll(gen) { s =>
      // model of split(lower(trim(text)), "\\s+") with Spark semantics:
      // trim strips spaces only; java split keeps leading/trailing empties
      // at limit -1; "" splits to [""]
      var t = s
      while (t.startsWith(" ")) t = t.substring(1)
      while (t.endsWith(" ")) t = t.dropRight(1)
      t = t.toLowerCase
      val toks = t.split("\\s+", -1).toSeq
      val model = toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size
      val got = graft.functions.HashKernels.topTokenFraction(UTF8String.fromString(s))
      math.abs(got - model) < 1e-12
    })
  }

  test("fingerprintNormalize == the regex chain it replaces") {
    import org.apache.spark.unsafe.types.UTF8String
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', ' ', '\t', '!', '.', 'ש', 'ب', 'Ω', '€')))
      .map(_.mkString)
    check(Prop.forAll(gen) { s =>
      val model = s.toLowerCase
        .replaceAll("[^a-z0-9\\u0590-\\u05FF\\u0600-\\u06FF ]", "")
        .replaceAll(" +", " ")
      val got = graft.functions.HashKernels
        .fingerprintNormalize(UTF8String.fromString(s)).toString
      got == model
    })
  }

  test("sortedIntersectCount == set intersection on sorted distinct arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val gen = for {
      a <- Gen.listOf(Gen.choose(-50L, 50L))
      b <- Gen.listOf(Gen.choose(-50L, 50L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    check(Prop.forAll(gen) { case (a, b) =>
      val got = graft.functions.HashKernels.sortedIntersectCount(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      got == (a.toSet & b.toSet).size
    })
  }

  test("OPH minhash signature similarity estimates Jaccard") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val rnd = new scala.util.Random(42)
    def sig(set: Set[Long]): Array[Int] =
      graft.functions.HashKernels
        .minhashSigOph(new GenericArrayData(set.toArray.sorted), 64) match {
        case a: ArrayData => a.toIntArray()
      }
    // three overlap regimes; estimator must land within ~3σ (σ≈0.06 at k=64)
    for (overlap <- Seq(0.9, 0.5, 0.1)) {
      val base = Array.fill(400)(rnd.nextLong()).toSet
      val shared = base.take((base.size * overlap).toInt)
      val other = shared ++ Array.fill(base.size - shared.size)(rnd.nextLong()).toSet
      val trueJ = (base & other).size.toDouble / (base | other).size
      val (sa, sb) = (sig(base), sig(other))
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
      assert(math.abs(est - trueJ) < 0.2,
        s"overlap=$overlap trueJ=$trueJ est=$est")
    }
    // identical sets → similarity exactly 1
    val s = Array.fill(300)(rnd.nextLong()).toSet
    assert(sig(s).sameElements(sig(s)))
  }

  test("shingle hash count == distinct n-gram count (model parity)") {
    val gen = for {
      s <- Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
      n <- Gen.choose(2, 6)
    } yield (s, n)
    check(Prop.forAll(gen) { case (s, n) =>
      // model of the FUSED normalization: lowercase, collapse internal
      // whitespace runs, trim the ends — then distinct n-grams
      val norm = s.toLowerCase.replaceAll("\\s+", " ").trim
      val model =
        if (norm.isEmpty) 0
        else (0 until math.max(1, norm.length - n + 1))
          .map(i => norm.substring(i, math.min(i + n, norm.length))).distinct.size
      val got = graft.functions.HashKernels.shingleHash64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), n).numElements()
      // hash collisions across distinct n-grams are possible in theory but
      // not at these sizes; equality is the expected outcome
      got == model
    })
  }

  // --- ZOrder ----------------------------------------------------------

  test("morton2 de-interleaves back to its operands (low 32 bits)") {
    def unspread(z0: Long): Long = {
      var x = z0 & 0x5555555555555555L
      x = (x | (x >>> 1)) & 0x3333333333333333L
      x = (x | (x >>> 2)) & 0x0f0f0f0f0f0f0f0fL
      x = (x | (x >>> 4)) & 0x00ff00ff00ff00ffL
      x = (x | (x >>> 8)) & 0x0000ffff0000ffffL
      (x | (x >>> 16)) & 0xffffffffL
    }
    check(Prop.forAll { (a: Long, b: Long) =>
      val z = graft.functions.ZOrderKernels.morton2(a, b)
      unspread(z) == (a & 0xffffffffL) && unspread(z >>> 1) == (b & 0xffffffffL)
    })
  }

  test("morton2 interleaves into disjoint bit positions") {
    check(Prop.forAll { (a: Long, b: Long) =>
      import graft.functions.ZOrderKernels.morton2
      (morton2(a, 0) & morton2(0, b)) == 0L &&
        morton2(a, b) == (morton2(a, 0) | morton2(0, b))
    })
  }

  // --- FreqSummary (Misra–Gries) ---------------------------------------

  private def mgSummary(tokens: Seq[String], cap: Int) = {
    val s = new graft.functions.FreqSummary(
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]())
    tokens.foreach(t => s.add(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), 1L, cap))
    import scala.jdk.CollectionConverters._
    s.m.asScala.map { case (k, v) => k.toString -> v.longValue }.toMap
  }

  test("Misra–Gries: exact when distinct fits, undercount bound otherwise") {
    val tokenGen = Gen.listOf(Gen.oneOf((0 until 12).map(i => s"t$i")))
    check(Prop.forAll(tokenGen, Gen.choose(2, 16)) { (tokens, cap) =>
      val got = mgSummary(tokens, cap)
      val truth = tokens.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val bound = tokens.size.toLong / (cap + 1)
      val sizeOk = got.size <= cap
      val exactOk = truth.size > cap || got == truth
      // every reported count is a lower bound within n/(cap+1); every
      // untracked item's true count is within the same bound
      val trackedOk = got.forall { case (k, c) =>
        c <= truth(k) && truth(k) - c <= bound
      }
      val untrackedOk = truth.forall { case (k, c) =>
        got.contains(k) || c <= bound
      }
      sizeOk && exactOk && trackedOk && untrackedOk
    })
  }

  // --- BPE encode kernel ----------------------------------------------

  /** Naive reference: literal priority-queue BPE (find global min-rank
    * adjacent pair, merge all its occurrences greedy-leftmost, repeat).
    */
  private def naiveBpe(word: String, merges: Seq[(String, String)],
      sep: String): Seq[String] = {
    val rank = merges.zipWithIndex.toMap
    var toks: Vector[String] = word.map(_.toString).toVector
    var done = toks.size < 2
    while (!done) {
      val present = toks.indices.dropRight(1)
        .flatMap(i => rank.get((toks(i), toks(i + 1))))
      if (present.isEmpty) done = true
      else {
        val (l, r) = merges(present.min)
        val m = l + sep + r
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < toks.size) {
          if (k + 1 < toks.size && toks(k) == l && toks(k + 1) == r) {
            out += m; k += 2
          } else { out += toks(k); k += 1 }
        }
        toks = out.result()
        done = toks.size < 2
      }
    }
    toks
  }

  test("BpeEncode kernel == naive priority-queue reference, random tables") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{BpeEncodeKernel, BpeTable}
    val alphabet = Seq("a", "b", "c")
    // grow a table the way training would: each rule pairs two tokens
    // drawn from the alphabet plus earlier merge RESULTS (so rules chain)
    val tableGen: Gen[Seq[(String, String)]] =
      Gen.choose(0, 6).flatMap { n =>
        (0 until n).foldLeft(Gen.const(Seq.empty[(String, String)])) {
          case (acc, _) => acc.flatMap { rules =>
            val pool = alphabet ++ rules.map { case (l, r) => l + "_" + r }
            for {
              l <- Gen.oneOf(pool)
              r <- Gen.oneOf(pool)
            } yield if (rules.contains((l, r))) rules else rules :+ ((l, r))
          }
        }
      }
    val wordGen = Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString)
    check(Prop.forAll(wordGen, tableGen) { (word, merges) =>
      val table = new BpeTable(merges, "_")
      val got = BpeEncodeKernel.encode(UTF8String.fromString(word), table)
      val gotSeq = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      gotSeq == naiveBpe(word, merges, "_")
    })
  }

  // --- fixed-point binary log -----------------------------------------

  test("log2fix: monotone in p; exact halving step; bounded range") {
    import graft.functions.FixedLogKernel.log2fix
    val pGen = Gen.choose(1L, 1L << 30)
    check(Prop.forAll(pGen, pGen) { (p1, p2) =>
      val (lo, hi) = if (p1 <= p2) (p1, p2) else (p2, p1)
      log2fix(lo, 30, 16) <= log2fix(hi, 30, 16)
    })
    check(Prop.forAll(Gen.choose(1L, 1L << 29)) { p =>
      // log2(2p) = log2(p) + 1 exactly, so the fixed floor shifts by 2^16
      log2fix(2 * p, 30, 16) == log2fix(p, 30, 16) + 65536
    })
    check(Prop.forAll(pGen) { p =>
      val v = log2fix(p, 30, 16)
      v <= 0 && v >= -30L * 65536
    })
  }
}
