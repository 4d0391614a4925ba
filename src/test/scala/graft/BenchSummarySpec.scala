package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query summary: each query's row is the median and
  * `[min, max]` of its timed samples, and one failed sample fails the
  * query, which then stays out of the total and is named in `failed`.
  */
class BenchSummarySpec extends AnyFunSuite {
  import Bench.{Timing, Totals, summarize, totals}

  test("a query's row is the median of its samples with their [min, max]") {
    // the first sample is the slowest: a row that kept it would read 5.0
    assert(summarize("q1", Seq(Some(5.0), Some(1.0), Some(2.0))) ==
      Timing("q1", 2.0, 1.0, 5.0, ok = true))
    assert(summarize("q2", Seq(Some(0.2), Some(0.4), Some(0.3))) ==
      Timing("q2", 0.3, 0.2, 0.4, ok = true))
  }

  test("one failed sample fails the query: out of the total, listed in failed") {
    val broken = summarize("q2", Seq(Some(1.0), None, Some(4.0)))
    assert(!broken.ok)
    assert(broken.min == 1.0 && broken.max == 4.0)
    val rows = Seq(summarize("q1", Seq(Some(5.0), Some(1.0), Some(2.0))),
      broken)
    val Totals(total, failed, _) = totals(rows)
    assert(total == 2.0)
    assert(failed == Seq("q2"))
  }

  test("all samples failed: the query reads 0 and fails") {
    val dead = summarize("q3", Seq(None, None, None))
    assert(dead == Timing("q3", 0.0, 0.0, 0.0, ok = false))
    assert(totals(Seq(dead)) == Totals(0.0, Seq("q3"), 0.0))
  }

  test("dispersion is the median over ok queries of (max - min) / median") {
    val rows = Seq(
      summarize("a", Seq(Some(1.0), Some(1.1), Some(0.9))), // 0.2
      summarize("b", Seq(Some(2.0), Some(3.0), Some(2.0))), // 0.5
      summarize("c", Seq(Some(4.0), Some(4.0), Some(4.0))), // 0
      summarize("d", Seq(Some(1.0), None, Some(9.0))))      // failed
    assert(math.abs(totals(rows).dispersion - 0.2) < 1e-12)
  }
}
