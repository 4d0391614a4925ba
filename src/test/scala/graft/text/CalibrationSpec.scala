package graft.text

import graft.SparkSpec
import graft.queries.TextQueries

/** q216 reliability-diagram invariants — the DuckDB oracle pins every
  * bit at sf0.01; this pins the algebra's internal consistency on the
  * spec corpus plus a planted perfectly-separable case.
  */
class CalibrationSpec extends SparkSpec {

  test("q216: bucket bounds, population, and the ECE identity") {
    val out = TextQueries.q216NbCalibration(spark, sf).collect()
    assert(out.nonEmpty)
    val n = out.map(_.getLong(1)).sum
    // held-out docs (doc_id % 5 == 0) that have tokens — on this corpus
    // all of them; documents count is a multiple of 5
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 5 = 0").count()
    assert(n == total, s"population: $n vs $total")
    out.foreach { r =>
      val (b, conf) = (r.getLong(0), r.getLong(2))
      assert(b >= 0 && b <= 9, s"bucket range: $b")
      // mean confidence of a bucket stays inside the bucket's interval
      // (bucket 9 is right-closed by the clamp)
      assert(conf >= b * 65536 / 10 &&
        (b == 9L || conf < (b + 1) * 65536 / 10), s"bucket $b mean $conf")
      assert(r.getLong(4) == math.abs(conf - r.getLong(3)), "gap identity")
    }
    val ece = out.map(r => r.getLong(1) * r.getLong(4)).sum / n
    assert(out.forall(_.getLong(5) == ece), s"ECE identity: $ece")
  }

  test("q216: a separable planted corpus lands confident and calibrated") {
    val s = spark
    import s.implicits._
    // two classes with disjoint vocabularies: held-out docs score near
    // conf = 2^16 and are all correct -> top bucket, gap ~ 0
    val rows = (0L until 40L).map { i =>
      val y = if (i % 2 == 0) "aa" else "bb"
      val t = if (y == "aa") "apple apple banana apple banana"
              else "zebra yak zebra zebra yak"
      (i, t, y, "s", 0L)
    }
    val base = scratch("q216")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = TextQueries.q216NbCalibration(spark, base).collect()
    assert(out.length == 1 && out.head.getLong(0) == 9L,
      s"one confident bucket expected: ${out.toSeq}")
    assert(out.head.getLong(3) == 65536L, s"all correct: ${out.toSeq}")
    assert(out.head.getLong(5) == out.head.getLong(4),
      "single-bucket ECE equals its gap")
  }
}
