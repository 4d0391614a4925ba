package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KmvSpec extends SparkSpec {
  import spark.implicits._

  private def strings(n: Int, tag: String) =
    (0 until n).map(i => s"$tag-item-$i").toDF("s")
      .select(Kmv.hash62($"s").as("h"))

  test("below capacity the sketch is exhaustive and the estimate exact") {
    val df = strings(500, "small")
    val row = df.agg(Kmv.sketch($"h", 1024).as("sk"))
      .select(size($"sk").as("n"), Kmv.estimate($"sk", 1024).as("est"))
      .head()
    assert(row.getAs[Int]("n") == 500)
    assert(row.getAs[Long]("est") == 500L)
  }

  test("at capacity the estimate lands within the k=1024 error band") {
    val n = 20000
    val est = strings(n, "big").agg(Kmv.sketch($"h", 1024).as("sk"))
      .select(Kmv.estimate($"sk", 1024)).as[Long].head()
    // standard error ~ 1/sqrt(k-2) ≈ 3.1%; allow 4 sigma
    assert(math.abs(est - n) < n * 0.125, s"estimate $est vs true $n")
  }

  test("sketch content is partition-invariant (pure set function)") {
    val df = strings(5000, "part")
    val a = df.repartition(1).agg(Kmv.sketch($"h", 256)).as[Seq[Long]].head()
    val b = df.repartition(13).agg(Kmv.sketch($"h", 256)).as[Seq[Long]].head()
    assert(a == b)
    assert(a == a.sorted && a.size == 256)
  }

  test("union of per-run sketches equals the one-pass sketch, exactly") {
    val whole = strings(8000, "run")
    val half1 = strings(8000, "run").limit(4000)
    // runs overlap (limit is the first 4000 of the same generator) —
    // union must dedup across runs like one pass over the concatenation
    val runSketches = Seq(half1, whole)
      .map(_.agg(Kmv.sketch($"h", 512).as("sk")))
      .reduce(_ unionByName _)
    val merged = runSketches.agg(Kmv.union($"sk", 512)).as[Seq[Long]].head()
    val onePass = whole.agg(Kmv.sketch($"h", 512)).as[Seq[Long]].head()
    assert(merged == onePass)
  }

  test("duplicated values do not move the sketch (distinctness)") {
    val once = strings(3000, "dup")
    val thrice = once.union(once).union(once)
    val a = once.agg(Kmv.sketch($"h", 128)).as[Seq[Long]].head()
    val b = thrice.agg(Kmv.sketch($"h", 128)).as[Seq[Long]].head()
    assert(a == b)
  }

  test("hash62 walks codepoints — a surrogate pair hashes as ONE unit") {
    // U+1D11E (musical G clef) is a surrogate pair in UTF-16; the DuckDB
    // mirror iterates codepoints, so the kernel must too
    val treble = "𝄞"
    val expected = HashKernels.splitmix(1125899906842597L * 31 + 0x1D11E) >>> 2
    val got = Seq(treble).toDF("s").select(Kmv.hash62($"s")).as[Long].head()
    assert(got == expected)
  }

  test("sketch round-trips through a parquet artifact bit-exactly") {
    val dir = scratch("kmv")
    val sk = strings(6000, "art").groupBy(lit(1).as("g"))
      .agg(Kmv.sketch($"h", 256).as("sk"))
    sk.write.mode("overwrite").parquet(s"$dir/sk")
    val reloaded = spark.read.parquet(s"$dir/sk")
      .agg(Kmv.union($"sk", 256)).as[Seq[Long]].head()
    assert(reloaded == sk.select($"sk").as[Seq[Long]].head())
  }
}
