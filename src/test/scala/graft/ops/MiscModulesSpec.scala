package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Unidecode
import graft.sinks.XlsxAssets
import graft.sources.CsvIndex

class MiscModulesSpec extends SparkSpec {
  import spark.implicits._

  test("checkpoint round-trips and resumes") {
    val name = s"spec_${System.nanoTime()}"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val back = Checkpoint(df, name)
    assert(back.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // orElse must reuse the materialized copy, not recompute
    var recomputed = false
    val resumed = Checkpoint.orElse(spark, name) { recomputed = true; df }
    assert(!recomputed && resumed.count() == 2)
  }

  test("csv index fan-out synthesizes per-file migdar_id") {
    val dir = java.nio.file.Paths.get(scratch("csvidx"))
    def writeCsv(name: String, body: String) = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, body.getBytes("UTF-8")); p.toString
    }
    val f1 = writeCsv("s1.csv", "title\nA\nB")
    val f2 = writeCsv("s2.csv", "title,extra\nC,x")
    val out = CsvIndex.fanOut(spark, Seq("s1" -> f1, "s2" -> f2))
      .select("migdar_id", "title").orderBy("migdar_id").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("s1-1", "A"), ("s1-2", "B"), ("s2-1", "C")))
  }

  test("unidecode folds accents and specials") {
    val got = Seq("café", "Łódź", "naïve œuvre", "Åse—x").toDF("s")
      .select(Unidecode.unidecode(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("cafe", "Lodz", "naive oeuvre", "Ase-x"))
  }

  test("unidecode romanizes Hebrew like python-unidecode (x005 goldens)") {
    // goldens per python-unidecode's x005 table: finals fold to the base
    // letter, shin→SH chet→KH tsadi→TS ayin→`, maqaf→-, geresh→'
    val cases = Seq(
      "שלום" -> "SHlvm",
      "תל־אביב" -> "tl-Abyb",
      "חיפה" -> "KHyph",
      "ניצן צבי כהן" -> "nyTSn TSby khn",
      "ז׳בוטינסקי" -> "z'bvtynsqy",
      "עץ" -> "`TS",
      "שָׁלוֹם" -> "SHlvm") // niqqud + shin dot are combining marks → stripped
    val got = cases.map(_._1).toDF("s")
      .select(Unidecode.unidecode(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("xlsx assets: cell grid from a chart doc, one file per row") {
    val out = scratch("assets")
    val docs = spark.sql(
      """SELECT 'dataset/abc' AS doc_id, 'כותרת' AS chart_title,
        |  array(named_struct('series_title', 'S1',
        |    'dataset', array(named_struct('x', '2001', 'y', 1.5D)))) AS series""".stripMargin)
    val n = XlsxAssets.writeAssets(docs, out, new XlsxAssets.CsvCellWriter)
    assert(n == 1)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/dataset_abc.cells.csv")), "UTF-8")
    assert(body.contains("B1,כותרת"))
    assert(body.contains("B9,S1"))
    assert(body.contains("A10,2001"))
    assert(body.contains("B10,1.5"))
  }
}
