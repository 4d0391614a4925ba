package graft.pipelines

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.i18n.Translate
import graft.runner.Runner
import graft.sources.Http

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def strDf(headers: Seq[String], rows: Seq[Seq[String]]) = {
    val schema = StructType(headers.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 1), schema)
  }

  test("organisations: alt_names, doc_id suffix, translation, anchors") {
    val sheet = strDf(
      Seq("שם מלא של הארגון - לתרגום או לתעתיק", "מספר עמותה", "תחומי חיים",
        "לינק לאתר הארגון", "על הארגון, פעילויות עיקריות ומטרות - לתרגום",
        "שם נוסף1"),
      Seq(
        Seq("ארגון א", "123", "בריאות,חינוך", "example.org", "ראו http://a.example", "שם חלופי"),
        Seq("ארגון ב", "123", "בריאות", null, null, null), // duplicate entity_id
        Seq("ארגון ג", "456", null, null, null, null)))
    val dicts = Map("life_areas" -> Map(
      "בריאות" -> Translate.Entry("בריאות", "Health", "صحة"),
      "חינוך" -> Translate.Entry("חינוך", "Education", "تعليم")))
    val out = Organisations.run(spark, sheet, dicts, currentYear = 2026)
      .orderBy("org_name").collect()

    assert(out.map(_.getAs[String]("doc_id")).toSeq ==
      Seq("org/123", "org/123.1", "org/456"))
    assert(out(0).getAs[scala.collection.Seq[String]]("alt_names").toSeq ==
      Seq("שם חלופי", "ארגון א"))
    assert(out(0).getAs[String]("org_website") == "http://example.org")
    // translations are emitted CLEANED (lowercased) per reference
    // i18n.py:117-127 (to_val = clean(to_val) before append)
    assert(out(0).getAs[scala.collection.Seq[String]]("life_areas__en").toSeq ==
      Seq("health", "education"))
    assert(out(0).getAs[String]("objective").contains("<a href=\"http://a.example\""))
    assert(out(0).getAs[Int]("year") == 2026)
  }

  test("publications: union sheets+zotero, year extraction, doc_id") {
    val sheet = strDf(
      Seq("migdar_id", "Title", "pubyear", "Tags"),
      Seq(
        Seq("m1", "כותרת אחת", "פורסם בשנת 2019", "תג"),
        Seq("None", "dropped", "2020", null), // filtered: migdar_id None
        Seq("m2", "שניה", "no year here", null)))
    val zotero = strDf(
      Seq("migdar_id", "title", "pubyear", "languages"),
      Seq(Seq("Z9", "zotero item", "1998-2001", "heb eng")))
    val out = Publications.run(spark, Seq(sheet), zotero, Map.empty)
      .orderBy("migdar_id").collect()

    assert(out.length == 3)
    val byId = out.map(r => r.getAs[String]("migdar_id") -> r).toMap
    assert(byId("m1").getAs[Int]("year") == 2019)
    assert(byId("m2").isNullAt(byId("m2").fieldIndex("year")))
    assert(byId("Z9").getAs[Int]("year") == 1998)
    assert(byId("m1").getAs[String]("doc_id") == "publications/m1")
    assert(byId("m1").getAs[String]("page_title") == "כותרת אחת")
  }

  test("zotero: tag partition, authors assembly, item_kind fallback") {
    val items = Seq(
      ("K1", "Paper", Seq("Domain_Economy", "Source_Gov", "plain"),
        Seq(("author", "Ada", "Lovelace", null: String), ("editor", "X", "Y", null: String)),
        null: String, "report", null: String),
      ("K2", "Child", Seq.empty[String],
        Seq.empty[(String, String, String, String)], "PARENT", null: String, "thesis"))
      .toDF("key", "title", "rawTags", "rawCreators", "parentItem", "reportType", "itemKind")
      .withColumn("tags", org.apache.spark.sql.functions.expr(
        "transform(rawTags, t -> named_struct('tag', t))"))
      .withColumn("creators", org.apache.spark.sql.functions.expr(
        "transform(rawCreators, c -> named_struct('creatorType', c._1, 'firstName', c._2, 'lastName', c._3, 'name', c._4))"))
      .drop("rawTags", "rawCreators")

    val out = Zotero.run(spark, items).collect()
    assert(out.length == 1) // child item skipped
    val r = out(0)
    assert(r.getAs[String]("migdar_id") == "K1")
    assert(r.getAs[String]("life_areas") == "Economy")
    assert(r.getAs[String]("source_kind") == "Gov")
    assert(r.getAs[String]("tags") == "plain")
    assert(r.getAs[String]("authors") == "Ada Lovelace")
    assert(r.getAs[String]("item_kind") == "report")
  }

  test("broken_links: harvest, global first-wins dedup, failing checker") {
    val docs = strDf(Seq("doc_id", "page_title", "notes"),
      Seq(
        Seq("d1", "t1", "see http://dead.example/x and http://ok.example/y"),
        Seq("d2", "t2", "again http://dead.example/x"))) // dup URL: first wins
    val checker = new Http.LinkChecker {
      def check(url: String) =
        if (url.contains("dead")) Http.CheckResult(0, "404: Not Found")
        else Http.CheckResult(0, null)
    }
    val out = BrokenLinks.run(spark, Seq(("pubs", "page_title", docs)), checker,
      parallelism = 2).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("url") == "http://dead.example/x")
    assert(out(0).getAs[String]("title") == "t1") // first-wins row
    assert(out(0).getAs[String]("error") == "404: Not Found")
  }

  test("sitemap pipeline writes per-kind-language xmls") {
    val out = scratch("sm")
    val pubs = Seq("publications/p1").toDF("doc_id")
    val orgs = Seq("org/1").toDF("doc_id")
    val ds = Seq("dataset/abc").toDF("doc_id")
    val tags = Map("תג" -> Translate.Entry("תג", "tag_en", "tag_ar"))
    val res = SitemapPipeline.run(spark, pubs, orgs, ds, tags, out)
    assert(res.size == 12) // 4 kinds × 3 languages
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/sitemap.xml")), "UTF-8")
    assert(idx.contains("sitemap.publications-hebrew.xml"))
    val en = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/sitemap.tags-english.xml")), "UTF-8")
    assert(en.contains("itag=tag_en"))
  }

  test("runner: topological order, upstream failure skips dependents") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val reg = new Runner.Registry()
      .register(Runner.Pipeline("datasets", () => ran += "datasets"))
      .register(Runner.Pipeline("dataset-assets", () => ran += "assets",
        dependsOn = Seq("datasets")))
      .register(Runner.Pipeline("zotero", () => throw new RuntimeException("net down")))
      .register(Runner.Pipeline("publications", () => ran += "pubs",
        dependsOn = Seq("zotero")))
    val stats = reg.run()
    assert(ran.toSeq == Seq("datasets", "assets"))
    val byName = stats.map(s => s.name -> s).toMap
    assert(byName("zotero").error.exists(_.contains("net down")))
    assert(byName("publications").error.exists(_.contains("skipped")))
  }

  test("rest pagination stops on short page, unions fields") {
    val fetcher = new Http.Fetcher {
      def get(url: String): String = {
        val start = url.split("start=")(1).toInt
        if (start == 0)
          """[{"key":"a","n":1},{"key":"b","n":2}]"""
        else """[{"key":"c","extra":"x"}]""" // short page -> stop
      }
    }
    val df = Http.paginatedJsonArray(spark, fetcher,
      "https://x.example/items?limit=2&start={start}", pageSize = 2)
    val keys = df.select("key").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c"))
    assert(df.columns.contains("extra"))
  }
}
