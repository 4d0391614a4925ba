package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{Flow, Resource}
import graft.ops.ScdMerge

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("DocumentSink: carry-over keeps first-seen timestamp, sweep deletes stale") {
    val store = scratch("docsink") + "/store"
    val b1 = Seq(("d1", 5L), ("d2", 5L)).toDF("doc_id", "revision")
      .withColumn("create_timestamp", lit(null).cast(TimestampType))
    val s1 = DocumentSink.index(spark, b1, store, currentRevision = 5L)
    val ts1 = s1.filter($"doc_id" === "d1").select("create_timestamp").collect()(0).getTimestamp(0)

    // second batch: d1 re-indexed at rev 6, d2 missing (stays at rev 5 → swept)
    val b2 = Seq(("d1", 6L), ("d3", 6L)).toDF("doc_id", "revision")
      .withColumn("create_timestamp", lit(null).cast(TimestampType))
    val s2 = DocumentSink.index(spark, b2, store, currentRevision = 6L)
    val ids = s2.select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("d1", "d3"), "revision sweep must drop unrefreshed d2")
    val ts2 = s2.filter($"doc_id" === "d1").select("create_timestamp").collect()(0).getTimestamp(0)
    assert(ts1 == ts2, "create_timestamp must survive re-index")
  }

  test("DocumentSink.collate produces unified docs shape") {
    val df = Seq(("d1", 7L, "x")).toDF("doc_id", "revision", "payload")
    val out = DocumentSink.collate(df, "pubs")
    assert(out.columns.toSeq == Seq("doc_id", "doc_kind", "revision", "score", "value"))
    val r = out.collect()(0)
    assert(r.getString(1) == "pubs" && r.getString(4).contains("\"payload\":\"x\""))
  }

  test("mappingJson honors es:* metadata") {
    val meta = new MetadataBuilder().putBoolean("es:keyword", true).build()
    val hebMeta = new MetadataBuilder().putBoolean("es:hebrew", true)
      .putDouble("es:boost", 2.0).build()
    val schema = StructType(Seq(
      StructField("tag", StringType, metadata = meta),
      StructField("title", StringType, metadata = hebMeta),
      StructField("n", LongType)))
    val json = DocumentSink.mappingJson(schema)
    assert(json.contains(""""tag":{"type":"keyword"}"""))
    assert(json.contains(""""analyzer":"hebrew""""))
    assert(json.contains(""""boost":2.0"""))
    assert(json.contains(""""n":{"type":"long"}"""))
  }

  test("mappingJson escapes quotes and backslashes in field names") {
    // a Hebrew acronym writes its gershayim as an ASCII quote
    val names = Seq("מע\"מ", "a\\b")
    val json = DocumentSink.mappingJson(StructType(names.map(StructField(_, StringType))))
    val props = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("properties")
    assert(props.size == 2)
    names.foreach(n => assert(props.get(n).get("type").asText == "text", json))
  }

  test("DumpToPath writes csv + datapackage.json with schema") {
    val out = scratch("dump")
    val df = Seq((1L, "a", Seq("x", "y"))).toDF("id", "name", "tags")
    val ctx = Flow.resource(Resource(df, "items", primaryKey = Seq("id")))(Flow.empty)
    DumpToPath.dump(ctx, out, "testpkg")
    val dp = new String(Files.readAllBytes(Paths.get(s"$out/datapackage.json")), "UTF-8")
    assert(dp.contains(""""name":"items""""))
    assert(dp.contains(""""primaryKey":["id"]"""))
    assert(dp.contains(""""type":"array""""))
    assert(Files.list(Paths.get(s"$out/items")).toArray.nonEmpty)
  }

  test("datapackage round-trip: DumpToPath → LoadDatapackage restores schema, pk, es:* metadata") {
    val out = scratch("dp_roundtrip")
    val meta = new MetadataBuilder().putBoolean("es:keyword", true).build()
    val df = Seq((1L, "alpha", Seq("x", "y")), (2L, "beta", Seq("z")))
      .toDF("id", "name", "tags")
      .withColumn("name", col("name").as("name", meta))
    val ctx = Flow.resource(Resource(df, "items", primaryKey = Seq("id")))(Flow.empty)
    DumpToPath.dump(ctx, out, "testpkg")

    val loaded = graft.sources.LoadDatapackage.load(spark, out)
    assert(loaded.keySet == Set("items"))
    val items = loaded("items")
    assert(items.primaryKey == Seq("id"))
    val schema = items.df.schema
    assert(schema("id").dataType == LongType)
    assert(schema("name").metadata.getBoolean("es:keyword"))
    // array column rides as its JSON cell text; structure recoverable
    val rows = items.df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.head.getString(1) == "alpha")
    assert(rows.head.getString(2) == """["x","y"]""")
  }

  test("Sitemap writes per-resource xml + index") {
    val out = scratch("sitemap")
    val df = Seq("https://ex.org/a?x=1&y=2", "https://ex.org/b").toDF("url")
    Sitemap.dump(Map("orgs" -> df), "url", "https://ex.org", out)
    val xml = new String(Files.readAllBytes(Paths.get(s"$out/sitemap.orgs.xml")), "UTF-8")
    assert(xml.contains("<loc>https://ex.org/a?x=1&amp;y=2</loc>"))
    val idx = new String(Files.readAllBytes(Paths.get(s"$out/sitemap.xml")), "UTF-8")
    assert(idx.contains("sitemap.orgs.xml"))
  }

  test("ScdMerge classifies NEW/CHANGED/SAME and carries state") {
    val incoming = Seq((1, "a"), (2, "b2"), (3, "c")).toDF("k", "v")
    val prior = Seq((2, "b"), (3, "c"), (4, "gone")).toDF("k", "v")
    val state = prior
      .withColumn("__hash", ScdMerge.contentHash(prior, Seq("k")))
      .withColumn("__last_updated_at", to_date(lit("2026-08-01")))
      .withColumn("__next_update_days", lit(1))
    val out = ScdMerge.merge(incoming, Some(state), Seq("k"),
      ScdMerge.Config(currentDate = Some(to_date(lit("2026-08-12")))))
    val statuses = out.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("__status"))).toMap
    assert(statuses == Map(1 -> "NEW", 2 -> "CHANGED", 3 -> "SAME"))
    val same = out.filter($"k" === 3).collect()(0)
    assert(same.getAs[Boolean]("__is_stale"))
    assert(same.getAs[Long]("__staleness") > 100000L)
  }
}
