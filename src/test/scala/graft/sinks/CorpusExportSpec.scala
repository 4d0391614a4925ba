package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusExportSpec extends SparkSpec {

  test("hive layout: one directory per (lang, source); read-back is lossless") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = scratch("corpus_hive") + "/out"
    CorpusExport.write(docs, out, Seq("lang", "source"), orderCol = "n_chars")
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")))
    val back = CorpusExport.read(spark, out)
    assert(back.count() == docs.count())
    // partition columns survive the round trip as columns
    assert(back.columns.toSet == docs.columns.toSet)
  }

  test("partition filters prune at the scan, not post-scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = scratch("corpus_prune") + "/out"
    CorpusExport.write(docs, out, Seq("lang"), orderCol = "doc_id")
    val firstLang = docs.select("lang").distinct().limit(1)
      .collect()(0).getString(0)
    val filtered = CorpusExport.read(spark, out, Map("lang" -> firstLang))
    val expect = docs.filter(col("lang") === firstLang).count()
    assert(filtered.count() == expect)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("maxRecordsPerFile splits oversized partitions into parallel files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").coalesce(1)
    val out = scratch("corpus_split") + "/out"
    CorpusExport.write(docs, out, Seq("lang"), orderCol = "doc_id",
      maxRecordsPerFile = 10L)
    val someLang = new java.io.File(out).listFiles()
      .filter(_.isDirectory).head
    val files = someLang.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, s"expected multiple files, got ${files.length}")
  }

  test("JSONL shards: round trip is lossless; lines are valid one-object JSON in pos order") {
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "plain text"),
      (2L, "quotes \" and \\ backslash"),
      (3L, "tabs\tand\nnewlines fold into one JSON line"),
      (4L, "unicode שלום")) // Hebrew: non-ASCII survives
      .toDF("doc_id", "text")
    val sharded = graft.text.Splits.shardShuffle(docs, "doc_id", 2, "s")
    val out = scratch("corpus_jsonl") + "/out"
    CorpusExport.writeJsonlShards(sharded, out, "shard", "pos",
      Seq("doc_id", "pos", "text"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", LongType),
      StructField("text", StringType)))
    val back = CorpusExport.readJsonlShards(spark, out, schema)
    // lossless: every (doc_id, text) survives the JSON round trip exactly
    assert(back.select("doc_id", "text").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet ==
      docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // no parse failures (from_json yields null structs on corrupt lines)
    assert(back.filter(col("doc_id").isNull).count() == 0)
    // layout: shard directories, one JSON object per line, in pos order
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(shardDirs.forall(_.startsWith("shard=")) && shardDirs.nonEmpty)
    val lines = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".txt")))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(lines.length == 4)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }
}
