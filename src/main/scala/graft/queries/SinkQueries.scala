package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query
import graft.ScratchDirs
import graft.core.{Flow, Resource}
import graft.ops.{Checkpoint, Load}
import graft.pipelines.Datasets
import graft.sinks.{DocumentSink, DumpToPath}
import graft.sources.LoadDatapackage

/** Round-trip queries that drive the SINK operators (SURVEY §2 K-rows)
  * through the DuckDB oracle gate: the sink state lives in parquet/CSV
  * files that the query reads straight back, so the net effect of
  * write → mutate → read is a deterministic DataFrame that pure SQL over
  * the base tables can reproduce.
  *
  * Each query rebuilds its scratch state from zero on every call
  * ([[graft.ScratchDirs.fresh]]: this JVM's dir for the sf-dir and the
  * query's tag, emptied) — runs never observe another run's leftovers,
  * and repeated bench iterations are identical. The scratch tables are
  * tiny (≤ |customer| rows), so the rebuild is noise even at sf0.1.
  */
object SinkQueries {

  /** K2+J4+K3 — the document-sink lifecycle (reference: dump_to_es.py
    * :43-94 revision sweep + create_timestamp carry-over, :105-132
    * collate): index every customer at revision 1 with a deterministic
    * first-seen stamp, re-index a third of them at revision 2 with a
    * LATER stamp, sweep, and read the surviving store back collated into
    * the unified docs shape. The carry-over is visible in the output —
    * surviving docs keep their revision-1 `created_s`, not the revision-2
    * stamp the second batch carried — and the sweep is visible as the
    * rowcount (only re-indexed docs survive revision 2).
    */
  def q45SinkLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val store = ScratchDirs.fresh(dir, "sink") + "/store"
    val c = Load.table(spark, dir, "customer")
    val b1 = c.select(
      col("c_custkey").cast(LongType).as("doc_id"),
      format_string("v1 Study %d", col("c_custkey")).as("title"),
      lit(1L).as("revision"),
      // deterministic first-seen stamp: custkey seconds after epoch
      col("c_custkey").cast(LongType).cast(TimestampType).as("create_timestamp"))
    DocumentSink.index(spark, b1, store, currentRevision = 1L)
    val b2 = c.filter(col("c_custkey") % 3 === 0).select(
      col("c_custkey").cast(LongType).as("doc_id"),
      format_string("v2 Study %d", col("c_custkey")).as("title"),
      lit(2L).as("revision"),
      // a LATER stamp that carry-over must discard in favor of b1's
      (col("c_custkey").cast(LongType) + 1000000000L).cast(TimestampType)
        .as("create_timestamp"))
    val swept = DocumentSink.index(spark, b2, store, currentRevision = 2L)
    val shaped = swept.select(
      col("doc_id"), col("revision"), col("title"),
      unix_timestamp(col("create_timestamp")).as("created_s"))
    DocumentSink.collate(shaped, kind = "study").orderBy("doc_id")
  }

  /** The sweep keeps exactly the %3 re-indexed docs at revision 2; the
    * carried stamp equals the revision-1 epoch (= custkey), NOT the
    * revision-2 one (custkey + 1e9).
    */
  val q45Sql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS doc_id,
      |  'study' AS doc_kind,
      |  CAST(2 AS BIGINT) AS revision,
      |  CAST(1.0 AS DOUBLE) AS score,
      |  '{"title":"v2 Study ' || c_custkey || '","created_s":' || c_custkey || '}' AS value
      |FROM customer WHERE c_custkey % 3 = 0
      |ORDER BY doc_id""".stripMargin

  /** K1+K9+P8 — dump/checkpoint round-trip (reference: datasets.py:465
    * dump_to_path, datasets.py:130-137 fix_values scrub, broken_links.py
    * :86-98 checkpoint resume): build a datasets-shaped resource from
    * `part`, apply the P8 value scrub (`Datasets.fixValues`), dump it as CSV + datapackage.json, load the package
    * BACK through the descriptor (explicit Table Schema, no re-inference),
    * checkpoint the reloaded frame to parquet, and read the checkpoint.
    * Complex cells (the `tags` array) round-trip through the K1 JSON-in-
    * CSV convention, surfacing as the JSON string the descriptor declares.
    */
  def q46DumpRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.fresh(dir, "dump") + "/pkg"
    val raw = Load.table(spark, dir, "part").select(
      col("p_partkey").cast(LongType).as("row_id"),
      when(col("p_partkey") % 9 === 0, lit(null).cast(StringType))
        .otherwise(format_string("Chart %d", col("p_partkey"))).as("chart_title"),
      format_string("%d%%", col("p_partkey") % 200).as("value"),
      array(lit("a"), col("p_brand")).as("tags"))
    val ctx = Flow.run(spark)(Flow.resource(
      Resource(Datasets.fixValues(raw), "charts", primaryKey = Seq("row_id"))))
    DumpToPath.dump(ctx, out)                               // K1
    val reloaded = LoadDatapackage.load(spark, out)("charts") // S1 descriptor
    require(reloaded.primaryKey == Seq("row_id"),
      "primaryKey must survive the descriptor round-trip")   // K11
    val cp = Checkpoint(reloaded.df, "q46_dump")              // K9
    cp.select("row_id", "chart_title", "value", "tags").orderBy("row_id")
  }

  val q46Sql: String =
    """SELECT CAST(p_partkey AS BIGINT) AS row_id,
      |  'Chart ' || p_partkey AS chart_title,
      |  CAST(p_partkey % 200 AS VARCHAR) AS value,
      |  '["a","' || p_brand || '"]' AS tags
      |FROM part WHERE p_partkey % 9 <> 0
      |ORDER BY row_id""".stripMargin

  /** S6+K6 — XLSX workbook round-trip (reference:
    * load_publications_from_gdrive.py:30-67 multi-sheet reader,
    * dataset_assets.py XLSX writer): shape `nation` into the reference's
    * workbook convention — first sheet declares the header, a sheet named
    * 'deleted…' is skipped, a CONTINUATION sheet carries data rows with no
    * header of its own (stitched onto the first sheet's) — write it
    * through the pure-JDK OOXML codec and read it back via
    * `Xlsx.loadWorkbook`. The net effect (including the per-sheet rownum
    * provenance) is plain SQL over `nation`. Workbooks are single small
    * files built on the driver by design, exactly like the reference's
    * gdrive loader; MANY workbooks fan out per path like CsvIndex.
    */
  def q39XlsxRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Xlsx
    val path = ScratchDirs.fresh(dir, "xlsx") + "/book.xlsx"
    val rows = Load.table(spark, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("key"),
        col("n_name"), col("n_regionkey").cast(LongType))
      .orderBy("key").collect() // 25 rows, fixed at every sf — driver-side by design
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val header = Seq("migdar_id", "nation", "region")
    def sheet(name: String, withHeader: Boolean,
        data: Seq[(Long, String, Long)]): Xlsx.Sheet = {
      val hdr = if (withHeader) Seq(header) else Nil
      val body = data.map { case (k, n, rk) => Seq(f"K$k%05d", n, rk.toString) }
      val cells = (hdr ++ body).zipWithIndex.flatMap { case (vals, r) =>
        vals.zipWithIndex.map { case (v, c) => (r + 1, c + 1) -> v }
      }.toMap
      Xlsx.Sheet(name, cells)
    }
    val (first, rest) = rows.toSeq.partition(_._1 < 13)
    new java.io.File(path).getParentFile.mkdirs()
    Xlsx.write(path, Seq(
      sheet("part1", withHeader = true, first),
      // junk that the 'deleted' skip must drop before header stitching
      sheet("part1 deleted", withHeader = false, Seq((999L, "JUNK", 9L))),
      sheet("part2", withHeader = false, rest))) // continuation: no own header
    Xlsx.loadWorkbook(spark, path)
      .select(col("migdar_id"), col("nation"), col("region"),
        col("__sheet").as("sheet"), col("__sheet_row").cast(LongType).as("sheet_row"))
      .orderBy("migdar_id")
  }

  val q39Sql: String =
    """SELECT printf('K%05d', n_nationkey) AS migdar_id,
      |  n_name AS nation,
      |  CAST(n_regionkey AS VARCHAR) AS region,
      |  CASE WHEN n_nationkey < 13 THEN 'part1' ELSE 'part2' END AS sheet,
      |  CAST(row_number() OVER (PARTITION BY n_nationkey < 13
      |                          ORDER BY n_nationkey) AS BIGINT) AS sheet_row
      |FROM nation ORDER BY migdar_id""".stripMargin

  /** q80 — ORC round-trip: write a projected slice of `documents` as
    * ORC (Spark's other native columnar format, same pushdown/pruning
    * machinery as parquet), read it back WITH a pushed filter, and
    * project. The oracle restates the selection from the original
    * parquet table, so type fidelity and the filter path through the
    * ORC reader are both hash-gated.
    */
  def q80OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.fresh(dir, "orc") + "/docs_orc"
    Load.table(spark, dir, "documents")
      .select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").orc(out)
    Load.orc(spark, out)
      .filter(col("n_chars") > 200 && col("lang") =!= "en")
      .orderBy("doc_id")
  }

  val q80Sql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE n_chars > 200 AND lang <> 'en'
      |ORDER BY doc_id""".stripMargin

  /** q86 — schema evolution: generation 1 of a corpus store lacks the
    * `lang` column, generation 2 adds it; `mergeSchema` must read both
    * generations as one relation with NULLs where gen-1 predates the
    * column. The oracle restates the union from the source table with a
    * CASE on the generation split.
    */
  def q86SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.fresh(dir, "evo") + "/store"
    val d = Load.table(spark, dir, "documents")
    d.filter(col("doc_id") % 2 === 0).select("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    d.filter(col("doc_id") % 2 =!= 0).select("doc_id", "source", "n_chars", "lang")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", true).parquet(out)
      .select("doc_id", "source", "n_chars", "lang", "gen")
      .orderBy("doc_id")
  }

  val q86Sql: String =
    """SELECT doc_id, source, n_chars,
      |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
      |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS gen
      |FROM documents ORDER BY doc_id""".stripMargin

  /** K5 sitemap round-trip, hash-gated (reference sitemap.py:8-26,73-79):
    * one sitemap per document source plus the index file, written by the
    * REAL sink (escaping, urlset/index serialization, file IO) and read
    * straight back — one row per produced file. URLs embed an `&` so the
    * XML-escape path is exercised; per-sitemap URL order is pinned by
    * doc_id and the index follows sorted insertion order (ListMap), so
    * DuckDB reconstructs every byte with string_agg.
    */
  def q95Sitemap(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Sitemap
    val out = ScratchDirs.fresh(dir, "sitemap")
    val docs = Load.table(spark, dir, "documents")
      .withColumn("url", concat(lit("https://yodaat.org/item/"), col("doc_id"),
        lit("?lang=he&kind="), col("source")))
    val names = docs.select("source").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val resources = scala.collection.immutable.ListMap(
      names.map(n =>
        n -> docs.filter(col("source") === n).orderBy("doc_id").select("url")): _*)
    Sitemap.dump(resources, "url", "https://yodaat.org", out)
    val rows = new java.io.File(out).listFiles().sortBy(_.getName).toSeq.map { f =>
      val name =
        if (f.getName == "sitemap.xml") "index"
        else f.getName.stripPrefix("sitemap.").stripSuffix(".xml")
      (name, java.nio.file.Files.readString(f.toPath))
    }
    import spark.implicits._
    rows.toDF("name", "xml").orderBy("name")
  }

  val q95Sql: String =
    """WITH u AS (
      |  SELECT source, doc_id,
      |    '  <url><loc>https://yodaat.org/item/' || doc_id ||
      |    '?lang=he&amp;kind=' || source || '</loc></url>' AS entry
      |  FROM documents),
      |s AS (
      |  SELECT source AS name,
      |    '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
      |    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
      |    string_agg(entry, chr(10) ORDER BY doc_id) || chr(10) ||
      |    '</urlset>' AS xml
      |  FROM u GROUP BY source),
      |i AS (
      |  SELECT 'index' AS name,
      |    '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
      |    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
      |    string_agg('  <sitemap><loc>https://yodaat.org/sitemap.' || name ||
      |               '.xml</loc></sitemap>', chr(10) ORDER BY name) || chr(10) ||
      |    '</sitemapindex>' AS xml
      |  FROM (SELECT DISTINCT source AS name FROM documents))
      |SELECT name, xml FROM s
      |UNION ALL SELECT name, xml FROM i
      |ORDER BY name""".stripMargin

  /** Bucketed co-located join layout (the 100 TB fact↔fact join tool)
    * driven through the oracle gate: both fact tables are laid out
    * hash-bucketed on the join key, a merge hint keeps the broadcast
    * path out, and the plan is ASSERTED Exchange-free before execution —
    * scan → sort-merge join → per-key agg with zero shuffles, because
    * the bucket distribution satisfies the join AND the groupBy
    * (HashPartitioning(l_orderkey) clusters both). Values are then
    * hash-checked against DuckDB's plain join+agg, so the layout op is
    * plan-shape- and value-verified in one query.
    */
  def q96BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Bucketing
    val key = ScratchDirs.pathKey(dir)
    val tLi = s"b96_li_$key"; val tO = s"b96_o_$key"
    Seq(tLi, tO).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a fresh in-memory catalog doesn't know tables from prior JVMs,
      // but their warehouse directories survive — clear them too
      ScratchDirs.deleteRecursively(java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t).toFile)
    }
    Bucketing.writeBucketed(Load.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity"), tLi, "l_orderkey", numBuckets = 8)
    Bucketing.writeBucketed(Load.table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice"), tO, "o_orderkey", numBuckets = 8)
    val joined = Bucketing.read(spark, tLi).hint("merge")
      .join(Bucketing.read(spark, tO), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .select("l_orderkey", "n_lines", "sum_qty", "o_totalprice")
    require(graft.plans.PlanInspect(joined).exchangeFree,
      s"bucketed join planned an Exchange:\n${joined.queryExecution.executedPlan}")
    graft.ops.Par.sortOnce(joined, col("l_orderkey"))
  }

  val q96Sql: String =
    """SELECT l_orderkey,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  o_totalprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey, o_totalprice
      |ORDER BY l_orderkey""".stripMargin

  /** q148: JSONL shard export + per-shard manifest — the layout a
    * training loader consumes ([[graft.sinks.CorpusExport
    * .writeJsonlShards]]) driven end to end: the corpus takes the q144
    * seeded shard shuffle, ships as `shard=N/` JSONL trees (to_json →
    * text writer), reads back through partition discovery +
    * schema-directed from_json, and reduces to the manifest production
    * pipelines actually check — per-shard doc count, token sum, an
    * order-independent integer content fingerprint (Σ md5-draws over
    * `doc_id|text`), and max in-shard pos. The oracle recomputes the
    * manifest from the base table and the replayed draw: any loss,
    * duplication, or mangling in the JSON round trip (escaping,
    * partition mixup, dropped lines) breaks a sum. Scale: narrow
    * to_json/from_json on top of the one shard exchange; the manifest
    * aggregation is map-side combined.
    */
  def q148JsonlShards(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.fresh(dir, "jsonl") + "/shards"
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val sharded = graft.text.Splits.shardShuffle(d, "doc_id", 8, "11")
    graft.sinks.CorpusExport.writeJsonlShards(sharded, out, "shard", "pos",
      Seq("doc_id", "pos", "text"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("pos", LongType),
      StructField("text", StringType)))
    graft.sinks.CorpusExport.readJsonlShards(spark, out, schema)
      .groupBy(col("shard").cast(IntegerType).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextAnalysis.tokenCountWs(col("text"))
          .cast(LongType)).as("n_tokens"),
        sum(graft.text.Scrub.hashDraw(concat(col("doc_id").cast(StringType),
          lit("|"), col("text")))).as("content_fp"),
        max(col("pos")).as("max_pos"))
      .orderBy("shard")
  }

  val q148Sql: String =
    """WITH k AS (
      |  SELECT doc_id, text, md5('11-' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text, skey,
      |         CAST(CAST('0x' || substring(skey, 1, 8) AS BIGINT) % 8
      |           AS INTEGER) AS shard
      |  FROM k),
      |p AS (
      |  SELECT doc_id, text, shard,
      |         CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
      |           AS BIGINT) AS pos
      |  FROM s)
      |SELECT shard, count(*)::BIGINT AS n_docs,
      |       CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
      |                     ELSE len(string_split_regex(trim(text), '\s+')) END)
      |         AS BIGINT) AS n_tokens,
      |       CAST(sum(CAST('0x' ||
      |           substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8)
      |         AS BIGINT)) AS BIGINT) AS content_fp,
      |       CAST(max(pos) AS BIGINT) AS max_pos
      |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  /** q197: ORC round-trip — the columnar-format sibling of the parquet
    * scans and q148's JSONL shards: documents written as ORC (Spark's
    * second native columnar format; zlib, vectorized reader), read
    * back, and content-fingerprinted per doc-id bucket. Any loss,
    * duplication, or type mangling in the encode → file → decode path
    * breaks a fingerprint sum. The oracle computes the manifest from
    * the base table — the round trip must be invisible.
    */
  def q197OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.fresh(dir, "orc") + "/docs"
    Load.table(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").format("orc").save(out)
    spark.read.format("orc").load(out)
      .groupBy((col("doc_id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast(LongType)).as("sum_chars"),
        sum(graft.text.Scrub.hashDraw(concat(col("doc_id").cast(StringType),
          lit("|"), col("lang"), lit("|"), col("text")))).as("content_fp"))
      .orderBy("bucket")
  }

  val q197Sql: String =
    """SELECT doc_id % 16 AS bucket, count(*)::BIGINT AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(CAST('0x' ||
      |           substring(md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|'
      |                         || text), 1, 8) AS BIGINT)) AS BIGINT)
      |         AS content_fp
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q148_jsonl_shards", q148JsonlShards, Some(q148Sql)),
    Query("q197_orc_roundtrip", q197OrcRoundtrip, Some(q197Sql)),
    Query("q95_sitemap", q95Sitemap, Some(q95Sql)),
    Query("q96_bucketed_join", q96BucketedJoin, Some(q96Sql)),
    Query("q39_xlsx_roundtrip", q39XlsxRoundtrip, Some(q39Sql)),
    Query("q45_sink_lifecycle", q45SinkLifecycle, Some(q45Sql)),
    Query("q46_dump_roundtrip", q46DumpRoundtrip, Some(q46Sql)),
    Query("q80_orc_roundtrip", q80OrcRoundtrip, Some(q80Sql)),
    Query("q86_schema_evolution", q86SchemaEvolution, Some(q86Sql)))
}
