package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query
import graft.ScratchDirs
import graft.ops.{Load, Par, Reshape, RowOps}
import graft.pipelines.Zotero
import graft.sources.CsvIndex

/** Composed queries that drive the remaining row/reshape/source operators
  * through the DuckDB oracle gate. Each query chains several operators the
  * way the reference pipelines do, over publication-ish columns derived
  * deterministically from the test tables so both engines compute from
  * identical inputs.
  */
object CompositeQueries {

  /** The publications scrub chain (reference: publications.py:51-138):
    * P7 'None' → NULL scrub (publications.py:66-72) → P13 year extraction
    * from free text (publications.py:51-63) → P10 truncation guard
    * (publications.py:75-80) → P18 prefer-override merge
    * (obsolete/dump_publications_to_es.py:37-44) → P19 split-to-keyword-
    * array (obsolete/dump_publications_to_es.py:13-34) → P3 regex field
    * delete (datasets.py:363). All narrow column expressions — one scan,
    * no shuffle until the final sort.
    */
  def q27PublicationsScrub(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
      .withColumn("pubyear",
        when(col("o_orderkey") % 7 === 0, lit("None"))
          .otherwise(format_string("circa %d (rev %d)",
            year(col("o_orderdate")), col("o_orderkey") % 3)))
      .withColumn("title",
        when(col("o_orderkey") % 11 === 0, lit("None"))
          .otherwise(format_string("Order study %d", col("o_orderkey"))))
      .withColumn("title_override",
        when(col("o_orderkey") % 5 === 0, concat(lit("OVERRIDE "), col("o_orderstatus")))
          .otherwise(lit(null).cast(StringType)))
      .withColumn("migdar_id",
        format_string("%s/%d/%s", col("o_orderpriority"), col("o_orderkey"), col("o_orderstatus")))
      .withColumn("tmp_src_gid", format_string("gid-%d", col("o_custkey")))
    val scrubbed = RowOps.normalizeNones(o)                                   // P7
    val yeared = scrubbed.withColumn("year", RowOps.extractYear(col("pubyear"))) // P13
    val guarded = RowOps.truncateGuard(yeared, "migdar_id", 10)               // P10
    val merged = RowOps.preferOverride(guarded, "title", "title_override")    // P18
    val tagged = merged.withColumn("tags",
      array_join(RowOps.splitToArray(col("o_orderpriority"), "-"), "|"))      // P19
      .withColumn("pub_key", col("o_orderkey"))
    RowOps.deleteFields(tagged, Seq("o_.*", "tmp_.*", "pubyear"))             // P3
      .select("pub_key", "migdar_id", "title", "year", "tags")
      .orderBy("pub_key")
  }

  /** P5+P18 interplay note: the override is applied AFTER the None-scrub,
    * so an overridden title wins even where the base title was scrubbed to
    * NULL — mirrored by checking the %5 branch first in SQL.
    */
  val q27Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey AS pub_key,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE 'circa ' || year(o_orderdate) || ' (rev ' || (o_orderkey % 3) || ')' END AS pubyear,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'OVERRIDE ' || o_orderstatus
      |         WHEN o_orderkey % 11 = 0 THEN NULL
      |         ELSE 'Order study ' || o_orderkey END AS title,
      |    substring(o_orderpriority || '/' || o_orderkey || '/' || o_orderstatus, 1, 10) AS migdar_id,
      |    array_to_string(list_filter(list_transform(string_split(o_orderpriority, '-'),
      |      x -> trim(x)), x -> x <> ''), '|') AS tags
      |  FROM orders)
      |SELECT pub_key, migdar_id, title,
      |  CAST(nullif(regexp_extract(pubyear, '([12][0-9]{3})', 1), '') AS INTEGER) AS year,
      |  tags
      |FROM t ORDER BY pub_key""".stripMargin

  /** The zotero item-shaping pipeline (reference: zotero.py:48-118) driven
    * end-to-end through pipelines.Zotero.run: child-item filter
    * (zotero.py:95), tag simplify + prefix partition into life_areas /
    * source_kind (P21, zotero.py:55-89), authors assembly from creator
    * structs (P20, zotero.py:99-109), item_kind coalesce (zotero.py:110-111)
    * and the alias-map concatenate (U1, zotero.py:112-115). Items are
    * synthesized from `customer` so the oracle can rebuild the same shapes
    * in SQL.
    */
  def q28ZoteroShape(spark: SparkSession, dir: String): DataFrame = {
    val c = Load.table(spark, dir, "customer")
    val items = c.select(
      format_string("K%05d", col("c_custkey")).as("key"),
      format_string("Study %d", col("c_custkey")).as("title"),
      when(col("c_custkey") % 17 === 0, lit("PARENT1"))
        .otherwise(lit(null).cast(StringType)).as("parentItem"),
      array(
        struct(concat(lit("Domain_"), col("c_mktsegment")).as("tag")),
        struct(lit("peer-reviewed").as("tag")),
        struct(concat(lit("Source_"),
          when(col("c_custkey") % 2 === 0, lit("Web")).otherwise(lit("Print"))).as("tag")),
        struct(when(col("c_custkey") % 3 === 0, lit("Resource_Archive"))
          .otherwise(lit("open-access")).as("tag"))).as("tags"),
      when(col("c_custkey") % 13 === 0, lit(null)).otherwise(array(
        struct(lit("author").as("creatorType"), lit(null).cast(StringType).as("name"),
          lit("Ada").as("firstName"),
          format_string("Smith%d", col("c_custkey") % 10).as("lastName")),
        struct(lit("editor").as("creatorType"), lit(null).cast(StringType).as("name"),
          lit("Ed").as("firstName"), lit("Itor").as("lastName")),
        struct(lit("author").as("creatorType"),
          concat(lit("Org "), col("c_mktsegment")).as("name"),
          lit(null).cast(StringType).as("firstName"),
          lit(null).cast(StringType).as("lastName")))).as("creators"),
      when(col("c_custkey") % 4 === 0, lit("techReport"))
        .otherwise(lit(null).cast(StringType)).as("reportType"),
      lit("journalArticle").as("itemKind"))
    Zotero.run(spark, items)
      .select("migdar_id", "title", "authors", "item_kind",
        "life_areas", "source_kind", "tags")
      .orderBy("migdar_id")
  }

  val q28Sql: String =
    """SELECT printf('K%05d', c_custkey) AS migdar_id,
      |  'Study ' || c_custkey AS title,
      |  CASE WHEN c_custkey % 13 = 0 THEN NULL
      |       ELSE 'Ada Smith' || (c_custkey % 10) || ', Org ' || c_mktsegment END AS authors,
      |  CASE WHEN c_custkey % 4 = 0 THEN 'techReport' ELSE 'journalArticle' END AS item_kind,
      |  c_mktsegment AS life_areas,
      |  (CASE WHEN c_custkey % 2 = 0 THEN 'Web' ELSE 'Print' END) ||
      |    (CASE WHEN c_custkey % 3 = 0 THEN ',Archive' ELSE '' END) AS source_kind,
      |  'peer-reviewed' || (CASE WHEN c_custkey % 3 = 0 THEN '' ELSE ',open-access' END) AS tags
      |FROM customer
      |WHERE c_custkey % 17 <> 0
      |ORDER BY migdar_id""".stripMargin

  /** The CSV-index fan-out chain (reference:
    * obsolete/join_publications.py:26-36 + broken_links.py:99): S7 load
    * each indexed CSV, W4 synthesize per-file `<search_id>-<rownum>` ids
    * from stamped arrival order, P3 regex-delete fields, R5 harvest URLs
    * from the whole row. The CSV slices are materialized once per SF dir
    * and JVM from `supplier` (sorted single files, so arrival order = key
    * order and the oracle can replay the rownums).
    */
  def q29FanOutHarvest(spark: SparkSession, dir: String): DataFrame = {
    val base = ScratchDirs.built(dir, "csvidx") { base =>
      val sup = Load.table(spark, dir, "supplier")
        .withColumn("notes", format_string(
          "visit http://ex.org/s/%d and https://ex.org/n/%d today",
          col("s_suppkey"), col("s_nationkey")))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal", "notes")
      Seq(("even", 0), ("odd", 1)).foreach { case (name, m) =>
        sup.filter(col("s_suppkey") % 2 === m)
          .coalesce(1).sortWithinPartitions("s_suppkey")
          .write.option("header", true).mode("overwrite")
          .csv(s"$base/$name")
      }
    }
    val fanned = CsvIndex.fanOut(spark,
      Seq("even" -> s"$base/even", "odd" -> s"$base/odd"))      // S7 + W4
    val cleaned = RowOps.deleteFields(fanned, Seq("s_acct.*"))  // P3
    val harvested = Reshape.harvestUrls(cleaned, "urls")        // R5
    harvested
      .select(col("search_id"), col("migdar_id"), explode(col("urls")).as("url"))
      .orderBy("migdar_id", "url")
  }

  val q29Sql: String =
    """WITH s AS (
      |  SELECT s_suppkey, s_nationkey,
      |    CASE WHEN s_suppkey % 2 = 0 THEN 'even' ELSE 'odd' END AS search_id,
      |    ROW_NUMBER() OVER (PARTITION BY s_suppkey % 2 ORDER BY s_suppkey) AS rn
      |  FROM supplier),
      |u AS (
      |  SELECT search_id, search_id || '-' || rn AS migdar_id,
      |    'http://ex.org/s/' || s_suppkey AS url FROM s
      |  UNION ALL
      |  SELECT search_id, search_id || '-' || rn AS migdar_id,
      |    'https://ex.org/n/' || s_nationkey AS url FROM s)
      |SELECT search_id, migdar_id, url FROM u
      |ORDER BY migdar_id, url""".stripMargin

  /** A4 distinct option collection (reference: zotero.py:64-69 logs the
    * sorted distinct option set per field) as a proper distributed
    * aggregate: collect_set is a partial-merge aggregate, so only the
    * per-partition distinct sets cross the shuffle.
    */
  def q37OptionsCollect(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    d.groupBy(col("source"))
      .agg(
        array_join(sort_array(collect_set(col("lang"))), ",").as("lang_options"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  val q37Sql: String =
    """SELECT source,
      |  array_to_string(list_sort(list(DISTINCT lang)), ',') AS lang_options,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** S5 sheet transpose (reference: datasets.py:86-104): records arrive as
    * COLUMNS (column 0 = header names, each later column = one record).
    * The sheet is built from `region` via pivot, then transposeSheet
    * recreates the records — the oracle reads them straight off the table.
    */
  def q38TransposeSheet(spark: SparkSession, dir: String): DataFrame = {
    val r = Load.table(spark, dir, "region")
    val keys = Seq(0, 1, 2, 3, 4)
    val keyRow = r.groupBy().pivot("r_regionkey", keys)
      .agg(first(col("r_regionkey").cast(StringType)))
      .withColumn("h", lit("region_key"))
    val nameRow = r.groupBy().pivot("r_regionkey", keys)
      .agg(first(col("r_name")))
      .withColumn("h", lit("region_name"))
    val sheet = keyRow.unionByName(nameRow)
      .select(("h" +: keys.map(_.toString)).map(col): _*)
    Reshape.transposeSheet(sheet)
      .select("region_key", "region_name")
      .orderBy("region_key")
  }

  val q38Sql: String =
    """SELECT CAST(r_regionkey AS VARCHAR) AS region_key, r_name AS region_name
      |FROM region ORDER BY region_key""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q27_publications_scrub", q27PublicationsScrub, Some(q27Sql)),
    Query("q28_zotero_shape", q28ZoteroShape, Some(q28Sql)),
    Query("q29_fanout_harvest", q29FanOutHarvest, Some(q29Sql)),
    Query("q37_options_collect", q37OptionsCollect, Some(q37Sql)),
    Query("q38_transpose_sheet", q38TransposeSheet, Some(q38Sql)))
}
