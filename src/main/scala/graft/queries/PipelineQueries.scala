package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.ScratchDirs
import graft.ops.Load
import graft.pipelines.Judges

/** E2E pipeline execution through the driver surface: the judges pipeline
  * (SURVEY §7 minimum slice) over inputs derived deterministically from
  * the star schema. CV parsing is imperative (no SQL mirror) → the
  * event_id/datestring columns are rows-only; the join/recode half IS
  * SQL-expressible and oracle-checked via q71.
  */
object PipelineQueries {

  private def tribunals(spark: SparkSession, dir: String): DataFrame =
    Load.table(spark, dir, "nation").select(
      col("n_nationkey").as("Tribunal_Code"),
      (col("n_nationkey") % 10 + 1).as("Tribunal_Type_Code"),
      (col("n_nationkey") * 100).as("Arkaa_Code"),
      (col("n_regionkey") * 1000).as("District_Code"),
      col("n_name").as("Name"))

  private def judgesList(spark: SparkSession, dir: String): DataFrame =
    Load.table(spark, dir, "customer").select(
      col("c_custkey").cast("string").as("Judge_ID"),
      split(col("c_name"), "#").getItem(0).as("First_Name"),
      col("c_mktsegment").as("Last_Name"),
      when(col("c_custkey") % 2 === 0, "true").otherwise("false").as("Is_In_Dimus_List"),
      col("c_nationkey").as("Tribunal_Code"),
      concat(
        lit("מונה לשופט בבית המשפט בשנת "), (lit(1980) + col("c_custkey") % 40),
        lit("\n"),
        lit("פרש לגימלאות בשנת "), (lit(2000) + col("c_custkey") % 25)).as("CV"))

  /** Full pipeline → the events resource (2 events per judge). */
  def q70JudgesEvents(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Judges.run(spark, tribunals(spark, dir), judgesList(spark, dir))
    ctx("judge_events").df
      .orderBy("Judge_ID", "event_order")
  }

  /** The synthetic CVs are pure functions of c_custkey (two single-year
    * lines), so the imperative parser's expected output is plain SQL:
    * each line splits AFTER its year (date = whole line, desc = ''),
    * line 1 classifies appointment ("מונה "), line 2 retirement
    * ("פרש לגימלאות") — hash-checking Judges.parseCvEvents end-to-end.
    */
  val q70Sql: String =
    """SELECT c_custkey::VARCHAR AS Judge_ID,
      |  string_split(c_name, '#')[1] AS First_Name,
      |  c_mktsegment AS Last_Name,
      |  'appointment' AS event_id,
      |  'מונה לשופט בבית המשפט בשנת ' || (1980 + c_custkey % 40) AS event_datestring,
      |  '' AS event_description,
      |  0 AS event_order
      |FROM customer
      |UNION ALL
      |SELECT c_custkey::VARCHAR, string_split(c_name, '#')[1], c_mktsegment,
      |  'retirement', 'פרש לגימלאות בשנת ' || (2000 + c_custkey % 25), '', 1
      |FROM customer
      |ORDER BY Judge_ID, event_order""".stripMargin

  /** The relational half of the pipeline (join + renames + recode),
    * oracle-checked.
    */
  def q71JudgesJoin(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Judges.run(spark, tribunals(spark, dir), judgesList(spark, dir))
    ctx("judges_list").df
      .select(
        col("Judge_ID").cast("long").as("judge_id"),
        col("Is_In_Dimus_List").as("in_dimus"),
        col("Tribunal_Name").as("tribunal_name"),
        col("Tribunal_Arkaa_Code").as("arkaa"),
        col("tribunal_type_name"))
      .orderBy("judge_id")
  }

  val q71Sql: String = {
    val cases = Judges.tribunalTypeNames.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $k THEN '$v'" }.mkString(" ")
    s"""SELECT c_custkey AS judge_id,
       |  (c_custkey % 2 = 0) AS in_dimus,
       |  n_name AS tribunal_name,
       |  n_nationkey * 100 AS arkaa,
       |  CASE WHEN n_nationkey % 10 + 1 = 1 THEN n_name
       |       ELSE CASE n_nationkey % 10 + 1 $cases END END AS tribunal_type_name
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |ORDER BY judge_id""".stripMargin
  }

  /** q88: a pipeline authored DECLARATIVELY in the reference's
    * pipeline-spec format (JSON form) and executed by the
    * SpecInterpreter — load two tables, OR-of-equals filter, keyed join
    * with field pick/rename, format-computed field, regex field deletes,
    * sort. The oracle re-derives the result in plain SQL, so the whole
    * interpretation layer (processor semantics + param plumbing + plan
    * composition) is hash-gated end to end.
    */
  def q88SpecPipeline(spark: SparkSession, dir: String): DataFrame = {
    val spec =
      """{"pipeline": [
        | {"run": "load", "params": {"table": "orders"}},
        | {"run": "load", "params": {"table": "customer"}},
        | {"run": "filter_rows", "params": {"resource": "orders",
        |   "equals": [{"o_orderstatus": "F"}, {"o_orderstatus": "P"}]}},
        | {"run": "join", "params": {"source": "customer", "target": "orders",
        |   "target_keys": ["o_custkey"], "source_keys": ["c_custkey"],
        |   "fields": {"segment": "c_mktsegment", "cust_name": "c_name"},
        |   "mode": "left"}},
        | {"run": "add_computed_field", "params": {"resource": "orders",
        |   "target": "label", "with": "order-{o_orderkey}/{segment}"}},
        | {"run": "delete_fields", "params": {"resource": "orders",
        |   "fields": ["o_order(date|priority)", "o_totalprice", "o_orderstatus"]}},
        | {"run": "sort", "params": {"resource": "orders", "by": ["o_orderkey"]}}
        |]}""".stripMargin
    graft.runner.SpecInterpreter.run(spark, dir, spec)("orders").df
  }

  val q88Sql: String =
    """SELECT o_orderkey, o_custkey, c_mktsegment AS segment,
      |       c_name AS cust_name,
      |       'order-' || o_orderkey || '/' || c_mktsegment AS label
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus IN ('F', 'P')
      |ORDER BY o_orderkey""".stripMargin

  /** q111: a FULL reference-pipeline replay through the SpecInterpreter —
    * the datasets-flow shape (ref flows/datasets.py:456-460: load →
    * filter → melt year columns → typed values → pack per-entity series →
    * checkpoint → dump) as ONE spec document executing as one Catalyst
    * plan. Exercises every processor the round added: unpivot (regex
    * melt), set_type (grouped-digits long with policy), join_self
    * (order-pinned collect), checkpoint (parquet materialize + resume),
    * dump_to_path (CSV + datapackage.json side output). The sort step
    * before join_self pins arrival order to (orderkey, linenumber,
    * measure), which is what lets DuckDB mirror the collected arrays with
    * ORDER BY inside list().
    */
  def q111SpecReplay(spark: SparkSession, dir: String): DataFrame = {
    val dump = ScratchDirs.fresh(dir, "q111_dump")
    val spec =
      s"""{"pipeline": [
        | {"run": "load", "params": {"table": "lineitem"}},
        | {"run": "filter_rows", "params": {"resource": "lineitem",
        |   "equals": [{"l_returnflag": "A"}]}},
        | {"run": "select_fields", "params": {"resource": "lineitem",
        |   "fields": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]}},
        | {"run": "unpivot", "params": {"resource": "lineitem",
        |   "regex": "^l_(quantity|extendedprice)$$", "key": "measure", "value": "value"}},
        | {"run": "add_computed_field", "params": {"resource": "lineitem",
        |   "target": "label", "with": "{measure}-{l_linenumber}"}},
        | {"run": "set_constant", "params": {"resource": "lineitem",
        |   "target": "planted", "value": "1,234,567"}},
        | {"run": "set_type", "params": {"resource": "lineitem",
        |   "field": "planted", "type": "integer", "groupChar": ","}},
        | {"run": "sort", "params": {"resource": "lineitem",
        |   "by": ["l_orderkey", "l_linenumber", "measure", "value"]}},
        | {"run": "join_self", "params": {"resource": "lineitem",
        |   "keys": ["l_orderkey"],
        |   "spec": {"label": "collect", "value": "collect", "n": "count", "planted": "max"}}},
        | {"run": "checkpoint", "params": {"resource": "lineitem", "name": "q111_packed"}},
        | {"run": "dump_to_path", "params": {"out-path": "$dump"}},
        | {"run": "sort", "params": {"resource": "lineitem", "by": ["l_orderkey"]}}
        |]}""".stripMargin
    graft.runner.SpecInterpreter.run(spark, dir, spec)("lineitem").df
      // rendering only (q4's precedent): the compare hashes scalars, so
      // the collected arrays flatten to delimited strings; doubles print
      // shortest-roundtrip identically in both engines at these
      // magnitudes (< 1e7 — no scientific-notation divergence)
      .select(col("l_orderkey"),
        array_join(col("label"), ",").as("labels"),
        array_join(transform(col("value"), _.cast("string")), ",").as("values"),
        col("n"), col("planted"))
  }

  val q111Sql: String =
    """WITH up AS (
      |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
      |  FROM lineitem WHERE l_returnflag = 'A'
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_returnflag = 'A')
      |SELECT l_orderkey,
      |  array_to_string(list(measure || '-' || l_linenumber
      |    ORDER BY l_linenumber, measure, value), ',') AS labels,
      |  array_to_string(list(CAST(value AS VARCHAR)
      |    ORDER BY l_linenumber, measure, value), ',') AS "values",
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(1234567 AS BIGINT) AS planted
      |FROM up GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q70_judges_events", q70JudgesEvents, Some(q70Sql)),
    Query("q71_judges_join", q71JudgesJoin, Some(q71Sql)),
    Query("q88_spec_pipeline", q88SpecPipeline, Some(q88Sql)),
    Query("q111_spec_replay", q111SpecReplay, Some(q111Sql)))
}
