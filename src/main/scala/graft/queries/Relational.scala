package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query
import graft.ops._

/** Oracle-checked queries over the driver's star-schema test tables, each
  * exercising one operator family from SURVEY.md §2. Numeric invariant for
  * oracle hash-equality: aggregate in DECIMAL (exact, associative — safe
  * under Spark's arbitrary partial-agg order AND DuckDB's order), then cast
  * the final value to DOUBLE so both engines emit bit-identical float64.
  * Never hash a raw float SUM — accumulation order differs per engine.
  */
object Relational {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** A1/J2-style grouped aggregation (TPC-H Q1 shape). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P1/P2 filter + projection with a computed column; filters and the
    * 5-column projection reach the parquet scan (PushedFilters/ReadSchema).
    */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
    RowOps.selectFields(
      RowOps.filterRows(li, col("l_quantity") > 45 && col("l_discount") > lit(0.05)),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"))
      .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
      |  l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem WHERE l_quantity > 45 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J1 multi-way join: fact ⋈ broadcast dims, grouped revenue per nation.
    *
    * Lineitem is pre-aggregated to one row per order BEFORE the join: the
    * order⋈lineitem shuffle then moves |orders| rows instead of
    * |lineitem|, and the expensive COUNT(DISTINCT o_orderkey) (an Expand
    * + double shuffle in Spark) degenerates to COUNT(*) because the
    * pre-agg guarantees key uniqueness. Same reduction a 1000-executor
    * plan wants: partial-aggregate the fact table on the join key at scan
    * parallelism, join the shrunk relation.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
    val ord = Load.table(spark, dir, "orders")
    val cust = Load.table(spark, dir, "customer")
    val nat = Load.table(spark, dir, "nation")
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .as("order_rev"))
    perOrder.join(ord, perOrder("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("order_rev")).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  val q3Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** J2 `join_self`: collapse rows per key with first/array/max/count specs;
    * the collected array is order-pinned by the ord column (here the
    * natural l_linenumber), then rendered to a string for the oracle.
    */
  def q4JoinSelf(spark: SparkSession, dir: String): DataFrame = {
    // l_linenumber repeats within an order in the synthetic data, so the
    // ord stamp is made unique by appending the flag — ties would make
    // First nondeterministic across engines otherwise.
    val li = Load.table(spark, dir, "lineitem")
      .withColumn(Ordering.ORD,
        concat(lpad(col("l_linenumber").cast(StringType), 3, "0"), col("l_returnflag")))
    Joins.joinSelf(li, Seq("l_orderkey"), Map(
      "l_linenumber" -> Joins.Collect,
      "l_quantity" -> Joins.Max,
      "n_lines" -> Joins.CountRows,
      "l_returnflag" -> Joins.First))
      .select(
        col("l_orderkey"),
        array_join(transform(col("l_linenumber"), _.cast(StringType)), ",").as("linenumbers"),
        col("l_quantity").as("max_qty"),
        col("n_lines"),
        col("l_returnflag").as("first_flag"))
      .transform(graft.ops.Par.sortOnce(_, col("l_orderkey")))
  }

  val q4Sql: String =
    """SELECT l_orderkey,
      |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS linenumbers,
      |  MAX(l_quantity) AS max_qty,
      |  COUNT(*) AS n_lines,
      |  min_by(l_returnflag, lpad(CAST(l_linenumber AS VARCHAR), 3, '0') || l_returnflag) AS first_flag
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Skew-salted join: the hot-key mitigation must be RESULT-INVISIBLE —
    * the oracle is the plain SQL join. Keys above the detection threshold
    * join salted (their small-side rows replicated ×factor, the large
    * side scattered across (key, salt) so one hot supplier fans across
    * tasks); everything else takes the plain broadcast-eligible join and
    * the two halves union. At this SF every supplier clears the 1% share
    * threshold, so the salted branch carries the whole join — the
    * cold-path plan shape is asserted separately in ScaleOpsSpec.
    */
  def q44SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
    val supp = Load.table(spark, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.ops.Skew.saltedJoin(li, supp, "l_suppkey", factor = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy("s_nationkey")
  }

  val q44Sql: String =
    """SELECT s_nationkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** W2/W3 windowed ranking: top-3 shipments per supplier. */
  def q5Window(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Load.table(spark, dir, "lineitem")
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_suppkey", "rn")
  }

  val q5Sql: String =
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_quantity FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin

  /** A2 dedup-suffix: repeated keys get ".1", ".2"… in arrival order
    * (reference: organisations.py:44-52). Key = user_id per event stream,
    * arrival order = event_id.
    */
  def q6DedupSuffix(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.table(spark, dir, "events")
      .withColumn("doc_id", col("user_id").cast(StringType))
    Ordering.dedupSuffix(ev, "doc_id", ordCol = "event_id")
      .select("event_id", "doc_id")
      .orderBy("event_id")
  }

  val q6Sql: String =
    """SELECT event_id,
      |  CASE WHEN occ > 1 THEN CAST(user_id AS VARCHAR) || '.' || CAST(occ - 1 AS VARCHAR)
      |       ELSE CAST(user_id AS VARCHAR) END AS doc_id
      |FROM (
      |  SELECT event_id, user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS occ
      |  FROM events) t
      |ORDER BY event_id""".stripMargin

  /** W1 forward-fill of the previous non-null value in arrival order,
    * partitioned per user (the scale-safe form of datasets.py:303-309).
    */
  def q7ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.table(spark, dir, "events")
      .withColumn("click_value", when(col("event_type") === "click", col("value")))
    Ordering.forwardFill(ev, "click_value", ordCol = "event_id", partitionBy = Seq("user_id"))
      .select("event_id", "user_id", "event_type", "click_value")
      .orderBy("event_id")
  }

  val q7Sql: String =
    """SELECT event_id, user_id, event_type,
      |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_value
      |FROM events ORDER BY event_id""".stripMargin

  /** R1 regex unpivot: melt measure columns wide → long; the regex capture
    * group applied to the column NAME becomes the key.
    */
  def q8Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 47)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Reshape.unpivotRegex(li, "^l_(quantity|extendedprice|discount|tax)$", "measure", "value")
      .orderBy("l_orderkey", "l_linenumber", "measure")
  }

  val q8Sql: String =
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem WHERE l_quantity > 47
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem WHERE l_quantity > 47
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_quantity > 47
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_quantity > 47) t
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** U1 `concatenate`: alias-map UNION ALL of customer + supplier into one
    * canonical schema (reference: datasets.py:336 Hebrew alias map).
    */
  def q9Concatenate(spark: SparkSession, dir: String): DataFrame = {
    val cust = Load.table(spark, dir, "customer").withColumn("kind", lit("customer"))
    val supp = Load.table(spark, dir, "supplier").withColumn("kind", lit("supplier"))
    Joins.concatenate(Seq(cust, supp), Map(
      "kind" -> Nil,
      "name" -> Seq("c_name", "s_name"),
      "acctbal" -> Seq("c_acctbal", "s_acctbal"),
      "nationkey" -> Seq("c_nationkey", "s_nationkey"),
      "segment" -> Seq("c_mktsegment")))
      .orderBy("kind", "name")
  }

  val q9Sql: String =
    """SELECT acctbal, kind, name, nationkey, segment FROM (
      |  SELECT 'customer' AS kind, c_acctbal AS acctbal, c_name AS name,
      |         c_nationkey AS nationkey, c_mktsegment AS segment FROM customer
      |  UNION ALL
      |  SELECT 'supplier', s_acctbal, s_name, s_nationkey, CAST(NULL AS VARCHAR) FROM supplier) t
      |ORDER BY kind, name""".stripMargin

  /** §2.9 doc_id minting: `<kind>/<md5(name)[:16]>` + J5 row content hash. */
  def q10DocId(spark: SparkSession, dir: String): DataFrame = {
    val cust = Load.table(spark, dir, "customer")
    cust.select(
      col("c_custkey"),
      RowOps.docId("customer", col("c_name")).as("doc_id"),
      RowOps.rowHash(Seq(col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
        .as("row_hash"))
      .orderBy("c_custkey")
  }

  val q10Sql: String =
    """SELECT c_custkey,
      |  'customer/' || substring(md5(c_name), 1, 16) AS doc_id,
      |  md5(CAST(c_name AS VARCHAR) || '|' || CAST(c_nationkey AS VARCHAR) || '|' ||
      |      CAST(c_acctbal AS VARCHAR) || '|' || CAST(c_mktsegment AS VARCHAR)) AS row_hash
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** q74: the Z-order clustering key (ops.ZOrder / morton2) computed for
    * every order — the multi-dimensional data-skipping layout. Runs
    * through the full re-cluster (range shuffle on the Morton key +
    * in-partition sort), and the oracle recomputes the interleave
    * bit-by-bit in SQL, so the codegen kernel's five shift-mask rounds
    * are held to hash-equality on every row.
    */
  def q74ZOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    graft.ops.ZOrder.cluster(o, "o_custkey", "o_orderkey", numFiles = 8)
      .withColumn("zval",
        graft.ops.ZOrder.zValue(col("o_custkey"), col("o_orderkey")))
      .orderBy("o_orderkey")
  }

  /** Independent bit-arithmetic reconstruction of the Morton interleave
    * over the kernel's FULL 32-bit-per-dimension domain: bits run 0..31
    * (bit 31 of the odd dimension lands at position 63), so the sum is
    * carried in HUGEINT and wrapped to int64 two's-complement exactly as
    * the kernel's long arithmetic does — values ≥ 2³¹ and the resulting
    * negative z-values are covered, not just TPC-H-small keys.
    */
  val q74Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
      |            THEN s - 18446744073709551616::HUGEINT ELSE s END
      |       AS BIGINT) AS zval
      |FROM (
      |  SELECT o_orderkey, o_custkey,
      |    list_sum([((o_custkey >> i) & 1)::HUGEINT * (1::HUGEINT << (2 * i))
      |              FOR i IN generate_series(0, 31)])
      |  + list_sum([((o_orderkey >> i) & 1)::HUGEINT * (1::HUGEINT << (2 * i + 1))
      |              FOR i IN generate_series(0, 31)]) AS s
      |  FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** q93: long→wide PIVOT — per-user event-type counts as columns (the
    * inverse of R1's unpivot). Explicit pivot values keep the plan
    * single-pass (no distinct-values pre-query); missing combinations
    * coalesce to 0 to match SQL's FILTER counts.
    */
  def q93Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val p = Load.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((df, t) =>
        df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("user_id")
  }

  val q93Sql: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
      |  count(*) FILTER (WHERE event_type = 'view')::BIGINT AS view,
      |  count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
      |  count(*) FILTER (WHERE event_type = 'error')::BIGINT AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q94: ROLLUP subtotals over (source, lang) with the grouping-id
    * marker — the reporting aggregation shape (per-source-and-lang,
    * per-source, grand total in ONE pass of partial aggregates).
    */
  def q94Rollup(spark: SparkSession, dir: String): DataFrame = {
    Load.table(spark, dir, "documents")
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        grouping_id().as("gid"))
      .orderBy("gid", "source", "lang")
  }

  val q94Sql: String =
    """SELECT source, lang, count(*)::BIGINT AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(GROUPING(source, lang) AS BIGINT) AS gid
      |FROM documents GROUP BY ROLLUP(source, lang)
      |ORDER BY gid, source, lang""".stripMargin

  /** q157: CUBE over (source, lang, length-bucket) — the full 2³
    * subtotal lattice q94's ROLLUP (prefix-only) cannot produce, with
    * the grouping-id marker distinguishing every level. One pass of
    * partial aggregates (Spark plans cube/rollup through a single
    * Expand + map-side-combined aggregation — 8 grouping combos never
    * mean 8 scans), so the reporting lattice costs one shuffle at any
    * corpus size.
    */
  def q157Cube(spark: SparkSession, dir: String): DataFrame = {
    Load.table(spark, dir, "documents")
      .select(col("source"), col("lang"),
        expr("CAST(n_chars AS BIGINT) div 256").as("lb"), col("n_chars"))
      .cube("source", "lang", "lb")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        grouping_id().as("gid"))
      .orderBy("gid", "source", "lang", "lb")
  }

  val q157Sql: String =
    """SELECT source, lang, lb,
      |       count(*)::BIGINT AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(GROUPING(source, lang, lb) AS BIGINT) AS gid
      |FROM (SELECT source, lang, n_chars // 256 AS lb, n_chars
      |      FROM documents)
      |GROUP BY CUBE(source, lang, lb)
      |ORDER BY gid, source, lang, lb""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q157_cube", q157Cube, Some(q157Sql)),
    Query("q1_agg", q1Agg, Some(q1Sql)),
    Query("q2_filter_project", q2FilterProject, Some(q2Sql)),
    Query("q3_join", q3Join, Some(q3Sql)),
    Query("q4_join_self", q4JoinSelf, Some(q4Sql)),
    Query("q5_window", q5Window, Some(q5Sql)),
    Query("q6_dedup_suffix", q6DedupSuffix, Some(q6Sql)),
    Query("q7_forward_fill", q7ForwardFill, Some(q7Sql)),
    Query("q8_unpivot", q8Unpivot, Some(q8Sql)),
    Query("q9_concatenate", q9Concatenate, Some(q9Sql)),
    Query("q10_doc_id", q10DocId, Some(q10Sql)),
    Query("q44_salted_join", q44SaltedJoin, Some(q44Sql)),
    Query("q74_zorder", q74ZOrder, Some(q74Sql)),
    Query("q93_pivot", q93Pivot, Some(q93Sql)),
    Query("q94_rollup", q94Rollup, Some(q94Sql)))
}
