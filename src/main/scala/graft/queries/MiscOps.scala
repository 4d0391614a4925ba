package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ScratchDirs
import graft.i18n.Translate
import graft.ops._

/** Remaining reference-operator queries (SURVEY §2.2/2.3/2.5/2.9) plus the
  * event-stream window/sessionization shapes.
  */
object MiscOps {

  /** P6 set_type: locale-dirty numerics (thousands separators, %-suffix,
    * stray text, unparsable cells with a default policy). The dirty
    * strings are derived from the data itself so both engines parse the
    * same inputs.
    */
  def q11SetType(spark: SparkSession, dir: String): DataFrame = {
    // dirty_key: integer with thousands separators (what DuckDB's format
    // can also render — it refuses comma-grouped floats)
    val li = Load.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 47)
      .withColumn("dirty_key", format_number(col("l_orderkey") * 1000 + 7, 0))
      .withColumn("dirty_pct", concat((col("l_discount") * 100).cast(StringType), lit("%")))
      .withColumn("dirty_year",
        when(col("l_orderkey") % 10 === 0, lit("unknown"))
          .otherwise(year(col("l_shipdate")).cast(StringType)))
    val typed = SetType.setType(
      SetType.setType(
        SetType.setType(li, "dirty_key", LongType, groupChar = ","),
        "dirty_pct", DoubleType, stripPercent = true),
      "dirty_year", IntegerType, onError = SetType.Default(lit(2020)))
    typed.select(
      col("l_orderkey"), col("l_linenumber"),
      col("dirty_key").as("parsed_key"),
      col("dirty_pct").as("pct"),
      col("dirty_year").as("yr"))
      .transform(Par.sortOnce(_, col("l_orderkey"), col("l_linenumber")))
  }

  val q11Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(replace(format('{:,}', l_orderkey * 1000 + 7), ',', '') AS BIGINT) AS parsed_key,
      |  CAST(CAST(l_discount * 100 AS VARCHAR) AS DOUBLE) AS pct,
      |  CASE WHEN l_orderkey % 10 = 0 THEN 2020 ELSE year(l_shipdate) END AS yr
      |FROM lineitem WHERE l_quantity > 47
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P14 year-list expansion: "y0-y1,y2" → one row per year. */
  def q12YearExpand(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .withColumn("year_list",
        concat(col("yr") - 2, lit("-"), col("yr"), lit(","), col("yr") + 2))
    o.select(col("o_orderkey"),
      explode(RowOps.expandYearList(col("year_list"))).as("y"))
      .transform(Par.sortOnce(_, col("o_orderkey"), col("y")))
  }

  val q12Sql: String =
    """SELECT o_orderkey, y FROM (
      |  SELECT o_orderkey, unnest(generate_series(year(o_orderdate) - 2, year(o_orderdate))) AS y FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, year(o_orderdate) + 2 FROM orders) t
      |ORDER BY o_orderkey, y""".stripMargin

  /** R4/R5 unwind with global first-wins dedup: one row per distinct
    * token across all part type strings.
    */
  def q13ExplodeDedup(spark: SparkSession, dir: String): DataFrame = {
    val p = Load.table(spark, dir, "part")
      .withColumn("tokens", split(col("p_type"), " "))
    Reshape.unwindDistinct(p.select("tokens"), "tokens", "token")
      .orderBy("token")
  }

  val q13Sql: String =
    """SELECT DISTINCT unnest(string_split(p_type, ' ')) AS token
      |FROM part ORDER BY token""".stripMargin

  /** P11+P12+P19 string/link ops: bare-domain repair, URL → anchor
    * rewrite, delimited cell → trimmed array.
    */
  def q14Links(spark: SparkSession, dir: String): DataFrame = {
    val p = Load.table(spark, dir, "part")
      .withColumn("site", concat(lit("www."), lower(regexp_replace(col("p_brand"), "#", "")), lit(".example")))
      .withColumn("blurb", concat(lit("see http://"), lower(regexp_replace(col("p_brand"), "#", "")), lit(".example/docs now")))
    p.select(
      col("p_partkey"),
      RowOps.repairUrl(col("site")).as("fixed_url"),
      RowOps.linksToAnchors(col("blurb")).as("html"),
      array_join(RowOps.splitToArray(col("p_type"), " "), "|").as("type_tokens"))
      .transform(Par.sortOnce(_, col("p_partkey")))
  }

  val q14Sql: String =
    """SELECT p_partkey,
      |  'http://' || 'www.' || lower(replace(p_brand, '#', '')) || '.example' AS fixed_url,
      |  'see ' || regexp_replace('http://' || lower(replace(p_brand, '#', '')) || '.example/docs',
      |      '(https?://[^\s;,]+)', '<a href="\1" target="_blank">\1</a>') || ' now' AS html,
      |  array_to_string(list_filter(list_transform(string_split(p_type, ' '), x -> trim(x)), x -> x <> ''), '|') AS type_tokens
      |FROM part ORDER BY p_partkey""".stripMargin

  /** P15/P16/P17 recode + fallback: dictionary recode with default,
    * coalesce fallback, constant overwrite.
    */
  def q15Recode(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    val recoded = o.withColumn("priority_class",
      RowOps.recode(col("o_orderpriority"),
        Map("1-URGENT" -> "hot", "2-HIGH" -> "hot", "3-MEDIUM" -> "warm"),
        default = Some("cold")))
      .withColumn("status_char", when(col("o_orderstatus") === "P", lit(null: String))
        .otherwise(col("o_orderstatus")))
    RowOps.fallback(recoded, "status_char", "o_orderpriority")
      .withColumn("language", lit("heb,eng,ara"))
      .select("o_orderkey", "priority_class", "status_char", "language")
      .orderBy("o_orderkey")
  }

  val q15Sql: String =
    """SELECT o_orderkey,
      |  CASE o_orderpriority WHEN '1-URGENT' THEN 'hot' WHEN '2-HIGH' THEN 'hot'
      |       WHEN '3-MEDIUM' THEN 'warm' ELSE 'cold' END AS priority_class,
      |  CASE WHEN o_orderstatus = 'P' THEN o_orderpriority ELSE o_orderstatus END AS status_char,
      |  'heb,eng,ara' AS language
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** J5 SCD revision merge: incoming customers vs a simulated prior state
    * (10% changed, rows missing where custkey%7=0). Fixed "today" so the
    * lifecycle columns are deterministic.
    */
  def q16ScdMerge(spark: SparkSession, dir: String): DataFrame = {
    val cust = Load.table(spark, dir, "customer")
    val changedState = cust
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100).otherwise(col("c_acctbal")))
      .filter(col("c_custkey") % 7 =!= 0)
    val state = changedState
      .withColumn("__hash", ScdMerge.contentHash(changedState, Seq("c_custkey")))
      .withColumn("__last_updated_at", to_date(lit("2026-08-01")))
      .withColumn("__next_update_days", lit(4))
    val merged = ScdMerge.merge(cust, Some(state), Seq("c_custkey"),
      ScdMerge.Config(currentDate = Some(to_date(lit("2026-08-12")))))
    merged.select("c_custkey", "__status", "__is_new", "__is_stale",
      "__next_update_days", "__staleness")
      .orderBy("c_custkey")
  }

  val q16Sql: String =
    """WITH state AS (
      |  SELECT c_custkey,
      |    md5(coalesce(CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS VARCHAR), '')
      |        || '|' || coalesce(c_mktsegment, '') || '|' || coalesce(c_name, '')
      |        || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '')) AS old_hash
      |  FROM customer WHERE c_custkey % 7 <> 0),
      |j AS (
      |  SELECT c.c_custkey,
      |    md5(coalesce(CAST(c.c_acctbal AS VARCHAR), '') || '|' || coalesce(c.c_mktsegment, '')
      |        || '|' || coalesce(c.c_name, '') || '|' || coalesce(CAST(c.c_nationkey AS VARCHAR), '')) AS new_hash,
      |    s.old_hash
      |  FROM customer c LEFT JOIN state s ON c.c_custkey = s.c_custkey)
      |SELECT c_custkey,
      |  CASE WHEN old_hash IS NULL THEN 'NEW'
      |       WHEN new_hash <> old_hash THEN 'CHANGED' ELSE 'SAME' END AS __status,
      |  old_hash IS NULL AS __is_new,
      |  -- NEW/CHANGED reset last_updated to today (datediff 0 < 1 day) → fresh;
      |  -- SAME rows: 11 days since 2026-08-01 ≥ doubled interval 8 → stale
      |  CASE WHEN old_hash IS NULL OR new_hash <> old_hash THEN FALSE ELSE TRUE END AS __is_stale,
      |  CASE WHEN old_hash IS NULL OR new_hash <> old_hash THEN 1 ELSE 8 END AS __next_update_days,
      |  CASE WHEN old_hash IS NULL OR new_hash <> old_hash THEN CAST(0 AS BIGINT)
      |       ELSE CAST(100000 + CAST(100000.0 / (1 + (11 - 8)) AS BIGINT) AS BIGINT) END AS __staleness
      |FROM j ORDER BY c_custkey""".stripMargin

  /** q167: SCD TYPE-2 dimension history ([[ScdMerge.type2History]]) —
    * q16's companion: the per-user event_type stream becomes versioned
    * validity intervals with consecutive repeats compressed, the
    * standard warehouse dimension-history build (half-open [from, to)
    * in epoch-µs, current rows pinned to a Long.MaxValue sentinel so
    * nothing hashes a NULL). Lag change-point detection, lead interval
    * closing, and version numbering all share ONE (user × ts, event_id)
    * window — a single Exchange in the plan.
    */
  def q167Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    ScdMerge.type2History(ev, "user_id", "ts_us", "event_id", "event_type")
      .orderBy("user_id", "version")
  }

  val q167Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events),
      |cp AS (
      |  SELECT user_id, ts_us, event_id, event_type
      |  FROM (SELECT *, lag(event_type) OVER
      |               (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
      |        FROM ev)
      |  WHERE prev IS DISTINCT FROM event_type),
      |iv AS (
      |  SELECT user_id, event_type, ts_us AS effective_from,
      |         coalesce(lead(ts_us) OVER
      |                    (PARTITION BY user_id ORDER BY ts_us, event_id),
      |                  9223372036854775807) AS effective_to,
      |         CAST(row_number() OVER
      |                (PARTITION BY user_id ORDER BY ts_us, event_id)
      |              AS BIGINT) AS version
      |  FROM cp)
      |SELECT user_id, event_type, effective_from, effective_to, version,
      |       CASE WHEN effective_to = 9223372036854775807
      |            THEN 1 ELSE 0 END AS is_current
      |FROM iv ORDER BY user_id, version""".stripMargin

  /** q168: two-sided CUSUM level-shift detection ([[Cusum.twoSided]])
    * over the densified hourly event-rate series — the accumulating
    * companion to q138's pointwise z-score anomaly: CUSUM's sequential
    * recursion is rewritten as cumulative-sum-minus-running-min, so the
    * whole detector is stock window algebra on ONE key exchange. Runs
    * on the q159 time spine (skipped empty buckets would stall the
    * detector), in 2^16 fixed point end to end.
    */
  def q168CusumShift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val counts = ev
      .select(col("event_type"),
        expr("(ts_ns div 1000) div 3600000000").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n_events"))
    val dense = TimeSpine.densify(counts, Seq("event_type"), "bucket",
      Seq("n_events" -> lit(0L)))
    Cusum.twoSided(dense, Seq("event_type"), "bucket", "n_events")
      .orderBy("event_type", "bucket")
  }

  val q168Sql: String =
    """WITH cnt AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
      |         count(*)::BIGINT AS n_events
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT s.event_type, u.bucket
      |  FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      |        FROM cnt GROUP BY 1) s,
      |       UNNEST(generate_series(s.lo, s.hi)) u(bucket)),
      |dense AS (
      |  SELECT s.event_type, s.bucket,
      |         coalesce(c.n_events, 0)::BIGINT AS n_events
      |  FROM spine s LEFT JOIN cnt c USING (event_type, bucket)),
      |base AS (
      |  SELECT *,
      |    (CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
      |      * 65536) // (count(*) OVER (PARTITION BY event_type)) AS mu16
      |  FROM dense),
      |cs AS (
      |  SELECT *,
      |    CAST(sum(n_events * 65536 - mu16 - mu16 // 4) OVER
      |      (PARTITION BY event_type ORDER BY bucket
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos,
      |    CAST(sum(mu16 - mu16 // 4 - n_events * 65536) OVER
      |      (PARTITION BY event_type ORDER BY bucket
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cneg
      |  FROM base),
      |sc AS (
      |  SELECT event_type, bucket, n_events, mu16,
      |    cpos - least(0, min(cpos) OVER
      |      (PARTITION BY event_type ORDER BY bucket
      |       ROWS UNBOUNDED PRECEDING)) AS s_pos,
      |    cneg - least(0, min(cneg) OVER
      |      (PARTITION BY event_type ORDER BY bucket
      |       ROWS UNBOUNDED PRECEDING)) AS s_neg
      |  FROM cs)
      |SELECT event_type, bucket, n_events, s_pos, s_neg,
      |       CASE WHEN s_pos > 4 * mu16 OR s_neg > 4 * mu16
      |            THEN 1 ELSE 0 END AS alarm
      |FROM sc ORDER BY event_type, bucket""".stripMargin

  /** q171: exact median/MAD robust outlier screen
    * ([[RobustStats.medianMadOutliers]]) — the Iglewicz–Hoaglin
    * modified z over integer cents per (returnflag, linestatus): the
    * order-statistic counterpart to the moment-based screens (q138
    * z-rates, q160 PSI), immune to the extremes it hunts. Prices cross
    * into integers via the q1 decimal route (double → DECIMAL(18,4) →
    * ×100), medians are the mirrored lower-median convention, and the
    * 3.5-fence is a cross-multiplied integer compare — no division, no
    * float, so all four group rows hash-gate.
    */
  def q171RobustOutliers(spark: SparkSession, dir: String): DataFrame = {
    // fat-finger corruption planted on ~0.08% of rows (price ×50): the
    // fences must catch every one while the median/MAD stand still —
    // the uniform TPC-H price spread alone flags nothing (modified z of
    // a uniform tail tops out ≈ 1.3), so n_outliers counts exactly the
    // planted rows
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("cents",
        when(col("l_orderkey") % 249 === 0 && col("l_linenumber") === 1,
          col("cents") * 50).otherwise(col("cents")))
    RobustStats.medianMadOutliers(li,
        Seq("l_returnflag", "l_linestatus"), "cents")
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q171Sql: String =
    """WITH v AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           * CASE WHEN l_orderkey % 249 = 0 AND l_linenumber = 1
      |                  THEN 50 ELSE 1 END AS cents
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER
      |           (PARTITION BY l_returnflag, l_linestatus ORDER BY cents)
      |           AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
      |  FROM v),
      |med AS (
      |  SELECT l_returnflag, l_linestatus, cents AS med
      |  FROM r WHERE rn = (n + 1) // 2),
      |dv AS (
      |  SELECT v.l_returnflag, v.l_linestatus, v.cents, m.med,
      |         abs(v.cents - m.med) AS adev
      |  FROM v JOIN med m USING (l_returnflag, l_linestatus)),
      |r2 AS (
      |  SELECT *, row_number() OVER
      |           (PARTITION BY l_returnflag, l_linestatus ORDER BY adev)
      |           AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
      |  FROM dv),
      |mad AS (
      |  SELECT l_returnflag, l_linestatus, adev AS mad
      |  FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.l_returnflag, d.l_linestatus, count(*)::BIGINT AS n,
      |       CAST(min(d.med) AS BIGINT) AS med, CAST(min(m.mad) AS BIGINT) AS mad,
      |       CAST(sum(CASE WHEN 6745 * d.adev > 35000 * m.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dv d JOIN mad m USING (l_returnflag, l_linestatus)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q172: Weight-of-Evidence / Information-Value feature scoring
    * ([[Woe.binsWoe]]) — how well does a binned feature separate a
    * binary outcome, the risk-analytics sibling of the NB evidence
    * weights (q113): a deterministic label with per-priority bad-rates
    * (40/30/20/10/5 per 100, keyed off o_orderkey) plants real
    * separation, and the five bins' WOE spread + IV contributions
    * hash-gate through the smoothed fixed-point formula. Sign-safe by
    * construction: every floor division runs on non-negative operands
    * (sign applied after), so Spark's truncating `div` and DuckDB's
    * flooring `//` agree.
    */
  def q172WoeIv(spark: SparkSession, dir: String): DataFrame = {
    val thr = when(col("o_orderpriority") === "1-URGENT", 40)
      .when(col("o_orderpriority") === "2-HIGH", 30)
      .when(col("o_orderpriority") === "3-MEDIUM", 20)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 10)
      .otherwise(5)
    val labeled = Load.table(spark, dir, "orders")
      .select(col("o_orderpriority"),
        (col("o_orderkey") % 100 < thr).cast(IntegerType).as("bad"))
    Woe.binsWoe(labeled, "o_orderpriority", "bad")
      .orderBy("o_orderpriority")
  }

  val q172Sql: String =
    """WITH RECURSIVE lb AS (
      |  SELECT o_orderpriority AS bin,
      |         CASE WHEN o_orderkey % 100 <
      |                CASE o_orderpriority
      |                     WHEN '1-URGENT' THEN 40 WHEN '2-HIGH' THEN 30
      |                     WHEN '3-MEDIUM' THEN 20
      |                     WHEN '4-NOT SPECIFIED' THEN 10 ELSE 5 END
      |              THEN 1 ELSE 0 END AS bad
      |  FROM orders),
      |c AS (
      |  SELECT bin,
      |         sum(CASE WHEN bad = 0 THEN 1 ELSE 0 END)::BIGINT AS n_good,
      |         sum(bad)::BIGINT AS n_bad
      |  FROM lb GROUP BY bin),
      |t AS (
      |  SELECT CAST(sum(n_good + 1) AS BIGINT) AS gt,
      |         CAST(sum(n_bad + 1) AS BIGINT) AS bt
      |  FROM c),
      |r AS (
      |  SELECT bin, n_good, n_bad,
      |         greatest(1, ((n_good + 1) * 1073741824) // gt) AS rg,
      |         greatest(1, ((n_bad + 1) * 1073741824) // bt) AS rb
      |  FROM c, t),
      |qq AS (
      |  SELECT bin, n_good, n_bad, rg, rb,
      |         CASE WHEN rg <= rb THEN (rg * 1073741824) // rb
      |              ELSE (rb * 1073741824) // rg END AS q
      |  FROM r),
      |nrm AS (
      |  SELECT bin, greatest(q, 1) AS m, 0::BIGINT AS k FROM qq
      |  UNION ALL
      |  SELECT bin, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |sq AS (
      |  SELECT bin, k, m, 0 AS i, 0::BIGINT AS acc
      |  FROM nrm WHERE m >= 1073741824
      |  UNION ALL
      |  SELECT bin, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT bin, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |bt2 AS (SELECT bin, k * 65536 - acc AS bits FROM sq WHERE i = 16),
      |w AS (
      |  SELECT q.bin, q.n_good, q.n_bad, q.rg, q.rb,
      |         (CASE WHEN q.rg <= q.rb THEN -1 ELSE 1 END)
      |           * ((b.bits * 45426) // 65536) AS woe_fix
      |  FROM qq q JOIN bt2 b USING (bin))
      |SELECT bin AS o_orderpriority, n_good, n_bad, woe_fix,
      |       ((rg - rb) * woe_fix) // 65536 AS iv_fix
      |FROM w ORDER BY 1""".stripMargin

  /** q173: within-session event path mining ([[PathMining.sessionTrigrams]])
    * — the frequent-walks view of the clickstream that q162's one-step
    * transition matrix can't see: sessionize on the 30-minute gap rule,
    * form trigram paths with `lead` over the SAME user window (a
    * lead(session)==session guard replaces the second exchange a
    * (user, session) re-window would force), count occurrences and exact
    * distinct-user support per path. Everything before the final path
    * aggregate rides ONE user-keyed exchange.
    */
  def q173PathMining(spark: SparkSession, dir: String): DataFrame =
    // minCount 1: the sf0.001 smoke corpus has no repeated trigram, and
    // the gate must hold at every SF; pruning is PathMiningSpec's job
    PathMining.sessionTrigrams(Load.events(spark, dir), minCount = 1L)

  val q173Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_type, t, event_id,
      |         CASE WHEN lag(t) OVER w IS NULL
      |                OR t - lag(t) OVER w > 1800000000000 THEN 1 ELSE 0 END
      |           AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |s AS (
      |  SELECT user_id, event_type, t, event_id,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM b),
      |p AS (
      |  SELECT user_id, sess, event_type,
      |         lead(event_type, 1) OVER w AS e1, lead(sess, 1) OVER w AS s1,
      |         lead(event_type, 2) OVER w AS e2, lead(sess, 2) OVER w AS s2
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
      |SELECT event_type || '>' || e1 || '>' || e2 AS path,
      |       count(*)::BIGINT AS cnt,
      |       count(DISTINCT user_id)::BIGINT AS n_users
      |FROM p WHERE s1 = sess AND s2 = sess
      |GROUP BY 1
      |ORDER BY cnt DESC, path""".stripMargin

  /** q174: market-basket association rules ([[Association.pairRules]]) —
    * orders as baskets, parts as items; the A-priori item prune
    * (support ≥ 30) runs BEFORE the pair join, pair support ≥ 2, both
    * directed rules with 2^30 confidence and 2^16 lift in DECIMAL(38,0)
    * intermediates (pair·N·2^16 overflows int64 at real basket counts).
    */
  def q174AssocRules(spark: SparkSession, dir: String): DataFrame =
    Association.pairRules(
      Load.table(spark, dir, "lineitem").select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minItemSupport = 30L, minPairSupport = 2L)

  val q174Sql: String =
    """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |ic AS (SELECT i, count(*)::BIGINT AS c FROM d GROUP BY 1
      |       HAVING count(*) >= 30),
      |f AS (SELECT b, d.i, c FROM d JOIN ic USING (i)),
      |n AS (SELECT count(DISTINCT b)::HUGEINT AS nb FROM d),
      |p AS (
      |  SELECT a.i AS ia, bb.i AS ib, a.c AS ca, bb.c AS cb,
      |         count(*)::BIGINT AS pc
      |  FROM f a JOIN f bb USING (b) WHERE a.i < bb.i
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      |r AS (
      |  SELECT ia AS antecedent, ib AS consequent, pc, ca AS ante_cnt,
      |         cb AS cons_cnt FROM p
      |  UNION ALL
      |  SELECT ib, ia, pc, cb, ca FROM p)
      |SELECT antecedent, consequent, pc AS pair_cnt, ante_cnt, cons_cnt,
      |       CAST((pc::HUGEINT * 1073741824) // ante_cnt AS BIGINT)
      |         AS conf_fix,
      |       CAST((pc::HUGEINT * nb * 65536)
      |            // (ante_cnt::HUGEINT * cons_cnt) AS BIGINT) AS lift_fix
      |FROM r, n ORDER BY antecedent, consequent""".stripMargin

  /** q175: ordered funnel conversion ([[Funnel.ordered]]) — users
    * reaching signup → view → purchase IN ORDER, as a chain of running
    * maxima on one user-keyed window (a later step only fires once all
    * earlier steps already have); per-step counts + 2^30 step-over-step
    * and from-first conversion ratios.
    */
  def q175Funnel(spark: SparkSession, dir: String): DataFrame =
    Funnel.ordered(Load.events(spark, dir), Seq("signup", "view", "purchase"))

  val q175Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events),
      |f0 AS (
      |  SELECT *, max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS r0
      |  FROM e),
      |f1 AS (
      |  SELECT *, max(CASE WHEN event_type = 'view' AND r0 = 1
      |                     THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS r1
      |  FROM f0),
      |f2 AS (
      |  SELECT *, max(CASE WHEN event_type = 'purchase' AND r1 = 1
      |                     THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS r2
      |  FROM f1),
      |u AS (SELECT user_id, max(r0) AS u0, max(r1) AS u1, max(r2) AS u2
      |      FROM f2 GROUP BY 1),
      |n AS (SELECT sum(u0)::BIGINT AS n0, sum(u1)::BIGINT AS n1,
      |             sum(u2)::BIGINT AS n2 FROM u),
      |s AS (
      |  SELECT CAST(1 AS INTEGER) AS step_no, 'signup' AS step, n0 AS n_users
      |  FROM n
      |  UNION ALL SELECT 2, 'view', n1 FROM n
      |  UNION ALL SELECT 3, 'purchase', n2 FROM n)
      |SELECT step_no, step, n_users,
      |       (n_users * 1073741824)
      |         // nullif(lag(n_users) OVER (ORDER BY step_no), 0)
      |         AS conv_prev_fix,
      |       (n_users * 1073741824)
      |         // nullif(first_value(n_users) OVER (ORDER BY step_no
      |              ROWS UNBOUNDED PRECEDING), 0) AS conv_first_fix
      |FROM s ORDER BY step_no""".stripMargin

  /** q178: two-sample Kolmogorov-Smirnov drift ([[Profile.ksStatistic]])
    * — the exact-CDF companion to q160's bucketed PSI: extended-price
    * cents of low-quantity vs high-quantity line items per return flag
    * (price scales with quantity, so the CDFs are far apart and the
    * statistic is decisive). Numerator, argmax value, and the 2^30
    * ratio all integer/decimal-exact.
    */
  def q178KsDrift(spark: SparkSession, dir: String): DataFrame = {
    // both samples are partitions of ONE table: tag the side at the scan
    // (single pass) instead of running two filtered scans through the
    // two-DataFrame ksStatistic API — the union it would build is
    // exactly this relation (quantity is never null, so <=25 / >25 is a
    // partition of the rows)
    val tagged = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("__k"),
        (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("__v"),
        when(col("l_quantity") <= 25, 0).otherwise(1).as("__s"))
    Profile.ksStatisticTagged(tagged, "l_returnflag")
      .orderBy("l_returnflag")
  }

  val q178Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag AS k,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           AS v,
      |         CASE WHEN l_quantity <= 25 THEN 0 ELSE 1 END AS side
      |  FROM lineitem),
      |h AS (
      |  SELECT k, v,
      |         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS ha,
      |         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS hb
      |  FROM s GROUP BY 1, 2),
      |c AS (
      |  SELECT k, v,
      |         sum(ha) OVER (PARTITION BY k)::HUGEINT AS na,
      |         sum(hb) OVER (PARTITION BY k)::HUGEINT AS nb,
      |         sum(ha) OVER (PARTITION BY k ORDER BY v
      |                       ROWS UNBOUNDED PRECEDING)::HUGEINT AS ca,
      |         sum(hb) OVER (PARTITION BY k ORDER BY v
      |                       ROWS UNBOUNDED PRECEDING)::HUGEINT AS cb
      |  FROM h),
      |d AS (
      |  SELECT k, v, na, nb, abs(ca * nb - cb * na) AS df,
      |         max(abs(ca * nb - cb * na)) OVER (PARTITION BY k) AS dmax
      |  FROM c)
      |SELECT k AS l_returnflag,
      |       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      |       CAST(max(df) AS BIGINT) AS ks_num,
      |       min(CASE WHEN df = dmax THEN v END) AS ks_at,
      |       CAST((max(df) * 1073741824) // (max(na) * max(nb)) AS BIGINT)
      |         AS ks_fix
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** q180: RFM customer segmentation — the marketing-analytics staple:
    * per customer, recency (last order epoch-day), frequency (order
    * count), monetary (lifetime cents), each cut into exact ntile(5)
    * quintiles with a fully deterministic (metric, custkey) order, then
    * a rule CASE into named segments. Exact tier by contract: the
    * ntile windows run on the ALREADY-COLLAPSED per-customer relation
    * (one map-side-combined aggregation is the only corpus exchange);
    * at PB scale swap the global ntile for q118 sketch cutoffs, same
    * rule table.
    */
  def q180RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = Load.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum((col("o_totalprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType)).as("cents"))
    def quint(c: String) =
      ntile(5).over(Window.orderBy(col(c), col("o_custkey")))
    val scored = per
      .withColumn("r", quint("last_day"))
      .withColumn("f", quint("freq"))
      .withColumn("m", quint("cents"))
    scored.select(col("o_custkey"), col("r"), col("f"), col("m"),
        when(col("r") >= 4 && col("f") >= 4, "champion")
          .when(col("f") >= 4, "loyal")
          .when(col("r") >= 4 && col("f") <= 2, "new")
          .when(col("r") <= 2 && col("f") >= 3, "at_risk")
          .when(col("r") <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy("o_custkey")
  }

  val q180Sql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         max(o_orderdate::DATE - DATE '1970-01-01') AS last_day,
      |         count(*)::BIGINT AS freq,
      |         sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT))
      |           ::BIGINT AS cents
      |  FROM orders GROUP BY 1),
      |q AS (
      |  SELECT o_custkey,
      |         ntile(5) OVER (ORDER BY last_day, o_custkey) AS r,
      |         ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
      |         ntile(5) OVER (ORDER BY cents, o_custkey) AS m
      |  FROM per)
      |SELECT o_custkey, r, f, m,
      |       CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
      |            WHEN f >= 4 THEN 'loyal'
      |            WHEN r >= 4 AND f <= 2 THEN 'new'
      |            WHEN r <= 2 AND f >= 3 THEN 'at_risk'
      |            WHEN r <= 2 THEN 'hibernating'
      |            ELSE 'regular' END AS segment
      |FROM q ORDER BY o_custkey""".stripMargin

  /** q181: per-group OLS trend ([[Ols.groupTrend]]) — daily revenue
    * (whole dollars) regressed on the epoch day per return flag, from
    * the five map-side-combinable sums; slope/intercept as sign-split
    * 2^16 floors, r² as the staged 2^15·2^15 floor product (squaring
    * the covariance would overflow both DECIMAL(38,0) and HUGEINT).
    */
  def q181OlsTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Load.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).as("day"))
      .agg(expr("sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100" +
        " AS BIGINT)) div 100").as("dollars"))
    Ols.groupTrend(daily, "l_returnflag", "day", "dollars")
      .orderBy("l_returnflag")
  }

  val q181Sql: String =
    """WITH daily AS (
      |  SELECT l_returnflag AS k,
      |         (l_shipdate::DATE - DATE '1970-01-01') AS day,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
      |                        AS BIGINT)) // 100 AS BIGINT) AS dollars
      |  FROM lineitem GROUP BY 1, 2),
      |based AS (
      |  SELECT k, (day - min(day) OVER (PARTITION BY k))::HUGEINT AS x,
      |         dollars::HUGEINT AS y
      |  FROM daily),
      |s AS (
      |  SELECT k, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM based GROUP BY 1),
      |d AS (
      |  SELECT k, n, n * sxy - sx * sy AS cov, n * sxx - sx * sx AS vx,
      |         n * syy - sy * sy AS vy, sy * sxx - sx * sxy AS inum
      |  FROM s)
      |SELECT k AS l_returnflag, CAST(n AS BIGINT) AS n,
      |       CASE WHEN vx = 0 THEN NULL ELSE
      |         CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END)
      |              * ((abs(cov) * 65536) // vx) AS BIGINT) END AS slope_fix,
      |       CASE WHEN vx = 0 THEN NULL ELSE
      |         CAST((CASE WHEN inum < 0 THEN -1 ELSE 1 END)
      |              * ((abs(inum) * 65536) // vx) AS BIGINT) END
      |         AS intercept_fix,
      |       CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
      |         CAST(((abs(cov) * 32768) // vx) * ((abs(cov) * 32768) // vy)
      |              AS BIGINT) END AS r2_fix
      |FROM d ORDER BY 1""".stripMargin

  /** q182: time-decayed engagement scoring ([[Decay.decayedCount]]) —
    * per-user recency-weighted activity with a 7-day half-life: each
    * event worth 2^(−age/halfLife) through the exact bit-factor
    * exponential (the q129 kernel), the exponent assembled
    * overflow-safely from whole half-lives + a scaled remainder; one
    * wordcount-shaped aggregation. The oracle replays the 16-step
    * bit-factor recursion PER EVENT.
    */
  def q182DecayedScore(spark: SparkSession, dir: String): DataFrame =
    Decay.decayedCount(Load.events(spark, dir), "user_id", "ts_ns",
      halfLifeUs = 604800000000L)

  val q182Sql: String = {
    val cases = graft.functions.FixedLogKernel.POW2_FRAC.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN ${c}::BIGINT" }.mkString(" ")
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
       |mx AS (SELECT max(t) AS ref FROM e),
       |ys AS (
       |  SELECT user_id, event_id,
       |         least((ref - t) // 604800000000, 63) * 65536
       |           + (((ref - t) % 604800000000) * 65536) // 604800000000
       |           AS y
       |  FROM e, mx),
       |pw AS (
       |  SELECT user_id, event_id, y, 15 AS i, 2147483648::BIGINT AS r
       |  FROM ys
       |  UNION ALL
       |  SELECT user_id, event_id, y, i - 1,
       |         CASE WHEN ((y % 65536) // (1::BIGINT << i)) % 2 = 1
       |              THEN (r * CASE i $cases END) // 2147483648
       |              ELSE r END
       |  FROM pw WHERE i >= 0),
       |wv AS (
       |  SELECT user_id,
       |         r // (1::BIGINT << CAST(least(y // 65536, 62) AS INTEGER))
       |           AS w
       |  FROM pw WHERE i = -1)
       |SELECT user_id, count(*)::BIGINT AS cnt,
       |       CAST(sum(w) AS BIGINT) AS decayed_fix
       |FROM wv GROUP BY 1
       |ORDER BY decayed_fix DESC, user_id""".stripMargin
  }

  /** q183: winsorized mean ([[RobustStats.winsorizedMean]]) over q171's
    * corrupted-cents corpus — the robust AGGREGATE companion to q171's
    * outlier flags: the planted x50 fat-fingers drag the raw mean
    * visibly while the [5%, 95%] winsorized mean stands still; fences
    * are exact order statistics, means sign-split 2^16 floors.
    */
  def q183WinsorMean(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("cents",
        when(col("l_orderkey") % 249 === 0 && col("l_linenumber") === 1,
          col("cents") * 50).otherwise(col("cents")))
    RobustStats.winsorizedMean(li, Seq("l_returnflag", "l_linestatus"),
        "cents")
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q183Sql: String =
    """WITH v AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           * CASE WHEN l_orderkey % 249 = 0 AND l_linenumber = 1
      |                  THEN 50 ELSE 1 END AS cents
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
      |                               ORDER BY cents) AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
      |  FROM v),
      |f AS (
      |  SELECT l_returnflag, l_linestatus,
      |         min(CASE WHEN rn = greatest(1, (50 * n + 999) // 1000)
      |                  THEN cents END) AS lo,
      |         min(CASE WHEN rn = greatest(1, (950 * n + 999) // 1000)
      |                  THEN cents END) AS hi
      |  FROM r GROUP BY 1, 2),
      |j AS (
      |  SELECT v.l_returnflag, v.l_linestatus, f.lo, f.hi, v.cents,
      |         greatest(f.lo, least(f.hi, v.cents)) AS w
      |  FROM v JOIN f USING (l_returnflag, l_linestatus)),
      |s AS (
      |  SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
      |         min(lo) AS lo, min(hi) AS hi,
      |         sum(w)::HUGEINT AS sw, sum(cents)::HUGEINT AS sr
      |  FROM j GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, n, lo, hi,
      |       CAST((CASE WHEN sw < 0 THEN -1 ELSE 1 END)
      |            * ((abs(sw) * 65536) // n) AS BIGINT) AS winsor_mean_fix,
      |       CAST((CASE WHEN sr < 0 THEN -1 ELSE 1 END)
      |            * ((abs(sr) * 65536) // n) AS BIGINT) AS raw_mean_fix
      |FROM s ORDER BY 1, 2""".stripMargin

  /** q184: Benford first-digit audit ([[Benford.firstDigit]]) —
    * extended-price cents per return flag vs the nine shared
    * ⌊log10(1+1/d)·2^30⌋ constants. TPC-H prices are synthetic
    * (uniform-ish), so the audit rightly reports a large
    * total-variation distance — the screen detecting fabricated
    * numbers is itself the demonstration.
    */
  def q184Benford(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("cents"))
    Benford.firstDigit(li, "l_returnflag", "cents")
      .orderBy("l_returnflag")
  }

  val q184Sql: String = {
    val expCase = graft.ops.Benford.ExpFix.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN ${v}::HUGEINT" }
      .mkString(" ")
    s"""WITH v AS (
       |  SELECT l_returnflag AS k,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
       |           AS v
       |  FROM lineitem),
       |c AS (
       |  SELECT k, CAST(left(CAST(v AS VARCHAR), 1) AS INTEGER) AS d,
       |         count(*)::BIGINT AS c
       |  FROM v WHERE v > 0 GROUP BY 1, 2),
       |sk AS (SELECT k, sum(CASE WHEN v <= 0 THEN 1 ELSE 0 END)::BIGINT
       |                  AS ns
       |       FROM v GROUP BY 1),
       |sp AS (SELECT DISTINCT k FROM c),
       |dg AS (SELECT unnest(generate_series(1, 9)) AS d),
       |j AS (
       |  SELECT sp.k, dg.d, coalesce(c.c, 0)::HUGEINT AS c,
       |         CASE dg.d $expCase END AS ef
       |  FROM sp CROSS JOIN dg LEFT JOIN c ON c.k = sp.k AND c.d = dg.d),
       |w AS (SELECT *, sum(c) OVER (PARTITION BY k) AS n FROM j),
       |dv AS (
       |  SELECT k, d, n, abs((c * 1073741824) // n - ef) AS dev,
       |         max(abs((c * 1073741824) // n - ef))
       |           OVER (PARTITION BY k) AS dmax
       |  FROM w),
       |ag AS (
       |  SELECT k, CAST(max(n) AS BIGINT) AS n,
       |         CAST(sum(dev) AS BIGINT) AS tvd_fix,
       |         min(CASE WHEN dev = dmax THEN d END) AS worst_digit,
       |         CAST(max(dev) AS BIGINT) AS worst_dev_fix
       |  FROM dv GROUP BY 1)
       |SELECT sk.k AS l_returnflag, coalesce(ag.n, 0) AS n,
       |       sk.ns AS n_skipped, ag.tvd_fix, ag.worst_digit,
       |       ag.worst_dev_fix
       |FROM sk LEFT JOIN ag ON ag.k = sk.k
       |ORDER BY 1""".stripMargin
  }

  /** q185: activity streaks (gaps-and-islands) — per user, the longest
    * run of CONSECUTIVE active days: distinct epoch-days, island id =
    * day − row_number (constant within a consecutive run — the classic
    * identity), longest streak by (length desc, start asc). One
    * user-keyed exchange carries the distinct, the numbering window,
    * and both rollups; only (user, day) pairs ever shuffle.
    */
  def q185Streaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Load.events(spark, dir)
      .select(col("user_id"),
        expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val isl = days
      .withColumn("__isl", col("day") - row_number().over(w))
      .groupBy("user_id", "__isl")
      .agg(count(lit(1)).as("len"), min("day").as("start"))
    val wBest = Window.partitionBy("user_id")
      .orderBy(col("len").desc, col("start"))
    isl.withColumn("__rn", row_number().over(wBest))
      .filter(col("__rn") === 1)
      .join(days.groupBy("user_id").agg(count(lit(1)).as("n_active_days")),
        Seq("user_id"))
      .select(col("user_id"), col("n_active_days"),
        col("len").as("longest_streak"), col("start").as("streak_start"))
      .orderBy("user_id")
  }

  val q185Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |i AS (
      |  SELECT user_id, day,
      |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |           AS isl
      |  FROM d),
      |s AS (
      |  SELECT user_id, isl, count(*)::BIGINT AS len, min(day) AS start
      |  FROM i GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, len, start,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY len DESC, start) AS rn
      |  FROM s),
      |n AS (SELECT user_id, count(*)::BIGINT AS n_active_days
      |      FROM d GROUP BY 1)
      |SELECT b.user_id, n.n_active_days, b.len AS longest_streak,
      |       b.start AS streak_start
      |FROM b JOIN n USING (user_id) WHERE b.rn = 1
      |ORDER BY user_id""".stripMargin

  /** q186: q53's LEFT OUTER twin, batch form of
    * [[graft.streaming.Streams.intervalJoinOuter]] — the non-conversion
    * report: every view appears, unconverted ones with null purchase
    * columns (the rows an inner funnel join silently drops are usually
    * the ones the analyst wanted). Null-safe ordering via coalesce(-1)
    * — Spark sorts nulls first ASC, DuckDB last, so never ORDER BY a
    * nullable column raw.
    */
  def q186FunnelOuter(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.ops.Load.events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_ns").as("view_ns"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("__buyer"), col("ts_ns").as("purchase_ns"))
    views.join(buys,
        col("user_id") === col("__buyer") &&
        col("purchase_ns") >= col("view_ns") &&
        col("purchase_ns") <= col("view_ns") + lit(1800000000000L),
        "left_outer")
      .select(col("view_id"), col("user_id"), col("purchase_id"),
        expr("(purchase_ns - view_ns) div 1000000").as("delay_ms"),
        col("purchase_id").isNull.cast("int").as("unconverted"))
      .orderBy(col("view_id"), coalesce(col("purchase_id"), lit(-1L)))
  }

  val q186Sql: String =
    """SELECT v.event_id AS view_id, v.user_id, p.event_id AS purchase_id,
      |       (epoch_ns(p.ts) - epoch_ns(v.ts)) // 1000000 AS delay_ms,
      |       CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END AS unconverted
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND epoch_ns(p.ts) >= epoch_ns(v.ts)
      | AND epoch_ns(p.ts) <= epoch_ns(v.ts) + 1800000000000
      |ORDER BY view_id, coalesce(purchase_id, -1)""".stripMargin

  /** q188: exact quantile normalization
    * ([[Quantiles.quantileNormalize]]) — q178 detected that low- and
    * high-quantity extended prices are different distributions; this
    * CORRECTS it, mapping each low-quantity price onto the
    * high-quantity distribution at the same quantile position (rank
    * ⌈r·m/n⌉ of the reference — always a reference value, never an
    * interpolation). Per return flag; ties broken by the line's unique
    * (orderkey·10 + linenumber).
    */
  def q188QuantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        (col("l_extendedprice").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("line_uid"))
    val a = li.filter(col("l_quantity") <= 25)
      .select("l_returnflag", "cents", "line_uid")
    val b = li.filter(col("l_quantity") > 25)
      .select("l_returnflag", "cents")
    // executable 100 TB swap: sketch tier maps through both sides'
    // mergeable histograms instead of two per-key sort windows
    // (QuantileTierSpec; oracle runs the default exact tier)
    val out =
      if (Quantiles.sketchTier(spark))
        Quantiles.quantileNormalizeSketch(a, b, Seq("l_returnflag"), "cents")
      else
        Quantiles.quantileNormalize(a, b, Seq("l_returnflag"), "cents",
          "line_uid")
    out.orderBy("l_returnflag", "line_uid")
  }

  val q188Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS k, l_quantity,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           AS cents,
      |         l_orderkey * 10 + l_linenumber AS line_uid
      |  FROM lineitem),
      |a AS (
      |  SELECT k, cents, line_uid,
      |         row_number() OVER (PARTITION BY k ORDER BY cents, line_uid)
      |           AS rn,
      |         count(*) OVER (PARTITION BY k) AS n
      |  FROM li WHERE l_quantity <= 25),
      |b AS (
      |  SELECT k, cents AS refv,
      |         row_number() OVER (PARTITION BY k ORDER BY cents) AS tr,
      |         count(*) OVER (PARTITION BY k) AS m
      |  FROM li WHERE l_quantity > 25)
      |SELECT a.k AS l_returnflag, a.cents, a.line_uid,
      |       b.refv AS cents_norm
      |FROM a JOIN b ON b.k = a.k
      |             AND b.tr = (a.rn * b.m + a.n - 1) // a.n
      |ORDER BY l_returnflag, line_uid""".stripMargin

  /** q192: rendezvous (HRW) consistent sharding
    * ([[Rendezvous.assign]]) — documents assigned to 8 shards and to
    * 9, with the stability law IN the gated output: `moved` must imply
    * `shard9 = 8` (growing the ring only hands keys to the NEW shard;
    * a mod-n scheme would reshuffle nearly everything). `law_violated`
    * is a gated all-zeros column, not just a spec assertion.
    */
  def q192Rendezvous(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id")
    val a8 = Rendezvous.assign(d, "doc_id", 8, "shard8")
    val a9 = Rendezvous.assign(a8, "doc_id", 9, "shard9")
    a9.withColumn("moved", (col("shard8") =!= col("shard9")).cast("int"))
      .withColumn("law_violated",
        (col("moved") === 1 && col("shard9") =!= 8).cast("int"))
      .orderBy("doc_id")
  }

  val q192Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |         greatest(
      |         __TERMS8__) AS b8,
      |         greatest(
      |         __TERMS9__) AS b9
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(65535 - b8 % 65536 AS INTEGER) AS shard8,
      |       CAST(65535 - b9 % 65536 AS INTEGER) AS shard9,
      |       CASE WHEN 65535 - b8 % 65536 <> 65535 - b9 % 65536
      |            THEN 1 ELSE 0 END AS moved,
      |       CASE WHEN 65535 - b8 % 65536 <> 65535 - b9 % 65536
      |             AND 65535 - b9 % 65536 <> 8 THEN 1 ELSE 0 END
      |         AS law_violated
      |FROM w ORDER BY doc_id""".stripMargin
      .replace("__TERMS8__", """CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65535,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65534,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':2'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65533,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65532,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':4'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65531,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65530,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':6'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65529,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65528""")
      .replace("__TERMS9__", """CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65535,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65534,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':2'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65533,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65532,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':4'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65531,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65530,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':6'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65529,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65528,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':8'), 1, 8) AS BIGINT) AS BIGINT) * 65536 + 65527""")

  /** q193: time-weighted average (TWAP) per event type — the
    * irregular-sampling average (finance/telemetry: a value holds until
    * the next sample, so a plain mean over-weights bursts): each
    * sample's 2^16-quantized value weighted by its holding interval
    * (last sample holds to the corpus end), one lead window + one
    * aggregation per key; Σ v_fix·dt in DECIMAL(38,0), final 2^16 TWAP
    * by floor division over the key's span.
    */
  def q193Twap(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.events(spark, dir)
      .select(col("event_type"), col("ts_ns"), col("event_id"),
        floor(col("value") * 65536).cast(LongType).as("v_fix"))
    val endRel = e.agg(max("ts_ns").as("__end"))
    val w = Window.partitionBy("event_type").orderBy(col("ts_ns"), col("event_id"))
    e.crossJoin(broadcast(endRel))
      .withColumn("__dt",
        coalesce(lead("ts_ns", 1).over(w), col("__end") + 1) - col("ts_ns"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(v_fix AS DECIMAL(38,0)) * __dt")).as("__wsum"),
        sum("__dt").as("__span"))
      .withColumn("twap_fix", expr(
        """(CASE WHEN __wsum < 0 THEN -1 ELSE 1 END)
          | * (abs(__wsum) div __span)""".stripMargin).cast("long"))
      .select("event_type", "n", "twap_fix")
      .orderBy("event_type")
  }

  val q193Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) AS t, event_id,
      |         CAST(floor(value * 65536) AS BIGINT) AS v_fix
      |  FROM events),
      |mx AS (SELECT max(t) AS e_end FROM e),
      |d AS (
      |  SELECT event_type, v_fix,
      |         coalesce(lead(t) OVER (PARTITION BY event_type
      |                                ORDER BY t, event_id), e_end + 1) - t
      |           AS dt
      |  FROM e, mx),
      |s AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |         sum(v_fix::HUGEINT * dt) AS wsum, sum(dt)::HUGEINT AS span
      |  FROM d GROUP BY 1)
      |SELECT event_type, n,
      |       CAST((CASE WHEN wsum < 0 THEN -1 ELSE 1 END)
      |            * (abs(wsum) // span) AS BIGINT) AS twap_fix
      |FROM s ORDER BY event_type""".stripMargin

  /** q194: association rules over SESSION baskets — [[Association]]
    * reused on a different domain: baskets are (user, 30-min session)
    * from q173's gap rule, items are event types, so lift reads "which
    * behaviors co-drive within a sitting". Demonstrates that the
    * A-priori op and the sessionizer compose as one Catalyst plan.
    */
  def q194SessionRules(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev.select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .withColumn("__brk",
        when(lag("ts_ns", 1).over(w).isNull ||
          col("ts_ns") - lag("ts_ns", 1).over(w) > 1800000000000L, 1L)
          .otherwise(0L))
      .withColumn("__sess", sum("__brk").over(wRun))
      .select(concat_ws("#", col("user_id"), col("__sess")).as("basket"),
        col("event_type"))
    Association.pairRules(sess, "basket", "event_type",
        minItemSupport = 5L, minPairSupport = 5L)
      .orderBy("antecedent", "consequent")
  }

  val q194Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events),
      |b AS (
      |  SELECT user_id, event_type, t, event_id,
      |         CASE WHEN lag(t) OVER w IS NULL
      |                OR t - lag(t) OVER w > 1800000000000 THEN 1 ELSE 0 END
      |           AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |s AS (
      |  SELECT CAST(user_id AS VARCHAR) || '#' ||
      |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS VARCHAR)
      |           AS basket,
      |         event_type AS i
      |  FROM b),
      |d AS (SELECT DISTINCT basket AS bk, i FROM s),
      |ic AS (SELECT i, count(*)::BIGINT AS c FROM d GROUP BY 1
      |       HAVING count(*) >= 5),
      |f AS (SELECT bk, d.i, c FROM d JOIN ic USING (i)),
      |n AS (SELECT count(DISTINCT bk)::HUGEINT AS nb FROM d),
      |p AS (
      |  SELECT a.i AS ia, bb.i AS ib, a.c AS ca, bb.c AS cb,
      |         count(*)::BIGINT AS pc
      |  FROM f a JOIN f bb USING (bk) WHERE a.i < bb.i
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5),
      |r AS (
      |  SELECT ia AS antecedent, ib AS consequent, pc, ca AS ante_cnt,
      |         cb AS cons_cnt FROM p
      |  UNION ALL
      |  SELECT ib, ia, pc, cb, ca FROM p)
      |SELECT antecedent, consequent, pc AS pair_cnt, ante_cnt, cons_cnt,
      |       CAST((pc::HUGEINT * 1073741824) // ante_cnt AS BIGINT)
      |         AS conf_fix,
      |       CAST((pc::HUGEINT * nb * 65536)
      |            // (ante_cnt::HUGEINT * cons_cnt) AS BIGINT) AS lift_fix
      |FROM r, n ORDER BY antecedent, consequent""".stripMargin

  /** q195: percentile-rank feature transform
    * ([[Quantiles.percentileRank]]) — account balances CDF-scaled per
    * market segment: rank-based (RANK, so duplicate balances map
    * identically — no tiebreak column, the property a feature
    * transform must have), outlier- and scale-immune, 2^30 fixed.
    */
  def q195PercentileRank(spark: SparkSession, dir: String): DataFrame = {
    val c = Load.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal").cast(DecimalType(18, 4)) * 100)
          .cast(LongType).as("bal_cents"))
    // executable 100 TB swap: the sketch tier quantizes the rank to
    // histogram-bucket resolution but keeps RANK semantics (equal
    // values share a bucket, hence a percentile); oracle = exact tier
    val out =
      if (Quantiles.sketchTier(spark))
        Quantiles.percentileRankSketch(c, Seq("c_mktsegment"), "bal_cents")
      else Quantiles.percentileRank(c, Seq("c_mktsegment"), "bal_cents")
    out.orderBy("c_custkey")
  }

  val q195Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS BIGINT)
      |           AS bal_cents
      |  FROM customer),
      |r AS (
      |  SELECT *, rank() OVER (PARTITION BY c_mktsegment
      |                         ORDER BY bal_cents) AS rk,
      |         count(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM c)
      |SELECT c_custkey, c_mktsegment, bal_cents,
      |       CASE WHEN n <= 1 THEN 0
      |            ELSE CAST(((rk - 1) * 1073741824) // (n - 1) AS BIGINT)
      |            END AS pct_fix
      |FROM r ORDER BY c_custkey""".stripMargin

  /** q237: the DISTINCT sketch tier under the driver's hash gate
    * (round-11 verdict #2 — the agreement envelope lived only in
    * ProfileTierSpec). Both [[graft.ops.Profile.profile]] tiers run over
    * an envelope projection of the FULL documents corpus whose distinct
    * cardinalities are bounded below the KMV capacity k = 1024 by
    * construction (lang/source are tiny sets; doc_id % 512 ≤ 512
    * values at ANY scale factor), where the k-minimum-values sketch is
    * exhaustive and provably exact. The oracle computes the exact
    * counts once and projects them under BOTH column names — a sketch
    * regression now fails the driver gate, not just ScalaTest. Off the
    * envelope the sketch is an estimate with no exactness claim (q105's
    * bench-only sketch row measures that mode's speed).
    */
  def q237DistinctTierEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select(col("lang"), col("source"),
        (col("doc_id") % 512).cast("string").as("id_mod"))
    val cols = Seq("id_mod", "lang", "source")
    val exact = graft.ops.Profile.profile(d, cols, sketchDistinct = false)
      .select(col("column").as("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct").as("n_distinct_exact"))
    val sketch = graft.ops.Profile.profile(d, cols, sketchDistinct = true)
      .select(col("column").as("col_name"),
        col("n_distinct").as("n_distinct_sketch"))
    // both sides are |cols|-row relations — the join is trivially
    // broadcast; corpus work is the two single-agg scans
    exact.join(broadcast(sketch), "col_name").orderBy("col_name")
  }

  val q237Sql: String = {
    val src = "SELECT lang, source, CAST(doc_id % 512 AS VARCHAR) AS id_mod" +
      " FROM documents"
    val per = Seq("id_mod", "lang", "source").map { c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS nd
         |FROM src""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS MATERIALIZED ($src),
       |p AS ($per)
       |SELECT col_name, n_rows, n_nulls, nd AS n_distinct_exact,
       |       nd AS n_distinct_sketch
       |FROM p ORDER BY col_name""".stripMargin
  }

  /** q238: the QUANTILE sketch tier under the driver's hash gate
    * (round-11 verdict #2, quantile family — QuantileTierSpec's lossless
    * grid as an oracled query). Values v = doc_id % 8 sit on the
    * log-histogram's exact region (0..7 are their own buckets), so
    * [[Quantiles.percentileRankSketch]]'s bucket-quantized rank equals
    * [[Quantiles.percentileRank]]'s exact RANK arithmetic row-for-row
    * at ANY scale factor; the oracle computes the exact formula once
    * under both column names. Full-corpus scan on both tiers — the
    * envelope bounds VALUES, not rows.
    */
  def q238QuantileTierEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), (col("doc_id") % 8).as("v"))
    // chain the tiers on ONE lineage — sketch FIRST: its histogram then
    // aggregates the clean scan (no window in the broadcast branch) and
    // the exact tier's rank window runs once, after the broadcast join.
    // Chaining avoids the corpus×corpus doc_id equi-join of two
    // separate lineages the first cut had.
    val sk = Quantiles.percentileRankSketch(d, Seq("lang"), "v", "pct_sketch")
    Quantiles.percentileRank(sk, Seq("lang"), "v", "pct_exact")
      .select("doc_id", "lang", "v", "pct_exact", "pct_sketch")
      .orderBy("doc_id")
  }

  val q238Sql: String =
    """WITH src AS (
      |  SELECT doc_id, lang, doc_id % 8 AS v FROM documents),
      |r AS (
      |  SELECT doc_id, lang, v,
      |         rank() OVER (PARTITION BY lang ORDER BY v) AS rk,
      |         count(*) OVER (PARTITION BY lang) AS n
      |  FROM src),
      |p AS (
      |  SELECT doc_id, lang, v,
      |         CASE WHEN n <= 1 THEN 0
      |              ELSE CAST(((rk - 1) * 1073741824) // (n - 1) AS BIGINT)
      |              END AS pct
      |  FROM r)
      |SELECT doc_id, lang, v, pct AS pct_exact, pct AS pct_sketch
      |FROM p ORDER BY doc_id""".stripMargin

  /** q196: floor-at-zero running inventory
    * ([[Cusum.clampedRunningSum]]) — the max(0, S+Δ) recursion IS
    * Page's CUSUM recursion, so q168's closed prefix form solves it as
    * stock window algebra: per-part restocks (+qty, even parity) and
    * sales (−qty), ordered by ship day then line uid; emits the
    * balance AND the clamped-away `lost` shortfall the clamp hides.
    */
  def q196Inventory(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_partkey"),
        (datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast(LongType) * 10000000L +
          col("l_orderkey") * 10 + col("l_linenumber")).as("ord"),
        when((col("l_orderkey") + col("l_linenumber")) % 2 === 0,
          col("l_quantity")).otherwise(-col("l_quantity"))
          .cast(LongType).as("delta"))
    Cusum.clampedRunningSum(li, Seq("l_partkey"), "ord", "delta")
      .orderBy("l_partkey", "ord")
  }

  val q196Sql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |         (l_shipdate::DATE - DATE '1970-01-01')::BIGINT * 10000000
      |           + l_orderkey * 10 + l_linenumber AS ord,
      |         CAST(CASE WHEN (l_orderkey + l_linenumber) % 2 = 0
      |                   THEN l_quantity ELSE -l_quantity END AS BIGINT)
      |           AS delta
      |  FROM lineitem),
      |cs AS (
      |  SELECT l_partkey, ord, delta,
      |         sum(delta) OVER (PARTITION BY l_partkey ORDER BY ord
      |                          ROWS UNBOUNDED PRECEDING) AS c
      |  FROM li),
      |f AS (
      |  SELECT *, least(0, min(c) OVER (PARTITION BY l_partkey ORDER BY ord
      |                                  ROWS UNBOUNDED PRECEDING)) AS flr
      |  FROM cs)
      |SELECT l_partkey, ord, delta, CAST(c - flr AS BIGINT) AS balance,
      |       CAST(-flr AS BIGINT) AS lost
      |FROM f ORDER BY l_partkey, ord""".stripMargin

  /** q198: compaction planning ([[Compaction.planBins]]) — synthetic
    * file metadata (one "file" per (return flag, ship month), size =
    * its row bytes proxy) packed into 256 KB rewrite bins per return
    * flag by the virtual-concatenation rule: closed-form, replayable,
    * partition-invariant where first-fit's mutable bin state is none
    * of those.
    */
  def q198CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Load.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("file_id"))
      .agg((count(lit(1)) * 64).as("bytes"))
    Compaction.planBins(files, Seq("l_returnflag"), "file_id", "bytes",
        targetBytes = 262144L)
      .orderBy("l_returnflag", "file_id")
  }

  val q198Sql: String =
    """WITH f AS (
      |  SELECT l_returnflag,
      |         year(l_shipdate) * 100 + month(l_shipdate) AS file_id,
      |         count(*)::BIGINT * 64 AS bytes
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT l_returnflag, file_id, bytes,
      |         sum(bytes) OVER (PARTITION BY l_returnflag
      |                          ORDER BY bytes DESC, file_id
      |                          ROWS UNBOUNDED PRECEDING) - bytes AS st
      |  FROM f)
      |SELECT l_returnflag, file_id, bytes,
      |       CAST(st // 262144 AS BIGINT) AS bin,
      |       CAST(st % 262144 AS BIGINT) AS bin_offset
      |FROM p ORDER BY l_returnflag, file_id""".stripMargin

  /** q199: next-event recommendation — q162's transition matrix read
    * as a predictor: per from_type, the top-3 next types by fixed-point
    * probability (ties by to_type), with rank drawn on the ≤|types|²
    * relation. The "what will this user do next" serving view of the
    * Markov estimate.
    */
  def q199NextEvent(spark: SparkSession, dir: String): DataFrame = {
    val m = q162Transitions(spark, dir)
    val w = Window.partitionBy("from_type")
      .orderBy(col("p_fix").desc, col("to_type"))
    m.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("from_type", "rank", "to_type", "p_fix")
      .orderBy("from_type", "rank")
  }

  val q199Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY t, event_id) AS next_type
      |  FROM e),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |         count(*)::BIGINT AS cnt
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(cnt) AS HUGEINT) AS tot
      |        FROM c GROUP BY 1),
      |p AS (
      |  SELECT c.from_type, c.to_type,
      |         CAST((CAST(c.cnt AS HUGEINT) * 1073741824) // t.tot AS BIGINT)
      |           AS p_fix
      |  FROM c JOIN tot t USING (from_type)),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY from_type
      |            ORDER BY p_fix DESC, to_type) AS INTEGER) AS rank
      |  FROM p)
      |SELECT from_type, rank, to_type, p_fix
      |FROM r WHERE rank <= 3 ORDER BY from_type, rank""".stripMargin

  /** J3 fuzzy dictionary translate: nation names as the dictionary,
    * typo'd tokens (trailing X) as input — exact tier misses, fuzzy tier
    * (QRatio ≥ 90) recovers ("NATION_19X" → "nation 19x" vs "nation 19"
    * scores 95). A second planted token ("miss_<custkey>") scores far
    * below the cutoff against every key and must pass through raw, so
    * the gate pins the hit AND miss sides of the score boundary.
    *
    * Oracle: a GOLDEN FIXTURE (fixtures/q17_expected.parquet). The fuzzy
    * scorer is imperative string DP (difflib Ratcliff/Obershelp) DuckDB
    * cannot express, but hash-equality needs only the expected rows: the
    * fixture was generated once from this pipeline at sf0.01 and
    * independently re-verified token-by-token with CPython's difflib
    * (tools/q17_fixture_check.py) — a different implementation of the
    * published algorithm agreeing on every row. The customer subset is
    * key-filtered (not limit) so the fixture is partitioning-stable.
    */
  def q17FuzzyTranslate(spark: SparkSession, dir: String): DataFrame = {
    val nat = Load.table(spark, dir, "nation")
    val dict = Translate.buildDict(
      nat.select(
        col("n_name").as("hebrew"),
        concat(lit("en_"), lower(col("n_name"))).as("english"),
        concat(lit("ar_"), lower(col("n_name"))).as("arabic")))
    val cust = Load.table(spark, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .withColumn("nation_field",
        concat(col("n_name"), lit("X,miss_"), col("c_custkey")))
    Translate.splitAndTranslate(cust, "nation_field", dict)
      .select(col("c_custkey"),
        array_join(col("nation_field"), ",").as("f"),
        array_join(col("nation_field__en"), ",").as("f_en"),
        array_join(col("nation_field__ar"), ",").as("f_ar"))
      .orderBy("c_custkey")
  }

  /** Read-and-compare against the committed golden fixture (see
    * [[q17FuzzyTranslate]]); correctness runs at sf0.01, the factor the
    * fixture was generated at.
    */
  val q17Sql: String =
    """SELECT c_custkey, f, f_en, f_ar
      |FROM read_parquet('/root/repo/fixtures/q17_expected.parquet')
      |ORDER BY c_custkey""".stripMargin

  /** J3's EXACT tier, hash-gated (the path ~all production rows take,
    * reference i18n.py:91-107: clean → dictionary lookup): the planted
    * dictionary guarantees no token ever falls through to the fuzzy
    * scorer as a HIT — every token either exact-matches after clean or
    * misses outright — so the whole observable behavior (clean
    * normalization, length-3 skip, per-column first-seen dedup, cleaned
    * translation emit incl. the alias-valued __all column, raw miss
    * passthrough) is SQL-expressible and oracled. q17 keeps the fuzzy
    * tier (imperative string DP, no SQL mirror) rows-only.
    */
  def q17bExactTranslate(spark: SparkSession, dir: String): DataFrame = {
    val nat = Load.table(spark, dir, "nation")
    val dict = Translate.buildDict(
      nat.select(
        col("n_name").as("hebrew"),
        concat(lit("en_"), lower(col("n_name"))).as("english"),
        concat(lit("ar_"), lower(col("n_name"))).as("arabic"),
        concat(lit("alias "), lower(col("n_name"))).as("value1")))
    // tokens: exact hit (mixed case), a len<3 skip, a guaranteed miss,
    // and a duplicate hit exercising per-column dedup — no padding, so
    // the trimmed/unstripped length distinction (scaladoc note) is moot
    val cust = Load.table(spark, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .withColumn("nation_field", concat(
        initcap(lower(col("n_name"))),
        lit(",ab,zzz_"), col("c_custkey"),
        lit(","), lower(col("n_name"))))
    Translate.splitAndTranslate(cust, "nation_field", dict)
      .select(col("c_custkey"),
        array_join(col("nation_field"), "|").as("f"),
        array_join(col("nation_field__en"), "|").as("f_en"),
        array_join(col("nation_field__ar"), "|").as("f_ar"),
        array_join(col("nation_field__all"), "|").as("f_all"))
      .orderBy("c_custkey")
  }

  val q17bSql: String =
    """SELECT c_custkey,
      |  lower(n_name) || '|zzz_' || c_custkey AS f,
      |  'en_' || lower(n_name) || '|zzz_' || c_custkey AS f_en,
      |  'ar_' || lower(n_name) || '|zzz_' || c_custkey AS f_ar,
      |  'alias ' || lower(n_name) || '|zzz_' || c_custkey AS f_all
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  /** R2 nested construction: per-order point arrays {x,y,q} ordered by
    * line number, flag = membership in a per-order "extrapolated" set.
    * Hash-gated through the JSON rendering: Spark's to_json of the
    * struct array is byte-reconstructed in DuckDB by string_agg (both
    * engines print doubles in shortest round-trip form, booleans
    * lowercase, and compact JSON with struct-field key order), so the
    * two-level nesting is no longer rows-only. The exploded twin (q18b)
    * keeps gating element/order semantics independently of rendering.
    */
  def q18NestedSeries(spark: SparkSession, dir: String): DataFrame = {
    // ord packed into one long (linenumber ≪ 44 | partkey) — same order
    // as the lexicographic zero-padded string form, 8 bytes through the
    // shuffle instead of 15 chars, long compares in the group sort
    val li = Load.table(spark, dir, "lineitem")
      .withColumn(Ordering.ORD,
        shiftleft(col("l_linenumber").cast(LongType), 44) + col("l_partkey"))
    val grouped = Joins.joinSelf(li, Seq("l_orderkey"), Map(
      "l_linenumber" -> Joins.Collect,
      "l_quantity" -> Joins.Collect,
      "l_returnflag" -> Joins.Collect))
    grouped.select(
      col("l_orderkey"),
      to_json(Reshape.zipToPoints(
        col("l_linenumber").cast(ArrayType(StringType)),
        col("l_quantity"),
        array(lit("1"), lit("2")))).as("dataset"))
      .transform(Par.sortOnce(_, col("l_orderkey")))
  }

  /** q18's oracle twin: the SAME nested build (joinSelf order-pinned
    * collect → zipToPoints) exploded back to one row per point, so the
    * nested construction's element values AND order are hash-checked
    * against SQL — the JSON rendering in q18 stays rows-only, but its
    * semantics no longer are.
    */
  def q18bSeriesExplode(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .withColumn(Ordering.ORD,
        shiftleft(col("l_linenumber").cast(LongType), 44) + col("l_partkey"))
    val grouped = Joins.joinSelf(li, Seq("l_orderkey"), Map(
      "l_linenumber" -> Joins.Collect,
      "l_quantity" -> Joins.Collect,
      "l_returnflag" -> Joins.Collect))
    grouped.select(
        col("l_orderkey"),
        posexplode(Reshape.zipToPoints(
          col("l_linenumber").cast(ArrayType(StringType)),
          col("l_quantity"),
          array(lit("1"), lit("2")))))
      .select(col("l_orderkey"), col("pos").as("point_idx"),
        col("col.x").as("x"), col("col.y").as("y"), col("col.q").as("q"))
      .transform(Par.sortOnce(_, col("l_orderkey"), col("point_idx")))
  }

  /** Byte-level reconstruction of q18's to_json output: per-point JSON
    * objects concatenated in the same (linenumber, partkey, quantity,
    * returnflag) order joinSelf's packed-__ord array_sort pins.
    */
  val q18Sql: String =
    """SELECT l_orderkey,
      |  '[' || string_agg(
      |    '{"x":"' || l_linenumber || '","y":' || l_quantity || ',"q":' ||
      |    CASE WHEN l_linenumber IN (1, 2) THEN 'true' ELSE 'false' END || '}',
      |    ',' ORDER BY l_linenumber, l_partkey, l_quantity, l_returnflag)
      |  || ']' AS dataset
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** The ROW_NUMBER ordering mirrors joinSelf's array_sort exactly: the
    * packed struct compares (__ord, l_linenumber, l_quantity,
    * l_returnflag) in order, and __ord = linenumber≪44 | partkey — i.e.
    * (linenumber, partkey, quantity, returnflag). Rows still tied after
    * that are value-identical in the output, so order between them
    * cannot matter.
    */
  val q18bSql: String =
    """SELECT l_orderkey,
      |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_partkey, l_quantity, l_returnflag) - 1 AS point_idx,
      |  l_linenumber::VARCHAR AS x,
      |  l_quantity AS y,
      |  l_linenumber IN (1, 2) AS q
      |FROM lineitem
      |ORDER BY l_orderkey, point_idx""".stripMargin

  /** P9 units validation + rescale: whitelist assert (passes — the guard
    * is in the plan) and conditional ×100 rescale with unit rename.
    */
  def q19ValidateUnits(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .withColumn("units",
        when(col("l_returnflag") === "A", "אחוזים עד 1").otherwise("מספר"))
      .withColumn("value", col("l_discount"))
    Validate.validateUnits(li, "units", "value",
      whitelist = Seq("אחוזים עד 1", "אחוזים עד 100", "מספר"),
      rescaleFrom = "אחוזים עד 1", rescaleTo = "אחוזים עד 100")
      .select(col("l_orderkey"), col("l_linenumber"), col("units"), col("value"))
      // upstream is trivial compute — sortOnce's persist would cost more
      // than the sampling re-execution it avoids
      .orderBy("l_orderkey", "l_linenumber", "units", "value")
  }

  val q19Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_returnflag = 'A' THEN 'אחוזים עד 100' ELSE 'מספר' END AS units,
      |  CASE WHEN l_returnflag = 'A' THEN l_discount * 100 ELSE l_discount END AS value
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, units, value""".stripMargin

  /** As-of (backward) join: every click gets the user's latest purchase
    * value at-or-before it. Our composed union+window formulation is
    * held to hash-equality with DuckDB's NATIVE `ASOF JOIN`. Time rides
    * as epoch-microsecond BIGINT in both engines so precision agrees.
    */
  def q72AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
      .agg(max(col("value")).as("last_purchase_value"))
    AsOf.joinBackward(clicks, purchases, Seq("user_id"), "t",
      Seq("last_purchase_value"))
      .select("event_id", "user_id", "t", "last_purchase_value")
      .orderBy("event_id")
  }

  val q72Sql: String =
    """WITH c AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS t, max(value) AS last_purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.t, p.last_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t
      |ORDER BY event_id""".stripMargin

  /** q162: event-transition matrix — the Markov view of user behavior
    * (what follows a click?): per-user event sequences (lead over the
    * (t, event_id)-ordered user window — ONE user-key shuffle, window
    * state bounded by per-user activity), transition counts, and the
    * per-source transition probability in exact 2⁻³⁰ fixed point (the
    * ×2³⁰ rescale routed through decimal so 10¹²-event counts can't
    * overflow). Aggregate-then-derive: probabilities divide the 25-row
    * count matrix, never the event stream.
    */
  def q162Transitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val seq = ev.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val cnts = seq.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val fromTot = cnts.groupBy("from_type")
      .agg(sum("cnt").cast(DecimalType(38, 0)).as("__tot"))
    cnts.join(broadcast(fromTot), "from_type")
      .selectExpr("from_type", "to_type", "cnt",
        "(CAST(cnt AS DECIMAL(38,0)) * 1073741824) div __tot AS p_fix")
      .orderBy("from_type", "to_type")
  }

  val q162Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY t, event_id) AS next_type
      |  FROM e),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |         count(*)::BIGINT AS cnt
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(cnt) AS HUGEINT) AS tot
      |        FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.cnt,
      |       CAST((CAST(c.cnt AS HUGEINT) * 1073741824) // t.tot AS BIGINT)
      |         AS p_fix
      |FROM c JOIN tot t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** q161: referential-integrity + key-uniqueness audit
    * ([[graft.ops.Validate.fkOrphans]]/`dupKeys`) — the cross-table
    * data-quality checks the per-row validate tier (P9/q19) cannot see:
    * FK orphans via a LEFT ANTI equi-join (only the parent's key column
    * crosses the wire) and duplicate keys via one counting aggregate.
    * Violations are PLANTED (every 97th order's custkey shifted out of
    * range, every 131st order re-inserted) because TPC-H data is clean
    * — the audit must find exactly them and nothing else.
    */
  def q161IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    val base = o.select(col("o_orderkey").cast(LongType).as("ok"),
      when(col("o_orderkey") % 97 === 0,
        col("o_custkey").cast(LongType) + 1000000L)
        .otherwise(col("o_custkey").cast(LongType)).as("ck"))
    val corrupted = base.unionByName(base.filter(col("ok") % 131 === 0))
    val cust = Load.table(spark, dir, "customer")
    val orphans = Validate
      .fkOrphans(corrupted, "ck", cust, "c_custkey")
      .select(lit("fk_orphan").as("kind"), col("ck").as("key"), col("cnt"))
    val dups = Validate.dupKeys(corrupted, Seq("ok"))
      .select(lit("dup_key").as("kind"), col("ok").as("key"), col("cnt"))
    orphans.unionByName(dups).orderBy("kind", "key")
  }

  val q161Sql: String =
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS ok,
      |         CAST(CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS BIGINT) AS ck
      |  FROM orders),
      |corrupted AS (
      |  SELECT * FROM base
      |  UNION ALL SELECT * FROM base WHERE ok % 131 = 0),
      |orph AS (
      |  SELECT 'fk_orphan' AS kind, ck AS key, count(*)::BIGINT AS cnt
      |  FROM corrupted
      |  WHERE ck NOT IN (SELECT c_custkey FROM customer)
      |  GROUP BY ck),
      |dups AS (
      |  SELECT 'dup_key' AS kind, ok AS key, count(*)::BIGINT AS cnt
      |  FROM corrupted GROUP BY ok HAVING count(*) > 1)
      |SELECT * FROM orph
      |UNION ALL SELECT * FROM dups
      |ORDER BY kind, key""".stripMargin

  /** q160: PSI distribution drift ([[graft.ops.Profile.psiFix]]) — the
    * population stability index between two corpus generations' length
    * histograms, float-free (base-2 PSI, 2⁻⁴⁶-unit contributions via
    * the exact square-and-shift log). Generation 1 drops the shortest
    * bucket entirely and doubles the long tail — a decisive
    * distributional shift q135's null/distinct checks are blind to;
    * the emptied bucket exercises the 2⁻³⁰ floor path (finite
    * contribution, never ±∞). The oracle replays quantization, the
    * 16-step log, every per-bucket contribution, and the total.
    */
  def q160PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    def bucket = least(expr("CAST(n_chars AS BIGINT) div 128"), lit(15L))
      .as("bucket")
    val gen0 = d.select(bucket).groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
    val gen1 = d.filter(col("n_chars") >= 128).select(bucket)
      .unionByName(d.filter(col("n_chars") >= 384).select(bucket))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    Profile.psiFix(gen0, gen1, "bucket", "cnt").orderBy("bucket")
  }

  val q160Sql: String =
    """WITH RECURSIVE b0 AS (
      |  SELECT least(n_chars // 128, 15) AS bucket, count(*)::BIGINT AS cnt
      |  FROM documents GROUP BY 1),
      |b1 AS (
      |  SELECT bucket, count(*)::BIGINT AS cnt FROM (
      |    SELECT least(n_chars // 128, 15) AS bucket FROM documents
      |    WHERE n_chars >= 128
      |    UNION ALL
      |    SELECT least(n_chars // 128, 15) FROM documents
      |    WHERE n_chars >= 384) GROUP BY 1),
      |na AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n FROM b0),
      |nb AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n FROM b1),
      |j AS (SELECT coalesce(b0.bucket, b1.bucket) AS bucket,
      |             coalesce(b0.cnt, 0) AS ca, coalesce(b1.cnt, 0) AS cb
      |      FROM b0 FULL OUTER JOIN b1 ON b0.bucket = b1.bucket),
      |qn AS (SELECT bucket,
      |        CAST(greatest((CAST(ca AS HUGEINT) * 1073741824) // na.n, 1)
      |          AS BIGINT) AS p_fix,
      |        CAST(greatest((CAST(cb AS HUGEINT) * 1073741824) // nb.n, 1)
      |          AS BIGINT) AS q_fix
      |       FROM j, na, nb),
      |probs AS (
      |  SELECT bucket, 'p' AS kind, p_fix AS p FROM qn
      |  UNION ALL SELECT bucket, 'q', q_fix FROM qn),
      |nrm AS (
      |  SELECT bucket, kind, greatest(p, 1) AS m, 0::BIGINT AS k FROM probs
      |  UNION ALL
      |  SELECT bucket, kind, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT bucket, kind, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT bucket, kind, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT bucket, kind, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT bucket, kind, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |lgv AS (SELECT bucket, kind, acc - k * 65536 AS lg FROM sq WHERE i = 16),
      |w AS (SELECT q.bucket, q.p_fix, q.q_fix,
      |             CAST((q.p_fix - q.q_fix) * (lp.lg - lq.lg) AS BIGINT)
      |               AS contrib_fix
      |      FROM qn q
      |      JOIN lgv lp ON lp.bucket = q.bucket AND lp.kind = 'p'
      |      JOIN lgv lq ON lq.bucket = q.bucket AND lq.kind = 'q'),
      |t AS (SELECT CAST(sum(contrib_fix) AS BIGINT) AS psi FROM w)
      |SELECT w.bucket, w.p_fix, w.q_fix, w.contrib_fix,
      |       t.psi AS psi_fix,
      |       CAST(t.psi >= 17592186044416 AS INTEGER) AS drift
      |FROM w, t ORDER BY bucket""".stripMargin

  /** q159: time-spine densification ([[graft.ops.TimeSpine.densify]]) —
    * hourly per-type event counts with every gap hour reinstated as an
    * explicit zero row (the corpus leaves 34–53 empty hours per type,
    * so the fill path is genuinely exercised). The spine is generated
    * per key by sequence+explode from a min/max aggregate — no
    * calendar table, no cross join — then one (key, bucket) equi-join.
    * The oracle rebuilds the spine with generate_series.
    */
  def q159Densify(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val hourly = ev.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour"), col("user_id"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("cnt"), countDistinct("user_id").as("users"))
    graft.ops.TimeSpine.densify(hourly, Seq("event_type"), "hour",
        Seq("cnt" -> lit(0L), "users" -> lit(0L)))
      .withColumn("is_gap", (col("cnt") === 0).cast(IntegerType))
      .orderBy("event_type", "hour")
  }

  val q159Sql: String =
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |         count(*)::BIGINT AS cnt,
      |         count(DISTINCT user_id)::BIGINT AS users
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
      |      FROM h GROUP BY 1),
      |sp AS (SELECT event_type, u.hour
      |       FROM b, UNNEST(generate_series(lo, hi)) AS u(hour))
      |SELECT sp.event_type, sp.hour,
      |       coalesce(h.cnt, 0) AS cnt,
      |       coalesce(h.users, 0) AS users,
      |       CAST(coalesce(h.cnt, 0) = 0 AS INTEGER) AS is_gap
      |FROM sp LEFT JOIN h USING (event_type, hour)
      |ORDER BY event_type, hour""".stripMargin

  /** q158: FORWARD as-of join ([[graft.ops.AsOf.joinForward]]) — every
    * click gets the user's NEXT purchase value at-or-after it, the
    * symmetric twin of q72's point-in-time lookup ("what did this
    * session lead to"). DuckDB has no forward ASOF, so the oracle is
    * the arg_min formulation over the qualifying left join — a
    * different algorithm whose row explosion the Spark plan exists to
    * avoid (the tagged union + flipped window frame is still ONE
    * key shuffle).
    */
  def q158AsOfForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("t"))
      .agg(max(col("value")).as("next_purchase_value"))
    AsOf.joinForward(clicks, purchases, Seq("user_id"), "t",
      Seq("next_purchase_value"))
      .select("event_id", "user_id", "t", "next_purchase_value")
      .orderBy("event_id")
  }

  val q158Sql: String =
    """WITH c AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS t, max(value) AS next_purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.t,
      |       arg_min(p.next_purchase_value, p.t) AS next_purchase_value
      |FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.t >= c.t
      |GROUP BY c.event_id, c.user_id, c.t
      |ORDER BY c.event_id""".stripMargin

  /** Streaming-shaped tumbling-window aggregation over the events table
    * (same `window()` API drives Structured Streaming; batch mode here so
    * the oracle can replay it — the readStream variant is spec-tested).
    */
  def q50WindowedEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  val q50Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** q116: windowed approximate-distinct users — the batch twin of
    * [[graft.streaming.Streams.windowedDistinctUsers]], where the KMV
    * sketch is the state-store buffer (O(k) per window on an unbounded
    * stream; `count(distinct)` is not even allowed there). Because the
    * sketch is a pure set-function, streamed == batch EXACTLY
    * (StreamingSpec) and the batch form hash-gates: the oracle replays
    * the user hash, the per-window rank, and the integer estimator.
    * Exact counts ride a SEPARATE aggregation (the q114 lesson: mixing
    * count(distinct) with a TypedImperative agg keys the partial phase
    * on the distinct column).
    */
  def q116StreamDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val ev = Load.events(spark, dir)
    val k = 64
    val sk = ev
      .select(col("ts"), Kmv.hash62(col("user_id").cast("string")).as("__h"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), Kmv.sketch(col("__h"), k).as("__sk"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("n_events"), size(col("__sk")).cast("long").as("sketch_size"),
        Kmv.estimate(col("__sk"), k).as("est_users"))
    val exact = ev.groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct("user_id").as("exact_users"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("exact_users"))
    sk.join(exact, "hour_start")
      .select(col("hour_start"), col("n_events"), col("exact_users"),
        col("sketch_size"), col("est_users"))
      .orderBy("hour_start")
  }

  val q116Sql: String = {
    val h = DedupQueries.h62Sql("CAST(user_id AS VARCHAR)")
    s"""WITH ev AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       |         user_id
       |  FROM events),
       |cnt AS (
       |  SELECT hour_start, count(*)::BIGINT AS n_events,
       |         count(DISTINCT user_id)::BIGINT AS exact_users
       |  FROM ev GROUP BY 1),
       |hh AS (SELECT DISTINCT hour_start, $h AS hv FROM ev),
       |rk AS (SELECT hour_start, hv,
       |         row_number() OVER (PARTITION BY hour_start ORDER BY hv) AS rn
       |       FROM hh),
       |ag AS (SELECT hour_start, count(*)::BIGINT AS nh,
       |         max(CASE WHEN rn = 64 THEN hv END) AS hk
       |       FROM rk GROUP BY 1)
       |SELECT c.hour_start, c.n_events, c.exact_users,
       |       least(a.nh, 64)::BIGINT AS sketch_size,
       |       CASE WHEN a.nh < 64 THEN a.nh
       |            ELSE CAST(least((63::HUGEINT * 4611686018427387904::HUGEINT)
       |                 // greatest(a.hk, 1), 9223372036854775807::HUGEINT)
       |              AS BIGINT) END AS est_users
       |FROM cnt c JOIN ag a USING (hour_start)
       |ORDER BY c.hour_start""".stripMargin
  }

  /** Sessionization: a new session starts after a >30 min gap per user;
    * session ids are per-user cumulative counts (the batch shape of
    * mapGroupsWithState sessionization — the streaming variant is
    * spec-tested).
    */
  def q51Sessionize(spark: SparkSession, dir: String): DataFrame = {
    // integer division on the raw nanos — double division would lose
    // sub-second precision at 1.7e18 ns and could flip a floor boundary
    val ev = Load.events(spark, dir)
      .withColumn("ts_s", expr("ts_ns div 1000000000"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "user_id", "ts_s", "session_id")
      .orderBy("event_id")
  }

  val q51Sql: String =
    """WITH t AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
      |    lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000, event_id) AS prev_ts
      |  FROM events)
      |SELECT event_id, user_id, ts_s,
      |  CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM t ORDER BY event_id""".stripMargin

  /** Funnel/attribution interval join — the BATCH twin of
    * Streams.intervalJoin (stream==batch equality is pinned by
    * StreamingSpec): each view pairs with the same user's purchases
    * within 30 minutes. Times compare as raw nanosecond longs (no
    * timestamp round-trip); the plan is an equi-join on user_id with the
    * range predicate as a post-join filter — the key carries the
    * shuffle, the interval never explodes into a range cross-product.
    */
  def q53FunnelJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.ops.Load.events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_ns").as("view_ns"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("__buyer"), col("ts_ns").as("purchase_ns"))
    views.join(buys,
        col("user_id") === col("__buyer") &&
        col("purchase_ns") >= col("view_ns") &&
        col("purchase_ns") <= col("view_ns") + lit(1800000000000L))
      .select(col("view_id"), col("user_id"), col("purchase_id"),
        expr("(purchase_ns - view_ns) div 1000000").as("delay_ms"))
      .orderBy("view_id", "purchase_id")
  }

  val q53Sql: String =
    """SELECT v.event_id AS view_id, v.user_id, p.event_id AS purchase_id,
      |       (epoch_ns(p.ts) - epoch_ns(v.ts)) // 1000000 AS delay_ms
      |FROM events v JOIN events p ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND epoch_ns(p.ts) >= epoch_ns(v.ts)
      | AND epoch_ns(p.ts) <= epoch_ns(v.ts) + 1800000000000
      |ORDER BY view_id, purchase_id""".stripMargin

  /** Multimodal pipeline with REAL image decoding, now FULLY oracled: a
    * deterministic PNG corpus (one image per doc id, rendered on the
    * executors) → header sniff → every feature as exact fixed-point
    * int64 in ONE decode pass (q110's quantize-then-integer-sum
    * discipline applied to the image path):
    *  - mean_luma_milli = (299·Σr + 587·Σg + 114·Σb) div n_px — the
    *    Rec.601 mean in milli-units, truncating integer division on
    *    both engines;
    *  - sharp_num = n_interior·Σlap² − (Σlap)² — the Laplacian-variance
    *    numerator, exact (the float sharpness is sharp_num/n², a
    *    monotone rescale).
    * Every pixel is closed-form in doc_id, so DuckDB recomputes all of
    * it from id arithmetic alone. The float ImageFeatures surface (and
    * its DCT pHash) stays for users — pinned by q75's planted-duplicate
    * gate and FuzzySpec-style goldens — while this gate hash-checks the
    * decode + feature arithmetic end-to-end. (PNG n_bytes is
    * deflate-dependent, not closed-form, so it lives outside the oracled
    * projection.)
    */
  def q60Multimodal(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticImages(spark, dir)
    val withMeta = Multimodal.withMediaMeta(media, "blob", Multimodal.ImageIoDecoder)
    Multimodal.withFixedImageStats(withMeta, "blob")
      .select(col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("fixed_stats.n_px").as("n_px"),
        expr("(299 * fixed_stats.sum_r + 587 * fixed_stats.sum_g + " +
          "114 * fixed_stats.sum_b) div fixed_stats.n_px").as("mean_luma_milli"),
        col("fixed_stats.n_interior").as("n_interior"),
        (col("fixed_stats.n_interior") * col("fixed_stats.lap_sq") -
          col("fixed_stats.lap_sum") * col("fixed_stats.lap_sum")).as("sharp_num"))
      // sortOnce: an unguarded orderBy on this all-narrow pipeline would
      // run the PNG decode twice (range-partitioner sampling pass)
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  /** Mirrors Multimodal.renderPng pixel formulas: channel sums for the
    * mean, the 4-neighbour milli-luma Laplacian for sharpness (q60b's
    * stencil), combined per doc.
    */
  val q60Sql: String = {
    def lum(x: String, y: String): String =
      s"(299*(($x*7 + doc_id*31) % 256) + 587*(($y*13 + doc_id*17) % 256) + " +
        s"114*((($x+$y)*5 + doc_id*11 + CASE WHEN ($x+$y+doc_id) % 11 < 3 THEN 96 ELSE 0 END) % 256))"
    s"""WITH d AS (
       |  SELECT doc_id, 32 + doc_id % 29 AS w, 24 + doc_id % 23 AS h
       |  FROM documents
       |), plane AS (
       |  SELECT doc_id, max(w) AS w, max(h) AS h,
       |    count(*) AS n_px,
       |    sum(${lum("x", "y")}) AS lum_sum
       |  FROM d,
       |       UNNEST(generate_series(0, w - 1)) AS xs(x),
       |       UNNEST(generate_series(0, h - 1)) AS ys(y)
       |  GROUP BY doc_id
       |), lap AS (
       |  SELECT doc_id,
       |    count(*) AS n_interior,
       |    sum(4*${lum("x", "y")} - ${lum("(x-1)", "y")} - ${lum("(x+1)", "y")}
       |        - ${lum("x", "(y-1)")} - ${lum("x", "(y+1)")}) AS ls,
       |    sum((4*${lum("x", "y")} - ${lum("(x-1)", "y")} - ${lum("(x+1)", "y")}
       |        - ${lum("x", "(y-1)")} - ${lum("x", "(y+1)")})
       |      * (4*${lum("x", "y")} - ${lum("(x-1)", "y")} - ${lum("(x+1)", "y")}
       |        - ${lum("x", "(y-1)")} - ${lum("x", "(y+1)")})) AS lsq
       |  FROM d,
       |       UNNEST(generate_series(1, w - 2)) AS xs(x),
       |       UNNEST(generate_series(1, h - 2)) AS ys(y)
       |  GROUP BY doc_id
       |)
       |SELECT p.doc_id, 'png' AS format,
       |  CAST(p.w AS INTEGER) AS width, CAST(p.h AS INTEGER) AS height,
       |  CAST(p.n_px AS BIGINT) AS n_px,
       |  CAST(p.lum_sum // p.n_px AS BIGINT) AS mean_luma_milli,
       |  CAST(l.n_interior AS BIGINT) AS n_interior,
       |  CAST(l.n_interior * l.lsq - l.ls * l.ls AS BIGINT) AS sharp_num
       |FROM plane p JOIN lap l ON p.doc_id = l.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** q60b — the image path's SPATIAL gate: integer milli-luma Laplacian
    * sums over the decoded interior. q66's channel sums are
    * orientation-invariant (a transposed decode passes them); the
    * 4-neighbour Laplacian is not — row-major indexing, x/y orientation
    * and interior bounds all change it. Exact int64 arithmetic on both
    * sides, and every pixel (and hence every shifted neighbour) is
    * closed-form in doc_id, so DuckDB recomputes the sums from id
    * arithmetic alone. This pins the pixel addressing that q60's float
    * features (mean luma, Laplacian-variance sharpness) share, without
    * needing a float-equality oracle.
    */
  def q60bLumaLaplacian(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticImages(spark, dir)
    Multimodal.withLumaLaplacian(media, "blob")
      .select(col("doc_id"),
        col("luma_lap.n_interior").as("n_interior"),
        col("luma_lap.lap_sum").as("lap_sum"),
        col("luma_lap.lap_sq").as("lap_sq"))
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  /** Mirrors Multimodal.renderPng's per-pixel formulas; lum(x,y) inlined
    * five times with shifted coordinates for the 4-neighbour stencil.
    */
  val q60bSql: String = {
    def lum(x: String, y: String): String =
      s"(299*(($x*7 + doc_id*31) % 256) + 587*(($y*13 + doc_id*17) % 256) + " +
        s"114*((($x+$y)*5 + doc_id*11 + CASE WHEN ($x+$y+doc_id) % 11 < 3 THEN 96 ELSE 0 END) % 256))"
    s"""WITH d AS (
       |  SELECT doc_id, 32 + doc_id % 29 AS w, 24 + doc_id % 23 AS h
       |  FROM documents
       |), px AS (
       |  SELECT doc_id,
       |    4*${lum("x", "y")} - ${lum("(x-1)", "y")} - ${lum("(x+1)", "y")}
       |      - ${lum("x", "(y-1)")} - ${lum("x", "(y+1)")} AS lap
       |  FROM d,
       |       UNNEST(generate_series(1, w - 2)) AS xs(x),
       |       UNNEST(generate_series(1, h - 2)) AS ys(y)
       |)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_interior,
       |  CAST(sum(lap) AS BIGINT) AS lap_sum,
       |  CAST(sum(lap * lap) AS BIGINT) AS lap_sq
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Multimodal AUDIO pipeline with REAL decoding: a deterministic
    * square-wave WAV corpus (one 8 kHz mono file per doc id, rendered on
    * the executors) is container-parsed back through the JDK's
    * javax.sound.sampled codec and profiled — duration, RMS, peak,
    * zero-crossing rate. The construction makes every feature
    * closed-form AND IEEE-exact (constant-magnitude samples: RMS = peak
    * = amplitude, transitions = runs−1), so unlike q60 this decode path
    * has a FULL arithmetic oracle — DuckDB recomputes the expected
    * features from doc_id alone, and a single mis-parsed byte anywhere
    * in the WAV round-trip breaks the hash match.
    */
  def q61Audio(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val audio = Multimodal.syntheticAudio(spark, dir)
    Multimodal.withAudioFeatures(audio, "blob", Multimodal.JavaSoundCodec)
      .select(col("doc_id"),
        col("audio_features.sample_rate").as("sample_rate"),
        col("audio_features.channels").as("channels"),
        col("audio_features.duration_ms").as("duration_ms"),
        col("audio_features.rms").as("rms"),
        col("audio_features.peak").as("peak"),
        col("audio_features.zcr").as("zcr"))
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  /** Closed-form per-id expectations; mirrors Multimodal.renderWav. */
  val q61Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |         1 + doc_id % 7 AS hp,
      |         (1 + doc_id % 7) * (200 + doc_id % 11) AS n,
      |         1000 + (doc_id * 37) % 20000 AS a
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(8000 AS INTEGER) AS sample_rate,
      |       CAST(1 AS INTEGER) AS channels,
      |       (n * 1000) // 8000 AS duration_ms,
      |       CAST(a AS DOUBLE) / 32768.0 AS rms,
      |       CAST(a AS DOUBLE) / 32768.0 AS peak,
      |       CAST(n // hp - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS zcr
      |FROM p ORDER BY doc_id""".stripMargin

  /** Image-decode EXACTNESS gate: the per-doc PNG corpus is pixel-wise
    * closed-form in the doc id (Multimodal.renderPng), so integer RGB
    * plane sums computed by the REAL decode path (PNG container → JDK
    * ImageIO → pixel reads) are recomputable by DuckDB from doc_id
    * arithmetic alone — the q61-audio trick for the image seam. A single
    * mis-parsed byte anywhere in the encode → decode round-trip breaks
    * the hash match. q60 carries the float features (luma/sharpness/
    * pHash, no SQL mirror); this carries the decode PROOF.
    */
  def q66ImagePixels(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticImages(spark, dir)
    Multimodal.withPixelStats(media, "blob", Multimodal.ImageIoDecoder)
      .select(col("doc_id"),
        col("pixel_stats.n_px").as("n_px"),
        col("pixel_stats.sum_r").as("sum_r"),
        col("pixel_stats.sum_g").as("sum_g"),
        col("pixel_stats.sum_b").as("sum_b"))
      .transform(Par.sortOnce(_, col("doc_id")))
  }

  /** Mirrors Multimodal.renderPng's per-pixel formulas. */
  val q66Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         32 + doc_id % 29 AS w,
      |         24 + doc_id % 23 AS h
      |  FROM documents
      |), px AS (
      |  SELECT doc_id, w, h, xs.x AS x, ys.y AS y
      |  FROM d,
      |       UNNEST(generate_series(0, w - 1)) AS xs(x),
      |       UNNEST(generate_series(0, h - 1)) AS ys(y)
      |)
      |SELECT doc_id,
      |  CAST(max(w) * max(h) AS BIGINT) AS n_px,
      |  CAST(sum((x * 7 + doc_id * 31) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((y * 13 + doc_id * 17) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum(((x + y) * 5 + doc_id * 11 +
      |            CASE WHEN (x + y + doc_id) % 11 < 3 THEN 96 ELSE 0 END) % 256)
      |       AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q92: OHLC-style time-series downsampling — per (hour, event_type):
    * open/close (value of the first/last event, tie-broken by the unique
    * event_id via min_by/max_by on an exact integer key), high/low, and
    * the event count. The classic resampling pass for telemetry and
    * market data; one shuffle on the bucket key, all partial-aggregable.
    * Values are COPIED (never float-summed), so the oracle's
    * arg_min/arg_max reconstruction is hash-exact.
    */
  def q92Ohlc(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.events(spark, dir)
    // deterministic total order inside a bucket: (nanos, event_id) as a
    // struct — lexicographic struct comparison on both engines; a scalar
    // ts_ns*k+id key would overflow int64
    val key = struct(col("ts_ns"), col("event_id"))
    e.groupBy(
        (unix_timestamp(date_trunc("hour", col("ts")))).as("hour_start"),
        col("event_type"))
      .agg(
        min_by(col("value"), key).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"))
      .orderBy("hour_start", "event_type")
  }

  val q92Sql: String =
    """WITH e AS (
      |  SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_start,
      |         event_type, value,
      |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
      |           ORDER BY epoch_ns(ts), event_id) AS rn_a,
      |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
      |           ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT hour_start, event_type,
      |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
      |       max(value) AS high,
      |       min(value) AS low,
      |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
      |       count(*)::BIGINT AS n
      |FROM e GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin

  /** q82: nested-JSON round trip — serialize orders into a nested JSON
    * document (struct-in-struct + array), parse it back with an explicit
    * schema (`from_json`), and flatten (dotted field access + explode).
    * The semi-structured ingestion path every log/API source needs; the
    * oracle restates the flattened relation from the ORIGINAL columns,
    * so schema-directed parsing (including the double round trip through
    * JSON text) is hash-gated.
    */
  def q82JsonFlatten(spark: SparkSession, dir: String): DataFrame = {
    // Sort EARLY (Par.sortEarly): a trailing orderBy would range-sample
    // its child — re-running the whole (CodegenFallback, serial at small
    // scale) to_json→from_json kernel a second time — and the prior fix
    // for that, sortOnce's persist, materialized the full flattened
    // relation to cache. Range-partitioning the INPUT by o_orderkey
    // instead costs one sampling pass over the bare scan; the JSON round
    // trip then runs ONCE, post-shuffle (parallel across shuffle
    // partitions, not pinned to the scan's file splits), and
    // sortWithinPartitions completes the same global (o_orderkey, tag_idx)
    // order (tag_idx is generated within a key's row). No persist.
    val o = Load.table(spark, dir, "orders")
    val schema = new StructType()
      .add("cust", LongType)
      .add("meta", new StructType().add("s", StringType).add("p", DoubleType))
      .add("tags", ArrayType(StringType))
    Par.sortEarly(o, Seq(col("o_orderkey")),
      Seq(col("o_orderkey"), col("tag_idx"))) { oo =>
      val js = oo.select(col("o_orderkey"), to_json(struct(
        col("o_custkey").as("cust"),
        struct(col("o_orderstatus").as("s"), col("o_totalprice").as("p")).as("meta"),
        array(col("o_orderpriority"), col("o_orderstatus")).as("tags"))).as("js"))
      js.select(col("o_orderkey"), from_json(col("js"), schema).as("d"))
        .select(col("o_orderkey"), col("d.cust").as("cust"),
          col("d.meta.s").as("status"), col("d.meta.p").as("price"),
          posexplode(col("d.tags")).as(Seq("tag_idx", "tag")))
    }
  }

  val q82Sql: String =
    """SELECT o_orderkey, o_custkey AS cust, o_orderstatus AS status,
      |       o_totalprice AS price, t.i - 1 AS tag_idx,
      |       CASE t.i WHEN 1 THEN o_orderpriority ELSE o_orderstatus END AS tag
      |FROM orders, UNNEST(generate_series(1, 2)) t(i)
      |ORDER BY o_orderkey, tag_idx""".stripMargin

  /** q137: streaming trending event types
    * ([[graft.streaming.Streams.windowedTrending]]) — per-hour top-3
    * keys with the Misra–Gries summary as the aggregation state, q116's
    * heavy-hitters sibling: O(capacity) per open window where exact
    * counting buffers the window's whole key traffic. Capacity 16
    * exceeds the stream's distinct event types, so the MG exact regime
    * holds and the oracle gates against plain exact counts with the
    * summary's (cnt desc, key asc) tie order. StreamingSpec drives the
    * identical aggregation through readStream and asserts stream ==
    * batch (the sketch buffer is a pure set-function of the window).
    */
  def q137StreamTrending(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    graft.streaming.Streams.windowedTrending(ev, "event_type")
      .orderBy("hour_start", "rank")
  }

  val q137Sql: String =
    """WITH ev AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
      |         event_type
      |  FROM events),
      |c AS (SELECT hour_start, event_type, count(*)::BIGINT AS cnt
      |      FROM ev GROUP BY 1, 2),
      |n AS (SELECT hour_start, CAST(sum(cnt) AS BIGINT) AS n_events
      |      FROM c GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (PARTITION BY hour_start
      |               ORDER BY cnt DESC, event_type) AS rank FROM c)
      |SELECT r.hour_start, n.n_events, CAST(r.rank AS BIGINT) AS rank,
      |       r.event_type, r.cnt
      |FROM r JOIN n USING (hour_start) WHERE r.rank <= 3
      |ORDER BY hour_start, rank""".stripMargin

  /** q138: event-rate anomaly detection — the monitoring query over the
    * stream's hourly counts: an hour is a SPIKE when its count exceeds
    * `num/den` × the trailing-24h mean, decided as the cross-multiplied
    * integer compare `cnt·den·w > num·trailing_sum` (w = trailing hours
    * actually present, so the first day self-scales); hours with no
    * trailing history never flag. One count aggregation + one bounded
    * 24-row window over the HOURLY relation (720 rows at sf0.01), never
    * over raw events — the aggregate-then-window shape that survives
    * any event volume.
    */
  def q138RateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Load.events(spark, dir)
    val hourly = ev
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("cnt"))
    val trail = Window.orderBy("hour_start").rowsBetween(-24, -1)
    hourly
      .withColumn("trail_sum", coalesce(sum("cnt").over(trail), lit(0L)))
      .withColumn("trail_n", count(lit(1)).over(trail).cast(LongType))
      .withColumn("spike",
        (col("trail_n") > 0 &&
          col("cnt") * lit(2L) * col("trail_n") > lit(3L) * col("trail_sum"))
          .cast("int")) // threshold 3/2 × trailing mean
      .orderBy("hour_start")
  }

  val q138Sql: String =
    """WITH h AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
      |         count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT hour_start, cnt,
      |    CAST(coalesce(sum(cnt) OVER (ORDER BY hour_start
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS trail_sum,
      |    CAST(count(*) OVER (ORDER BY hour_start
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_n
      |  FROM h)
      |SELECT hour_start, cnt, trail_sum, trail_n,
      |       CAST(trail_n > 0 AND cnt * 2 * trail_n > 3 * trail_sum
      |         AS INTEGER) AS spike
      |FROM t ORDER BY hour_start""".stripMargin

  /** q139: retention cohorts — the classic event-analytics rollup: users
    * cohorted by FIRST-seen day, retention(k) = how many of the cohort
    * return k days later. Two aggregations (first-seen per user, then
    * (cohort, day-offset) distinct users) over user-keyed exchanges —
    * distinct-user state never crosses day boundaries unaggregated. All
    * integers (epoch-day arithmetic), exact distinct counts.
    */
  def q139RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(first, Seq("user_id"))
      .withColumn("offset_days", col("day") - col("cohort_day"))
      .groupBy("cohort_day", "offset_days")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  val q139Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events),
      |f AS (SELECT user_id, CAST(min(day) AS BIGINT) AS cohort_day
      |      FROM ev GROUP BY user_id)
      |SELECT f.cohort_day, ev.day - f.cohort_day AS offset_days,
      |       count(DISTINCT ev.user_id)::BIGINT AS n_users
      |FROM ev JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q136: corrupt-tolerant JSONL ingestion — the PERMISSIVE-mode
    * semi-structured ingest path q82's happy-path flatten doesn't
    * exercise: every 7th record is truncated mid-object, and the
    * pipeline must recover every valid record's fields while flagging
    * (not dropping, not failing on) the corrupt ones — Spark's
    * `from_json` null-out semantics. The JSON text is built by explicit
    * concatenation in BOTH engines (engine `to_json` field order/format
    * would differ), then each side parses with its OWN parser — Spark's
    * Jackson vs DuckDB's yyjson — so the gate checks real parser
    * agreement on recovery and corruption, not string plumbing.
    */
  def q136JsonPermissive(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    val js = concat(lit("{\"k\":"), col("o_orderkey"),
      lit(",\"s\":\""), col("o_orderstatus"),
      lit("\",\"p\":\""), col("o_orderpriority"), lit("\"}"))
    val corrupted = when(col("o_orderkey") % 7 === 0,
      expr(s"substring(${"__js"}, 1, length(__js) - 5)")).otherwise(col("__js"))
    val parsed = o.withColumn("__js", js)
      .withColumn("__js", corrupted)
      .withColumn("__p",
        from_json(col("__js"), StructType(Seq(
          StructField("k", LongType), StructField("s", StringType),
          StructField("p", StringType)))))
    parsed.select(col("o_orderkey").as("id"),
        col("__p.k").isNotNull.cast("int").as("ok"),
        col("__p.k").as("k"), col("__p.s").as("s"), col("__p.p").as("p"))
      .orderBy("id")
  }

  val q136Sql: String =
    """WITH j AS (
      |  SELECT o_orderkey AS id,
      |         '{"k":' || o_orderkey || ',"s":"' || o_orderstatus ||
      |           '","p":"' || o_orderpriority || '"}' AS js0
      |  FROM orders),
      |c AS (
      |  SELECT id, CASE WHEN id % 7 = 0
      |                  THEN substring(js0, 1, length(js0) - 5)
      |                  ELSE js0 END AS js
      |  FROM j)
      |SELECT id, CAST(json_valid(js) AS INTEGER) AS ok,
      |       CASE WHEN json_valid(js)
      |            THEN CAST(json_extract_string(js, '$.k') AS BIGINT) END AS k,
      |       CASE WHEN json_valid(js)
      |            THEN json_extract_string(js, '$.s') END AS s,
      |       CASE WHEN json_valid(js)
      |            THEN json_extract_string(js, '$.p') END AS p
      |FROM c ORDER BY id""".stripMargin

  /** q84: snapshot diff between two corpus versions — v2 deletes every
    * 13th doc, rewrites the text of every 7th surviving doc, and adds
    * copies under shifted ids for every 11th. The full-outer hash
    * compare must classify all four ways; the oracle re-derives the
    * same classification from the construction arithmetic.
    */
  def q84SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Load.table(spark, dir, "documents").select("doc_id", "text")
    val surviving = v1.filter(col("doc_id") % 13 =!= 0)
    val v2 = surviving
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 11 === 0).select(
        (col("doc_id") + 100000).as("doc_id"), col("text")))
    SnapshotDiff.diff(v1, v2, Seq("doc_id"), Seq("text"))
      .orderBy("doc_id")
  }

  val q84Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id >= 100000 THEN 'added'
      |       WHEN doc_id % 13 = 0 THEN 'removed'
      |       WHEN doc_id % 7 = 0 THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM (
      |  SELECT doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 FROM documents WHERE doc_id % 11 = 0)
      |ORDER BY doc_id""".stripMargin

  /** q85: URL canonicalization — dirty URLs are BUILT from order
    * columns (upper-case scheme/host, default port, tracking params in
    * scrambled order, fragment), run through the parse_url-based
    * canonicalizer, and the oracle states the expected canonical form
    * closed-form from the same columns — so every rule (port strip,
    * tracking drop, param sort, fragment drop, case fold) is
    * independently hash-gated.
    */
  def q85UrlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    val dirty = o.select(col("o_orderkey"), concat(
      lit("HTTP://Example"), col("o_custkey") % 5, lit(".ORG"),
      when(col("o_orderkey") % 3 === 0, lit(":80")).otherwise(lit("")),
      lit("/p/"), col("o_orderkey"),
      lit("?utm_source=feed&b="), col("o_orderstatus"),
      lit("&a="), col("o_custkey") % 97,
      lit("#sec"), col("o_orderkey") % 7).as("url"))
    // Sort FIRST, on the cheap scan-side relation, then apply the parse
    // kernel: a bare final orderBy would make the range partitioner's
    // sampling pass re-execute the whole narrow pipeline (kernel
    // included) a second time — sorting early leaves only the concat
    // under the sampler and runs the kernel exactly once, post-shuffle,
    // with no persist needed (projection preserves sort order).
    dirty.orderBy("o_orderkey")
      .select(col("o_orderkey"),
        UrlOps.canonicalize(col("url")).as("canonical_url"),
        UrlOps.host(col("url")).as("host"))
  }

  val q85Sql: String =
    """SELECT o_orderkey,
      |  'http://example' || (o_custkey % 5) || '.org/p/' || o_orderkey ||
      |    '?a=' || (o_custkey % 97) || '&b=' || o_orderstatus AS canonical_url,
      |  'example' || (o_custkey % 5) || '.org' AS host
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q78: the stream-static dedup probe's batch twin. History = every
    * third document, persisted as a fingerprint index; the arriving
    * batch = the remaining docs plus REPLAYED copies of the history docs
    * under new ids. `Streams.dedupAgainstIndex` (left-outer + IS NULL —
    * stream-static left-anti emulation) must pass exactly the genuinely
    * new documents and drop every replay. StreamingSpec drives the same
    * operator through readStream and asserts stream == batch.
    */
  def q78StreamDedupTwin(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val history = d.filter(col("doc_id") % 3 === 0)
    val arriving = d.filter(col("doc_id") % 3 =!= 0)
      .unionByName(history.select(
        (col("doc_id") + 100000).as("doc_id"), col("text")))
    val index = history.select(TextAnalysis.fingerprint(col("text")).as("fp"))
    graft.streaming.Streams.dedupAgainstIndex(
      arriving.withColumn("fp", TextAnalysis.fingerprint(col("text"))),
      index, Seq("fp"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  val q78Sql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(regexp_replace(lower(text),
      |             '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g')) AS fp
      |  FROM documents),
      |arr AS (
      |  SELECT doc_id, fp FROM fp WHERE doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, fp FROM fp WHERE doc_id % 3 = 0)
      |SELECT doc_id, fp FROM arr
      |WHERE fp NOT IN (SELECT fp FROM fp WHERE doc_id % 3 = 0)
      |ORDER BY doc_id""".stripMargin

  /** Generation-0 build for q130 (prepare hook, untimed — the
    * probe-a-maintained-artifact rule of q156/q165b/q43b/q236): the
    * history LSH signature index is the artifact a streaming ingest
    * MAINTAINS, so its build + parquet write run outside the bench
    * clock; the timed query is batch-probe + exact-Jaccard verify only.
    * Built WITH the bucket cap (buildSignatureIndex's build-time prune),
    * so the probe passes `indexBucketsPrefiltered = true` — value-
    * identical to the probe-time histogram by the cap's own contract.
    * Self-sufficient: the query calls this first, no-op once built. */
  private[graft] def buildNearDupHistIndex(spark: SparkSession,
      dir: String): String = ScratchDirs.built(dir, "ndidx") { base =>
    val history = Load.table(spark, dir, "documents")
      .select("doc_id", "text").filter(col("doc_id") % 3 === 0)
    graft.dedup.Dedup.buildSignatureIndex(history, "text", "doc_id",
        maxBucketSize = Some(100))
      .write.mode("overwrite").parquet(s"$base/index")
  }

  /** q130: the streaming NEAR-dup filter's batch twin
    * ([[graft.streaming.Streams.nearDupFilterBatch]]) — one tier above
    * q78's exact-fingerprint probe: arriving docs ≥ 0.8 n-gram-Jaccard
    * similar to ANY history doc drop, where "arriving" includes
    * EDITED replays (suffix-appended history docs under new ids) that
    * the exact tier is blind to. Candidates come from the persisted LSH
    * signature index; the verify decision is the cross-multiplied
    * integer compare, so the brute-force oracle (all arriving×history
    * shingle-set intersections, no LSH) must agree on every survivor —
    * gating candidate recall AND verify exactness. StreamingSpec drives
    * the same kernel through foreachBatch micro-batches and asserts
    * stream == batch.
    */
  def q130StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = buildNearDupHistIndex(spark, dir) // no-op when the untimed prepare ran
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val history = d.filter(col("doc_id") % 3 === 0)
    val arriving = d.filter(col("doc_id") % 3 =!= 0)
      .unionByName(history.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" rev2 marker tail")).as("text")))
    val index = Load.parquet(spark, s"$base/index")
    graft.streaming.Streams.nearDupFilterBatch(arriving, index, history,
        "text", "doc_id", indexBucketsPrefiltered = true)
      .select("doc_id")
      .orderBy("doc_id")
  }

  val q130Sql: String =
    s"""WITH u130 AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS id, text || ' rev2 marker tail' AS text
       |  FROM documents WHERE doc_id % 3 = 0),
       |${DedupQueries.bitsetCtes("u130")},
       |dropped AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT a.id, bit_count(a.bv & h.bv)::BIGINT AS inter,
       |           a.sz AS la, h.sz AS lb
       |    FROM bs a JOIN bs h
       |      ON ((a.id < 100000 AND a.id % 3 <> 0) OR a.id >= 100000)
       |     AND h.id < 100000 AND h.id % 3 = 0
       |     AND 5 * least(a.sz, h.sz) >= 4 * greatest(a.sz, h.sz)) ip
       |  WHERE inter * 5 >= 4 * (la + lb - inter))
       |SELECT id AS doc_id FROM u130
       |WHERE ((id < 100000 AND id % 3 <> 0) OR id >= 100000)
       |  AND id NOT IN (SELECT id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  /** q75: image near-dup through the two-tier pHash path. Corpus =
    * synthetic PNGs ∪ byte-identical copies at id+1e5; identical bytes
    * share a pHash trivially, distinct gradient images never collide
    * AND survive the exact-pixel-checksum verify tier, so the output is
    * exactly the planted pairs — which the oracle states closed-form
    * from doc_id arithmetic. A pair missed by blocking, or a collision
    * surviving verification, breaks the hash match.
    */
  def q75PhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{ImageDedup, Multimodal}
    // persist the RENDERED base once (round 14): the synthetic PNG render
    // is an opaque mapPartitions, so every consumer branch re-executed it
    // — 2 union sides × 2 tiers (pHash pass + pixel-verify pass) = 4
    // renders of the corpus. The cache pins the bench fixture's render,
    // not an operator input: at 100 TB `media` is a parquet scan and the
    // two-tier re-read stays the documented design (re-scan, not cache).
    // Bench/Verify clear the cache per query.
    val base = Multimodal.syntheticImages(spark, dir).persist()
    val dup = base.select((col("doc_id") + 100000).as("doc_id"), col("blob"))
    val media = base.unionByName(dup)
    ImageDedup.phashDupPairs(media, "doc_id", "blob",
      Multimodal.ImageIoDecoder)
      .orderBy("id_a", "id_b")
  }

  val q75Sql: String =
    """SELECT doc_id AS id_a, doc_id + 100000 AS id_b
      |FROM documents ORDER BY id_a""".stripMargin

  /** q105: single-pass column profiling ([[graft.ops.Profile]]) over the
    * orders table — null counts, exact distincts, min/max rendered to
    * strings, all columns in one scan (one Expand for the multi-column
    * COUNT DISTINCT). The double column is deliberately excluded from
    * the PROFILED set: double→string rendering differs across engines,
    * and the oracle's job is to pin the counting semantics.
    */
  def q105Profile(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    // executable 100 TB swap (spark.graft.distinctTier=sketch): KMV
    // n_distinct in the same single-agg pass, exact below k=1024
    // (ProfileTierSpec); oracle runs the default exact tier
    graft.ops.Profile.profile(o,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate"),
      sketchDistinct = graft.ops.Profile.sketchTier(spark))
      .orderBy("column")
  }

  val q105Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_str,
         |  CAST(max($c) AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** q135: profile-drift monitoring ([[graft.ops.Profile.drift]]) — the
    * data-quality gate BETWEEN corpus snapshots, q105's cross-run
    * sibling (q84 diffs rows, this diffs distributions): even/odd order
    * halves play two crawls, per-column null-rate and distinct-ratio
    * shifts decide as cross-multiplied integers (never a float rate),
    * min/max range shifts as string compares. The split plants real
    * drift: o_orderkey's ranges differ by construction, and the
    * thresholds are tight enough that genuinely-similar columns flag 0
    * — both branches gate. Oracle recomputes each side's profile and
    * all three decisions from scratch.
    */
  def q135ProfileDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    graft.ops.Profile.drift(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 =!= 0),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate"))
      .orderBy("column")
  }

  val q135Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    def side(pred: String, tag: String) = cols.map { c =>
      s"""SELECT '$c' AS "column", count(*)::BIGINT AS rows_$tag,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$tag,
         |  count(DISTINCT $c)::BIGINT AS distinct_$tag,
         |  CAST(min($c) AS VARCHAR) AS min_$tag,
         |  CAST(max($c) AS VARCHAR) AS max_$tag
         |FROM orders WHERE $pred""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")
    s"""WITH pa AS (
       |${side("o_orderkey % 2 = 0", "a")}),
       |pb AS (
       |${side("o_orderkey % 2 <> 0", "b")})
       |SELECT pa."column", rows_a, nulls_a, distinct_a, min_a, max_a,
       |       rows_b, nulls_b, distinct_b, min_b, max_b,
       |  CAST(abs(nulls_a * rows_b - nulls_b * rows_a) * 20
       |       > rows_a * rows_b AS INTEGER) AS null_drift,
       |  CAST(abs(distinct_a * rows_b - distinct_b * rows_a) * 1000
       |       > 200 * rows_a * rows_b AS INTEGER) AS distinct_drift,
       |  CAST(min_a IS DISTINCT FROM min_b
       |       OR max_a IS DISTINCT FROM max_b AS INTEGER) AS range_shift
       |FROM pa JOIN pb USING ("column")
       |ORDER BY pa."column"""".stripMargin
  }

  /** q106: Unicode NFC normalization ([[graft.functions.NormalizeKernel]])
    * — fold decomposed accents back to composed codepoints before any
    * hashing/dedup/tokenization. The corpus is ASCII, so the query
    * plants decomposed text (every 'a' → 'a' + combining acute U+0301)
    * and both engines normalize it: Java's Normalizer and DuckDB's
    * utf8proc must produce identical bytes, and the codepoint-count
    * delta (len_pre − len_nfc = number of recomposed pairs) is gated
    * too.
    */
  def q106NfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val decorated = regexp_replace(col("text"), "a", "a\u0301")
    d.select(col("doc_id"),
        decorated.as("__pre"),
        graft.functions.NormalizeExprs.unicodeNormalize(decorated, "NFC")
          .as("text_nfc"))
      .select(col("doc_id"), col("text_nfc"),
        length(col("__pre")).cast(LongType).as("len_pre"),
        length(col("text_nfc")).cast(LongType).as("len_nfc"))
      .orderBy("doc_id")
  }

  val q106Sql: String =
    """WITH pre AS (
      |  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS p
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(p) AS text_nfc,
      |       length(p)::BIGINT AS len_pre,
      |       length(nfc_normalize(p))::BIGINT AS len_nfc
      |FROM pre ORDER BY doc_id""".stripMargin

  /** q107: bucketized interval join ([[graft.ops.RangeJoin]]) — clicks
    * matched to ±30-minute windows around same-user purchases. Spark
    * would plan the raw range predicate as a nested-loop join; the
    * operator turns it into an equi-join on (user, 10-min bucket) with
    * interval replication ≤ 7, plus a key-partitioned fallback for
    * over-long intervals (none here; spec covers that path). Oracle is
    * DuckDB's native range join (IEJoin) over the same windows.
    */
  def q107RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Load.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("iv_id"), col("user_id"),
        (unix_micros(col("ts")) - 1800000000L).as("w_start"),
        (unix_micros(col("ts")) + 1800000000L).as("w_end"))
    RangeJoin.overlapJoin(clicks, windows, "t", "w_start", "w_end",
      Seq("user_id"), bucketWidth = 600000000L)
      .select("event_id", "iv_id", "user_id", "t")
      .transform(Par.sortOnce(_, col("event_id"), col("iv_id")))
  }

  val q107Sql: String =
    """WITH c AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT event_id AS iv_id, user_id,
      |         epoch_us(ts) - 1800000000 AS w_start,
      |         epoch_us(ts) + 1800000000 AS w_end
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id, p.iv_id, c.user_id, c.t
      |FROM c JOIN p ON c.user_id = p.user_id
      |              AND c.t BETWEEN p.w_start AND p.w_end
      |ORDER BY c.event_id, p.iv_id""".stripMargin

  /** q152: incremental profile maintenance
    * ([[graft.ops.Profile.sketchProfile]]/[[graft.ops.Profile
    * .mergeProfiles]]) — the mergeable-artifact form of q105's column
    * profile: two disjoint halves of `orders` profile separately
    * (additive counts, canonical-string extrema, KMV distinct
    * sketches), the artifacts merge, and the query PROVES the merge
    * law in-band: `merge_exact` compares the merged sketch array
    * against a direct full-table sketch element-for-element (set-
    * function state equality, the q108/q43b cross-run discipline) —
    * at 100 TB the profile updates from each ingest delta without
    * rescanning history. The oracle recomputes every stat and the KMV
    * estimate from scratch (rank-k replay of the 62-bit hash) and
    * pins merge_exact to 1.
    */
  def q152ProfileMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Load.table(spark, dir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    val k = 1024
    val pa = Profile.sketchProfile(o.filter(col("o_orderkey") % 2 === 0), cols, k)
    val pb = Profile.sketchProfile(o.filter(col("o_orderkey") % 2 =!= 0), cols, k)
    val merged = Profile.mergeProfiles(pa.unionByName(pb), k)
    val direct = Profile.sketchProfile(o, cols, k)
      .select(col("column"), col("kmv").as("kmv_direct"))
    merged.join(direct, "column")
      .select(col("column"), col("n_rows"), col("n_nulls"),
        col("min_str"), col("max_str"),
        graft.functions.Kmv.estimate(col("kmv"), k).as("est_distinct"),
        (col("kmv") === col("kmv_direct")).cast(IntegerType).as("merge_exact"))
      .orderBy("column")
  }

  val q152Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    val ctes = cols.map { c =>
      s"""${c}v AS (SELECT DISTINCT CAST($c AS VARCHAR) AS sv
         |  FROM orders WHERE $c IS NOT NULL),
         |${c}h AS (SELECT DISTINCT ${DedupQueries.h62Sql("sv")} AS h FROM ${c}v),
         |${c}rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ${c}h),
         |${c}a AS (SELECT count(*)::BIGINT AS nh,
         |  max(CASE WHEN rn = 1024 THEN h END) AS hk FROM ${c}rk),
         |${c}s AS (SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  min(CAST($c AS VARCHAR)) AS min_str,
         |  max(CAST($c AS VARCHAR)) AS max_str FROM orders)""".stripMargin
    }.mkString(",\n")
    val selects = cols.map { c =>
      s"""SELECT s."column", s.n_rows, s.n_nulls, s.min_str, s.max_str,
         |  CASE WHEN a.nh < 1024 THEN a.nh
         |       ELSE CAST(least((1023::HUGEINT * 4611686018427387904::HUGEINT)
         |         // greatest(a.hk, 1), 9223372036854775807::HUGEINT) AS BIGINT)
         |  END AS est_distinct,
         |  1 AS merge_exact
         |FROM ${c}s s, ${c}a a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes
       |$selects
       |ORDER BY "column"""".stripMargin
  }

  /** q227: join-key skew audit — the pre-flight check before any big
    * keyed join/aggregation at scale, and the measurement behind q44's
    * hot-key salting: for the fact table's join key (l_suppkey — the
    * key the sf1 generator deliberately funnels 90% of rows into), the
    * top-10 heaviest keys with their exact row share (per-mille), the
    * multiple of the mean key load (per-cent), whether the key starves
    * a 32-partition shuffle (count·32 > total), and the ceil salt
    * factor that would re-balance it. All integer arithmetic on ONE
    * map-side-combined key count; the report itself is a top-10
    * TakeOrdered — the corpus is touched once and nothing wider than
    * |keys| ever shuffles.
    */
  def q227SkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem").select("l_suppkey")
    val counts = li.groupBy(col("l_suppkey").cast("long").as("suppkey"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    val tot = counts.agg(sum("n_rows").cast("long").as("__total"),
      count(lit(1)).cast("long").as("__n_keys"))
    counts.orderBy(col("n_rows").desc, col("suppkey")).limit(10)
      .crossJoin(broadcast(tot))
      .select(col("suppkey"), col("n_rows"),
        expr("(n_rows * 1000) div __total").as("share_per_mille"),
        expr("(n_rows * __n_keys * 100) div __total").as("mean_mult_pct"),
        (col("n_rows") * 32 > col("__total")).cast("int").as("hot"),
        greatest(lit(1L),
          expr("(n_rows * 32 + __total - 1) div __total")).as("salt_factor"))
      .orderBy(col("n_rows").desc, col("suppkey"))
  }

  val q227Sql: String =
    """WITH c AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
      |         count(*)::BIGINT AS n_rows
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(n_rows)::BIGINT AS total,
      |             count(*)::BIGINT AS n_keys FROM c),
      |top AS (
      |  SELECT suppkey, n_rows FROM c
      |  ORDER BY n_rows DESC, suppkey LIMIT 10)
      |SELECT suppkey, n_rows,
      |       (n_rows * 1000) // total AS share_per_mille,
      |       (n_rows * n_keys * 100) // total AS mean_mult_pct,
      |       CAST(n_rows * 32 > total AS INTEGER) AS hot,
      |       greatest(1, (n_rows * 32 + total - 1) // total) AS salt_factor
      |FROM top, t
      |ORDER BY n_rows DESC, suppkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_skew_audit" -> (q227SkewAudit _),
    "q152_profile_merge" -> (q152ProfileMerge _),
    "q237_distinct_tier_envelope" -> (q237DistinctTierEnvelope _),
    "q238_quantile_tier_envelope" -> (q238QuantileTierEnvelope _),
    "q105_profile" -> (q105Profile _),
    "q135_profile_drift" -> (q135ProfileDrift _),
    "q136_json_permissive" -> (q136JsonPermissive _),
    "q137_stream_trending" -> (q137StreamTrending _),
    "q138_rate_anomaly" -> (q138RateAnomaly _),
    "q139_retention_cohorts" -> (q139RetentionCohorts _),
    "q107_range_join" -> (q107RangeJoin _),
    "q106_nfc_normalize" -> (q106NfcNormalize _),
    "q11_set_type" -> q11SetType,
    "q12_year_expand" -> q12YearExpand,
    "q13_explode_dedup" -> q13ExplodeDedup,
    "q14_links" -> q14Links,
    "q15_recode" -> q15Recode,
    "q16_scd_merge" -> q16ScdMerge,
    "q167_scd2_history" -> (q167Scd2History _),
    "q168_cusum_shift" -> (q168CusumShift _),
    "q171_robust_outliers" -> (q171RobustOutliers _),
    "q172_woe_iv" -> (q172WoeIv _),
    "q173_path_mining" -> (q173PathMining _),
    "q174_assoc_rules" -> (q174AssocRules _),
    "q175_funnel" -> (q175Funnel _),
    "q178_ks_drift" -> (q178KsDrift _),
    "q180_rfm_segments" -> (q180RfmSegments _),
    "q181_ols_trend" -> (q181OlsTrend _),
    "q182_decayed_score" -> (q182DecayedScore _),
    "q183_winsor_mean" -> (q183WinsorMean _),
    "q184_benford" -> (q184Benford _),
    "q185_streaks" -> (q185Streaks _),
    "q186_funnel_outer" -> (q186FunnelOuter _),
    "q188_quantile_norm" -> (q188QuantileNorm _),
    "q192_rendezvous" -> (q192Rendezvous _),
    "q193_twap" -> (q193Twap _),
    "q194_session_rules" -> (q194SessionRules _),
    "q195_percentile_rank" -> (q195PercentileRank _),
    "q196_inventory" -> (q196Inventory _),
    "q198_compaction_plan" -> (q198CompactionPlan _),
    "q199_next_event" -> (q199NextEvent _),
    "q17_fuzzy_translate" -> q17FuzzyTranslate,
    "q17b_exact_translate" -> q17bExactTranslate,
    "q18_nested_series" -> q18NestedSeries,
    "q18b_series_explode" -> q18bSeriesExplode,
    "q19_validate_units" -> q19ValidateUnits,
    "q50_windowed_events" -> q50WindowedEvents,
    "q116_stream_distinct" -> (q116StreamDistinct _),
    "q51_sessionize" -> q51Sessionize,
    "q53_funnel_join" -> q53FunnelJoin,
    "q60_multimodal" -> q60Multimodal,
    "q60b_luma_laplacian" -> (q60bLumaLaplacian _),
    "q61_audio" -> q61Audio,
    "q66_image_pixels" -> q66ImagePixels,
    "q72_asof_join" -> q72AsOfJoin,
    "q158_asof_forward" -> (q158AsOfForward _),
    "q159_time_spine" -> (q159Densify _),
    "q160_psi_drift" -> (q160PsiDrift _),
    "q161_integrity_audit" -> (q161IntegrityAudit _),
    "q162_transitions" -> (q162Transitions _),
    "q75_phash_dedup" -> q75PhashDedup,
    "q78_stream_dedup" -> q78StreamDedupTwin,
    "q130_stream_neardup" -> (q130StreamNearDup _),
    "q82_json_flatten" -> q82JsonFlatten,
    "q84_snapshot_diff" -> q84SnapshotDiff,
    "q92_ohlc" -> q92Ohlc,
    "q85_url_canonical" -> q85UrlCanonical)

  val oracles: Map[String, String] = Map(
    "q227_skew_audit" -> q227Sql,
    "q152_profile_merge" -> q152Sql,
    "q237_distinct_tier_envelope" -> q237Sql,
    "q238_quantile_tier_envelope" -> q238Sql,
    "q105_profile" -> q105Sql,
    "q135_profile_drift" -> q135Sql,
    "q136_json_permissive" -> q136Sql,
    "q137_stream_trending" -> q137Sql,
    "q138_rate_anomaly" -> q138Sql,
    "q139_retention_cohorts" -> q139Sql,
    "q107_range_join" -> q107Sql,
    "q106_nfc_normalize" -> q106Sql,
    "q11_set_type" -> q11Sql,
    "q12_year_expand" -> q12Sql,
    "q13_explode_dedup" -> q13Sql,
    "q14_links" -> q14Sql,
    "q15_recode" -> q15Sql,
    "q16_scd_merge" -> q16Sql,
    "q167_scd2_history" -> q167Sql,
    "q168_cusum_shift" -> q168Sql,
    "q171_robust_outliers" -> q171Sql,
    "q172_woe_iv" -> q172Sql,
    "q173_path_mining" -> q173Sql,
    "q174_assoc_rules" -> q174Sql,
    "q175_funnel" -> q175Sql,
    "q178_ks_drift" -> q178Sql,
    "q180_rfm_segments" -> q180Sql,
    "q181_ols_trend" -> q181Sql,
    "q182_decayed_score" -> q182Sql,
    "q183_winsor_mean" -> q183Sql,
    "q184_benford" -> q184Sql,
    "q185_streaks" -> q185Sql,
    "q186_funnel_outer" -> q186Sql,
    "q188_quantile_norm" -> q188Sql,
    "q192_rendezvous" -> q192Sql,
    "q193_twap" -> q193Sql,
    "q194_session_rules" -> q194Sql,
    "q195_percentile_rank" -> q195Sql,
    "q196_inventory" -> q196Sql,
    "q198_compaction_plan" -> q198Sql,
    "q199_next_event" -> q199Sql,
    "q17_fuzzy_translate" -> q17Sql,
    "q17b_exact_translate" -> q17bSql,
    "q18_nested_series" -> q18Sql,
    "q18b_series_explode" -> q18bSql,
    "q19_validate_units" -> q19Sql,
    "q50_windowed_events" -> q50Sql,
    "q116_stream_distinct" -> q116Sql,
    "q51_sessionize" -> q51Sql,
    "q53_funnel_join" -> q53Sql,
    "q60_multimodal" -> q60Sql,
    "q60b_luma_laplacian" -> q60bSql,
    "q61_audio" -> q61Sql,
    "q66_image_pixels" -> q66Sql,
    "q72_asof_join" -> q72Sql,
    "q158_asof_forward" -> q158Sql,
    "q159_time_spine" -> q159Sql,
    "q160_psi_drift" -> q160Sql,
    "q161_integrity_audit" -> q161Sql,
    "q162_transitions" -> q162Sql,
    "q75_phash_dedup" -> q75Sql,
    "q78_stream_dedup" -> q78Sql,
    "q130_stream_neardup" -> q130Sql,
    "q82_json_flatten" -> q82Sql,
    "q84_snapshot_diff" -> q84Sql,
    "q92_ohlc" -> q92Sql,
    "q85_url_canonical" -> q85Sql)
}
