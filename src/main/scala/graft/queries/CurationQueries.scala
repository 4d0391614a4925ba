package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query
import graft.ScratchDirs
import graft.graphs.ConnectedComponents
import graft.ops.Load
import graft.text.{Decontaminate, Scrub, Sequences, Splits, TextAnalysis}

/** Corpus-curation queries: near-dup cluster formation (connected
  * components), benchmark decontamination, and per-source cap sampling —
  * the keep/drop machinery that sits between pair-finding (DedupQueries)
  * and the final training mix.
  */
object CurationQueries {

  /** Connected components over a deterministic multi-hop graph: nation
    * "star" edges (customer → its nation hub) unioned with "chain" edges
    * from orders (custkey → custkey+1) that bridge some stars. 570
    * nodes, 40 components, largest 30 and several hops deep at sf0.01 —
    * exercises transitive merging, not just clique labeling. The oracle
    * is an independent DuckDB recursive-CTE transitive closure.
    */
  def q47Components(spark: SparkSession, dir: String): DataFrame = {
    val customer = Load.table(spark, dir, "customer")
    val orders = Load.table(spark, dir, "orders")
    val stars = customer.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast(LongType).as("a"),
        (col("c_nationkey").cast(LongType) + 10000000L).as("b"))
    val chains = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_custkey").cast(LongType).as("a"),
        (col("o_custkey").cast(LongType) + 1L).as("b"))
    ConnectedComponents.components(stars.unionByName(chains))
      .orderBy("id")
  }

  val q47Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS a, CAST(10000000 + c_nationkey AS BIGINT) AS b
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT CAST(o_custkey AS BIGINT), CAST(o_custkey + 1 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 500 = 0
      |), ue AS (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e
      |), reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a
      |)
      |SELECT s AS id, min(t) AS component FROM reach
      |GROUP BY s ORDER BY id""".stripMargin

  /** The dedupClusters GLUE on top of q47's graph: pairs + corpus →
    * (id, cluster_id, is_canonical). The corpus is customer ids ONLY, so
    * every cluster's component label (often a 10000000+ nation-hub node
    * or a non-%3 chain endpoint outside the corpus) exercises the
    * min-PRESENT-IN-CORPUS canonical election — the stale-pair case — on
    * every single cluster, not as an edge case.
    */
  def q55DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val customer = Load.table(spark, dir, "customer")
    val orders = Load.table(spark, dir, "orders")
    val stars = customer.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast(LongType).as("id_a"),
        (col("c_nationkey").cast(LongType) + 10000000L).as("id_b"))
    val chains = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_custkey").cast(LongType).as("id_a"),
        (col("o_custkey").cast(LongType) + 1L).as("id_b"))
    val corpus = customer.select(col("c_custkey").cast(LongType).as("id"))
    ConnectedComponents.dedupClusters(stars.unionByName(chains), corpus)
      .select(col("id"), col("cluster_id"),
        col("is_canonical").cast(IntegerType).as("is_canonical"))
      .orderBy("id")
  }

  val q55Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS a, CAST(10000000 + c_nationkey AS BIGINT) AS b
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT CAST(o_custkey AS BIGINT), CAST(o_custkey + 1 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 500 = 0
      |), ue AS (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e
      |), reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a
      |), labels AS (
      |  SELECT s AS id, min(t) AS component FROM reach GROUP BY s
      |), corpus AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
      |), labeled AS (
      |  SELECT c.id, coalesce(l.component, c.id) AS cluster_id
      |  FROM corpus c LEFT JOIN labels l USING (id)
      |), canon AS (
      |  SELECT cluster_id, min(id) AS m FROM labeled GROUP BY cluster_id
      |)
      |SELECT labeled.id, labeled.cluster_id,
      |       CAST(labeled.id = canon.m AS INTEGER) AS is_canonical
      |FROM labeled JOIN canon USING (cluster_id)
      |ORDER BY id""".stripMargin

  /** q154: golden-record survivorship ([[graft.ops.Survivorship]]) —
    * the MERGE step after q55's cluster formation: each duplicate
    * cluster collapses to one composed record, every field taken from
    * the highest-(ver, id) member holding it non-null, with per-field
    * donor provenance. Clusters are custkey div 4 blocks; nulls are
    * planted per field on different residues (name %3, address %7,
    * phone %5; mktsegment is non-null ONLY on %13, so most clusters
    * exercise the all-null → null-golden path), so donors genuinely
    * differ across fields within one cluster — the reason
    * survivorship beats whole-record election. The oracle rebuilds
    * every pick via DuckDB struct-max (same lexicographic (ver, id)
    * comparison), bit-for-bit including the donor ids.
    */
  def q154GoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val c = Load.table(spark, dir, "customer")
    val recs = c.select(
      col("c_custkey").cast(LongType).as("id"),
      (col("c_custkey") % 11).cast(LongType).as("ver"),
      expr("CAST(c_custkey AS BIGINT) div 4").as("cluster_id"),
      when(col("c_custkey") % 3 =!= 0, col("c_name")).as("name"),
      when(col("c_custkey") % 7 =!= 0,
        col("c_nationkey").cast(StringType)).as("nat"),
      when(col("c_custkey") % 5 =!= 0,
        concat(lit("v"), (col("c_custkey") % 97).cast(StringType)))
        .as("code"),
      when(col("c_custkey") % 13 === 0, col("c_mktsegment")).as("seg"))
    graft.ops.Survivorship.golden(recs, "cluster_id", "id",
        Seq("ver"), Seq("name", "nat", "code", "seg"))
      .orderBy("cluster_id")
  }

  val q154Sql: String = {
    def pick(f: String, part: String): String =
      s"struct_extract(max(CASE WHEN $f IS NOT NULL THEN " +
        s"struct_pack(ver := ver, id := id, v := $f) END), '$part')"
    val cols = Seq("name", "nat", "code", "seg").map(f =>
      s"${pick(f, "v")} AS $f, ${pick(f, "id")} AS ${f}_src").mkString(",\n  ")
    s"""WITH recs AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS id,
       |         CAST(c_custkey % 11 AS BIGINT) AS ver,
       |         CAST(c_custkey // 4 AS BIGINT) AS cluster_id,
       |         CASE WHEN c_custkey % 3 <> 0 THEN c_name END AS name,
       |         CASE WHEN c_custkey % 7 <> 0
       |              THEN CAST(c_nationkey AS VARCHAR) END AS nat,
       |         CASE WHEN c_custkey % 5 <> 0
       |              THEN 'v' || CAST(c_custkey % 97 AS VARCHAR) END AS code,
       |         CASE WHEN c_custkey % 13 = 0 THEN c_mktsegment END AS seg
       |  FROM customer)
       |SELECT cluster_id, count(*)::BIGINT AS n_members,
       |  $cols
       |FROM recs GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  }

  /** q155: incremental connected components
    * ([[graft.graphs.ConnectedComponents.incremental]]) — cluster
    * maintenance from ingest deltas: generation-0 labels (the persisted
    * artifact of q47's star edges) union the delta's chain edges and
    * re-label WITHOUT touching history's pair set. The chains are
    * exactly the edges that MERGE existing star components (bridging
    * custkey→custkey+1 across nation hubs), so the delta exercises
    * component fusion, not just growth. The in-band `inc_exact` flag
    * compares every incremental label against a from-scratch run on
    * the full edge set (the q152 merge_exact discipline); the oracle
    * recomputes the full closure and pins the flag to 1 — if the
    * incremental path ever diverged, both the labels and the flag
    * would hash-mismatch.
    */
  def q155IncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    val customer = Load.table(spark, dir, "customer")
    val orders = Load.table(spark, dir, "orders")
    val stars = customer.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast(LongType).as("a"),
        (col("c_nationkey").cast(LongType) + 10000000L).as("b"))
    val chains = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_custkey").cast(LongType).as("a"),
        (col("o_custkey").cast(LongType) + 1L).as("b"))
    val labels0 = ConnectedComponents.components(stars)
    val inc = ConnectedComponents.incremental(labels0, chains)
    val direct = ConnectedComponents.components(stars.unionByName(chains))
      .select(col("id"), col("component").as("__direct"))
    inc.join(direct, "id")
      .select(col("id"), col("component"),
        (col("component") === col("__direct")).cast(IntegerType)
          .as("inc_exact"))
      .orderBy("id")
  }

  val q155Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS a,
      |         CAST(10000000 + c_nationkey AS BIGINT) AS b
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT CAST(o_custkey AS BIGINT), CAST(o_custkey + 1 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 500 = 0
      |), ue AS (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e
      |), reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a
      |)
      |SELECT s AS id, min(t) AS component, 1 AS inc_exact FROM reach
      |GROUP BY s ORDER BY id""".stripMargin

  /** Benchmark decontamination: docs with doc_id % 23 = 0 play the
    * held-out benchmark; every other doc is flagged with its count of
    * distinct leaked word 4-grams (4, not the 13 of web-scale practice,
    * because the synthetic vocabulary is ~30 words — the parameter is
    * the point, the mechanics are identical).
    */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val bench = d.filter(col("doc_id") % 23 === 0)
    val training = d.filter(col("doc_id") % 23 =!= 0)
    Decontaminate.overlap(training, bench, "text", "doc_id", n = 4)
      .orderBy("doc_id")
  }

  val q48Sql: String =
    """WITH grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+3], ' ') AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      x -> x <> '') AS w
      |        FROM documents),
      |       UNNEST(generate_series(1, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 4
      |)
      |SELECT t.doc_id, count(DISTINCT t.gram) AS n_hit_grams
      |FROM grams t
      |JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0) b USING (gram)
      |WHERE t.doc_id % 23 <> 0
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Per-source cap: keep ≤ 10 docs per source, chosen by the stable
    * md5(doc_id) draw — the domain-capping step of a training mix. Runs
    * through the TopKPerKey bounded-heap operator; the oracle is the
    * window row_number formulation it replaces.
    */
  def q49DomainCap(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select("doc_id", "source", "n_chars")
    Scrub.capPerKey(d, "source", "doc_id", cap = 10)
      .select("source", "doc_id", "n_chars")
      .orderBy("source", "doc_id")
  }

  val q49Sql: String =
    """SELECT source, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 10
      |ORDER BY source, doc_id""".stripMargin

  /** Vocabulary statistics: global token counts + document frequency,
    * top 100 by count — the corpus pass behind tokenizer/vocab builds
    * and stopword derivation. Classic wordcount shape: explode → partial
    * (map-side) aggregation → final agg; the top-100 runs as
    * TakeOrderedAndProject (per-partition heads merged on the driver),
    * never a global sort.
    */
  def q52Vocab(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    d.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("total_count"),
        count_distinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("total_count").desc, col("token"))
      .limit(100)
  }

  val q52Sql: String =
    """SELECT token, count(*) AS total_count,
      |       count(DISTINCT doc_id) AS doc_freq
      |FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |      FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY total_count DESC, token LIMIT 100""".stripMargin

  /** The END-TO-END training-mix pipeline in one query — every curation
    * stage this library ships, composed and held to hash-equality
    * against an independent SQL reconstruction:
    *
    *   1. quality gate (q21's score ≥ 0.75) — narrow filter;
    *   2. benchmark decontamination (drop any doc sharing a word 4-gram
    *      with the held-out %23 slice) — broadcast anti-join;
    *   3. near-exact dedup, keep-first by normalized fingerprint — one
    *      shuffle on the 16-byte digest;
    *   4. per-source cap (12) via the TopKPerKey bounded heap — one
    *      shuffle on source;
    *   5. deterministic 80% hash sample — narrow filter.
    *
    * Three shuffles total for the whole mix; everything else rides
    * narrow filters and broadcast joins. This is the shape a 100 TB
    * curation run wants: corpus-sized data crosses an exchange only for
    * dedup and capping, both on short keys.
    */
  def q54TrainingMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{Decontaminate, TextAnalysis}
    val d = Load.table(spark, dir, "documents")
    val bench = d.filter(col("doc_id") % 23 === 0)
    val training = d.filter(col("doc_id") % 23 =!= 0)
    // 1. quality gate
    val gated = training
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.75)
    // 2. decontaminate (anti-join against the flagged doc ids)
    val hits = Decontaminate.overlap(gated, bench, "text", "doc_id", n = 4)
      .select(col("doc_id").as("__hit_id"))
    val clean = gated.join(hits, col("doc_id") === col("__hit_id"), "left_anti")
    // 3. keep-first fingerprint dedup (groupBy+semi-join, co-keyed — no
    //    giant-partition window)
    val withFp = clean.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
    val keepers = withFp.groupBy("__fp").agg(min(col("doc_id")).as("__keep_id"))
      .select(col("__fp"), col("__keep_id"))
    val deduped = withFp.join(keepers,
        withFp("__fp") === keepers("__fp") &&
          col("doc_id") === col("__keep_id"), "left_semi")
      // the text column's job is done — don't drag document bodies
      // through the cap shuffle
      .drop("__fp", "text")
    // 4. per-source cap, 5. stable sample
    val capped = graft.text.Scrub.capPerKey(deduped, "source", "doc_id", cap = 12)
    graft.text.Scrub.sampleByHash(capped, "doc_id", 0.8)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("quality"))
      .orderBy("doc_id")
  }

  val q54Sql: String = {
    val sw = graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source, lang, n_chars, text,
       |    len(text) AS n,
       |    len(string_split_regex(trim(text), '\\s+')) AS ntok,
       |    (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS swr
       |  FROM documents WHERE doc_id % 23 <> 0),
       |gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, source, lang, n_chars, text,
       |      (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25
       |      + (CASE WHEN ntok > 0 AND n::DOUBLE/ntok >= 3 AND n::DOUBLE/ntok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25
       |      + alpha * 0.25 + least(swr * 4, 1.0) * 0.25 AS quality
       |    FROM t)
       |  WHERE quality >= 0.75),
       |grams AS (
       |  SELECT doc_id, array_to_string(w[i:i+3], ' ') AS gram
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
       |        FROM documents),
       |       UNNEST(generate_series(1, len(w) - 3)) AS t(i)
       |  WHERE len(w) >= 4),
       |hits AS (
       |  SELECT DISTINCT g.doc_id FROM grams g
       |  JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0) b USING (gram)
       |  WHERE g.doc_id % 23 <> 0),
       |clean AS (
       |  SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
       |deduped AS (
       |  SELECT * FROM clean
       |  QUALIFY doc_id = min(doc_id) OVER (
       |    PARTITION BY md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g')))),
       |capped AS (
       |  SELECT * FROM deduped
       |  QUALIFY row_number() OVER (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 12)
       |SELECT doc_id, source, lang, n_chars, quality FROM capped
       |WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS BIGINT)
       |  < CAST(trunc(0.8 * 4294967296.0) AS BIGINT)
       |ORDER BY doc_id""".stripMargin
  }
  // trunc, not a bare CAST: DuckDB's double→BIGINT cast ROUNDS
  // (0.8·2³² → …837) while Scala's .toLong in Scrub.sampleByHash
  // truncates (…836) — a draw landing exactly on the boundary would
  // split the engines

  /** Cross-document boilerplate removal. The synthetic documents are
    * single-line, so the query first assembles the multi-line "pages" a
    * web crawl would deliver — per-source newsletter header and
    * subscribe footer, per-language tag, global copyright stamp around
    * the real text (the construction is part of the query; the oracle
    * mirrors it) — then strips every line recurring in ≥ 5 distinct
    * docs. Sources have 25 docs each and langs 60+, so all chrome lines
    * are hot and the content line survives unless the corpus genuinely
    * repeats it.
    */
  def q56Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val pages = d.withColumn("page", concat_ws("\n",
      concat(lit("== "), col("source"), lit(" newsletter ==")),
      col("text"),
      concat(lit("subscribe at "), col("source"), lit(".example.com")),
      concat(lit("lang: "), col("lang")),
      lit("copyright 2026 example press")))
    graft.text.Boilerplate.strip(pages, "page", "doc_id", minDocs = 5)
      .orderBy("doc_id")
  }

  val q56Sql: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |         '== ' || source || ' newsletter ==' || chr(10) || text || chr(10)
      |         || 'subscribe at ' || source || '.example.com' || chr(10)
      |         || 'lang: ' || lang || chr(10)
      |         || 'copyright 2026 example press' AS page
      |  FROM documents),
      |docs AS (
      |  SELECT doc_id,
      |         list_filter(list_transform(string_split(page, chr(10)),
      |                                    x -> trim(x)), x -> x <> '') AS ls
      |  FROM pages),
      |lines AS (
      |  SELECT doc_id, i AS pos, ls[i] AS line
      |  FROM docs, UNNEST(generate_series(1, len(ls))) AS t(i)),
      |hot AS (
      |  SELECT line FROM lines GROUP BY line
      |  HAVING count(DISTINCT doc_id) >= 5),
      |kept AS (
      |  SELECT doc_id, pos, line FROM lines
      |  WHERE line NOT IN (SELECT line FROM hot)),
      |agg AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       coalesce(a.n_kept, 0) AS n_kept,
      |       len(dd.ls) - coalesce(a.n_kept, 0) AS n_removed
      |FROM documents d
      |JOIN docs dd USING (doc_id)
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q48's decontamination through the BLOOM tier-1
    * ([[graft.text.Decontaminate.overlapBloom]]) at word 5-grams: the
    * narrow `might_contain` filter replaces the broadcast semi-join
    * when the benchmark gram-hash set itself is too big to ship. The
    * exact tier 2 makes the output independent of the filter's false
    * positives, so the oracle is plain SQL.
    */
  def q57BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val bench = d.filter(col("doc_id") % 23 === 0)
    val training = d.filter(col("doc_id") % 23 =!= 0)
    Decontaminate.overlapBloom(training, bench, "text", "doc_id",
        n = 5, fpp = 0.05)
      .orderBy("doc_id")
  }

  val q57Sql: String =
    """WITH grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      x -> x <> '') AS w
      |        FROM documents),
      |       UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      |  WHERE len(w) >= 5
      |)
      |SELECT t.doc_id, count(DISTINCT t.gram) AS n_hit_grams
      |FROM grams t
      |JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0) b USING (gram)
      |WHERE t.doc_id % 23 <> 0
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Per-language TOKEN-budget draw ([[graft.text.Scrub.takeByBudget]]):
    * keep documents per lang, in the stable md5 draw order, until 4 000
    * tokens are reached (the crossing doc is kept). At sf0.01 the de/es/fr
    * strata sit under the budget (keep-all path) while en/zh are cut —
    * both paths of the bucket-histogram plan execute. The oracle is the
    * full running-sum window the histogram plan provably equals.
    */
  def q58TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .withColumn("n_tokens",
        when(length(trim(col("text"))) === 0, lit(0L))
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")))
      .select("lang", "doc_id", "n_tokens")
    graft.text.Scrub.takeByBudget(d, "lang", "doc_id", "n_tokens", 4000L)
      .orderBy("lang", "doc_id")
  }

  val q58Sql: String =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |         CASE WHEN len(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, n_tokens,
      |         coalesce(sum(n_tokens) OVER (PARTITION BY lang
      |           ORDER BY draw, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM t)
      |SELECT lang, doc_id, n_tokens FROM r WHERE prior < 4000
      |ORDER BY lang, doc_id""".stripMargin

  /** CLUSTER-AWARE train/val/test split ([[graft.text.Splits.byUnit]]):
    * the q55 near-dup graph's cluster ids are the split unit, so a doc
    * and its near-duplicates can never straddle splits — the leakage a
    * per-doc hash split has. 80/10/10 by md5 of the cluster id; the
    * oracle recomputes the clusters by recursive-CTE closure and the
    * split by the same md5 bucket arithmetic.
    */
  def q63ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val customer = Load.table(spark, dir, "customer")
    val orders = Load.table(spark, dir, "orders")
    val stars = customer.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast(LongType).as("id_a"),
        (col("c_nationkey").cast(LongType) + 10000000L).as("id_b"))
    val chains = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_custkey").cast(LongType).as("id_a"),
        (col("o_custkey").cast(LongType) + 1L).as("id_b"))
    val corpus = customer.select(col("c_custkey").cast(LongType).as("id"))
    val clustered =
      ConnectedComponents.dedupClusters(stars.unionByName(chains), corpus)
    Splits.byUnit(clustered, "cluster_id",
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .select(col("id"), col("cluster_id"), col("split"))
      .orderBy("id")
  }

  /** q97: fixed-point integer PageRank over a closed-form link graph —
    * the authority prior a web-curation pipeline weights documents by.
    * Every doc emits three deterministic outlinks (affine maps of its id
    * mod N), so both engines construct the identical multigraph, and the
    * all-integer iteration (floor contributions, 85/100 damping) lets
    * DuckDB replay all three rounds to hash equality — summation-order
    * float drift is designed out.
    */
  def q97PageRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.PageRank
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val edges = docs.select(col("id").as("src"),
        explode(array(
          (col("id") * 7 + 13) % n,
          (col("id") * 31 + 7) % n,
          (col("id") * 13 + 101) % n)).as("dst"))
    PageRank.fixedPoint(edges, docs, iterations = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy("doc_id")
  }

  /** q141: exact triangle counting ([[graft.graphs.Triangles]]) over
    * q97's closed-form link multigraph — the local-clustering signal
    * (link-farm neighborhoods are triangle-dense). Node ordering makes
    * each triangle appear exactly once in the two-join plan (no 6-way
    * overcount, no dedup pass); zero-triangle nodes report 0 via the
    * node left join. The oracle rebuilds the canonical edge set and
    * replays the identical ordered joins.
    */
  def q141Triangles(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.Triangles
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val base = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    // the 3-out multigraph is triangle-free at these sizes; plant a
    // closed triple every 20 ids so the count gates real structure
    val closers = docs.filter(col("id") % 20 === 0 && col("id") + 2 < n)
      .select(col("id"), explode(array(
        struct(col("id").as("src"), (col("id") + 1).as("dst")),
        struct((col("id") + 1).as("src"), (col("id") + 2).as("dst")),
        struct(col("id").as("src"), (col("id") + 2).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val edges = base.unionByName(closers)
    val counts = Triangles.perNode(Triangles.canonical(edges, "src", "dst"))
    docs.join(counts, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("doc_id")
  }

  val q141Sql: String =
    """WITH nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |edges0 AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, id + 1 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt
      |  UNION ALL SELECT id + 1, id + 2 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt
      |  UNION ALL SELECT id, id + 2 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt),
      |e AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM edges0 WHERE src <> dst),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
      |pern AS (
      |  SELECT id, count(*)::BIGINT AS n_triangles
      |  FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri)
      |  GROUP BY id)
      |SELECT n.id AS doc_id, coalesce(p.n_triangles, 0) AS n_triangles
      |FROM nodes n LEFT JOIN pern p USING (id)
      |ORDER BY doc_id""".stripMargin

  /** q187: personalized PageRank ([[graft.graphs.PageRank.personalized]])
    * over q97's closed-form multigraph — authority RELATIVE TO a seed
    * set (doc_id < 5): restart mass goes to the seeds (scale·|V| div
    * |S| each, so total restart mass matches q97's uniform variant),
    * non-seeds start at 0 and earn rank only through link distance
    * from the seeds. Same integer discipline and per-round shape as
    * q97; the oracle replays all three seeded rounds.
    */
  def q187PersonalizedPr(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.PageRank
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val edges = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    PageRank.personalized(edges, docs, docs.filter(col("id") < 5),
        iterations = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy("doc_id")
  }

  val q187Sql: String =
    """WITH nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |edges AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      |ns AS (SELECT count(*) AS k FROM nodes WHERE id < 5),
      |b AS (SELECT nodes.id,
      |             CASE WHEN nodes.id < 5
      |                  THEN ((1048576 * 15) // 100) * cnt // k
      |                  ELSE 0 END AS base
      |      FROM nodes, nn, ns),
      |r0 AS (SELECT id, base AS r FROM b),
      |s1 AS (SELECT e.dst, sum(r0.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r0 ON r0.id = e.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT b.id, CAST(b.base + 85 * coalesce(s1.s, 0) // 100
      |                         AS BIGINT) AS r
      |       FROM b LEFT JOIN s1 ON s1.dst = b.id),
      |s2 AS (SELECT e.dst, sum(r1.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r1 ON r1.id = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT b.id, CAST(b.base + 85 * coalesce(s2.s, 0) // 100
      |                         AS BIGINT) AS r
      |       FROM b LEFT JOIN s2 ON s2.dst = b.id),
      |s3 AS (SELECT e.dst, sum(r2.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r2 ON r2.id = e.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT b.id, CAST(b.base + 85 * coalesce(s3.s, 0) // 100
      |                         AS BIGINT) AS r
      |       FROM b LEFT JOIN s3 ON s3.dst = b.id)
      |SELECT id AS doc_id, r AS rank FROM r3 ORDER BY doc_id""".stripMargin

  /** q176: multi-source BFS hop distance ([[graft.graphs.Bfs]]) over
    * q97's closed-form multigraph, symmetrized — the crawl-depth /
    * trust-propagation distance completing the graph tier: seeds are
    * doc_id < 10, three rounds of synchronous frontier expansion, hop
    * = min distance BY CONSTRUCTION (earlier rounds settle first), the
    * 7 nodes outside the 3-hop ball report NULL. The oracle replays it
    * as a recursive-CTE walk bounded at hop < 3 with min(hop) per node
    * — a genuinely different algorithm arriving at the same relation.
    */
  def q176BfsHops(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.Bfs
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val base = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    val sym = base.unionByName(
      base.select(col("dst").as("src"), col("src").as("dst")))
    Bfs.hops(sym, docs, "id", docs.filter(col("id") < 10), maxHops = 3)
      .select(col("id").as("doc_id"), col("hop"))
      .orderBy("doc_id")
  }

  val q176Sql: String =
    """WITH RECURSIVE nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |e0 AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |walk(id, hop) AS (
      |  SELECT id, 0 FROM nodes WHERE id < 10
      |  UNION
      |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.id
      |  WHERE w.hop < 3),
      |d AS (SELECT id, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY 1)
      |SELECT n.id AS doc_id, d.hop
      |FROM nodes n LEFT JOIN d USING (id)
      |ORDER BY doc_id""".stripMargin

  /** q179: k-core decomposition ([[graft.graphs.KCore.membership]])
    * at k = 4 over a sparse 2-out closed-form graph with a PLANTED
    * 10-clique: the bulk (degree ~4) peels away over ~8 synchronous
    * rounds while the clique (internal degree 9) survives intact —
    * exactly the dense-community/spam-ring read k-core exists for.
    * The oracle unrolls 12 peel rounds as nested CTEs (≥ convergence
    * at every tested scale; extra rounds are no-ops on the fixpoint,
    * which is unique) and must land on the identical membership AND
    * in-core degrees.
    */
  def q179KCore(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.KCore
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val base = docs.select(col("id").as("src"),
      explode(array((col("id") * 7 + 13) % n, (col("id") * 31 + 7) % n)).as("dst"))
    val ten = docs.filter(col("id") < 10)
    val clique = ten.select(col("id").as("src"))
      .crossJoin(ten.select(col("id").as("dst")))
      .filter(col("src") < col("dst"))
    KCore.membership(base.unionByName(clique), docs, "id", k = 4)
      .select(col("id").as("doc_id"), col("in_core"), col("core_degree"))
      .orderBy("doc_id")
  }

  val q179Sql: String = {
    val rounds = 12
    val sb = new StringBuilder
    sb ++= """WITH nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |raw AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT a.id, b.id FROM nodes a JOIN nodes b
      |            ON a.id < b.id WHERE a.id < 10 AND b.id < 10),
      |g0 AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM raw WHERE src <> dst),
      |""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s"""k$r AS MATERIALIZED (
  SELECT id FROM (SELECT a AS id FROM g${r - 1}
                  UNION ALL SELECT b FROM g${r - 1}) z
  GROUP BY id HAVING count(*) >= 4),
g$r AS MATERIALIZED (
  SELECT g.a, g.b FROM g${r - 1} g
  JOIN k$r x ON g.a = x.id JOIN k$r y ON g.b = y.id),
"""
    }
    sb ++= s"""core AS (
  SELECT id, count(*)::BIGINT AS core_degree
  FROM (SELECT a AS id FROM g$rounds UNION ALL SELECT b FROM g$rounds) z
  GROUP BY id HAVING count(*) >= 4)
SELECT n.id AS doc_id,
       CASE WHEN c.id IS NULL THEN 0 ELSE 1 END AS in_core,
       coalesce(c.core_degree, 0) AS core_degree
FROM nodes n LEFT JOIN core c USING (id)
ORDER BY doc_id"""
    sb.toString
  }

  /** q166: neighborhood link prediction ([[graft.graphs.LinkPredict]])
    * over q141's graph (3-out multigraph + planted triples) — the
    * missing-edge scorer next to the existing structure (q47/q155),
    * authority (q97), clustering (q141), and community (q142) legs:
    * common-neighbor counts plus fixed-point Adamic–Adar, whose
    * 1/ln(deg) discount runs through the square-and-shift log so both
    * engines floor identically. The oracle rebuilds the canonical edge
    * set, replays the wedge join, the 16-step log CTE per intermediate
    * node, and the not-an-edge anti-join.
    */
  def q166LinkPredict(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.{LinkPredict, Triangles}
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val base = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    val closers = docs.filter(col("id") % 20 === 0 && col("id") + 2 < n)
      .select(col("id"), explode(array(
        struct(col("id").as("src"), (col("id") + 1).as("dst")),
        struct((col("id") + 1).as("src"), (col("id") + 2).as("dst")),
        struct(col("id").as("src"), (col("id") + 2).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    LinkPredict.scores(
        Triangles.canonical(base.unionByName(closers), "src", "dst"))
      .orderBy("a", "b")
  }

  val q166Sql: String =
    """WITH RECURSIVE nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |edges0 AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, id + 1 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt
      |  UNION ALL SELECT id + 1, id + 2 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt
      |  UNION ALL SELECT id, id + 2 FROM nodes, nn
      |            WHERE id % 20 = 0 AND id + 2 < cnt),
      |e AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM edges0 WHERE src <> dst),
      |adj AS (SELECT a AS z, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |degs AS (SELECT z, count(*)::BIGINT AS deg FROM adj
      |         GROUP BY z HAVING count(*) >= 2),
      |dnrm AS (
      |  SELECT z, 1073741824 // deg AS m, 0::BIGINT AS k FROM degs
      |  UNION ALL
      |  SELECT z, m * 2, k + 1 FROM dnrm WHERE m < 1073741824),
      |dsq AS (
      |  SELECT z, k, m, 0 AS i, 0::BIGINT AS acc
      |  FROM dnrm WHERE m >= 1073741824
      |  UNION ALL
      |  SELECT z, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT z, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM dsq WHERE i < 16) s),
      |ctr AS (
      |  SELECT z, 4294967296 // (((k * 65536 - acc) * 45426) // 65536)
      |           AS contrib
      |  FROM dsq WHERE i = 16),
      |wedge AS (
      |  SELECT l.v AS a, r.v AS b, c.contrib
      |  FROM adj l JOIN adj r USING (z) JOIN ctr c USING (z)
      |  WHERE l.v < r.v),
      |sc AS (
      |  SELECT a, b, count(*)::BIGINT AS cn,
      |         CAST(sum(contrib) AS BIGINT) AS aa_fix
      |  FROM wedge GROUP BY a, b)
      |SELECT sc.a, sc.b, sc.cn, sc.aa_fix
      |FROM sc LEFT JOIN e ON sc.a = e.a AND sc.b = e.b
      |WHERE e.a IS NULL
      |ORDER BY sc.a, sc.b""".stripMargin

  /** q142: deterministic label propagation ([[graft.graphs.LabelProp]])
    * — three synchronous majority rounds over q97's link graph from
    * id%5 seed labels: the community/label-spreading primitive whose
    * per-round (neighbor-vote, argmax-with-smaller-label-tie) update is
    * a pure function of the previous snapshot, so the oracle UNROLLS
    * all three rounds as chained CTEs and every final label hash-gates.
    */
  def q142LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.LabelProp
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val edges = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    val seeded = docs.withColumn("seed", col("id") % 5)
    LabelProp.sync(edges, seeded, "id", "seed", rounds = 3)
      .select(col("id").as("doc_id"), col("label"))
      .orderBy("doc_id")
  }

  val q142Sql: String = {
    val rounds = (1 to 3).map { r =>
      s"""c$r AS (
         |  SELECT ue.u, l${r - 1}.label, count(*)::BIGINT AS c
         |  FROM ue JOIN l${r - 1} ON l${r - 1}.id = ue.v
         |  GROUP BY ue.u, l${r - 1}.label),
         |p$r AS (
         |  SELECT u, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY u
         |             ORDER BY c DESC, label) AS rn FROM c$r) x
         |  WHERE rn = 1),
         |l$r AS (
         |  SELECT n.id, coalesce(p$r.label, l${r - 1}.label) AS label
         |  FROM nodes n
         |  LEFT JOIN p$r ON p$r.u = n.id
         |  JOIN l${r - 1} ON l${r - 1}.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
       |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |edges0 AS (
       |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
       |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
       |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn),
       |ue AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT src AS u, dst AS v FROM edges0
       |    UNION ALL SELECT dst, src FROM edges0) t
       |  WHERE u <> v),
       |l0 AS (SELECT id, id % 5 AS label FROM nodes),
       |$rounds
       |SELECT id AS doc_id, CAST(label AS BIGINT) AS label
       |FROM l3 ORDER BY doc_id""".stripMargin
  }

  val q97Sql: String =
    """WITH nn AS (SELECT count(*) AS cnt FROM documents),
      |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |edges AS (
      |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
      |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
      |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      |r0 AS (SELECT id, 1048576::BIGINT AS r FROM nodes),
      |s1 AS (SELECT e.dst, sum(r0.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
      |r1 AS (SELECT nodes.id, CAST(157286 + 85 * coalesce(s1.s, 0) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s1 ON s1.dst = nodes.id),
      |s2 AS (SELECT e.dst, sum(r1.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
      |r2 AS (SELECT nodes.id, CAST(157286 + 85 * coalesce(s2.s, 0) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s2 ON s2.dst = nodes.id),
      |s3 AS (SELECT e.dst, sum(r2.r // deg.d) AS s
      |       FROM edges e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY e.dst),
      |r3 AS (SELECT nodes.id, CAST(157286 + 85 * coalesce(s3.s, 0) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s3 ON s3.dst = nodes.id)
      |SELECT id AS doc_id, r AS rank FROM r3 ORDER BY doc_id""".stripMargin

  val q63Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS a, CAST(10000000 + c_nationkey AS BIGINT) AS b
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT CAST(o_custkey AS BIGINT), CAST(o_custkey + 1 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 500 = 0
      |), ue AS (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e
      |), reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a
      |), labels AS (
      |  SELECT s AS id, min(t) AS component FROM reach GROUP BY s
      |), labeled AS (
      |  SELECT c.id, coalesce(l.component, c.id) AS cluster_id
      |  FROM (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer) c
      |  LEFT JOIN labels l USING (id)
      |), b AS (
      |  SELECT id, cluster_id,
      |    CAST('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS bkt
      |  FROM labeled
      |)
      |SELECT id, cluster_id,
      |  CASE WHEN bkt < 8 THEN 'train' WHEN bkt < 9 THEN 'val' ELSE 'test' END AS split
      |FROM b ORDER BY id""".stripMargin

  /** Sliding-window token chunking ([[graft.text.Sequences.chunkTokens]]):
    * every document → overlapping 64-token windows advancing 48 tokens
    * (16-token overlap). One narrow codegen'd map stage; the oracle
    * rebuilds each window by list slicing.
    */
  def q64Chunk(spark: SparkSession, dir: String): DataFrame =
    Sequences.chunkTokens(Load.table(spark, dir, "documents"),
        "text", "doc_id", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_ix")

  val q64Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     x -> x <> '') AS w
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, w,
      |         1 + (greatest(len(w) - 64, 0) + 47) // 48 AS nchunks
      |  FROM t
      |)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_ix,
      |       CAST(len(w[i*48+1 : i*48+64]) AS BIGINT) AS chunk_tokens,
      |       array_to_string(w[i*48+1 : i*48+64], ' ') AS chunk_text
      |FROM c, UNNEST(generate_series(0, nchunks - 1)) AS s(i)
      |ORDER BY doc_id, chunk_ix""".stripMargin

  /** Deterministic sequence packing ([[graft.text.Sequences
    * .packByBudget]]): corpus in stable md5 order cut into contiguous
    * 2 048-token bins. The bucket-histogram plan is held row-identical to
    * the single global running-sum window the oracle computes.
    */
  def q65Pack(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")))
      .select("doc_id", "n_tokens")
    Sequences.packByBudget(d, "doc_id", "n_tokens", 2048L)
      .orderBy("doc_id")
  }

  val q65Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN len(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
      |  FROM documents)
      |SELECT doc_id, n_tokens,
      |       CAST(coalesce(sum(n_tokens) OVER (ORDER BY draw, doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
      |         AS BIGINT) AS seq_ix
      |FROM t ORDER BY doc_id""".stripMargin

  /** q76: DSIR-shaped importance tagging — hashed-unigram target/source
    * masses with target = the English slice of the corpus. Every number
    * is an integer count and the keep decision is a cross-multiplied
    * integer comparison, so the oracle (which re-derives the md5 buckets,
    * the histogram, the per-doc masses, and the decision from scratch in
    * SQL) is hash-exact.
    */
  def q76Dsir(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.ops.Load.table(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    graft.text.ImportanceSampling
      .importanceTag(d, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")
  }

  val q76Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang = 'en' AS t,
      |         CAST('0x' || substring(md5(u.tok), 1, 8) AS BIGINT) % 16384 AS b
      |  FROM documents,
      |       UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
      |                          x -> x <> '')) u(tok)),
      |hist AS (
      |  SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS tc,
      |            sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS sc
      |  FROM toks GROUP BY b),
      |tot AS (SELECT sum(tc)::BIGINT AS nt, sum(sc)::BIGINT AS ns FROM hist),
      |masses AS (
      |  SELECT doc_id, sum(tc)::BIGINT AS tgt_mass, sum(sc)::BIGINT AS src_mass
      |  FROM toks JOIN hist USING (b) GROUP BY doc_id)
      |SELECT doc_id, tgt_mass, src_mass,
      |       CAST(tgt_mass * ns > src_mass * nt AS INTEGER) AS keep
      |FROM masses, tot ORDER BY doc_id""".stripMargin

  /** q77: per-source length-distribution profile — the corpus-stats pass
    * behind sequence-length budgeting and outlier trimming. Quartiles use
    * Spark's EXACT `percentile` (sort-based linear interpolation), which
    * DuckDB's `quantile_cont` reproduces bit-for-bit on integer inputs —
    * so even the float quartile array is hash-gated. At 100 TB the exact
    * percentile is the one operator here you'd swap for
    * `percentile_approx` (t-digest, mergeable partial aggs); the schema
    * and grouping stay identical, which is why the exact form is worth
    * having as the verified baseline.
    */
  def q77LengthStats(spark: SparkSession, dir: String): DataFrame = {
    Load.table(spark, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        expr("percentile(n_chars, array(0.25, 0.5, 0.75))").as("__q"),
        sum("n_chars").as("total_chars"))
      .select(col("source"), col("n_docs"), col("min_chars"), col("max_chars"),
        col("__q").getItem(0).as("p25"),
        col("__q").getItem(1).as("p50"),
        col("__q").getItem(2).as("p75"),
        col("total_chars"))
      .orderBy("source")
  }

  val q77Sql: String =
    """SELECT source, count(*) AS n_docs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       quantile_cont(n_chars, 0.25) AS p25,
      |       quantile_cont(n_chars, 0.50) AS p50,
      |       quantile_cont(n_chars, 0.75) AS p75,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q79: token heavy hitters through the Misra–Gries one-pass aggregate
    * — q52's vocabulary question answered with NO token-keyed shuffle:
    * each task condenses its slice into one O(capacity) summary and only
    * summaries cross the wire. Capacity 4096 far exceeds the synthetic
    * vocabulary, so the sketch is in its EXACT regime and the oracle is
    * the plain groupBy count — at web scale the same plan holds with the
    * documented n/(capacity+1) undercount bound.
    */
  def q79FreqItems(spark: SparkSession, dir: String): DataFrame = {
    // wordTokens filters the "" token a whitespace-only doc would emit,
    // matching the oracle's list_filter(x <> '')
    val toks = Load.table(spark, dir, "documents")
      .select(graft.text.Decontaminate.wordTokens(col("text")).as("toks"))
    toks
      .agg(graft.functions.FreqItemsAgg.freqItems(col("toks"), 4096).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).cast(LongType).as("rank"),
        col("e.item").as("token"), col("e.cnt").as("cnt"))
      .filter(col("rank") <= 50)
  }

  val q79Sql: String =
    """WITH toks AS (
      |  SELECT u.tok FROM documents,
      |       UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                          x -> x <> '')) u(tok)),
      |c AS (SELECT tok AS token, count(*)::BIGINT AS cnt FROM toks GROUP BY tok)
      |SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank, token, cnt
      |FROM c ORDER BY rank LIMIT 50""".stripMargin

  /** q87: frequency-sorted vocabulary + integer corpus encoding — the
    * text→tensor boundary. Output is the exploded (doc, position, id)
    * encoding, so vocab ranking, unknown handling, and positional
    * fidelity are all hash-gated against the oracle's independent rank
    * + per-position join reconstruction.
    */
  def q87VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.VocabEncode
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val vocab = VocabEncode.buildVocab(d, "text")
    VocabEncode.encode(spark, d, "text", vocab)
      .select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "token_id")))
      .select(col("doc_id"), col("pos").cast(LongType), col("token_id"))
      .transform(graft.ops.Par.sortOnce(_, col("doc_id"), col("pos")))
  }

  val q87Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS w
      |  FROM documents),
      |uni AS (SELECT u.tok, count(*)::BIGINT AS c
      |        FROM toks, UNNEST(w) u(tok) GROUP BY u.tok),
      |vocab AS (
      |  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) - 1 AS id FROM uni)
      |SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, v.id AS token_id
      |FROM toks, UNNEST(generate_series(1, len(w))) t(i)
      |JOIN vocab v ON v.tok = w[i]
      |ORDER BY doc_id, pos""".stripMargin

  /** Corpus-wide exact paragraph dedup ([[graft.text.ParagraphDedup]]):
    * pages are synthesized with three paragraphs — a shared intro block
    * (repeats across every doc in the same mod-37 class), the document
    * body (repeats only where the corpus has duplicate texts), and a
    * per-source footer (repeats across every doc of the source) — so the
    * first-wins rule, cross-doc drops, and reassembly all fire. Oracle
    * partitions by the paragraph STRING; the Spark side partitions by
    * xxhash64(para) with the collision escape, which agrees exactly when
    * no 64-bit collision occurs (none at any test SF).
    */
  def q100ParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val pages = d.withColumn("page", concat_ws("\n\n",
      concat(lit("shared intro block "), col("doc_id") % 37),
      col("text"),
      concat(lit("brought to you by "), col("source"))))
    graft.text.ParagraphDedup.dedup(pages, "page", "doc_id", "doc_id")
      .orderBy("doc_id")
  }

  val q100Sql: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |         'shared intro block ' || (doc_id % 37) || chr(10) || chr(10)
      |         || text || chr(10) || chr(10)
      |         || 'brought to you by ' || source AS page
      |  FROM documents),
      |docs AS (
      |  SELECT doc_id,
      |         list_filter(list_transform(
      |           string_split(page, chr(10) || chr(10)), x -> trim(x)),
      |           x -> x <> '') AS ps
      |  FROM pages),
      |paras AS (
      |  SELECT doc_id, i AS pos, ps[i] AS para
      |  FROM docs, UNNEST(generate_series(1, len(ps))) AS t(i)),
      |kept AS (
      |  SELECT doc_id, pos, para FROM (
      |    SELECT doc_id, pos, para,
      |           row_number() OVER (PARTITION BY para
      |                              ORDER BY doc_id, pos) AS rn
      |    FROM paras) WHERE rn = 1),
      |agg AS (
      |  SELECT doc_id,
      |         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text,
      |         count(*)::BIGINT AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       coalesce(a.n_kept, 0) AS n_kept,
      |       len(dd.ps)::BIGINT - coalesce(a.n_kept, 0) AS n_dropped
      |FROM documents d
      |JOIN docs dd USING (doc_id)
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q108: cross-run heavy-hitters ARTIFACT ([[graft.functions
    * .FreqItemsWeighted]]) — the q79 sketch as a persisted, mergeable
    * object. Two "runs" (even/odd docs) each condense to an O(capacity)
    * Misra–Gries summary, persist to parquet, and a later pass merges
    * the RELOADED summaries with the weighted insert. Capacity (4096)
    * exceeds the corpus vocabulary, so the merged artifact must equal
    * exact counting over the concatenated corpus — which is precisely
    * what the oracle computes. Gates the artifact schema round-trip AND
    * the weighted-merge algebra; the approximate regime's bound is
    * spec-tested (FreqItemsSpec).
    */
  def q108SketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = ScratchDirs.fresh(dir, "hh")
    val docs = Load.table(spark, dir, "documents")
    def runSummary(filter: Column, path: String): DataFrame = {
      docs.filter(filter)
        .select(graft.text.Decontaminate.wordTokens(col("text")).as("toks"))
        .agg(graft.functions.FreqItemsAgg.freqItems(col("toks"), 4096).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("token"), col("e.cnt").as("cnt"))
        .write.mode("overwrite").parquet(path)
      Load.parquet(spark, path)
    }
    val runA = runSummary(col("doc_id") % 2 === 0, s"$base/runA")
    val runB = runSummary(col("doc_id") % 2 =!= 0, s"$base/runB")
    runA.unionByName(runB)
      .agg(graft.functions.FreqItemsAgg
        .freqItemsWeighted(col("token"), col("cnt"), 4096).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).cast(LongType).as("rank"),
        col("e.item").as("token"), col("e.cnt").as("cnt"))
      .filter(col("rank") <= 50)
  }

  val q108Sql: String =
    """WITH toks AS (
      |  SELECT u.tok FROM documents,
      |       UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                          x -> x <> '')) u(tok)),
      |c AS (SELECT tok AS token, count(*)::BIGINT AS cnt FROM toks GROUP BY tok)
      |SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank, token, cnt
      |FROM c ORDER BY rank LIMIT 50""".stripMargin

  /** q144: deterministic training-shard shuffle
    * ([[graft.text.Splits.shardShuffle]]) — the curated corpus' last
    * step: a seed-reproducible pseudorandom order, split into 16 shards
    * with in-shard positions, no RNG state and no global counter (the
    * permutation key is `md5("42-" doc_id)`, the shard its first 8 hex
    * chars mod 16). One narrow md5 projection, one shard-keyed
    * exchange, per-shard sorts — no global window at any corpus size;
    * shard count is the 100 TB lever. The oracle replays the same draw
    * with DuckDB's own md5/hex-cast and an independent window rank.
    */
  def q144TrainShuffle(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    Splits.shardShuffle(d.select("doc_id"), "doc_id", 16, "42")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  val q144Sql: String =
    """WITH k AS (
      |  SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, skey,
      |         CAST(CAST('0x' || substring(skey, 1, 8) AS BIGINT) % 16
      |           AS INTEGER) AS shard
      |  FROM k)
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
      |         AS BIGINT) AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  /** q145: GPT-style token-stream blocking
    * ([[graft.text.Sequences.blockSpans]]) — the corpus concatenated in
    * the stable hash-draw order and cut at fixed 256-token boundaries,
    * SPLITTING straddling documents mid-doc (what a pretraining loader
    * actually consumes; q65's packing deliberately assigns whole docs).
    * Per-(doc, block) span rows carry doc_off/block_off/span_len, so
    * Σ span_len per doc = its token count and every block except the
    * last tiles to exactly 256. The stream offset is the q65 two-tier
    * prefix sum (bucket histogram + per-bucket window — no global
    * window); the oracle replays it as ONE global running-sum window
    * plus a generate_series explode — different plan, same integers.
    */
  def q145BlockSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")))
      .select("doc_id", "n_tokens")
    Sequences.blockSpans(d, "doc_id", "n_tokens", 256L)
      .orderBy("block_id", "block_off")
  }

  val q145Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN len(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
      |  FROM documents),
      |off AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY draw, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS bef
      |  FROM t),
      |spans AS (
      |  SELECT doc_id, n_tokens, bef,
      |         unnest(generate_series(bef // 256, (bef + n_tokens - 1) // 256))
      |           AS block_id
      |  FROM off WHERE n_tokens > 0)
      |SELECT doc_id, block_id,
      |       GREATEST(bef, block_id * 256) - bef AS doc_off,
      |       GREATEST(bef, block_id * 256) - block_id * 256 AS block_off,
      |       LEAST(bef + n_tokens, (block_id + 1) * 256)
      |         - GREATEST(bef, block_id * 256) AS span_len
      |FROM spans ORDER BY block_id, block_off""".stripMargin

  /** q146: curriculum bucketing — EXACT global rank and equal-population
    * deciles over a difficulty measure (token count: the classic
    * short→long schedule) with NO global window
    * ([[graft.ops.Ordering.quantileBucket]]): the value histogram is
    * prefix-summed alone and broadcast back, the tie-break window
    * partitions by value, and bucket = ⌊10·(rank−1)/total⌋ in exact
    * integers — the scale-safe alternative to `orderIndex` (and the
    * exact sibling of q118's mergeable quantile sketch). The oracle IS
    * the global window this plan avoids: row_number over (n_tokens,
    * doc_id) plus the same floor arithmetic — different plan, same
    * integers.
    */
  def q146Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")))
      .select("doc_id", "n_tokens")
    graft.ops.Ordering.quantileBucket(d, "n_tokens", "doc_id", 10,
        out = "decile")
      .select(col("doc_id"), col("n_tokens"), col("rank"), col("decile"))
      .orderBy("doc_id")
  }

  val q146Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN len(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rank,
      |         CAST(count(*) OVER () AS BIGINT) AS total
      |  FROM t)
      |SELECT doc_id, n_tokens, rank,
      |       CAST((10 * (rank - 1)) // total AS BIGINT) AS decile
      |FROM r ORDER BY doc_id""".stripMargin

  /** q147: the training-layout pipeline SPEC-DRIVEN end to end — one
    * declarative document drives Gopher repetition gating, survivor
    * filtering, exact curriculum bucketing, and the seeded shard
    * shuffle through [[graft.runner.SpecInterpreter]] (q111's replay
    * discipline applied to the curation tier's final stages — one
    * declarative plan on each side of the checkpoint barrier). The
    * oracle rebuilds every stage
    * independently: the q143 interval-union CTE chain for the gate, a
    * global row_number window for the rank the plan avoids, DuckDB's
    * own md5 draw for the shard — so the gate checks the COMPOSITION,
    * not just the steps. The checkpoint right after the gate is
    * load-bearing pipeline authoring, not ceremony: the pushed-down
    * keep filter re-derives the 9-signal kernel inside its Filter
    * condition, and quantile_bucket's histogram branch re-executes its
    * whole upstream plan — without the barrier the kernel ran ~5× per
    * doc (measured 6.8 s at sf0.1; with it, 1.4 s: the gate runs
    * exactly once per doc and the downstream stages re-read ~20
    * integer bytes/row).
    */
  def q147LayoutPipeline(spark: SparkSession, dir: String): DataFrame = {
    val spec =
      """{"pipeline": [
        | {"run": "load", "params": {"table": "documents", "name": "d"}},
        | {"run": "repetition_gate", "params": {"resource": "d", "field": "text"}},
        | {"run": "select_fields", "params": {"resource": "d",
        |   "fields": ["doc_id", "n_chars", "keep_repetition"]}},
        | {"run": "checkpoint", "params": {"resource": "d", "name": "q147_gate"}},
        | {"run": "filter_rows", "params": {"resource": "d",
        |   "equals": [{"keep_repetition": 1}]}},
        | {"run": "quantile_bucket", "params": {"resource": "d",
        |   "value": "n_chars", "tie": "doc_id", "buckets": 10}},
        | {"run": "shard_shuffle", "params": {"resource": "d",
        |   "key": "doc_id", "shards": 8, "seed": "7"}},
        | {"run": "select_fields", "params": {"resource": "d",
        |   "fields": ["doc_id", "n_chars", "rank", "bucket", "shard", "pos"]}},
        | {"run": "sort", "params": {"resource": "d", "by": ["doc_id"]}}
        |]}""".stripMargin
    graft.runner.SpecInterpreter.run(spark, dir, spec)("d").df
  }

  val q147Sql: String =
    s"""WITH ${TextQueries.repetitionSqlCtes("documents")},
       |surv AS (SELECT doc_id, n_chars FROM rep WHERE keep = 1),
       |r AS (
       |  SELECT doc_id, n_chars,
       |         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
       |         CAST(count(*) OVER () AS BIGINT) AS total
       |  FROM surv),
       |k AS (
       |  SELECT doc_id, md5('7-' || CAST(doc_id AS VARCHAR)) AS skey
       |  FROM surv),
       |sh AS (
       |  SELECT doc_id, skey,
       |         CAST(CAST('0x' || substring(skey, 1, 8) AS BIGINT) % 8
       |           AS INTEGER) AS shard
       |  FROM k)
       |SELECT r.doc_id, r.n_chars, r.rank,
       |       CAST((10 * (r.rank - 1)) // r.total AS BIGINT) AS bucket,
       |       sh.shard,
       |       CAST(row_number() OVER (PARTITION BY sh.shard
       |         ORDER BY sh.skey, sh.doc_id) AS BIGINT) AS pos
       |FROM r JOIN sh USING (doc_id)
       |ORDER BY r.doc_id""".stripMargin

  /** q223: modularity audit of q142's label-prop communities — the QA
    * pass that tells whether a community assignment is STRUCTURE or
    * noise before a pipeline shards/samples by it: per community,
    * Newman's contribution e_c/m − (d_c/2m)² kept on the integer grid
    * via cross-multiplication — contrib_num = 4·m·e_c − d_c², whose
    * sign (`assortative`) says the community beats the configuration-
    * model expectation; Q = Σ contrib_num / 4m² is recoverable exactly.
    * The graph is q142's 3-out multigraph canonicalized to simple
    * undirected edges ([[graft.graphs.Triangles.canonical]]) and the
    * labels are the same three synchronous rounds, so the oracle unrolls
    * both and every count hash-gates. Scale shape: labels are one
    * bounded fixed-point iteration (q142's budget); the audit itself is
    * two label-keyed aggregations of the EDGE relation plus a broadcast
    * 1-row m — no per-community subgraph materialization.
    */
  def q223Modularity(spark: SparkSession, dir: String): DataFrame = {
    import graft.graphs.{LabelProp, Triangles}
    val docs = Load.table(spark, dir, "documents").select(col("doc_id").as("id"))
    val n = docs.count()
    val edgesDir = docs.select(col("id").as("src"),
      explode(array(
        (col("id") * 7 + 13) % n,
        (col("id") * 31 + 7) % n,
        (col("id") * 13 + 101) % n)).as("dst"))
    val seeded = docs.withColumn("seed", col("id") % 5)
    val labels = LabelProp.sync(edgesDir, seeded, "id", "seed", rounds = 3)
      .select(col("id"), col("label")).persist() // joins both edge ends
    val e = Triangles.canonical(edgesDir, "src", "dst")
      .join(labels.select(col("id").as("a"), col("label").as("__la")), Seq("a"))
      .join(labels.select(col("id").as("b"), col("label").as("__lb")), Seq("b"))
      .persist() // feeds m, intra counts, and degree sums
    val m = e.agg(count(lit(1)).cast("long").as("__m"))
    val intra = e.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).cast("long").as("intra_edges"))
    val degSum = e.select(col("__la").as("label"))
      .unionByName(e.select(col("__lb").as("label")))
      .groupBy("label").agg(count(lit(1)).cast("long").as("degree_sum"))
    val sizes = labels.groupBy("label")
      .agg(count(lit(1)).cast("long").as("n_nodes"))
    sizes
      .join(degSum, Seq("label"), "left")
      .join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("degree_sum", "intra_edges"))
      .crossJoin(broadcast(m))
      .withColumn("contrib_num", expr(
        """CAST(4 * CAST(__m AS DECIMAL(38,0)) * intra_edges
          | - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum AS BIGINT)""".stripMargin))
      .withColumn("assortative", (col("contrib_num") > 0).cast("int"))
      .select(col("label"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"), col("contrib_num"), col("assortative"))
      .orderBy("label")
  }

  val q223Sql: String = {
    val rounds = (1 to 3).map { r =>
      s"""c$r AS (
         |  SELECT ue.u, l${r - 1}.label, count(*)::BIGINT AS c
         |  FROM ue JOIN l${r - 1} ON l${r - 1}.id = ue.v
         |  GROUP BY ue.u, l${r - 1}.label),
         |p$r AS (
         |  SELECT u, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY u
         |             ORDER BY c DESC, label) AS rn FROM c$r) x
         |  WHERE rn = 1),
         |l$r AS (
         |  SELECT n.id, coalesce(p$r.label, l${r - 1}.label) AS label
         |  FROM nodes n
         |  LEFT JOIN p$r ON p$r.u = n.id
         |  JOIN l${r - 1} ON l${r - 1}.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS cnt FROM documents),
       |nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |edges0 AS (
       |  SELECT id AS src, (id * 7 + 13) % cnt AS dst FROM nodes, nn
       |  UNION ALL SELECT id, (id * 31 + 7) % cnt FROM nodes, nn
       |  UNION ALL SELECT id, (id * 13 + 101) % cnt FROM nodes, nn),
       |ue AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT src AS u, dst AS v FROM edges0
       |    UNION ALL SELECT dst, src FROM edges0) t
       |  WHERE u <> v),
       |l0 AS (SELECT id, id % 5 AS label FROM nodes),
       |$rounds,
       |e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges0 WHERE src <> dst),
       |el AS (
       |  SELECT la.label AS lab_a, lb.label AS lab_b
       |  FROM e JOIN l3 la ON la.id = e.a JOIN l3 lb ON lb.id = e.b),
       |mm AS (SELECT count(*)::HUGEINT AS m FROM el),
       |intra AS (
       |  SELECT lab_a AS label, count(*)::BIGINT AS intra_edges
       |  FROM el WHERE lab_a = lab_b GROUP BY 1),
       |ds AS (
       |  SELECT label, count(*)::BIGINT AS degree_sum FROM (
       |    SELECT lab_a AS label FROM el
       |    UNION ALL SELECT lab_b FROM el) t GROUP BY 1),
       |sz AS (SELECT label, count(*)::BIGINT AS n_nodes FROM l3 GROUP BY 1)
       |SELECT CAST(sz.label AS BIGINT) AS label, sz.n_nodes,
       |       coalesce(intra.intra_edges, 0) AS intra_edges,
       |       coalesce(ds.degree_sum, 0) AS degree_sum,
       |       CAST(4 * mm.m * coalesce(intra.intra_edges, 0)
       |            - coalesce(ds.degree_sum, 0)::HUGEINT
       |              * coalesce(ds.degree_sum, 0) AS BIGINT) AS contrib_num,
       |       CASE WHEN 4 * mm.m * coalesce(intra.intra_edges, 0)
       |                 > coalesce(ds.degree_sum, 0)::HUGEINT
       |                   * coalesce(ds.degree_sum, 0)
       |            THEN 1 ELSE 0 END AS assortative
       |FROM sz
       |LEFT JOIN ds USING (label)
       |LEFT JOIN intra USING (label)
       |CROSS JOIN mm
       |ORDER BY label""".stripMargin
  }

  /** q230: shard-balance audit — the throughput check after q144's
    * seeded shard shuffle: data-parallel training paces at the SLOWEST
    * shard, so per shard this reports doc count, token mass (n_chars as
    * the proxy the trainer actually pays), the exact per-mille deviation
    * from the ideal mass total/16, and a straggler flag at +5%. All
    * integer: dev = |16·mass − total|·1000 div total (cross-multiplied
    * so the ideal is never a rounded intermediate). Scale shape: the
    * corpus is touched once for the hash+mass projection; everything
    * else runs on the 16-row shard relation with a broadcast 1-row
    * total.
    */
  def q230ShardBalance(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "n_chars")
    val sharded = Splits.shardShuffle(d, "doc_id", 16, "42")
    val per = sharded.groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars").cast("long")).cast("long").as("mass"))
    val tot = per.agg(sum("mass").cast("long").as("__total"))
    per.crossJoin(broadcast(tot))
      .withColumn("dev_per_mille",
        expr("(abs(16 * mass - __total) * 1000) div __total"))
      .withColumn("straggler",
        (expr("16 * mass * 1000") > expr("1050 * __total")).cast("int"))
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("mass"), col("dev_per_mille"), col("straggler"))
      .orderBy("shard")
  }

  val q230Sql: String =
    """WITH k AS (
      |  SELECT doc_id, n_chars::BIGINT AS n_chars,
      |         md5('42-' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |s AS (
      |  SELECT CAST(CAST('0x' || substring(skey, 1, 8) AS BIGINT) % 16
      |           AS INTEGER) AS shard,
      |         n_chars
      |  FROM k),
      |per AS (
      |  SELECT shard, count(*)::BIGINT AS n_docs,
      |         sum(n_chars)::BIGINT AS mass
      |  FROM s GROUP BY shard),
      |t AS (SELECT sum(mass)::BIGINT AS total FROM per)
      |SELECT CAST(shard AS BIGINT) AS shard, n_docs, mass,
      |       (abs(16 * mass - total) * 1000) // total AS dev_per_mille,
      |       CAST(16 * mass * 1000 > 1050 * total AS INTEGER) AS straggler
      |FROM per, t ORDER BY shard""".stripMargin

  /** q233: epoch-decorrelation audit — multi-epoch training re-shuffles
    * with a new seed each epoch, and the seed change must actually
    * decorrelate: a broken seed plumbing (same order every epoch) is
    * invisible to per-epoch checks. Between q144's seeded shuffle at
    * seed "42" and the next epoch's "43": the shard reassignment rate
    * (docs whose shard moved, per-mille) and, for docs that stayed in
    * their shard, the mean within-shard displacement |pos₁ − pos₂| in
    * milli-positions — both exact integers. Independent uniform
    * assignment moves 15/16 of docs (937‰); staying-put docs should
    * still displace. One row. Scale shape: two narrow hash projections
    * joined on the id, one global aggregation — no sort wider than
    * q144's own per-shard windows.
    */
  def q233EpochDecorrelation(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id")
    def epoch(seed: String, tag: String) =
      Splits.shardShuffle(d, "doc_id", 16, seed)
        .select(col("doc_id"), col("shard").as(s"__s$tag"),
          col("pos").as(s"__p$tag"))
    epoch("42", "1").join(epoch("43", "2"), Seq("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("__s1") =!= col("__s2"), 1L).otherwise(0L))
          .as("moved_shard"),
        sum(when(col("__s1") === col("__s2"),
          abs(col("__p1") - col("__p2"))).otherwise(0L))
          .as("__disp_sum"),
        sum(when(col("__s1") === col("__s2"), 1L).otherwise(0L))
          .as("stayed"))
      .withColumn("moved_per_mille", expr("(moved_shard * 1000) div n_docs"))
      .withColumn("mean_disp_milli",
        when(col("stayed") > 0, expr("(__disp_sum * 1000) div stayed"))
          .otherwise(0L))
      .select("n_docs", "moved_shard", "moved_per_mille", "stayed",
        "mean_disp_milli")
  }

  val q233Sql: String =
    """WITH e1 AS (
      |  SELECT doc_id,
      |         CAST(CAST('0x' || substring(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8)
      |           AS BIGINT) % 16 AS INTEGER) AS s,
      |         md5('42-' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM documents),
      |p1 AS (
      |  SELECT doc_id, s,
      |         CAST(row_number() OVER (PARTITION BY s ORDER BY k, doc_id)
      |           AS BIGINT) AS p
      |  FROM e1),
      |e2 AS (
      |  SELECT doc_id,
      |         CAST(CAST('0x' || substring(md5('43-' || CAST(doc_id AS VARCHAR)), 1, 8)
      |           AS BIGINT) % 16 AS INTEGER) AS s,
      |         md5('43-' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM documents),
      |p2 AS (
      |  SELECT doc_id, s,
      |         CAST(row_number() OVER (PARTITION BY s ORDER BY k, doc_id)
      |           AS BIGINT) AS p
      |  FROM e2),
      |j AS (
      |  SELECT p1.s AS s1, p2.s AS s2, p1.p AS pp1, p2.p AS pp2
      |  FROM p1 JOIN p2 USING (doc_id)),
      |a AS (
      |  SELECT count(*)::BIGINT AS n_docs,
      |         sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END)::BIGINT AS moved_shard,
      |         sum(CASE WHEN s1 = s2 THEN abs(pp1 - pp2) ELSE 0 END)::BIGINT AS ds,
      |         sum(CASE WHEN s1 = s2 THEN 1 ELSE 0 END)::BIGINT AS stayed
      |  FROM j)
      |SELECT n_docs, moved_shard,
      |       (moved_shard * 1000) // n_docs AS moved_per_mille,
      |       stayed,
      |       CASE WHEN stayed > 0 THEN (ds * 1000) // stayed
      |            ELSE 0 END AS mean_disp_milli
      |FROM a""".stripMargin

  /** q119: weighted sampling without replacement
    * ([[Scrub.weightedSample]]) — 20 docs per language with inclusion
    * probability ∝ length, the biased complement of q49's uniform cap.
    * Efraimidis–Spirakis race keys in fixed point (stable id hash →
    * exact integer −log₂ → one floor division by the weight), so the
    * sample is identical on any run/partitioning/engine and the oracle
    * replays the full chain: 62-bit hash (HUGEINT), 16-step
    * square-and-shift log, priority division, per-stratum rank.
    */
  def q119WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars")
    Scrub.weightedSample(d, "lang", "doc_id", "n_chars", k = 20)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("__pri").as("priority"))
      .orderBy("lang", "priority", "doc_id")
  }

  val q119Sql: String = {
    val h = DedupQueries.h62Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, n_chars, ($h) >> 32 AS u30
       |  FROM documents WHERE n_chars >= 1),
       |nrm AS (
       |  SELECT doc_id, greatest(u30, 1) AS m, 0::BIGINT AS k FROM d
       |  UNION ALL
       |  SELECT doc_id, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
       |normed AS (SELECT doc_id, m, k FROM nrm WHERE m >= 1073741824),
       |sq AS (
       |  SELECT doc_id, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
       |  UNION ALL
       |  SELECT doc_id, k,
       |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
       |         i + 1,
       |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
       |  FROM (SELECT doc_id, k, (m * m) // 1073741824 AS m2, i, acc
       |        FROM sq WHERE i < 16) s),
       |bits AS (SELECT doc_id, k * 65536 - acc AS b FROM sq WHERE i = 16),
       |pri AS (
       |  SELECT d.lang, d.doc_id, d.n_chars,
       |         (b.b * 1048576) // d.n_chars AS priority
       |  FROM d JOIN bits b USING (doc_id)),
       |rk AS (
       |  SELECT lang, doc_id, n_chars, priority,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY priority, doc_id) AS rn
       |  FROM pri)
       |SELECT lang, doc_id, n_chars, priority
       |FROM rk WHERE rn <= 20
       |ORDER BY lang, priority, doc_id""".stripMargin
  }

  /** q118: deterministic log-histogram quantiles ([[graft.ops.Quantiles]])
    * — the engine-replayable alternative to `percentile_approx` that
    * q77 documents as the at-scale seam, completing the sketch family
    * (Misra–Gries counts, KMV distincts, and now quantiles). Buckets
    * come from the EXACT integer ⌊log₂⌋ (binary-string length — no
    * float log wobble at powers of two) with 8 sub-buckets per octave
    * (rel err < 12.5%, spec-asserted vs exact percentiles); the summary
    * is ≤ 496 buckets per key, merges by plain addition, and every
    * reported quantile is an integer the oracle reproduces bit-for-bit
    * — GK/percentile_approx summaries have no cross-engine form.
    */
  def q118QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Load.table(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        // floor, not round/cast: both engines floor identical doubles
        // identically, while double→int casts round in DuckDB and
        // truncate in Spark
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
    graft.ops.Quantiles.approxQuantiles(li, Seq("l_returnflag"), "cents",
      Seq((1, 2), (9, 10), (99, 100)))
      .orderBy("l_returnflag", "q_num", "q_den")
  }

  val q118Sql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS k,
      |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem),
      |b AS (
      |  SELECT k, CASE WHEN v < 8 THEN v
      |                 ELSE 8 + (length(bin(v)) - 4) * 8
      |                      + ((v >> (length(bin(v)) - 4)) & 7)
      |            END AS bucket
      |  FROM v),
      |h AS (SELECT k, bucket, count(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
      |c AS (SELECT k, bucket,
      |        CAST(sum(cnt) OVER (PARTITION BY k ORDER BY bucket) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER (PARTITION BY k) AS BIGINT) AS n
      |      FROM h),
      |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den)),
      |p AS (
      |  SELECT c.k, q.q_num, q.q_den, c.n, min(c.bucket) AS b
      |  FROM c, q
      |  WHERE c.cum >= (q.q_num * c.n + q.q_den - 1) // q.q_den
      |  GROUP BY 1, 2, 3, 4)
      |SELECT k AS l_returnflag, q_num, q_den, n,
      |       CASE WHEN b < 8 THEN b
      |            ELSE (8 + (b - 8) % 8) << ((b - 8) // 8) END AS quantile
      |FROM p ORDER BY l_returnflag, q_num, q_den""".stripMargin

  val rows: Seq[Query] = Seq(
    Query("q233_epoch_decorrelation", q233EpochDecorrelation, Some(q233Sql)),
    Query("q230_shard_balance", q230ShardBalance, Some(q230Sql)),
    Query("q223_modularity", q223Modularity, Some(q223Sql)),
    Query("q147_layout_pipeline", q147LayoutPipeline, Some(q147Sql)),
    Query("q146_curriculum", q146Curriculum, Some(q146Sql)),
    Query("q145_block_spans", q145BlockSpans, Some(q145Sql)),
    Query("q144_train_shuffle", q144TrainShuffle, Some(q144Sql)),
    Query("q100_paragraph_dedup", q100ParagraphDedup, Some(q100Sql)),
    Query("q108_sketch_merge", q108SketchMerge, Some(q108Sql)),
    Query("q63_cluster_split", q63ClusterSplit, Some(q63Sql)),
    Query("q64_chunk_windows", q64Chunk, Some(q64Sql)),
    Query("q65_pack_sequences", q65Pack, Some(q65Sql)),
    Query("q47_components", q47Components, Some(q47Sql)),
    Query("q48_decontaminate", q48Decontaminate, Some(q48Sql)),
    Query("q49_domain_cap", q49DomainCap, Some(q49Sql)),
    Query("q52_vocab", q52Vocab, Some(q52Sql)),
    Query("q55_dedup_clusters", q55DedupClusters, Some(q55Sql)),
    Query("q154_golden_record", q154GoldenRecord, Some(q154Sql)),
    Query("q155_incremental_cc", q155IncrementalComponents, Some(q155Sql)),
    Query("q54_training_mix", q54TrainingMix, Some(q54Sql)),
    Query("q56_boilerplate", q56Boilerplate, Some(q56Sql)),
    Query("q57_bloom_decontaminate", q57BloomDecontaminate, Some(q57Sql)),
    Query("q58_token_budget", q58TokenBudget, Some(q58Sql)),
    Query("q76_dsir", q76Dsir, Some(q76Sql)),
    Query("q77_length_stats", q77LengthStats, Some(q77Sql)),
    Query("q79_freq_items", q79FreqItems, Some(q79Sql)),
    Query("q87_vocab_encode", q87VocabEncode, Some(q87Sql)),
    Query("q97_pagerank", q97PageRank, Some(q97Sql)),
    Query("q141_triangles", q141Triangles, Some(q141Sql)),
    Query("q166_link_predict", q166LinkPredict, Some(q166Sql)),
    Query("q176_bfs_hops", q176BfsHops, Some(q176Sql)),
    Query("q187_personalized_pr", q187PersonalizedPr, Some(q187Sql)),
    Query("q179_kcore", q179KCore, Some(q179Sql)),
    Query("q142_label_prop", q142LabelProp, Some(q142Sql)),
    Query("q118_quantile_sketch", q118QuantileSketch, Some(q118Sql)),
    Query("q119_weighted_sample", q119WeightedSample, Some(q119Sql)))
}
