package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** The query registry Bench, Verify and the tools read (SURVEY.md §7).
  * Query implementations live under graft.queries.*; each file declares
  * its [[Query]] rows once, and every map below is a view of them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every registered query, file by file; names are unique. */
  val rows: Seq[Query] = {
    val all = Seq(
      graft.queries.Relational.rows,
      graft.queries.TextQueries.rows,
      graft.queries.DedupQueries.rows,
      graft.queries.MiscOps.rows,
      graft.queries.PipelineQueries.rows,
      graft.queries.ScrubQueries.rows,
      graft.queries.CompositeQueries.rows,
      graft.queries.SinkQueries.rows,
      graft.queries.CurationQueries.rows,
      graft.queries.SearchQueries.rows,
      graft.queries.AuditQueries.rows).flatten
    val twice = all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query names registered twice: ${twice.toSeq.sorted}")
    all
  }

  /** The oracle-gated queries: one per implemented operator from
    * SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.filter(_.oracle.isDefined).map(q => q.name -> q.run).toMap

  /** Bench-only rows: the sketch-tier variants (`*s`) of the
    * tier-swappable queries (SCALING.md §5b — the same algebra through
    * mergeable O(k) state, the declared 100 TB path). They are
    * benchmarked so the scale-path numbers are measured, but carry no
    * oracle: the sketch tiers equal the exact oracles only on-grid or
    * below capacity by design (the *TierSpec suites pin the envelopes).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    rows.filter(_.oracle.isEmpty).map(q => q.name -> q.run).toMap

  /** Untimed per-query preparation (persisted-index builds): Bench runs
    * prepare(name) immediately before timing queries(name), so the timed
    * section measures the probe against the maintained artifact, not the
    * nightly index rebuild. Every query here is still self-sufficient
    * WITHOUT its prepare — Verify never calls it.
    */
  def prepare: Map[String, (SparkSession, String) => Unit] =
    rows.flatMap(q => q.prepare.map(q.name -> _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    rows.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
