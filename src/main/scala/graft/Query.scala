package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One registered query, declared once in its `graft.queries` file.
  *
  * @param name         the registry key (unique across all files)
  * @param run          builds the query's DataFrame from a session and a
  *                     table directory
  * @param oracle       equivalent ANSI SQL that DuckDB runs on the same
  *                     parquet tables; `None` marks a bench-only row
  * @param prepare      an untimed index build Bench runs right before
  *                     timing `run`; `run` must not need it
  * @param observeRows  Bench ships the row count (`output_rows`): the
  *                     query's wall scales with the rows it finds
  * @param observeBytes Bench ships this column's sum (`output_bytes`):
  *                     the query's wall scales with decoded payload bytes
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    prepare: Option[(SparkSession, String) => Unit] = None,
    observeRows: Boolean = false,
    observeBytes: Option[Column] = None)
