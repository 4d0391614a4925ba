package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Load

/** Training-corpus export: the parquet layout a curated 100 TB corpus
  * ships in.
  *
  *  - **Hive partitioning** on low-cardinality curation keys
  *    (`lang`, `source`): downstream mixture sampling reads only the
  *    partitions its recipe names — partition pruning at the directory
  *    level, before any file IO.
  *  - **`maxRecordsPerFile`** bounds file size so a skewed partition
  *    (one dominant language) still yields parallel-readable files.
  *  - **In-file ordering** by a caller-chosen column (e.g. quality
  *    score): parquet row-group stats then make "top decile only" reads
  *    skip whole row groups (zone-map locality). `sortWithinPartitions`
  *    — a local sort, never a global shuffle.
  *  - Blob/text columns stay out of the partition spec — only shipped as
  *    column data.
  *
  * Distinct from [[DumpToPath]] (the reference's CSV+datapackage
  * contract): this is the scale-side sink the reference never needed.
  */
object CorpusExport {

  /** Write `df` partitioned by `partitionCols`, each file internally
    * ordered by `orderCol`, at most `maxRecordsPerFile` rows per file.
    */
  def write(df: DataFrame, outDir: String, partitionCols: Seq[String],
      orderCol: String, maxRecordsPerFile: Long = 1000000L): Unit =
    df.sortWithinPartitions((partitionCols :+ orderCol).map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(outDir)

  /** Read back with partition pruning: `filters` name partition columns
    * (e.g. "lang" -> "he"), so the scan's InMemoryFileIndex never lists
    * the other directories' files.
    */
  def read(spark: SparkSession, dir: String,
      filters: Map[String, String] = Map.empty): DataFrame =
    filters.foldLeft(Load.parquet(spark, dir)) { case (df, (k, v)) =>
      df.filter(col(k) === v)
    }

  /** JSONL shard export — the interchange layout training loaders
    * actually consume (one `shard=N/` directory per shard, one JSON
    * object per line): `to_json(struct(cols))` into the text writer,
    * re-partitioned BY the shard column so each shard's lines land in
    * its own writer task(s), locally sorted by `orderCol` so in-file
    * line order IS the loader's consumption order. Pure narrow work on
    * top of the shard exchange the caller's
    * [[graft.text.Splits.shardShuffle]] already paid for.
    */
  def writeJsonlShards(df: DataFrame, outDir: String, shardCol: String,
      orderCol: String, cols: Seq[String]): Unit =
    df.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .select(col(shardCol), to_json(struct(cols.map(col): _*)).as("value"))
      .write.partitionBy(shardCol).mode("overwrite").text(outDir)

  /** Read a JSONL shard tree back: the shard id comes from directory
    * partition discovery, the payload from a schema-directed
    * `from_json` — so a round trip through this pair is byte-honest
    * about what the sink wrote.
    */
  def readJsonlShards(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.text(dir)
      .select(col("shard"), from_json(col("value"), schema).as("__r"))
      .select(col("shard") +: schema.fieldNames.toSeq.map(f => col(s"__r.$f")): _*)
}
