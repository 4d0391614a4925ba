package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed table layout for shuffle-free co-located joins — the scale
  * tool for fact↔fact joins that repeat across runs (the reference's SQL
  * mirror joins would use this at volume).
  *
  * `writeBucketed` lays a table out hash-bucketed by the join key; two
  * tables bucketed the same way join with ZERO Exchange on either side
  * (verified in ScaleOpsSpec with `PlanInspect.exchangeFree`). Buckets
  * also serve as the unit for bucket-pruned point lookups.
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketBy: String,
      numBuckets: Int = 32,
      sortBy: Option[String] = None): Unit = {
    var w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketBy)
    sortBy.foreach(s => w = w.sortBy(s))
    w.saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
