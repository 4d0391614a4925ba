package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** K9 `checkpoint(name)` (reference: dataflows checkpoints —
  * broken_links.py:86-98 runs a whole Flow to a checkpoint then a second
  * Flow FROM it; judges.py:132-148 chains four incremental checkpoints).
  *
  * Materialize a DataFrame to parquet under the checkpoint root and read
  * it back — later flows resume from the materialized copy instead of
  * recomputing the lineage. Parquet keeps the schema.
  *
  * The root is `GRAFT_CHECKPOINT_DIR` when set (a deployment path),
  * else `checkpoints` under this JVM's [[graft.ScratchDirs]] root, which
  * dies with the JVM. Cross-run resume through [[orElse]] therefore
  * needs the variable set.
  */
object Checkpoint {

  def root: String =
    sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", s"${graft.ScratchDirs.root}/checkpoints")

  def path(name: String): String = s"$root/$name"

  /** Write-through: materialize and return the re-read frame. */
  def apply(df: DataFrame, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(path(name))
    Load.parquet(df.sparkSession, path(name))
  }

  /** Resume if the checkpoint exists, else compute+materialize. */
  def orElse(spark: SparkSession, name: String)(compute: => DataFrame): DataFrame = {
    val p = path(name)
    val exists = try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(p))
    } catch { case _: Exception => false }
    if (exists) Load.parquet(spark, p) else apply(compute, name)
  }
}
