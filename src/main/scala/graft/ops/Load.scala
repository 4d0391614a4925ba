package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** S1 `load` — source loading with the reference's option surface
  * (reference: organisations.py:57, publications.py:86-91, i18n.py:54).
  *
  * Frictionless options → Spark reader options:
  *   - headers            → header=true
  *   - INFER_STRINGS /
  *     CAST_TO_STRINGS    → inferSchema=false (all columns arrive string;
  *                          types applied in-flow via SetType, matching the
  *                          reference where every cast is an explicit step)
  *   - encoding           → encoding
  *   - schema (descriptor) → explicit StructType, inference skipped
  *
  * Every ordered load stamps `__ord` (see Ordering) because downstream
  * order-sensitive ops need arrival order.
  */
object Load {

  def csv(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      inferStrings: Boolean = true,
      encoding: String = "UTF-8",
      schema: Option[StructType] = None,
      stampOrd: Boolean = true): DataFrame = {
    var r = spark.read
      .option("header", header)
      .option("encoding", encoding)
      .option("multiLine", true)
      .option("escape", "\"")
    r = schema match {
      case Some(s) => r.schema(s)
      case None    => r.option("inferSchema", !inferStrings)
    }
    val df = r.csv(path)
    if (stampOrd) Ordering.stampOrder(df) else df
  }

  /** The one parquet reader of the library. A bare `spark.read.parquet`
    * infers the schema from the file footers, and that inference runs a
    * Spark job on every call. Here the inferred schema is kept per
    * qualified path with the fingerprint it was inferred under, and a
    * later read with the same fingerprint passes it as the read schema:
    * a fresh relation (fresh attribute ids, so self-joins still resolve)
    * built without a job.
    *
    * The fingerprint is the name, length and mtime of the file, or of each
    * file of a flat directory, plus the SQL confs that change parquet
    * inference. A path it cannot fingerprint (a glob, a missing path, a
    * directory with subdirectories such as partitions) is read exactly as
    * a bare `spark.read.parquet`, so its errors and partition discovery
    * are unchanged. A new fingerprint replaces the path's entry, so the
    * map holds at most one schema per path.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, fp)) =>
        Option(parquetSchemas.get(key)).filter(_._1 == fp) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            parquetSchemas.put(key, (fp, df.schema))
            df
        }
    }

  private val parquetSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, StructType)]

  /** (name, length, mtime) of each file, and the inference confs. */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[Option[String]])

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (qualified path, fingerprint), or None when the path is not a plain
    * file or flat directory. Taken before the read, so a file replaced
    * mid-inference leaves an entry that the next read re-infers.
    */
  private def fingerprint(spark: SparkSession, path: String): Option[(String, Fingerprint)] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      if (files.exists(_.isDirectory)) None
      else Some(fs.makeQualified(p).toString ->
        (files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .sortBy(_._1), InferenceConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.IOException => None }

  /** ORC — the other columnar format Spark ships natively; same
    * predicate-pushdown/column-pruning machinery as parquet.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", true)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Star-schema test tables (`/root/testdata/sf*`): one parquet per table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `events` — normalize the stream table to the two columns every
    * event-time query consumes, regardless of how the parquet writer
    * encoded time:
    *   - `ts`    TimestampType (session-tz instant; sessions run UTC)
    *   - `ts_ns` BIGINT nanoseconds since epoch (exact integer arithmetic
    *             for gap/interval math — no float round-trips)
    *
    * Physical encodings seen across testdata generations:
    *   - TIMESTAMP(NANOS): Spark reads it only as BIGINT via
    *     spark.sql.legacy.parquet.nanosAsLong → derive `ts` from the long
    *   - timestamp[us] (isAdjustedToUTC either way): Spark reads
    *     TimestampType or TimestampNTZType → derive `ts_ns` from it
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          // integer division: `/` on longs is DOUBLE division, which ROUNDS
          // near-microsecond values up while every other engine truncates —
          // a 1µs skew that breaks exact-time oracles (caught by q72)
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // naive timestamp = UTC by contract (sessions pin UTC), same as
        // DuckDB's epoch_ns on the identical parquet
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected BIGINT nanos or a timestamp")
    }
  }
}
