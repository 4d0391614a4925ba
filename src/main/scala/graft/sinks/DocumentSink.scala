package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Load

/** K2/K3 — the reference's Elasticsearch sink semantics re-expressed as a
  * parquet-backed document store so the logic is testable offline and the
  * connector swappable (reference: dump_to_es.py:41-171):
  *
  *  1. mapping generation honoring `es:*` field annotations
  *     (dump_to_es.py:10-39) → here a JSON mapping derived from
  *     StructField.Metadata;
  *  2. `create_timestamp` carry-over: first-seen time survives re-index
  *     (dump_to_es.py:82-94) → left join against the previous snapshot;
  *  3. revision sweep: after load, docs whose `revision` < current are
  *     deleted (dump_to_es.py:43-79) → filter on rewrite;
  *  4. `collate`: second copy of every kind into a unified docs index as
  *     {doc_id, revision, score, value: json} (dump_to_es.py:105-132).
  *
  * All four are deterministic DataFrame ops — at scale the store would be
  * a Delta/Iceberg MERGE; on plain parquet we rewrite the snapshot (the
  * reference's indexes are < 1e5 docs).
  */
object DocumentSink {

  private val Json = new ObjectMapper()

  /** ES-style mapping JSON from field metadata: `es:keyword` → keyword,
    * `es:hebrew` → text + hebrew analyzer subfield, `es:boost` → boost,
    * `es:index=false` → unindexed (reference mapping gen dump_to_es.py:10-39).
    */
  def mappingJson(schema: StructType): String = {
    val mapping = Json.createObjectNode()
    val props = mapping.putObject("properties")
    schema.fields.foreach { f =>
      val m = f.metadata
      def has(k: String) = m.contains(k)
      val esType =
        if (has("es:keyword") && m.getBoolean("es:keyword")) "keyword"
        else f.dataType match {
          case StringType => "text"
          case LongType | IntegerType => "long"
          case DoubleType | FloatType | _: DecimalType => "double"
          case BooleanType => "boolean"
          case DateType | TimestampType => "date"
          case ArrayType(StringType, _) => "text"
          case _ => "object"
        }
      val field = props.putObject(f.name).put("type", esType)
      if (has("es:boost")) field.put("boost", m.getDouble("es:boost"))
      if (has("es:index") && !m.getBoolean("es:index")) field.put("index", false)
      if (has("es:hebrew") && m.getBoolean("es:hebrew"))
        field.putObject("fields").putObject("hebrew")
          .put("type", "text").put("analyzer", "hebrew")
    }
    Json.writeValueAsString(mapping)
  }

  /** Index a batch with ES-sink semantics. `storePath` holds the previous
    * snapshot (may not exist on first run). Returns the new snapshot.
    */
  def index(
      spark: SparkSession,
      batch: DataFrame,
      storePath: String,
      idCol: String = "doc_id",
      revisionCol: String = "revision",
      currentRevision: Long): DataFrame = {
    // Structural freshness probe instead of letting the read throw:
    // Spark 4.1 logs analysis exceptions with a full stack even when the
    // caller catches them (stderr pollution on every first run), and a
    // catch-all around the read would silently treat a TRANSIENT read
    // failure as "first run" — erasing the store's history on the next
    // overwrite. So: no parquet part files under the path (missing dir,
    // or only _temporary debris from a crashed write) ⇒ first run; any
    // actual read error on a real store PROPAGATES.
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasParquetFiles: Boolean = fs.exists(hPath) &&
      fs.listStatus(hPath).exists { st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")
      }
    val existing: Option[DataFrame] =
      if (hasParquetFiles) Some(Load.parquet(spark, storePath))
      else {
        if (fs.exists(hPath)) System.err.println(
          s"[document-sink] $storePath exists but holds no parquet files " +
            "(crashed write debris?) — treating as first run")
        None
      }

    // create_timestamp carry-over: keep the earliest first-seen stamp
    val stamped = batch.withColumn("create_timestamp",
      coalesce(col("create_timestamp"), current_timestamp()))
    val carried = existing match {
      case Some(old) if old.columns.contains("create_timestamp") =>
        val prev = old.select(col(idCol), col("create_timestamp").as("__prev_ts"))
        stamped.join(prev, Seq(idCol), "left")
          .withColumn("create_timestamp", coalesce(col("__prev_ts"), col("create_timestamp")))
          .drop("__prev_ts")
      case _ => stamped
    }

    // upsert: new batch wins per doc_id; untouched old docs survive...
    val merged = existing match {
      case Some(old) =>
        val survivors = old.join(carried.select(idCol), Seq(idCol), "left_anti")
        survivors.unionByName(carried, allowMissingColumns = true)
      case None => carried
    }
    // ...unless stale: revision sweep deletes docs below current revision
    val swept = merged.filter(col(revisionCol) >= currentRevision)

    val tmp = storePath + "__tmp"
    swept.write.mode(SaveMode.Overwrite).parquet(tmp)
    val res = Load.parquet(spark, tmp)
    res.write.mode(SaveMode.Overwrite).parquet(storePath)
    Load.parquet(spark, storePath)
  }

  /** K3 collate projection: every kind → the unified docs index shape
    * {doc_id, doc_kind, revision, score, value: json-of-row}
    * (reference: dump_to_es.py:105-132).
    */
  def collate(df: DataFrame, kind: String, idCol: String = "doc_id",
      revisionCol: String = "revision", scoreCol: Option[String] = None): DataFrame = {
    val rest = df.columns.filterNot(c => c == idCol || c == revisionCol)
    df.select(
      col(idCol).as("doc_id"),
      lit(kind).as("doc_kind"),
      col(revisionCol).as("revision"),
      scoreCol.map(col).getOrElse(lit(1.0)).cast(DoubleType).as("score"),
      to_json(struct(rest.map(col).toSeq: _*)).as("value"))
  }
}
