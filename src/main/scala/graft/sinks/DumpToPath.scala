package graft.sinks

import java.nio.file.{Files, Paths, StandardOpenOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.{Flow, Resource}

/** K1 `dump_to_path` — write each resource as CSV plus a
  * `datapackage.json` descriptor mirroring the Frictionless layout the
  * reference emits (reference: datasets.py:465, zotero.py:116,
  * judges.py:150). Field `es:*` annotations round-trip through
  * StructField.Metadata.
  */
object DumpToPath {

  private def frictionlessType(dt: DataType): String = dt match {
    case StringType                       => "string"
    case _: IntegerType | LongType        => "integer"
    case _: DecimalType | DoubleType | FloatType => "number"
    case BooleanType                      => "boolean"
    case DateType                         => "date"
    case TimestampType                    => "datetime"
    case _: ArrayType                     => "array"
    case _: StructType | _: MapType       => "object"
    case _                                => "any"
  }

  private val Json = new ObjectMapper()

  private def fieldJson(f: StructField): ObjectNode = {
    // es:* annotations ride as extra keys after name and type
    Json.createObjectNode().put("name", f.name).put("type", frictionlessType(f.dataType))
      .setAll[ObjectNode](Json.readTree(f.metadata.json).asInstanceOf[ObjectNode])
  }

  private def resourceDescriptor(r: Resource): ObjectNode = {
    val node = Json.createObjectNode().put("name", r.name)
      .put("path", r.path.getOrElse(r.name + ".csv"))
      .put("profile", "tabular-data-resource")
    val schema = node.putObject("schema")
    val fields = schema.putArray("fields")
    r.df.schema.fields.foreach(f => fields.add(fieldJson(f)))
    if (r.primaryKey.nonEmpty) {
      val pk = schema.putArray("primaryKey")
      r.primaryKey.foreach(k => pk.add(k))
    }
    node
  }

  /** Write the whole package: one CSV directory per resource + a combined
    * datapackage.json at the root.
    */
  def dump(ctx: Flow.Ctx, outDir: String, packageName: String = "graft"): Unit = {
    Files.createDirectories(Paths.get(outDir))
    ctx.values.foreach { r =>
      flatForCsv(r.df).coalesce(1).write.mode("overwrite")
        .option("header", true)
        .csv(s"$outDir/${r.name}")
    }
    val dp = Json.createObjectNode().put("name", packageName)
    val resources = dp.putArray("resources")
    ctx.values.foreach(r => resources.add(resourceDescriptor(r)))
    Files.write(Paths.get(s"$outDir/datapackage.json"),
      Json.writeValueAsBytes(dp),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }

  /** CSV can't hold arrays/structs — serialize them to JSON strings the
    * way the reference's CSV dumps render complex cells.
    */
  private def flatForCsv(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
}
