package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.i18n.Translate
import graft.ops._

/** The datasets pipeline (reference: flows/datasets.py) — ~52 transposed
  * stat sheets → regex unpivot → alias-map concatenate → two-level
  * group-to-nested pivot into chart docs with a `series[].dataset[]{x,y,q}`
  * structure → trilingual translation → ES-annotated docs.
  *
  * Inputs are injected: `sheets` are the already-transposed sheet tables
  * (records as rows, Hebrew headers — see Reshape.transposeSheet) and
  * `dicts` the translation dictionaries (reference loads both from Google
  * Sheets at import time; explicit injection per SURVEY §7.6).
  */
object Datasets {

  /** Year-column matcher (datasets.py:323-331), fullmatch semantics; the
    * whole matched name is the year key (capture group 1 wraps the whole
    * pattern in the reference).
    */
  val YearColRegex: String =
    "(([0-9])|([-0-9 ]+[א-ת ]+)|([א-ת ]*[0-9/]{2,}).+)"

  /** Canonical field ← Hebrew header aliases (datasets.py:186-247). */
  val FieldMapping: Map[String, Seq[String]] = Map(
    "kind" -> Seq("אזור באתר:"),
    "gender_index_dimension" -> Seq("ממד במדד המגדר"),
    "life_area1" -> Seq("תחום חיים1 ביודעת"),
    "life_area2" -> Seq("תחום חיים2 ביודעת"),
    "life_area3" -> Seq("תחום חיים3 ביודעת"),
    "author" -> Seq("Author"),
    "author__ar" -> Seq("מחברת בערבית"),
    "author__en" -> Seq("מחברת באנגלית"),
    "institution" -> Seq("Institution"),
    "institution__ar" -> Seq("מוסד בערבית"),
    "institution__en" -> Seq("מוסד באנגלית"),
    "item_type" -> Seq("Item type"),
    "tags" -> Seq("Tags"),
    "language" -> Nil,
    "chart_title" -> Seq("כותרת התרשים (נשים וגברים ביחד):", "כותרת התרשים בעברית"),
    "chart_title__ar" -> Seq("כותרת התרשים בערבית"),
    "chart_title__en" -> Seq("כותרת התרשים באנגלית"),
    "chart_abstract" -> Seq("אבסטרקט של התרשים", "אבסטרקט בעברית"),
    "chart_abstract__ar" -> Seq("אבסטרקט התרשים בערבית", "אבסטרקט בערבית"),
    "chart_abstract__en" -> Seq("אבסטרקט התרשים באנגלית", "אבסטרקט באנגלית"),
    "series_title" -> Seq("כותרת סדרת הנתונים (נשים או גברים):"),
    "series_title__ar" -> Seq("כותרת הסידרה בערבית"),
    "series_title__en" -> Seq("כותרת הסידרה באנגלית"),
    "series_abstract" -> Seq("אבסטרקט של סדרת הנתונים (נשים או גברים)"),
    "series_abstract__ar" -> Seq("אבסטרקט הסידרה בערבית"),
    "series_abstract__en" -> Seq("אבסטרקט הסידרה באנגלית"),
    "source_description" -> Seq("מקור הנתונים", "מקור הנתונים שיופיע מתחת לתרשים", "מקור הנתונים בעברית"),
    "source_description__ar" -> Seq("מקור הנתונים בערבית"),
    "source_description__en" -> Seq("מקור הנתונים באנגלית", "מקור הנתונים  באנגלית"),
    "source_detail_description" -> Seq("מקור הנתונים - כותרת הלוח",
      "פירוט נוסף על מקור הנתונים (רלבנטי רק כאשר אין לינק למקור הנתונים)"),
    "source_url" -> Seq("לינק למקור הנתונים", "מקור הנתונים - לינק:", "קישור למקור הנתונים"),
    "full_data_source" -> Seq("קישור לקובץ הנתונים המלא ביודעת"),
    "gender" -> Seq("מגדר", "מגדר:", "שם הסדרה", "שם הסידרה", "שם הסידרה:", "שם הסידרה בעברית"),
    "gender__ar" -> Seq("שם הסידרה בערבית", "מגדר בתרגום לערבית", "מגדר בערבית"),
    "gender__en" -> Seq("שם הסידרה באנגלית", "מגדר בתרגום לאנגלית", "מגדר באנגלית"),
    "units" -> Seq("יחידות"),
    "extrapulation_years" -> Seq(
      "שנת אקסטרפולציה (אם קיימת, מהשנה שבה עושות אקסטרפולציה):",
      "שנת אקסטרפולציה (טווח שנים או שנה ספציפית, או שנת התחלה):",
      "שנת אקסטרפולציה (טווח שנים או שנת התחלה):"),
    "chart_type" -> Seq("סוג התרשים", "סוג תרשים"),
    "last_updated_at" -> Seq("תאריך עדכון אחרון"),
    "year" -> Nil,
    "value" -> Nil)

  val ChartFields: Seq[String] = Seq(
    "kind", "gender_index_dimension", "life_areas", "item_type", "tags", "language",
    "author", "author__ar", "author__en",
    "institution", "institution__ar", "institution__en",
    "chart_title", "chart_title__ar", "chart_title__en",
    "chart_abstract", "chart_abstract__ar", "chart_abstract__en",
    "last_updated_at", "chart_type", "full_data_source")

  val SeriesFields: Seq[String] = Seq(
    "series_title", "series_title__ar", "series_title__en",
    "series_abstract", "series_abstract__ar", "series_abstract__en",
    "source_description", "source_description__ar", "source_description__en",
    "source_detail_description",
    "gender", "gender__ar", "gender__en",
    "extrapulation_years",
    "source_url", "units", "order_index")

  val ChartTypeMap: Map[String, String] = Map(
    "תרשים קו" -> "line",
    "תרשים ברים" -> "stacked",
    "תרשים ברים אופקיים" -> "hbars",
    "תרשים קו גברים-נשים" -> "line mw",
    "תרשים ברים גברים-נשים" -> "stacked mw")

  val UnitsWhitelist: Seq[String] =
    Seq("אחוזים עד 1", "אחוזים עד 100", "מספר", "ש\"ח", "שנים", "מספר עד 1")

  /** Per-sheet partition key threaded through the unpivot+concat so the
    * forward-fill window distributes (one partition per sheet, not one
    * global partition).
    */
  private val SheetCol = "__sheet"

  /** fix_values (datasets.py:130-137): keep rows with a chart title,
    * strip '%' from `value`, and drop rows whose value is then empty.
    */
  def fixValues(df: DataFrame): DataFrame = df
    .filter(col("chart_title").isNotNull && col("chart_title") =!= "")
    .withColumn("value", regexp_replace(col("value"), "%", ""))
    .filter(col("value").isNotNull && col("value") =!= "")

  /** Full pipeline. `sheets` = transposed sheet tables in source order. */
  def run(
      spark: SparkSession,
      sheets: Seq[DataFrame],
      dicts: Map[String, Map[String, Translate.Entry]]): DataFrame = {

    // 1. per-sheet regex unpivot (year columns → rows), stamping source
    //    order WITHOUT any window: __ord = sheet index ⋅ 2^41 + the
    //    partition-monotonic id (partitionId⋅2^33 + offset — monotone in
    //    file order, < 2^41 for ≤256 partitions/sheet). Sheet index
    //    dominates, so global order = (sheet, row) order; no shuffle, no
    //    single-task window per sheet.
    val unpivoted = sheets.zipWithIndex.map { case (sheet, si) =>
      // the 41-bit split below assumes partitionId < 256 per sheet
      // (monotonically_increasing_id = partitionId⋅2^33 + offset); a
      // wider sheet would silently bleed into the next sheet's __ord
      // range and mis-derive __sheet — fail loudly instead. Sheets are
      // hand-edited workbooks (≤ thousands of rows); hitting this means
      // the input is not a sheet and this pipeline is the wrong tool.
      require(sheet.rdd.getNumPartitions <= 256,
        s"Datasets.run: sheet $si has ${sheet.rdd.getNumPartitions} partitions; " +
          "the __ord stamp supports at most 256 per sheet")
      val stamped = Ordering.stampOrder(sheet)
        .withColumn(Ordering.ORD, lit(si.toLong << 41) + col(Ordering.ORD))
        // derived (non-foldable) rather than lit(si): a constant-foldable
        // partition key gets pruned from the window spec by the optimizer,
        // silently degrading the fill to one global partition
        .withColumn(SheetCol, shiftright(col(Ordering.ORD), 41).cast("int"))
      Reshape.unpivotRegex(stamped, "^" + YearColRegex + "$", "year", "value")
    }

    // 2. alias-map concatenate (datasets.py:336)
    val cat = Joins.concatenate(unpivoted,
      FieldMapping + (Ordering.ORD -> Nil) + (SheetCol -> Nil))

    // 3. url repair, forward-fill chart_title, language constant,
    //    order_index (datasets.py:436-341). The fill runs per sheet
    //    (sheets are independently authored; a title never carries across
    //    a sheet boundary) so the window shuffle distributes across
    //    sheets instead of serializing the whole union through one task.
    //    order_index is the __ord stamp itself — monotone in file order,
    //    which is all the downstream series sort consumes — rather than a
    //    contiguous global row_number (an unpartitioned single-task
    //    window at scale).
    val filled = Ordering.forwardFill(
      cat.withColumn("source_url", RowOps.repairUrl(col("source_url")))
        .withColumn("language", lit("heb,eng,ara")),
      "chart_title", Ordering.ORD, partitionBy = Seq(SheetCol))
    val ordered = filled.withColumn("order_index", col(Ordering.ORD)).drop(SheetCol)

    // 4. set_defaults (datasets.py:105-112)
    val defaulted = Seq(
      ("series_title", "gender"),
      ("chart_title", "series_title"), ("chart_title__ar", "series_title__ar"),
      ("chart_abstract", "series_abstract"), ("chart_abstract__ar", "series_abstract__ar"))
      .foldLeft(ordered) { case (df, (f, from)) => RowOps.fallback(df, f, from) }

    // 5. extrapulation_years → sorted string array (datasets.py:113-127)
    val withEy = defaulted.withColumn("extrapulation_years",
      when(col("extrapulation_years").isNull, array().cast(ArrayType(StringType)))
        .otherwise(transform(
          array_sort(RowOps.expandYearList(col("extrapulation_years"))),
          y => y.cast(StringType))))

    // 6. fix_values (datasets.py:130-137)
    val fixed = fixValues(withEy)

    // 7. value → decimal with groupChar (datasets.py:345), units assert +
    //    percent rescale (datasets.py:140-147)
    val typed = SetType.setType(fixed, "value", DecimalType(38, 10), groupChar = ",")
    val united = Validate.validateUnits(typed, "units", "value",
      UnitsWhitelist, rescaleFrom = "אחוזים עד 1", rescaleTo = "אחוזים עד 100")

    // 8. life_areas array from life_area1..3 (datasets.py:349-363)
    val withAreas = united.withColumn("life_areas",
      filter(array(col("life_area1"), col("life_area2"), col("life_area3")),
        x => x.isNotNull))
      .drop("life_area1", "life_area2", "life_area3")

    // 9. join_self #1 on (chart_title, series_title): scalars first,
    //    year/value arrays, max_year (datasets.py:364-376)
    val spec1: Map[String, Joins.AggSpec] =
      ((ChartFields ++ SeriesFields).filterNot(_ == "life_areas")
        .filterNot(Seq("year", "value").contains)
        .map(_ -> (Joins.First: Joins.AggSpec)) ++
        Seq("life_areas" -> Joins.First,
          "year" -> Joins.Collect, "value" -> Joins.Collect))
        .toMap - "chart_title" - "series_title"
    val g1 = Joins.joinSelf(withAreas, Seq("chart_title", "series_title"), spec1)
      .withColumn("max_year", array_max(col("year")))

    // 10. dataset = zip(year, value) → {x, y: double, q} (datasets.py:378-389)
    val withDataset = g1.withColumn("dataset",
      Reshape.zipToPoints(col("year"),
        transform(col("value"), _.cast(DoubleType)), col("extrapulation_years")))
      .drop("year", "value")

    // 11. join_self #2 on chart_title (datasets.py:391-403)
    val spec2: Map[String, Joins.AggSpec] =
      (ChartFields.map(_ -> (Joins.First: Joins.AggSpec)) ++
        (SeriesFields ++ Seq("dataset")).map(_ -> (Joins.Collect: Joins.AggSpec)) ++
        Seq("num_datasets" -> Joins.CountRows, "max_year" -> Joins.Max))
        .toMap - "chart_title"
    val g2 = Joins.joinSelf(withDataset, Seq("chart_title"), spec2)
      .withColumnRenamed("max_year", "year")

    // 12. year int with clear_to_2020 policy (datasets.py:312-316,404)
    val withYear = SetType.setType(g2, "year", IntegerType,
      bareNumber = false, onError = SetType.Default(lit(2020)))

    // 13. series packing: per-index struct of series fields whose array
    //     length == num_datasets, sorted by order_index (datasets.py:405-424)
    val seriesCols = SeriesFields ++ Seq("dataset")
    val mkStruct = (i: Column) => struct(seriesCols.map { f =>
      when(size(col(f)) === col("num_datasets"), element_at(col(f), i)).as(f)
    }: _*)
    val packed = withYear.withColumn("series",
      array_sort(
        transform(sequence(lit(1), col("num_datasets").cast(IntegerType)), mkStruct),
        (a, b) => when(a.getField("order_index") < b.getField("order_index"), -1)
          .when(a.getField("order_index") > b.getField("order_index"), 1)
          .otherwise(0)))
      .drop(seriesCols: _*)

    // 14. chart_type recode, strict with null→line (datasets.py:276-300)
    val typedChart = packed.withColumn("chart_type",
      when(col("chart_type").isNull, lit("line"))
        .otherwise(RowOps.recode(col("chart_type"), ChartTypeMap, default = None)))
    val chartChecked = Validate.assertRows(typedChart,
      col("chart_type").isNotNull, "unknown chart_type")

    // 15. trilingual translation of tags / life_areas / language
    //     (datasets.py:427-429); doc_id + title_kw (datasets.py:430-450)
    val translated = Seq(
      ("tags", "tags"), ("life_areas", "life_areas"), ("language", "languages"))
      .foldLeft(chartChecked) { case (df, (f, dictName)) =>
        val asStr = df.withColumn(f,
          when(col(f).isNull, lit(null).cast(StringType))
            .otherwise(concat_ws(",", col(f))))
        Translate.splitAndTranslate(asStr, f,
          dicts.getOrElse(dictName, Map.empty))
      }
    val done = translated
      .withColumn("doc_id", RowOps.docId("dataset", col("chart_title")))
      .withColumn("title_kw", col("chart_title"))

    // es:* annotations (datasets.py:347,412,437-450)
    import graft.schema.EsMeta
    EsMeta.keyword(
      EsMeta.title(
        EsMeta.itemType(
          EsMeta.noIndex(
            EsMeta.itemType(done, "extrapulation_years", "string"),
            "series"),
          "series", "object"),
        "chart_title", "chart_title__ar", "chart_title__en"),
      "item_type", "kind", "title_kw")
  }
}
