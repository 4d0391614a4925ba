package graft.sinks

import graft.SparkSpec
import graft.sinks.Xlsx.Sheet

class XlsxSpec extends SparkSpec {

  private def tmp(name: String): String =
    s"${scratch(s"xlsx_$name")}/$name"

  test("address codec: letters round-trip past Z") {
    assert(Xlsx.colLetters(1) == "A" && Xlsx.colLetters(26) == "Z" &&
      Xlsx.colLetters(27) == "AA" && Xlsx.colLetters(703) == "AAA")
    for (c <- Seq(1, 2, 26, 27, 52, 702, 703); r <- Seq(1, 9, 120))
      assert(Xlsx.parseAddress(Xlsx.address(r, c)) == (r, c))
  }

  test("write → read round-trips strings, numbers, unicode, XML specials") {
    val s = Sheet("נתונים", Map(
      (1, 1) -> "title", (1, 2) -> "ערך <&\"'>",
      (2, 1) -> "42", (2, 2) -> "-3.25",
      (3, 3) -> "  spaced  "))
    val back = Xlsx.readWorkbook(Xlsx.writeWorkbook(Seq(s)))
    assert(back.size == 1)
    assert(back.head.name == "נתונים")
    assert(back.head.cells == s.cells)
  }

  test("multi-sheet workbooks keep order and independent grids") {
    val a = Sheet("first", Map((1, 1) -> "x"))
    val b = Sheet("second", Map((2, 2) -> "y"))
    val back = Xlsx.readWorkbook(Xlsx.writeWorkbook(Seq(a, b)))
    assert(back.map(_.name) == Seq("first", "second"))
    assert(back(1).cells == Map((2, 2) -> "y"))
  }

  test("writeWorkbook is byte-deterministic") {
    val s = Seq(Sheet("s", Map((1, 1) -> "v", (5, 3) -> "7")))
    assert(Xlsx.writeWorkbook(s).toSeq == Xlsx.writeWorkbook(s).toSeq)
  }

  test("reader resolves shared strings (external-producer layout)") {
    // hand-build a minimal workbook that uses sharedStrings the way
    // Excel/openpyxl write it — our writer uses inline strings, so this
    // path only gets exercised by a synthetic fixture
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(body.getBytes("UTF-8")); z.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>hello</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1"><v>9.5</v></c></row></sheetData></worksheet>""")
    z.close()
    val back = Xlsx.readWorkbook(bos.toByteArray)
    assert(back.head.cells == Map((1, 1) -> "hello", (1, 2) -> "rich", (1, 3) -> "9.5"))
  }

  test("sheetRows stitches continuation headers and skips deleted sheets") {
    val wb = Seq(
      Sheet("main", Map((1, 1) -> "migdar_id", (1, 2) -> "title",
        (2, 1) -> "m1", (2, 2) -> "t1")),
      // continuation: no header row of its own → first sheet's header
      Sheet("more", Map((1, 1) -> "m2", (1, 2) -> "t2")),
      // own header (contains migdar_id)
      Sheet("other", Map((1, 1) -> "title", (1, 2) -> "migdar_id",
        (2, 1) -> "t3", (2, 2) -> "m3")),
      Sheet("DELETED rows", Map((1, 1) -> "junk")))
    val out = Xlsx.sheetRows(wb)
    assert(out.map(_._1) == Seq("main", "more", "other"))
    assert(out(0)._3 == Seq(Seq("m1", "t1")))
    assert(out(1)._2 == Seq("migdar_id", "title"))
    assert(out(1)._3 == Seq(Seq("m2", "t2")))
    assert(out(2)._2 == Seq("title", "migdar_id"))
  }

  test("loadWorkbook: union of stitched sheets as a string DataFrame") {
    val path = tmp("pub.xlsx")
    Xlsx.write(path, Seq(
      Sheet("a", Map((1, 1) -> "migdar_id", (1, 2) -> "title",
        (2, 1) -> "m1", (2, 2) -> "t1", (3, 1) -> "m2", (3, 2) -> "t2")),
      Sheet("b", Map((1, 1) -> "m3", (1, 2) -> "t3")),
      Sheet("deleted stuff", Map((1, 1) -> "x"))))
    val df = Xlsx.loadWorkbook(spark, path)
    assert(df.columns.toSeq == Seq("migdar_id", "title", "__sheet", "__sheet_row"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("m1", "t1", "a"), ("m2", "t2", "a"), ("m3", "t3", "b")))
  }

  test("XlsxTemplateWriter fills a template into a real decodable xlsx") {
    val tplPath = tmp("template.xlsx")
    Xlsx.write(tplPath, Seq(Sheet("Chart", Map(
      (1, 1) -> "כותרת:", (9, 1) -> "שנה"))))  // labels the template carries
    val w = new XlsxAssets.XlsxTemplateWriter(Some(tplPath))
    val outPath = tmp("doc.xlsx")
    w.write(outPath, Seq("B1" -> "my chart", "B9" -> "נשים", "A10" -> "2001", "B10" -> "1.5"))
    val back = Xlsx.read(outPath).head
    assert(back.cells((1, 1)) == "כותרת:")    // template survives
    assert(back.cells((1, 2)) == "my chart")  // fill applied
    assert(back.cells((10, 2)) == "1.5")
  }

  test("writeAssets with the real XLSX writer emits one workbook per doc") {
    val out = scratch("xlsx_assets")
    val docs = spark.sql(
      """SELECT 'dataset/abc' AS doc_id, 'T' AS chart_title,
        |  array(named_struct('series_title', 'S1',
        |    'dataset', array(named_struct('x', '2001', 'y', 1.5D)))) AS series""".stripMargin)
    val n = XlsxAssets.writeAssets(docs, out, new XlsxAssets.XlsxTemplateWriter())
    assert(n == 1)
    val wb = Xlsx.read(s"$out/dataset_abc.xlsx").head
    assert(wb.cells((1, 2)) == "T")
    assert(wb.cells((9, 2)) == "S1")
    assert(wb.cells((10, 1)) == "2001")
    assert(wb.cells((10, 2)) == "1.5")
  }
}
