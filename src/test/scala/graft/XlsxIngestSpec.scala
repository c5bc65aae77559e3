package graft

import java.nio.file.Files

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.ingest.XlsxIngest

class XlsxIngestSpec extends AnyFunSuite with TimeLimits {

  lazy val matrices: Map[String, Vector[Vector[String]]] =
    XlsxIngest.parseMatrices(XlsxFixture.create().toString).toMap

  test("sheet catalog: both worksheets found, styles rel ignored, order kept") {
    val names = XlsxIngest
      .parseMatrices(XlsxFixture.create().toString).map(_._1)
    assert(names == Seq("Data", "Second Sheet"))
  }

  test("shared strings resolve, including rich-text runs") {
    val m = matrices("Data")
    assert(m(0) == Vector("Name", "Qty", "When"))
    assert(m(1)(0) == "Widget") // <r><t>Wid</t></r><r><t>get</t></r>
  }

  test("builtin date style (numFmtId 14) converts serial to ISO with leap bug") {
    // serial 45292: real Excel date 2024-01-01; reference arithmetic
    // (1899-12-31 + serial) gives 2024-01-02
    assert(matrices("Data")(1)(2) == "2024-01-02")
  }

  test("custom numFmt with unescaped mdy is a date; serial 60 → 1900-03-01") {
    assert(matrices("Data")(2)(2) == "1900-03-01")
  }

  test("numeric formats (0.00) and escaped \\m are NOT dates") {
    val m = matrices("Data")
    assert(m(3)(1) == "1.23") // style 3 → numFmtId 165 "0.00"
    assert(m(3)(2) == "7")    // style 4 → numFmtId 166 "0\\m"
  }

  test("missing cells are dense-filled with empty strings") {
    assert(matrices("Data")(2)(1) == "") // B3 absent
  }

  test("trailing empty rows trimmed, ragged width sliced to max used col") {
    val m = matrices("Data")
    assert(m.length == 4)          // rows 5,6 empty → dropped
    assert(m.forall(_.length == 3)) // dimension says D but D never used
  }

  test("leapBugCompat=false yields Excel's displayed calendar") {
    val m = XlsxIngest.parseMatrices(XlsxFixture.create().toString,
      XlsxIngest.Options(leapBugCompat = false)).toMap
    assert(m("Data")(1)(2) == "2024-01-01")
    assert(m("Data")(2)(2) == "1900-02-28") // serial 60, fictitious Feb 29
  }

  test("sheet without a <dimension> element falls back to observed extent") {
    // some producers omit dimension; the reference skips such sheets
    // (xlsparser.js:127-129) — we parse them from the observed cells,
    // a documented, tested improvement
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft-nodim", ".xlsx")
    val zip = new ZipOutputStream(new java.io.FileOutputStream(path.toFile))
    def put(n: String, c: String): Unit = {
      zip.putNextEntry(new ZipEntry(n))
      zip.write(c.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/workbook.xml", XlsxFixture.WorkbookXml
      .replace("<sheet name=\"Second Sheet\" sheetId=\"2\" r:id=\"rId2\"/>", ""))
    put("xl/_rels/workbook.xml.rels", XlsxFixture.RelsXml)
    put("xl/sharedStrings.xml", XlsxFixture.SharedStringsXml)
    put("xl/styles.xml", XlsxFixture.StylesXml)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2"><v>5</v></c><c r="B2"><v>6</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    val m = graft.ingest.XlsxIngest.parseMatrices(path.toString).toMap
    assert(m("Data") == Vector(Vector("Name", "Qty"), Vector("5", "6")))
  }

  test("stale dimension understating the sheet is widened to observed cells") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft-stale", ".xlsx")
    val zip = new ZipOutputStream(new java.io.FileOutputStream(path.toFile))
    def put(n: String, c: String): Unit = {
      zip.putNextEntry(new ZipEntry(n))
      zip.write(c.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/workbook.xml", XlsxFixture.WorkbookXml
      .replace("<sheet name=\"Second Sheet\" sheetId=\"2\" r:id=\"rId2\"/>", ""))
    put("xl/_rels/workbook.xml.rels", XlsxFixture.RelsXml)
    put("xl/sharedStrings.xml", XlsxFixture.SharedStringsXml)
    put("xl/styles.xml", XlsxFixture.StylesXml)
    // dimension claims A1:B1 but data reaches C2
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<dimension ref="A1:B1"/>
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="C2"><v>9</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    val m = graft.ingest.XlsxIngest.parseMatrices(path.toString).toMap
    assert(m("Data") ==
      Vector(Vector("Name", "Qty", "When"), Vector("1", "", "9")))
  }

  test("blank worksheet is skipped by readWorkbook, not fatal") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft-blank", ".xlsx")
    val zip = new ZipOutputStream(new java.io.FileOutputStream(path.toFile))
    def put(n: String, c: String): Unit = {
      zip.putNextEntry(new ZipEntry(n))
      zip.write(c.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/workbook.xml", XlsxFixture.WorkbookXml)
    put("xl/_rels/workbook.xml.rels", XlsxFixture.RelsXml)
    put("xl/sharedStrings.xml", XlsxFixture.SharedStringsXml)
    put("xl/styles.xml", XlsxFixture.StylesXml)
    put("xl/worksheets/sheet1.xml", XlsxFixture.SheetXml)
    put("xl/worksheets/sheet2.xml", // untouched empty sheet
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<dimension ref="A1"/><sheetData/></worksheet>""".stripMargin)
    zip.close()
    val dfs = graft.ingest.XlsxIngest.readWorkbook(TestSpark.spark, path.toString)
    assert(dfs.keySet == Set("Data")) // blank sheet skipped
    assert(dfs("Data").count() == 3)
  }

  test("inline strings, implied cell positions, crafted dimension box") {
    // three producer behaviors the fixture workbook doesn't cover:
    // t="inlineStr" cells (openpyxl write-only / POI SXSSF), <c>
    // without r= (position implied from the previous cell), and a
    // full-sheet <dimension> box over a tiny sheet — which must NOT
    // drive the dense allocation (it used to OOM the driver; the
    // extent comes from the observed cells, and the trailing trim
    // made the declared box unobservable in the output anyway)
    val path = XlsxFixture.createWith(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<dimension ref="A1:XFD1048576"/>
        |<sheetData>
        |<row r="1">
        |  <c r="A1" t="inlineStr"><is><t>hello</t></is></c>
        |  <c t="inlineStr"><is><r><t>ri</t></r><r><t>ch</t></r></is></c>
        |  <c><v>7</v></c>
        |</row>
        |<row>
        |  <c t="s"><v>4</v></c>
        |</row>
        |</sheetData>
        |</worksheet>""".stripMargin)
    val m = graft.ingest.XlsxIngest.parseMatrices(path.toString).toMap
    assert(m("Only") == Vector(
      Vector("hello", "rich", "7"),
      Vector("Gadget", "", "")))
  }

  test("readWorkbook produces all-string DataFrames with header row 0") {
    val spark = TestSpark.spark
    val dfs = XlsxIngest.readWorkbook(spark, XlsxFixture.create().toString)
    val df = dfs("Data")
    assert(df.columns.toSeq == Seq("Name", "Qty", "When"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 3)
    val first = df.orderBy("Name").collect().head
    assert(first.getString(0) == "2.5") // numeric row, sorted first
  }

  implicit val signaler: Signaler = ThreadSignaler

  /** One value at A1 and one cell at XFD64000: 64000 x 16384 apart. */
  private def farCell(cell: String) = XlsxFixture.createWith(
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |<sheetData>
       |<row r="1"><c r="A1"><v>1</v></c></row>
       |<row r="64000">$cell</row>
       |</sheetData>
       |</worksheet>""".stripMargin)

  test("an empty styled cell far out does not size the dense matrix") {
    val path = farCell("""<c r="XFD64000" s="0"/>""")
    assert(Files.size(path) < 2048)
    val m = failAfter(Span(30, Seconds)) {
      XlsxIngest.parseMatrices(path.toString).toMap
    }
    assert(m("Only") == Vector(Vector("1")))
  }

  test("a non-empty extent too large for a dense matrix fails by name") {
    val e = failAfter(Span(30, Seconds)) {
      intercept[XlsxIngest.SheetTooLargeException] {
        XlsxIngest.parseMatrices(farCell("""<c r="XFD64000"><v>2</v></c>""").toString)
      }
    }
    assert((e.sheet, e.rows, e.cols) == (("Only", 64000, 16384)))
    assert(e.getMessage.contains("'Only'") && e.getMessage.contains("64000 rows x 16384"))
  }
}
