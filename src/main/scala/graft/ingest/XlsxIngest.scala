package graft.ingest

import java.io.InputStream
import java.util.zip.ZipFile

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.expr.{A1Ref, ExcelDate}
import graft.model.SheetMatrix

/** XLSX → per-sheet all-string DataFrames, re-implementing the
  * reference's client-side parser (`app/static/xlsparser.js:14-219`)
  * as a streaming StAX pass over the zip members it extracts
  * (`xlsparser.js:20-34`: worksheets, sharedStrings, workbook, styles,
  * rels — nothing else is read).
  *
  * Faithful semantics:
  *  - shared-string cells (`t="s"`) dereference the pool
  *    (`xlsparser.js:165-167`);
  *  - date-styled numeric cells (builtin numFmt ids {14,15,16,17,22,30}
  *    + custom formats whose code has an unescaped m/d/y —
  *    `xlsparser.js:52-77`) convert their 1900-system serial to an ISO
  *    `yyyy-mm-dd` string (`:168-183`), keeping the leap bug unless
  *    `leapBugCompat = false` (reference bug B7 made explicit);
  *  - dense `''` pre-fill to the `<dimension>` box, then trailing-empty
  *    -row trim with early cut-off and ragged-width slice
  *    (`:121-214`, CHANGELOG 2.1);
  *  - sheets ordered by `workbook.xml`, joined to `.rels` targets on
  *    `r:id`, worksheet type only (`:104-118`).
  *
  * Scale stance: an xlsx is a zip of XML — not splittable, and the
  * reference targets "small tables" (`README.md:2`). The parse is
  * streaming (O(used cells) memory) on the driver; fan-out to
  * executors happens at `createDataFrame`. Bulk data belongs to
  * CSV/parquet sources.
  */
object XlsxIngest {

  private val BuiltinDateIds = Set(14, 15, 16, 17, 22, 30)
  // unescaped m/d/y (xlsparser.js:73: /[^\\][mdy]|^[mdy]/)
  private val DateCodeRe = "[^\\\\][mdy]|^[mdy]".r
  private val IntPrefixRe = "^[+-]?\\d+".r

  final case class Options(leapBugCompat: Boolean = true)

  /** Cells of the largest dense matrix a sheet may parse to: Excel's
    * full width (16384 columns) by 4096 rows, ~256 MB of references.
    */
  val MaxDenseCells: Long = 1L << 26

  /** A sheet whose non-empty cells span more than [[MaxDenseCells]]. */
  final class SheetTooLargeException(val sheet: String, val rows: Int,
      val cols: Int)
      extends RuntimeException(s"sheet '$sheet': non-empty cells span " +
        s"$rows rows x $cols columns, more than the $MaxDenseCells " +
        "cells of a dense sheet matrix")

  /** Parse every worksheet: insertion-ordered map sheetName → DataFrame.
    * Sheets that parse to nothing (blank worksheets — Excel routinely
    * writes an untouched Sheet2 with no cells) are skipped, matching
    * the reference's `continue` on unusable sheets (xlsparser.js:127-129).
    */
  def readWorkbook(
      spark: SparkSession,
      path: String,
      opts: Options = Options()): ListMap[String, DataFrame] =
    ListMap(parseMatrices(path, opts).collect {
      case (name, m) if m.nonEmpty =>
        name -> SheetMatrix.toDataFrame(spark, m)
    }: _*)

  /** Parse to raw matrices (header row still in row 0) — the exact IR
    * of the reference; used by tests and by callers that feed
    * destinations directly.
    *
    * `only`: parse just the named sheet (the catalog/rels/strings
    * members are always read — they are tiny; the WORKSHEET XML
    * streams of unselected sheets are skipped entirely, which is what
    * matters for a multi-sheet workbook read through the DataSource's
    * `sheet` option). None parses every sheet.
    */
  def parseMatrices(
      path: String,
      opts: Options = Options(),
      only: Option[String] = None): Seq[(String, Vector[Vector[String]])] = {
    val zip = new ZipFile(path)
    try {
      def open(name: String): Option[InputStream] =
        Option(zip.getEntry(name)).map(zip.getInputStream)

      val xml = xmlFactory()
      val shared = open("xl/sharedStrings.xml")
        .map(parseSharedStrings(xml, _)).getOrElse(Vector.empty)
      val areDates = open("xl/styles.xml")
        .map(parseStyles(xml, _)).getOrElse(Vector.empty)
      val sheets = parseSheetCatalog(xml,
        open("xl/workbook.xml"), open("xl/_rels/workbook.xml.rels"))
        .filter { case (n, _) => only.forall(_ == n) }

      sheets.flatMap { case (sheetName, target) =>
        // rels targets are relative to xl/ (e.g. "worksheets/sheet1.xml");
        // the reference keeps only the basename and prefixes the dir.
        val base = target.substring(target.lastIndexOf('/') + 1)
        open(s"xl/worksheets/$base").map { in =>
          sheetName -> parseSheet(xml, sheetName, in, shared, areDates, opts)
        }
      }
    } finally zip.close()
  }

  // ---- zip member parsers -------------------------------------------------

  /** The StAX factory of one workbook parse. `newInstance` is a
    * service lookup over the classpath, so one parse makes one factory
    * and reads every member with it; a factory is not shared across
    * parses, which may run on concurrent executor threads.
    */
  private def xmlFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    f
  }

  /** `<si>` entries; each is the concatenation of its `<t>` descendants
    * (covers plain and rich-text runs).
    */
  private[ingest] def parseSharedStrings(xml: XMLInputFactory,
      in: InputStream): Vector[String] = {
    val r = xml.createXMLStreamReader(in)
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += cur.result()
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** `cellXfs` ordinal → is-date?, from builtin ids + custom numFmts
    * with unescaped m/d/y (`xlsparser.js:52-82`).
    */
  private[ingest] def parseStyles(xml: XMLInputFactory,
      in: InputStream): Vector[Boolean] = {
    val r = xml.createXMLStreamReader(in)
    val dateIds = mutable.Set.empty[Int] ++ BuiltinDateIds
    val xfs = Vector.newBuilder[Boolean]
    val pendingXf = mutable.ArrayBuffer.empty[Int]
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              val id = Option(r.getAttributeValue(null, "numFmtId"))
                .flatMap(_.toIntOption)
              val code = Option(r.getAttributeValue(null, "formatCode"))
              for (i <- id; c <- code)
                if (DateCodeRe.findFirstIn(c).isDefined) dateIds += i
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              pendingXf += Option(r.getAttributeValue(null, "numFmtId"))
                .flatMap(_.toIntOption).getOrElse(0)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    r.close()
    pendingXf.foreach(id => xfs += dateIds.contains(id))
    xfs.result()
  }

  /** Ordered (sheetName, relTarget) via workbook.xml ⋈ rels on r:id,
    * `/worksheet` type only (`xlsparser.js:104-118`).
    */
  private[ingest] def parseSheetCatalog(
      xml: XMLInputFactory,
      workbook: Option[InputStream],
      rels: Option[InputStream]): Seq[(String, String)] = {
    val relMap = mutable.HashMap.empty[String, (String, String)] // id → (type, target)
    rels.foreach { in =>
      val r = xml.createXMLStreamReader(in)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val tpe = r.getAttributeValue(null, "Type")
          val tgt = r.getAttributeValue(null, "Target")
          if (id != null && tpe != null && tgt != null)
            relMap(id) = (tpe, tgt)
        }
      }
      r.close()
    }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    workbook.foreach { in =>
      val r = xml.createXMLStreamReader(in)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          // r:id is namespaced; scan attributes by local name
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue)
          for (n <- Option(name); id <- rid; (tpe, tgt) <- relMap.get(id))
            if (tpe.endsWith("/worksheet")) out += ((n, tgt))
        }
      }
      r.close()
    }
    out.toSeq
  }

  /** One worksheet → trimmed dense matrix (`xlsparser.js:121-214`). */
  private[ingest] def parseSheet(
      xml: XMLInputFactory,
      sheet: String,
      in: InputStream,
      shared: Vector[String],
      areDates: Vector[Boolean],
      opts: Options): Vector[Vector[String]] = {
    val r = xml.createXMLStreamReader(in)
    // sparse collect first; densify after the extent is known
    val cells = mutable.ArrayBuffer.empty[(Int, Int, String)]
    var curRow = 0
    var curCol = 0
    var haveCell = false
    var curType: String = null
    var curStyle: Int = -1
    var inV = false
    val v = new StringBuilder
    var maxRowSeen = 0
    var maxColSeen = 0

    def commitCell(): Unit = if (haveCell) {
      val (row, colNum) = (curRow, curCol)
      val raw = v.result()
      val value =
        if (curType == "s") {
          raw.toIntOption.flatMap(shared.lift).getOrElse("")
        } else if (curStyle >= 0 && curStyle < areDates.length &&
          areDates(curStyle) && raw.nonEmpty) {
          // parseInt semantics: leading int prefix; NaN → ''
          parseIntPrefix(raw) match {
            case Some(serial) =>
              ExcelDate.toDate(serial, opts.leapBugCompat).toString
            case None => ""
          }
        } else raw
      cells += ((row, colNum, value))
      // the extent counts values only: an empty (e.g. styled-only)
      // cell far out would size the dense fill, then be trimmed away
      if (value.nonEmpty) {
        if (row > maxRowSeen) maxRowSeen = row
        if (colNum > maxColSeen) maxColSeen = colNum
      }
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            // the declared <dimension> box is deliberately IGNORED for
            // allocation: the trailing-trim below reduces the matrix
            // to the observed extent anyway (identical output), and a
            // stale/crafted full-sheet box ("A1:XFD1048576" from a
            // kB-sized file) would otherwise OOM the driver on the
            // dense fill — the extent comes from the cells themselves
            case "row" =>
              // row index from r= when present, else the implied
              // next row; a new row resets the implied column cursor
              curRow = Option(r.getAttributeValue(null, "r"))
                .flatMap(_.toIntOption).getOrElse(curRow + 1)
              curCol = 0
            case "c" =>
              // OOXML makes c@r OPTIONAL (position implied from the
              // previous cell) — minimal writers omit it; dropping
              // those cells silently emptied their columns
              Option(r.getAttributeValue(null, "r")) match {
                case Some(ref) =>
                  val (row, colNum) = A1Ref.parse(ref)
                  curRow = row; curCol = colNum
                case None => curCol += 1
              }
              haveCell = curRow >= 1 && curCol >= 1
              curType = r.getAttributeValue(null, "t")
              curStyle = Option(r.getAttributeValue(null, "s"))
                .flatMap(_.toIntOption).getOrElse(-1)
              v.clear()
            case "v" => inV = true
            // inline strings (<c t="inlineStr"><is><t>…</t></is>) —
            // streaming producers (openpyxl write-only, POI SXSSF)
            // emit these; reading only <v> silently blanked them
            case "t" if curType == "inlineStr" => inV = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV => v.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inV = false
            case "c" => commitCell(); haveCell = false
            case _ =>
          }
        case _ =>
      }
    }
    r.close()

    val rows = maxRowSeen
    val cols = maxColSeen
    if (rows == 0 || cols == 0) return Vector.empty
    if (rows.toLong * cols > MaxDenseCells)
      throw new SheetTooLargeException(sheet, rows, cols)

    val data = Array.fill(rows, cols)("")
    cells.foreach { case (row, colNum, value) =>
      if (row <= rows && colNum <= cols) data(row - 1)(colNum - 1) = value
    }

    // trailing-empty-row trim + max-col scan (xlsparser.js:189-210):
    // one pass finds the last non-empty row and the widest non-empty
    // column; empty rows above the last non-empty one are kept.
    var lastRow = -1
    var maxColPos = -1
    var i = 0
    while (i < rows) {
      val row = data(i)
      var j = cols - 1
      while (j >= 0 && row(j) == "") j -= 1
      if (j >= 0) {
        lastRow = i
        if (j > maxColPos) maxColPos = j
      }
      i += 1
    }
    data.iterator.take(lastRow + 1)
      .map(_.take(maxColPos + 1).toVector).toVector
  }

  /** JS `parseInt`: optional sign + leading digit run; else None. */
  private[ingest] def parseIntPrefix(s: String): Option[Int] =
    IntPrefixRe.findFirstIn(s.trim).flatMap(_.toIntOption)
}
