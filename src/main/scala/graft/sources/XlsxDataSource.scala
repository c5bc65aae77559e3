package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.XlsxIngest
import graft.model.SheetMatrix

/** DataSourceV2 wrapper over [[XlsxIngest]]:
  *
  * {{{
  *   spark.read.format("graft.sources.XlsxDataSource")
  *     .option("sheet", "Data")          // default: first sheet
  *     .option("leapBugCompat", "true")  // Excel 1900 leap-bug fidelity
  *     .load("/path/book.xlsx")
  * }}}
  *
  * Schema inference parses the SELECTED sheet driver-side (with the
  * `sheet` option set, the other sheets' worksheet XML streams are
  * skipped entirely). One InputPartition per workbook file: an xlsx
  * (zip of XML) is not splittable, so the file — not the row range —
  * is the parallelism unit; a DIRECTORY path expands to its .xlsx
  * files (case-insensitive) and fans out across executors, which is
  * the only scale-out an xlsx corpus admits. Cells stay all-string
  * (the reference's data model).
  */
object XlsxDataSource {

  // thread-safe once configured; one per JVM keeps its deserializer
  // cache across calls
  private val pathsJson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Spark passes multi-path loads as a JSON string array (written
    * with Jackson). A naive split(",") mis-split any path CONTAINING
    * a comma and never unescaped backslash sequences — read it back
    * with the same library.
    */
  def parsePathsJson(json: String): Seq[String] =
    pathsJson.readValue(json, classOf[Array[String]]).toSeq

  /** Expand directory paths to the workbooks inside (sorted,
    * case-insensitive .xlsx) — the documented fan-out unit: one
    * InputPartition per workbook. A directory fed straight to
    * ZipFile crashed with an opaque FileNotFound/ZipException.
    *
    * LOCAL-FILESYSTEM CONTRACT: the whole xlsx source is driver/
    * executor-local — the partition reader opens workbooks with
    * `java.util.zip.ZipFile`, which takes an OS path, so an
    * `hdfs://`/`s3a://` URI could never be read even if listed here
    * with a Hadoop FileSystem. Remote-scheme paths fail FAST with a
    * named error instead of java.nio quietly not expanding the
    * directory and ZipFile throwing its opaque ZipException later.
    * (Workbooks are MB-scale upload artifacts in the reference
    * workflow; distributed-FS ingest is the parquet/CSV sources' job.)
    */
  def expandPaths(paths: Seq[String]): Seq[String] =
    paths.flatMap { p0 =>
      // file: is accepted by URI decoding, because the common
      // producers of file: URIs (java.io.File.toURI / Path.toUri)
      // PERCENT-ENCODE spaces and non-ASCII — a literal strip of
      // 'file:///a%20b.xlsx' would pass the scheme guard and then
      // fail the lookup with the very opaque NoSuchFile/ZipException
      // this guard exists to name. Paths.get(URI) handles both
      // hierarchical spellings (file:///p and file:/p) and itself
      // rejects file://host/... (authority) and the schemeless
      // 'file:relative' opaque form — those become the named error.
      val p =
        if (p0.startsWith("file:")) {
          try java.nio.file.Paths.get(java.net.URI.create(p0)).toString
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"xlsx source reads the LOCAL filesystem only (ZipFile); " +
                s"cannot map file: URI to a local path: $p0 " +
                s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
                "use an absolute file:///path form or a plain OS path")
          }
        } else p0
      if (p.indexOf("://") > 0)
        throw new IllegalArgumentException(
          s"xlsx source reads the LOCAL filesystem only (ZipFile), got " +
            s"scheme '${p.substring(0, p.indexOf("://"))}' in: $p — " +
            "copy the workbook local first")
      val np = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(np)) {
        val st = java.nio.file.Files.list(np)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.toString)
            .filter(_.toLowerCase.endsWith(".xlsx")).toSeq.sorted
        } finally st.close()
      } else Seq(p)
    }

  /** The sheet a read addresses: the named one, else the workbook's
    * first. Only that sheet is parsed; a workbook without it fails,
    * naming the file.
    */
  private[sources] def selectSheet(path: String, sheet: Option[String],
      opts: XlsxIngest.Options): Vector[Vector[String]] = {
    val matrices = XlsxIngest.parseMatrices(path, opts, only = sheet)
    sheet.fold(matrices.headOption)(name => matrices.find(_._1 == name))
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        s"workbook $path has no " + sheet.fold("sheets")(n => s"sheet '$n'")))
  }

  def optionPaths(
      options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("paths")) match {
      case Some(json) => parsePathsJson(json)
      case None => Option(options.get("path")).toSeq
    }
    val expanded = expandPaths(raw)
    if (expanded.isEmpty)
      throw new IllegalArgumentException(
        "xlsx source needs a path (or a directory containing .xlsx files)")
    expanded
  }
}

class XlsxDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  private def firstPath(options: CaseInsensitiveStringMap): String =
    XlsxDataSource.optionPaths(options).head

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val matrix = XlsxDataSource.selectSheet(firstPath(options),
      Option(options.get("sheet")), xlsxOptions(options))
    val header = matrix.headOption.getOrElse(Vector.empty)
    StructType(SheetMatrix.headerNames(header)
      .map(n => StructField(n, StringType)))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new XlsxTable(schema, properties.asScala.toMap)

  private def xlsxOptions(options: CaseInsensitiveStringMap): XlsxIngest.Options =
    XlsxIngest.Options(leapBugCompat =
      Option(options.get("leapBugCompat")).forall(_.toBoolean))
}

final class XlsxTable(schema: StructType, properties: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    properties.getOrElse("path", "xlsx")
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      private val paths: Seq[String] = XlsxDataSource.optionPaths(options)
      private val sheet = Option(options.get("sheet"))
      private val leapBug =
        Option(options.get("leapBugCompat")).forall(_.toBoolean)

      override def build(): Scan = this
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        paths.map(p => XlsxPartition(p, sheet, leapBug): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new XlsxReaderFactory(schema)
    }
}

final case class XlsxPartition(
    path: String,
    sheet: Option[String],
    leapBugCompat: Boolean) extends InputPartition

final class XlsxReaderFactory(schema: StructType)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[XlsxPartition]
    new PartitionReader[InternalRow] {
      // fail-fast like inferSchema: a workbook MISSING the requested
      // sheet silently contributed zero rows to a multi-file load —
      // partial data with a green job, the opposite of the
      // inference-time error for the identical malformation. (A sheet
      // that EXISTS but is empty still reads as zero rows — legit.)
      private val matrix = XlsxDataSource.selectSheet(part.path,
        part.sheet, XlsxIngest.Options(part.leapBugCompat))
      private val width = schema.length
      private val rows = matrix.drop(1).iterator // row 0 = header
      private var current: Vector[String] = _

      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false

      override def get(): InternalRow =
        InternalRow.fromSeq((0 until width).map { i =>
          UTF8String.fromString(if (i < current.length) current(i) else "")
        })

      override def close(): Unit = ()
    }
  }
}
