package graft.ingest

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.Using

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.SheetMatrix

/** CSV ingestion with delimiter sniffing, porting `xsv_to_array2d`
  * (`app/data.py:30-45`): sniff on a ≤10-line sample, then parse the
  * whole input with the winning delimiter.
  *
  * Two paths:
  *  - [[read]] — file(s) on any Spark-visible filesystem: the sample is
  *    the head of the input, read once on the driver through the
  *    session's Hadoop FileSystem (decompressed by codec, UTF-8, up to
  *    the 10th non-blank line — the lines a 10-row text scan would
  *    return, with no Spark job). The header comes from the same
  *    head, so the full read is a normal distributed `spark.read.csv`
  *    with a given schema (splittable, pushdown-able; this is the
  *    100 TB path) and a load runs one job, its write;
  *  - [[fromString]] — an in-memory payload (the reference's HTTP body
  *    case, `home.py:25-26`): parsed driver-side into the sheet
  *    matrix, byte-faithful to the reference INCLUDING its edge
  *    behaviors — `strip('\n')` removes bare-newline padding only
  *    (a CRLF payload keeps its leading '\r', exactly like
  *    `data.py:33`), and a blank line INSIDE the sample fails every
  *    candidate's equal-width test so the sniff falls back to ','
  *    (Python's csv.reader yields an empty row there — same
  *    collapse). The oracle gates pin this fidelity; don't "fix" it
  *    here.
  *
  * Header rule of [[read]]: the schema is the one Spark's own CSV
  * inference would give, built by the same code — the first line with
  * a non-space character (the first record univocity reads, with
  * `multiLine`) is parsed with the source's parser settings and named
  * by `CSVUtils.makeSafeHeader` (empty cells → `_cN`, duplicates get
  * their index appended, case-insensitively unless the session is
  * case-sensitive; `_cN` for every column without a header), every
  * column `StringType`. An input with no such line has no columns.
  */
object CsvIngest {

  private val SampleLines = 10

  def sniffFile(spark: SparkSession, path: String): Char = {
    val conf = classic(spark).sessionState.newHadoopConf()
    Sniffer.sniffDelimiter(head(conf, inputFiles(conf, path))._2.mkString("\n"))
  }

  /** `multiLine`: Spark's default false keeps big files SPLITTABLE
    * (one quoted field spanning a newline cannot be, so the whole
    * file becomes one task) — callers with RFC-4180 embedded
    * newlines must opt in, matching what q_csv_roundtrip does for
    * its (already non-splittable) gzip file.
    */
  def read(spark: SparkSession, path: String, header: Boolean = true,
      multiLine: Boolean = false): DataFrame = {
    val session = classic(spark)
    val conf = session.sessionState.newHadoopConf()
    val files = inputFiles(conf, path)
    val (firstLine, sample) = head(conf, files)
    val opts = Map(
      "sep" -> Sniffer.sniffDelimiter(sample.mkString("\n")).toString,
      "header" -> header.toString,
      "multiLine" -> multiLine.toString)
    val sqlConf = session.sessionState.conf
    val options = new CSVOptions(opts, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    val firstRow =
      if (multiLine) files.iterator.flatMap { f =>
        Using.resource(CodecStreams.createInputStream(conf, f.getPath)) { in =>
          val p = new CsvParser(options.asParserSettings)
          p.beginParsing(in, options.charset)
          Option(p.parseNext())
        }
      }.nextOption()
      else firstLine.flatMap(l =>
        Option(new CsvParser(options.asParserSettings).parseLine(l)))
    val names = firstRow.toSeq.flatMap(
      CSVUtils.makeSafeHeader(_, sqlConf.caseSensitiveAnalysis, options))
    spark.read
      .options(opts)
      // no inference: all columns stay StringType, like the reference
      .schema(StructType(names.map(StructField(_, StringType))))
      .csv(path)
      // a blank field is '' as in the reference's matrix and
      // fromString, not NULL (a NULL string binds as CLOB over JDBC,
      // which a VARCHAR column rejects)
      .na.fill("")
  }

  private def classic(spark: SparkSession)
      : org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The input's data files in the order Spark's scan opens them:
    * largest first (splits are packed into partitions by length,
    * descending, and a `take` starts at partition 0). Hidden files are
    * skipped as Spark's file index skips them; a missing path yields
    * none, and the read itself then raises Spark's usual error.
    */
  private def inputFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => Bridge.isHiddenPath(c.getPath.getName))
        .flatMap(leaves)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves)
      .sortBy(s => (-s.getLen, s.getPath.toString))
  }

  /** The first line with a non-space character (the line Spark's
    * header inference takes) and the sniff sample: the first 10 lines
    * that are non-blank after `trim`. Our own API (no reference
    * analogue): blank lines are dropped from the SAMPLE — a single
    * blank line would otherwise fail every candidate's equal-width
    * test and silently collapse the sniff to ',' (misreading the whole
    * file one-columned) — and a blank-heavy prologue still yields up
    * to 10 real lines. The fromString port keeps the reference's
    * literal behavior. Lines end at LF, CR or CRLF, and a leading
    * UTF-8 BOM is dropped, as in Hadoop's line reader.
    */
  private def head(conf: Configuration, files: Seq[FileStatus])
      : (Option[String], Seq[String]) = {
    var first: Option[String] = None
    val sample = mutable.ArrayBuffer.empty[String]
    val it = files.iterator
    while (sample.size < SampleLines && it.hasNext) {
      val in = CodecStreams.createInputStream(conf, it.next().getPath)
      Using.resource(new BufferedReader(new InputStreamReader(in, UTF_8))) { r =>
        var line = Option(r.readLine()).map(_.stripPrefix("\uFEFF")).orNull
        while (line != null && sample.size < SampleLines) {
          if (first.isEmpty && line.exists(_ != ' ')) first = Some(line)
          if (line.trim.nonEmpty) sample += line
          line = r.readLine()
        }
      }
    }
    (first, sample.toSeq)
  }

  def fromString(spark: SparkSession, payload: String,
      headerFromFirstRow: Boolean = true): DataFrame = {
    val stripped = payload.dropWhile(_ == '\n')
      .reverse.dropWhile(_ == '\n').reverse
    val d = Sniffer.sniffDelimiter(
      stripped.linesWithSeparators.take(10).mkString)
    val matrix = Sniffer.parse(stripped, d)
    SheetMatrix.toDataFrame(spark, matrix, headerFromFirstRow)
  }
}
