package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.SheetMatrix

/** CSV ingestion with delimiter sniffing, porting `xsv_to_array2d`
  * (`app/data.py:30-45`): sniff on a ≤10-line sample, then parse the
  * whole input with the winning delimiter.
  *
  * Two paths:
  *  - [[read]] — file(s) on any Spark-visible filesystem: the sample is
  *    taken with a bounded `limit(10)` scan, then the full read is a
  *    normal distributed `spark.read.csv` (splittable, pushdown-able;
  *    this is the 100 TB path);
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
  */
object CsvIngest {

  def sniffFile(spark: SparkSession, path: String): Char = {
    // our own API (no reference analogue): blank lines are dropped
    // from the SAMPLE — a single blank line would otherwise fail
    // every candidate's equal-width test and silently collapse the
    // sniff to ',' (misreading the whole file one-columned). Filter
    // BEFORE limit so a blank-heavy prologue still yields up to 10
    // real lines instead of a tiny/empty sample. The fromString port
    // keeps the reference's literal behavior.
    val sample = spark.read.textFile(path)
      .filter((l: String) => l.trim.nonEmpty).limit(10).collect()
      .mkString("\n")
    Sniffer.sniffDelimiter(sample)
  }

  /** `multiLine`: Spark's default false keeps big files SPLITTABLE
    * (one quoted field spanning a newline cannot be, so the whole
    * file becomes one task) — callers with RFC-4180 embedded
    * newlines must opt in, matching what q_csv_roundtrip does for
    * its (already non-splittable) gzip file.
    */
  def read(spark: SparkSession, path: String, header: Boolean = true,
      multiLine: Boolean = false): DataFrame = {
    val d = sniffFile(spark, path)
    spark.read
      .option("sep", d.toString)
      .option("header", header.toString)
      .option("multiLine", multiLine.toString)
      // no inferSchema: all columns stay StringType, like the reference
      .csv(path)
      // a blank field is '' as in the reference's matrix and
      // fromString, not NULL (a NULL string binds as CLOB over JDBC,
      // which a VARCHAR column rejects)
      .na.fill("")
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
