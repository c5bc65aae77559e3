package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{CsvIngest, Sniffer}
import graft.model.SheetMatrix
import graft.sync.StagedCopy

class CsvIngestSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("fromString sniffs delimiter, strips blank edges, sanitizes header") {
    val payload = "\n\nCol A;Col-B;Qty!\n1;x;9\n2;\"a;b\";8\n\n"
    val df = CsvIngest.fromString(spark, payload)
    assert(df.columns.toSeq == Seq("ColA", "ColB", "Qty"))
    assert(df.count() == 2)
    val rows = df.orderBy("ColA").collect()
    assert(rows(1).getString(1) == "a;b") // quoted delimiter preserved
  }

  test("read sniffs a pipe-delimited file and keeps all columns string") {
    val f = Files.createTempFile("graft", ".csv")
    Files.writeString(f, "id|name|note\n1|alpha|x\n2|beta|y\n3|gamma|z\n")
    val df = CsvIngest.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("id", "name", "note"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 3)
  }

  test("headerNames uniquifies duplicates and fills empties") {
    assert(SheetMatrix.headerNames(Seq("A B", "ab", "", "x", "X")) ==
      Seq("AB", "ab_1", "_c2", "x", "X_1"))
  }

  test("toDataFrame pads ragged rows densely") {
    val df = SheetMatrix.toDataFrame(spark,
      Seq(Seq("a", "b", "c"), Seq("1"), Seq("2", "3")))
    assert(df.columns.length == 3)
    val r = df.orderBy("a").collect()
    assert(r(0).getString(1) == "" && r(0).getString(2) == "")
  }

  private def gzip(text: String): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new GZIPOutputStream(bytes)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    bytes.toByteArray
  }

  /** Files under a fresh directory; the path read is the directory when
    * there are several files, else the one file.
    */
  private def input(files: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("graft-csv-open")
    files.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
    if (files.size == 1) dir.resolve(files.head._1).toString else dir.toString
  }

  private def text(name: String, s: String) = name -> s.getBytes(UTF_8)

  /** The open with Spark's own work: the sniff sample from a bounded
    * text scan, the header from Spark's schema inference.
    */
  private def inferredRead(path: String, header: Boolean,
      multiLine: Boolean): (Char, DataFrame) = {
    val sample = spark.read.textFile(path)
      .filter((l: String) => l.trim.nonEmpty).limit(10).collect()
    val sep = Sniffer.sniffDelimiter(sample.mkString("\n"))
    (sep, spark.read.option("sep", sep.toString)
      .option("header", header.toString)
      .option("multiLine", multiLine.toString)
      .csv(path).na.fill(""))
  }

  test("read opens with no Spark job and equals Spark's inferred read") {
    val cases = Seq[(String, String, Boolean, Boolean)](
      ("duplicate names", input(text("d.csv", "a,b,a\n1,2,3\n4,5,6\n")), true, false),
      ("names differing in case",
        input(text("c.csv", "Name;name;NAME;id\n1;2;3;4\n")), true, false),
      ("empty header cell", input(text("e.csv", "a,,c,\n1,2,3,4\n")), true, false),
      ("literal null header", input(text("n.csv", "a|null|c\n1|2|3\n")), true, false),
      ("leading blank lines",
        input(text("l.csv", "\n   \n\r\nid;name\n\n1;x\n2;y\n")), true, false),
      ("CRLF", input(text("crlf.csv", "a,b\r\n1,2\r\n3,4\r\n")), true, false),
      ("CR only", input(text("cr.csv", "a\tb\r1\t2\r3\t4\r")), true, false),
      ("UTF-8 BOM", input(text("bom.csv", "\uFEFFid;name\n1;x\n2;y\n")), true, false),
      ("UTF-8 BOM on a blank first line",
        input(text("bom2.csv", "\uFEFF\nid;name\n1;x\n2;y\n")), true, false),
      ("quoted delimiter and escaped quote", input(text("q.csv",
        "\"a;b\";c\n\"x\\\"y\";2\n\"p;q\";3\n")), true, false),
      ("padded whitespace",
        input(text("p.csv", " a , b ,c \n 1 , 2 ,3\n4,5 , 6 \n")), true, false),
      ("gzip", input("g.csv.gz" -> gzip("id|name\n1|x\n2|y\n")), true, false),
      // the larger file is listed second: the header comes from it
      ("two files of different sizes", input(
        text("a.csv", "x;y\n1;2\n"),
        text("b.csv", "id;name;qty\n1;alpha;3\n2;beta;4\n3;gamma;5\n")),
        true, false),
      ("no header", input(text("h.csv", "1|x|\n2|y|z\n")), false, false),
      ("multiLine header with a quoted newline", input(text("m.csv",
        "\"first\nname\",age\n\"Ann\",3\n\"Bo\nb\",4\n")), true, true),
      ("empty file", input(text("z.csv", "")), true, false))
    for ((name, path, header, multiLine) <- cases) {
      val (sep, expected) = inferredRead(path, header, multiLine)
      assert(CsvIngest.sniffFile(spark, path) == sep, name)
      val (df, jobs) = TestSpark.jobsOf(CsvIngest.read(spark, path, header, multiLine))
      assert(jobs == 0, s"$name: the open ran $jobs Spark jobs")
      assert(df.schema == expected.schema, name)
      assert(df.collect().toSeq == expected.collect().toSeq, name)
    }
  }

  test("a CSV load runs one Spark job, the write") {
    val path = input(text("load.csv", "id|name\n1|alpha\n2|beta\n"))
    val (schema, openJobs) =
      TestSpark.jobsOf(CsvIngest.read(spark, path).schema)
    assert(schema.fieldNames.toSeq == Seq("id", "name"))
    assert(openJobs == 0, s"read + schema ran $openJobs Spark jobs")
    val stage = Files.createTempDirectory("graft-csv-load").toString
    val (n, loadJobs) = TestSpark.jobsOf(StagedCopy.redshift(
      CsvIngest.read(spark, path), "load", "", stage, "b", "r").nRecords)
    assert(n == 2)
    assert(loadJobs == 1, s"read + redshift stage ran $loadJobs Spark jobs")
  }
}
